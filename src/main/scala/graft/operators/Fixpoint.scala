package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.apache.spark.storage.StorageLevel

/** The one driver loop of the iterative operators. It owns:
  *
  *  - lineage cut: each round's state is `localCheckpoint()`ed, so the
  *    plan submitted per round is one step deep at any round count;
  *  - convergence probe: a step may emit a boolean [[Changed]] column,
  *    computed against the previous state it already joins; the loop
  *    stops after a round in which no row changed, by a filter over
  *    materialized rows, and never probes after the last allowed round.
  *    A step that can drop rows full-joins `prev` and gives a row only
  *    `prev` has a NULL [[Changed]]: a change, left out of the new
  *    state. Without the column the loop runs exactly `maxRounds`;
  *  - static inputs: the frames every round joins are persisted once
  *    (a caller co-partitions one on its join key, or persists it first
  *    to count it) and released when the loop returns. The result reads
  *    only checkpointed state, so it outlives them.
  */
object Fixpoint {
  val Changed = "chg"

  /** Runs `step(state, round)` for round = 1..`maxRounds` from `init`;
    * returns the last state without its [[Changed]] column.
    */
  def apply(maxRounds: Int, static: DataFrame*)(init: DataFrame)(
      step: (DataFrame, Int) => DataFrame): DataFrame = {
    static.filter(_.storageLevel == StorageLevel.NONE).foreach(_.persist())
    try {
      var state = init
      var round = 0
      var done = false
      while (round < maxRounds && !done) {
        round += 1
        val next = step(state, round).localCheckpoint()
        if (next.columns.contains(Changed)) {
          state = next.filter(col(Changed).isNotNull).drop(Changed)
          done = round < maxRounds &&
            next.filter(col(Changed).isNull || col(Changed)).isEmpty
        } else state = next
      }
      state
    } finally static.foreach(_.unpersist())
  }
}
