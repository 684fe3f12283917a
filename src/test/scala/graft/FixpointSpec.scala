package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Fixpoint

/** [[Fixpoint]] on small hand-built graphs: the early stop, the round cap,
  * the release of the static inputs and the full-join step that drops
  * rows.
  */
class FixpointSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  /** A path 1-2-…-6 plus a separate pair 10-11, both edge directions. */
  private def edges: DataFrame = {
    import spark.implicits._
    val one = ((1L to 5L).map(i => (i, i + 1)) :+ (10L, 11L)).toDF("a", "b")
    one.unionByName(one.select($"b".as("a"), $"a".as("b")))
  }

  /** One round of min-label propagation; with `probe` it emits the change
    * column.
    */
  private def minLabel(e: DataFrame, probe: Boolean)(prev: DataFrame): DataFrame = {
    import spark.implicits._
    val nbr = e.join(prev.withColumnRenamed("id", "a"), "a")
      .groupBy($"b".as("id")).agg(min($"label").as("nl"))
    val next = prev.join(nbr, Seq("id"), "left")
      .select($"id", least($"label", coalesce($"nl", $"label")).as("label"),
        coalesce($"nl" < $"label", lit(false)).as(Fixpoint.Changed))
    if (probe) next else next.drop(Fixpoint.Changed)
  }

  private def rows(df: DataFrame): Seq[(Long, Long)] = {
    import spark.implicits._
    df.as[(Long, Long)].collect().toSeq.sorted
  }

  test("the early stop returns the same rows as running every round") {
    import spark.implicits._
    val e = edges
    val init = e.select($"a".as("id")).distinct().withColumn("label", $"id")
    var probed = 0
    val early = Fixpoint(20, e)(init) { (prev, _) =>
      probed += 1; minLabel(e, probe = true)(prev)
    }
    var fixed = 0
    val full = Fixpoint(20, e)(init) { (prev, _) =>
      fixed += 1; minLabel(e, probe = false)(prev)
    }
    assert(rows(early) == rows(full))
    assert(rows(early).map(_._2).toSet == Set(1L, 10L))
    // diameter 5: five rounds that change something, one that does not
    assert(probed == 6)
    assert(fixed == 20)
  }

  test("a loop that never converges stops at the cap") {
    import spark.implicits._
    var rounds = 0
    val out = Fixpoint(4)(Seq(0L).toDF("x")) { (prev, _) =>
      rounds += 1
      prev.select(($"x" + 1).as("x"), lit(true).as(Fixpoint.Changed))
    }
    assert(rounds == 4)
    assert(out.as[Long].collect().toSeq == Seq(4L))
    assert(out.columns.toSeq == Seq("x"))
  }

  test("static inputs are released when the loop returns; the result still evaluates") {
    import spark.implicits._
    val e = edges
    val init = e.select($"a".as("id")).distinct().withColumn("label", $"id")
    def persisted = spark.sparkContext.getPersistentRDDs.keySet.toSet
    var during = Set.empty[Int]
    val out = Fixpoint(20, e)(init) { (prev, round) =>
      if (round == 2) {
        assert(e.storageLevel != StorageLevel.NONE)
        during = persisted
      }
      minLabel(e, probe = true)(prev)
    }
    val released = during -- persisted
    assert(released.nonEmpty, "the static input's cached blocks are still registered")
    assert(e.storageLevel == StorageLevel.NONE)
    assert(rows(out).size == 8)
  }

  test("a full-join step whose node set shrinks keeps only the new state's rows") {
    import spark.implicits._
    var rounds = 0
    val init = (1L to 8L).map(i => (i, 0L)).toDF("id", "v")
    // rounds 1-3 each drop one node and change no value; round 4 drops
    // nothing, so the loop stops there
    val out = Fixpoint(10)(init) { (prev, round) =>
      rounds += 1
      val cur = prev.filter(!($"id" === round && lit(round <= 3)))
      cur.join(prev.withColumnRenamed("v", "prev_v"), Seq("id"), "full")
        .select($"id", $"v",
          when($"v".isNotNull, !($"v" <=> $"prev_v")).as(Fixpoint.Changed))
    }
    assert(rows(out) == (4L to 8L).map(i => (i, 0L)))
    assert(rounds == 4)
  }
}
