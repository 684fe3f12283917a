package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Dedup

/** The adaptive CC operator's two execution paths (driver union-find vs
  * distributed min-label propagation) must produce identical components
  * — checked on a graph with chains, a cycle, singleton-pair and
  * disjoint components.
  */
class ConnectedComponentsSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  test("driver union-find and distributed label propagation agree") {
    import spark.implicits._
    val pairs = Seq(
      (1L, 2L), (2L, 3L), (3L, 4L), // chain -> canon 1
      (10L, 11L), (11L, 12L), (12L, 10L), // cycle -> canon 10
      (20L, 21L), // pair -> canon 20
      (31L, 30L)) // reversed order pair -> canon 30
      .toDF("doc_a", "doc_b")
    val local = Dedup.connectedComponents(pairs)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    val dist = Dedup.connectedComponents(pairs, driverEdgeLimit = 0L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    val expected = Seq(
      1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L,
      20L -> 20L, 21L -> 20L,
      30L -> 30L, 31L -> 30L).sorted
    assert(local.toSeq == expected)
    assert(dist.toSeq == expected)
  }

  test("distributed label propagation runs a long path to its fixed point") {
    import spark.implicits._
    // diameter 29: past any fixed round cap of 20
    val pairs = (1L to 29L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val local = Dedup.connectedComponents(pairs)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    val dist = Dedup.connectedComponents(pairs, driverEdgeLimit = 0L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    assert(local.toSeq == (1L to 30L).map(_ -> 1L))
    assert(dist.toSeq == local.toSeq)
  }

  test("q301 quotient-graph incremental CC equals the full q40 recompute, and the delta genuinely merges") {
    import spark.implicits._
    val dir = "/root/testdata/sf0.001"
    val incr = Dedup.q301IncrementalCc(spark, dir)
      .select($"doc_id", $"canonical_id")
      .as[(Long, Long)].collect().toMap
    val full = Dedup.q40DedupComponents(spark, dir)
      .as[(Long, Long)].collect().toMap
    assert(incr == full, s"incremental labels diverge from full CC: " +
      s"onlyIncr=${(incr.toSet -- full.toSet).take(3)} " +
      s"onlyFull=${(full.toSet -- incr.toSet).take(3)}")
    // non-vacuous: some union component mixes base and delta docs — the
    // quotient merge terms actually ran
    val byLabel = incr.toSeq.groupBy(_._2).values
    assert(byLabel.exists(ms =>
      ms.exists(_._1 % 10 == 7) && ms.exists(_._1 % 10 != 7)),
      "vacuous corpus: no component mixes base and delta docs")
  }
}
