package graft

import java.nio.file.{Files, Path}

import org.apache.spark.sql.functions.{length, sum}
import org.scalatest.funsuite.AnyFunSuite

/** File-level contract of the [[operators.SuffixIndex]] merge arm
  * (round 13): a full build over a base corpus followed by an APPEND of
  * new document part files must leave the `ranks` table EQUAL to a
  * from-scratch rebuild over the union — via the MERGE arm (window
  * prefix-sums + collision-only comparison, `_last_arm` breadcrumb),
  * never a re-run of the doubling — including when the delta duplicates
  * base text verbatim (deep window collisions all the way to identical
  * suffixes, where only the (doc_id, pos) tie-break decides).
  */
class SuffixIndexSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private def landDelta(df: org.apache.spark.sql.DataFrame, dir: Path): Unit =
    FileTree.landDelta(df, dir.resolve("documents.parquet"), Files.createTempDirectory("suffix-delta"))

  private def corpusDir(df: org.apache.spark.sql.DataFrame): Path = {
    val dir = Files.createTempDirectory("suffix-corpus")
    df.write.mode("overwrite").parquet(dir.resolve("documents.parquet").toString)
    dir
  }

  private def rankTriples(dir: String): Set[(Long, Long, Long)] = {
    import spark.implicits._
    operators.SuffixIndex.ranks(spark, dir)
      .selectExpr("CAST(rank AS LONG)", "CAST(doc_id AS LONG)", "CAST(pos AS LONG)")
      .as[(Long, Long, Long)].collect().toSet
  }

  private def coverTriples(dir: String): Set[(Long, Long, Long)] = {
    import spark.implicits._
    operators.SuffixIndex.cover(spark, dir)
      .selectExpr("CAST(doc_id AS LONG)", "CAST(st AS LONG)", "CAST(en AS LONG)")
      .as[(Long, Long, Long)].collect().toSet
  }

  private def lastArm(dir: String): String =
    Files.readString(
      operators.SuffixIndex.indexPathFor(dir).resolve("_last_arm")).trim

  test("append of new document files ≡ full rebuild of the permutation, via the merge arm") {
    import spark.implicits._
    // pool = doc_id % 10 == 0; long shared regions force deep window
    // collisions, distinct tails force post-collision resolution, and
    // doc 60 duplicates doc 10's text VERBATIM so identical suffixes
    // exercise the (doc_id, pos) tie-break; non-pool docs must be
    // ignored by both arms
    val shared = ("the quick brown fox jumps over the lazy dog " * 3).trim
    val base = Seq(
      (10L, s"$shared alpha ending one"),
      (20L, s"$shared beta ending two"),
      (30L, "completely different text with no overlap at all"),
      (7L, "not in the pool"),
      (40L, "zebra yak xylophone walrus vulture")).toDF("doc_id", "text")
    val delta = Seq(
      (50L, s"$shared gamma ending three"),
      (60L, s"$shared alpha ending one"),
      (13L, "also not in the pool")).toDF("doc_id", "text")

    val grownDir = corpusDir(base)
    operators.SuffixIndex.ensure(spark, grownDir.toString)
    assert(lastArm(grownDir.toString) == "rebuild")
    val baseRanks = rankTriples(grownDir.toString)

    landDelta(delta, grownDir)
    val grownRanks = rankTriples(grownDir.toString)
    val grownCover = coverTriples(grownDir.toString)
    assert(lastArm(grownDir.toString) == "merge",
      "append of new part files must take the merge arm")

    val fullDir = corpusDir(base.unionByName(delta)).toString
    val fullRanks = rankTriples(fullDir)
    assert(grownRanks == fullRanks,
      s"merge != rebuild: missing=${(fullRanks -- grownRanks).take(5)} " +
        s"extra=${(grownRanks -- fullRanks).take(5)}")
    // the O(delta) cover increment (old intervals ∪ delta-touching
    // pairs) must equal the from-scratch cover derivation exactly
    val fullCover = coverTriples(fullDir)
    assert(grownCover == fullCover,
      s"cover append != rebuild: missing=${(fullCover -- grownCover).take(5)} " +
        s"extra=${(grownCover -- fullCover).take(5)}")
    assert(grownRanks.size > baseRanks.size)
    // dense permutation 1..N
    val n = grownRanks.size.toLong
    assert(grownRanks.map(_._1) == (1L to n).toSet,
      "merged ranks must be a dense 1..N permutation")

    // fresh fingerprint fast-path: no new build
    operators.SuffixIndex.ensure(spark, grownDir.toString)
    assert(lastArm(grownDir.toString) == "merge")
  }

  test("a delta with no pool documents applies without touching the ranks") {
    import spark.implicits._
    val base = Seq((10L, "some pool document text here"),
      (3L, "non pool")).toDF("doc_id", "text")
    val grownDir = corpusDir(base)
    operators.SuffixIndex.ensure(spark, grownDir.toString)
    val before = rankTriples(grownDir.toString)
    val rT = operators.SuffixIndex.tableDir(grownDir.toString, "ranks")
    val vBefore = pipeline.ParquetIO.currentVersion(rT).get

    landDelta(Seq((21L, "still not pool"), (33L, "me neither"))
      .toDF("doc_id", "text"), grownDir)
    assert(rankTriples(grownDir.toString) == before)
    assert(pipeline.ParquetIO.currentVersion(rT).get == vBefore,
      "an empty pool delta must not rewrite the ranks table")
    assert(lastArm(grownDir.toString) == "noop",
      "ADVICE r13: a no-op append must not leave a stale arm breadcrumb")
  }

  test("non-BMP collision ties: kernel orders by code point, merge ≡ rebuild") {
    import spark.implicits._
    // ADVICE r13: Java's charAt order puts surrogate pairs (U+10000+,
    // high surrogates 0xD800-0xDBFF) BELOW U+E000-U+FFFF text, while
    // the committed permutation, the window prefix-sums and the chunk
    // windows all sort UTF-8 bytes = code points — where U+1F600 >
    // U+E000. These suffixes share a 40-char prefix (one full window),
    // so the divergence lands exactly in the pairwise comparison
    // kernel; with the old charAt tie the merged permutation would
    // swap them relative to the rebuild.
    val pfx = "shared prefix text well past the window " // 40 chars
    require(pfx.length > operators.Dedup.SufBase)
    val base = Seq(
      (10L, pfx + "\uE000 private-use plane tail"),
      (20L, pfx + "\uD83D\uDE00 emoji tail"),
      (30L, "unrelated filler document")).toDF("doc_id", "text")
    val delta = Seq(
      (40L, pfx + "\uE001 second private-use tail"),
      (50L, pfx + "\uD83D\uDE01 second emoji tail")).toDF("doc_id", "text")

    val grownDir = corpusDir(base)
    operators.SuffixIndex.ensure(spark, grownDir.toString)
    landDelta(delta, grownDir)
    val grownRanks = rankTriples(grownDir.toString)
    assert(lastArm(grownDir.toString) == "merge")

    val fullDir = corpusDir(base.unionByName(delta)).toString
    assert(grownRanks == rankTriples(fullDir),
      "supplementary-plane vs private-use ties must merge in code-point " +
        "(UTF-8 byte) order, matching the rebuild")
    assert(coverTriples(grownDir.toString) == coverTriples(fullDir))
  }

  test("high-multiplicity boilerplate: merge ≡ rebuild with the kernel bounded at cap·|delta|") {
    import spark.implicits._
    // one boilerplate string shared across every doc — the collision
    // groups carry the FULL doc population (far past MergeCollisionCap),
    // the quadratic worst case of the r13 all-pairs kernel. The tailed
    // docs force multiple chunk-extension rounds (the shared prefix is
    // 4+ windows deep); the tail-less docs are verbatim-identical, so
    // whole identical-suffix cohorts resolve in the terminal tie-break.
    val boiler = ("lorem ipsum dolor sit amet consectetur adipiscing elit " * 3).trim
    require(boiler.length > 4 * operators.Dedup.SufBase)
    val base = (
      (1 to 60).map(i => (i * 10L, s"$boiler tail number $i")) ++
        (1 to 20).map(i => (10000L + i * 10L, boiler)) ++
        Seq((7L, "never pooled"))).toDF("doc_id", "text")
    val delta = (
      (1 to 15).map(i => (20000L + i * 10L, s"$boiler fresh delta $i")) ++
        (1 to 6).map(i => (30000L + i * 10L, boiler))).toDF("doc_id", "text")

    val grownDir = corpusDir(base)
    operators.SuffixIndex.ensure(spark, grownDir.toString)
    landDelta(delta, grownDir)
    val grownRanks = rankTriples(grownDir.toString)
    val grownCover = coverTriples(grownDir.toString)
    assert(lastArm(grownDir.toString) == "merge")
    // design theorem: a delta suffix reaches at most ONE within-cap
    // kernel subgroup, so comparison rows ≤ cap · |delta suffixes| —
    // k·cap, never the k² of pairing whole collision groups
    val deltaSuffixes = delta.filter($"doc_id" % operators.Dedup.SufMod === 0)
      .select(sum(length($"text"))).head().getLong(0)
    val kernelRows = operators.SuffixIndex.lastMergeKernelRows
    assert(kernelRows >= 0 &&
      kernelRows <= operators.SuffixIndex.MergeCollisionCap * deltaSuffixes,
      s"kernel rows $kernelRows past cap*|delta| = " +
        s"${operators.SuffixIndex.MergeCollisionCap * deltaSuffixes}")
    assert(operators.SuffixIndex.lastMergeRounds >= 2,
      "the boilerplate groups must have taken the chunk-extension path")

    val fullDir = corpusDir(base.unionByName(delta)).toString
    assert(grownRanks == rankTriples(fullDir),
      "high-multiplicity merge must equal the rebuild permutation")
    assert(grownCover == coverTriples(fullDir),
      "high-multiplicity cover append must equal the rebuild cover")
  }
}
