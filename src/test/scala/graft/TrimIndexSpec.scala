package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** File-level contract of the [[operators.TrimIndex]] artifact: a full
  * build over a base corpus followed by an APPEND of new document part
  * files must leave the `removed` table EQUAL to a from-scratch rebuild
  * over the union, via the O(delta) arm (hard-linked version) — and the
  * one non-additive hazard, a delta pushing a base-alive anchor gram
  * over [[operators.Dedup.ExactSubstrDfCap]], must take the FULL
  * REBUILD arm (the append cannot retract committed base×base spans)
  * and still land on the rebuild truth.
  */
class TrimIndexSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private def landDelta(df: org.apache.spark.sql.DataFrame, dir: Path): Unit =
    FileTree.landDelta(df, dir.resolve("documents.parquet"), Files.createTempDirectory("trim-delta"))

  private def corpusDir(df: org.apache.spark.sql.DataFrame): Path = {
    val dir = Files.createTempDirectory("trim-corpus")
    df.write.mode("overwrite").parquet(dir.resolve("documents.parquet").toString)
    dir
  }

  private def removedSet(dir: String): Set[(Long, Long)] = {
    import spark.implicits._
    operators.TrimIndex.removedPositions(spark, dir)
      .as[(Long, Long)].collect().toSet
  }

  private def hasPrevFiles(table: String, v: Long, vPrev: Long): Boolean = {
    val st = Files.list(Paths.get(pipeline.ParquetIO.versionPath(table, v)))
    try st.iterator().asScala.exists(_.getFileName.toString.startsWith(s"prev${vPrev}_"))
    finally st.close()
  }

  // span X shared by base 10/20 and delta 40; span T shared by base 30
  // and delta 5 (delta id BELOW a base id, so an already-committed base
  // doc becomes the b-side of a NEW span — the anti-join path)
  private val spanX = (1 to 8).map(i => s"x$i").mkString(" ")
  private val spanT = (1 to 8).map(i => s"t$i").mkString(" ")
  private def doc(id: Long, body: String) = (id, s"$body tail${id}a tail${id}b")

  test("append of new document files ≡ full rebuild of the removal set; O(delta) arm taken") {
    import spark.implicits._
    val base = Seq(doc(10, spanX), doc(20, spanX), doc(30, spanT),
      doc(50, (1 to 8).map(i => s"u$i").mkString(" ")))
      .toDF("doc_id", "text")
    val delta = Seq(doc(5, spanT), doc(40, spanX),
      doc(60, (1 to 8).map(i => s"v$i").mkString(" ")))
      .toDF("doc_id", "text")

    val grownDir = corpusDir(base)
    val baseRem = removedSet(grownDir.toString)
    // base world: pair (10,20) on span X → doc 20 loses positions 1..8
    assert(baseRem == (1L to 8L).map((20L, _)).toSet)
    val remT = operators.TrimIndex.tableDir(grownDir.toString, "removed")
    val gramT = operators.TrimIndex.tableDir(grownDir.toString, "grams")
    val vRem = pipeline.ParquetIO.currentVersion(remT).get
    val vGram = pipeline.ParquetIO.currentVersion(gramT).get

    landDelta(delta, grownDir)
    val grownRem = removedSet(grownDir.toString)

    val vRemA = pipeline.ParquetIO.currentVersion(remT).get
    val vGramA = pipeline.ParquetIO.currentVersion(gramT).get
    assert(vRemA == vRem + 1 && vGramA == vGram + 1,
      s"expected one append version, got removed $vRem->$vRemA grams $vGram->$vGramA")
    assert(hasPrevFiles(remT, vRemA, vRem) && hasPrevFiles(gramT, vGramA, vGram),
      "append version carries no hard-linked prev files — rebuild arm ran")

    val fullDir = corpusDir(base.unionByName(delta))
    val fullRem = removedSet(fullDir.toString)
    assert(baseRem.subsetOf(grownRem) && grownRem != baseRem,
      "delta batch must strictly grow the removal set")
    // delta-involving spans: (5,30) → base doc 30 b-side; (10,40)/(20,40)
    // → delta doc 40 b-side; 20's positions stay from the base world
    assert(grownRem == fullRem,
      s"append != rebuild: missing=${(fullRem -- grownRem).take(5)} " +
        s"extra=${(grownRem -- fullRem).take(5)}")

    operators.TrimIndex.ensure(spark, grownDir.toString)
    assert(pipeline.ParquetIO.currentVersion(remT).get == vRemA,
      "fresh fingerprint must fast-path, not rebuild")
  }

  test("df-cap crossing in the delta forces the full-rebuild arm and lands on rebuild truth") {
    import spark.implicits._
    val cap = operators.Dedup.ExactSubstrDfCap
    // gram Y alive in the base world (nd_b = cap), pushed over by delta
    val spanY = (1 to 8).map(i => s"y$i").mkString(" ")
    val base = (1 to cap).map(i => doc(i * 10L, spanY)).toDF("doc_id", "text")
    val delta = Seq(doc(9990L, spanY), doc(9991L, spanY)).toDF("doc_id", "text")

    val grownDir = corpusDir(base)
    val baseRem = removedSet(grownDir.toString)
    assert(baseRem.nonEmpty, "cap-wide gram must produce base-world spans")
    val remT = operators.TrimIndex.tableDir(grownDir.toString, "removed")
    val vRem = pipeline.ParquetIO.currentVersion(remT).get

    landDelta(delta, grownDir)
    val grownRem = removedSet(grownDir.toString)
    val vRemA = pipeline.ParquetIO.currentVersion(remT).get
    assert(!hasPrevFiles(remT, vRemA, vRem),
      "cap crossing must take the rebuild arm (no hard-linked prev files)")
    // over-cap world: gram Y dies, every base×base span through it
    // retracts — exactly what an append could never do
    val fullRem = removedSet(corpusDir(base.unionByName(delta)).toString)
    assert(grownRem == fullRem && grownRem.isEmpty,
      s"rebuild truth after crossing must drop the over-cap spans, got $grownRem")
  }
}
