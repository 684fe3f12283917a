package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** File-level contract of the [[operators.LshIndex]] artifact: a full
  * build over a base corpus followed by an APPEND of new document part
  * files must leave the band table EQUAL to a from-scratch rebuild over
  * the union, via the O(delta) arm (hard-linked version), with the
  * fast path a no-op.
  */
class LshIndexSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"

  private def landDelta(df: org.apache.spark.sql.DataFrame, dir: Path): Unit =
    FileTree.landDelta(df, dir.resolve("documents.parquet"), Files.createTempDirectory("lsh-delta"))

  private def bandSet(dir: String): Set[(Long, Int, String)] = {
    import spark.implicits._
    operators.LshIndex.bands(spark, dir)
      .as[(Long, Int, String)].collect().toSet
  }

  test("append of new document files ≡ full rebuild of the band table; O(delta) arm taken") {
    import spark.implicits._
    val docs = Tables.load(spark, sf, "documents").select($"doc_id", $"text")
    val isDelta = $"doc_id" % 10 === 7

    val grownDir = Files.createTempDirectory("lsh-grown")
    docs.filter(!isDelta).write.mode("overwrite")
      .parquet(grownDir.resolve("documents.parquet").toString)
    val baseBands = bandSet(grownDir.toString)
    val bandsT = operators.LshIndex.tableDir(grownDir.toString, "bands")
    val vBase = pipeline.ParquetIO.currentVersion(bandsT).get

    landDelta(docs.filter(isDelta), grownDir)
    val grownBands = bandSet(grownDir.toString)

    val vAfter = pipeline.ParquetIO.currentVersion(bandsT).get
    assert(vAfter == vBase + 1, s"expected one append version, got $vBase -> $vAfter")
    val st = Files.list(Paths.get(pipeline.ParquetIO.versionPath(bandsT, vAfter)))
    val hasPrev = try st.iterator().asScala.exists(_.getFileName.toString.startsWith(s"prev${vBase}_"))
      finally st.close()
    assert(hasPrev, "append version carries no hard-linked prev files — rebuild arm ran")

    val fullDir = Files.createTempDirectory("lsh-full")
    docs.write.mode("overwrite")
      .parquet(fullDir.resolve("documents.parquet").toString)
    val fullBands = bandSet(fullDir.toString)

    assert(baseBands.subsetOf(grownBands) && grownBands != baseBands,
      "delta batch must strictly grow the band table")
    assert(grownBands == fullBands,
      s"append != rebuild: missing=${(fullBands -- grownBands).take(3)} " +
        s"extra=${(grownBands -- fullBands).take(3)}")

    operators.LshIndex.ensure(spark, grownDir.toString)
    assert(pipeline.ParquetIO.currentVersion(bandsT).get == vAfter,
      "fresh fingerprint must fast-path, not rebuild")
  }
}
