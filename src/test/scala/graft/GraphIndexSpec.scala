package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** File-level contract of the [[operators.GraphIndex]] artifact: a full
  * build over a base corpus followed by an APPEND of new order+lineitem
  * part files must leave edges/degrees EQUAL to a from-scratch rebuild
  * over the union — and the append must actually take the O(delta) arm
  * (hard-linked version, prev-file links present), not silently rebuild.
  * Also pins the fast-path no-op and the one-sided-batch fallback.
  */
class GraphIndexSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"

  /** Write df as a parquet DIRECTORY at dir/name.parquet (the multi-file
    * layout the listing/append machinery is about).
    */
  private def writeTable(df: org.apache.spark.sql.DataFrame, dir: Path, name: String): Unit =
    df.write.mode("overwrite").parquet(dir.resolve(s"$name.parquet").toString)

  /** Land df's data files in dir/name.parquet (append-only growth). */
  private def landDelta(df: org.apache.spark.sql.DataFrame, dir: Path, name: String): Unit =
    FileTree.landDelta(df, dir.resolve(s"$name.parquet"), Files.createTempDirectory("graph-delta"))

  private def edgeSet(dir: String): Set[(String, String)] = {
    import spark.implicits._
    operators.GraphIndex.edges(spark, dir)
      .as[(String, String)].collect().toSet
  }

  private def degMap(dir: String): Map[String, Long] = {
    import spark.implicits._
    operators.GraphIndex.degrees(spark, dir)
      .as[(String, Long)].collect().toMap
  }

  private def knnSet(dir: String): Set[(Long, Long)] = {
    import spark.implicits._
    operators.GraphIndex.knnEdges(spark, dir)
      .as[(Long, Long)].collect().toSet
  }

  private def supportMap(dir: String): Map[(Long, Long), Long] = {
    import spark.implicits._
    pipeline.ParquetIO.read(spark, operators.GraphIndex.tableDir(dir, "support"))
      .as[(Long, Long, Long)].collect().map { case (a, b, c) => (a, b) -> c }.toMap
  }

  test("append of new order+lineitem files ≡ full rebuild; O(delta) arm taken") {
    import spark.implicits._
    val o = Tables.load(spark, sf, "orders").select($"o_orderkey", $"o_custkey")
    val l = Tables.load(spark, sf, "lineitem").select($"l_orderkey", $"l_suppkey")
    val isDelta = (c: org.apache.spark.sql.Column) => c % 10 === 7

    // grown corpus: base files, then the %10==7 batch lands later
    val grownDir = Files.createTempDirectory("graph-grown")
    writeTable(o.filter(!isDelta($"o_orderkey")), grownDir, "orders")
    writeTable(l.filter(!isDelta($"l_orderkey")), grownDir, "lineitem")
    val baseEdges = edgeSet(grownDir.toString)
    val edgesT = operators.GraphIndex.tableDir(grownDir.toString, "edges")
    val vBase = pipeline.ParquetIO.currentVersion(edgesT).get

    landDelta(o.filter(isDelta($"o_orderkey")), grownDir, "orders")
    landDelta(l.filter(isDelta($"l_orderkey")), grownDir, "lineitem")
    val grownEdges = edgeSet(grownDir.toString)
    val grownDegs = degMap(grownDir.toString)

    // the append arm, not a rebuild: version moved by exactly one and the
    // new version carries hard-linked prev-files (appendAsVersion's mark)
    val vAfter = pipeline.ParquetIO.currentVersion(edgesT).get
    assert(vAfter == vBase + 1, s"expected one append version, got $vBase -> $vAfter")
    val linked = Files.list(Paths.get(pipeline.ParquetIO.versionPath(edgesT, vAfter)))
    val hasPrev = try linked.iterator().asScala.exists(_.getFileName.toString.startsWith(s"prev${vBase}_"))
      finally linked.close()
    assert(hasPrev, "append version carries no hard-linked prev files — rebuild arm ran")

    // from-scratch truth over the union corpus
    val fullDir = Files.createTempDirectory("graph-full")
    writeTable(o, fullDir, "orders")
    writeTable(l, fullDir, "lineitem")
    val fullEdges = edgeSet(fullDir.toString)
    val fullDegs = degMap(fullDir.toString)

    assert(baseEdges.subsetOf(grownEdges) && grownEdges != baseEdges,
      "delta batch must strictly grow the edge set")
    assert(grownEdges == fullEdges,
      s"append != rebuild: missing=${(fullEdges -- grownEdges).take(5)} " +
        s"extra=${(grownEdges -- fullEdges).take(5)}")
    assert(grownDegs == fullDegs, "merged degrees != recomputed degrees")
    // co-supply lane: support increments merged + top-K re-cut must equal
    // the from-scratch derivation over the union
    assert(supportMap(grownDir.toString) == supportMap(fullDir.toString),
      "merged co-supply support != recomputed support")
    assert(knnSet(grownDir.toString) == knnSet(fullDir.toString),
      "re-cut knn edges != recomputed knn edges")

    // fast path: a second ensure with an unchanged listing moves nothing
    operators.GraphIndex.ensure(spark, grownDir.toString)
    assert(pipeline.ParquetIO.currentVersion(edgesT).get == vAfter,
      "fresh fingerprint must fast-path, not rebuild")
  }

  test("one-sided batch (lineitems only) falls back to a full rebuild, losing nothing") {
    import spark.implicits._
    val o = Tables.load(spark, sf, "orders").select($"o_orderkey", $"o_custkey")
    val l = Tables.load(spark, sf, "lineitem").select($"l_orderkey", $"l_suppkey")
    val isDelta = (c: org.apache.spark.sql.Column) => c % 10 === 7

    val dir = Files.createTempDirectory("graph-onesided")
    // base holds ALL orders but only the base lineitems: the delta
    // lineitems' counterpart orders hide in OLD files
    writeTable(o, dir, "orders")
    writeTable(l.filter(!isDelta($"l_orderkey")), dir, "lineitem")
    edgeSet(dir.toString) // build base
    val edgesT = operators.GraphIndex.tableDir(dir.toString, "edges")
    val vBase = pipeline.ParquetIO.currentVersion(edgesT).get

    landDelta(l.filter(isDelta($"l_orderkey")), dir, "lineitem")
    val grownEdges = edgeSet(dir.toString)

    val fullDir = Files.createTempDirectory("graph-onesided-full")
    writeTable(o, fullDir, "orders")
    writeTable(l, fullDir, "lineitem")
    assert(grownEdges == edgeSet(fullDir.toString),
      "one-sided batch must still produce the complete edge set (via rebuild)")
    // and it was a rebuild: the new version carries no prev-links
    val vAfter = pipeline.ParquetIO.currentVersion(edgesT).get
    val files = Files.list(Paths.get(pipeline.ParquetIO.versionPath(edgesT, vAfter)))
    val hasPrev = try files.iterator().asScala.exists(_.getFileName.toString.startsWith("prev"))
      finally files.close()
    assert(!hasPrev, "one-sided batch must take the rebuild arm, not append")
  }
}
