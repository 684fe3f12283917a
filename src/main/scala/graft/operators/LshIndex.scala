package graft.operators

import java.nio.file.Path

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{GraftQuery, Tables}
import graft.pipeline.ParquetIO

/** Materialized MinHash-LSH band index — the [[ArtifactStore]] protocol
  * applied to the dedup family (what [[AnnIndex]] did for ANN in round
  * 8 and [[GraphIndex]] did for the graph family this round).
  *
  * Through round 10 the banding queries re-shingled and re-signed the
  * base corpus per run; q76/q160 *documented* a persisted band index as
  * the production posture a continuously-deduped corpus runs on, but
  * probed an in-query recomputation. This object persists that index:
  *
  *  - `bands` (doc_id, band, bkey) — one row per document per LSH band,
  *    where bkey = md5 of the band's [[Dedup.BandSize]] minhash rows
  *    (the exact [[Dedup.bandRows]] derivation the in-query family
  *    uses, so the artifact and any relational re-derivation — DuckDB's
  *    included — are bit-identical).
  *
  * A day-batch then runs O(delta): sign the delta alone, probe its band
  * rows against the artifact (join keyed on (band, bkey) — cost scales
  * with collisions, never |corpus|²), and verify candidates by fetching
  * ONLY their texts. Appends are the standard index-maintenance arm:
  * new document files sign alone and their band rows land as a
  * hard-linked [[ParquetIO.appendAsVersion]] — no base re-scan, with
  * `_sources` idempotency for torn retries. Document ids are unique
  * across files (the corpus append contract — re-crawls arrive under
  * NEW ids, q17's twin scheme), so appended band rows never duplicate.
  *
  * The artifact is a pure function of the source bytes, so q303's
  * DuckDB oracle re-derives the full band table relationally and the
  * probe's equality proves persisted banding ≡ recomputed banding;
  * [[graft.LshIndexSpec]] proves the same at the FILE level across an
  * append, and [[graft.Smoke]] `lsh` measures the O(delta) claim.
  */
object LshIndex extends ArtifactStore {

  /** Bump on ANY change to the banding algebra the geometry knobs below
    * don't capture (shingle construction, signature hash, band-key
    * formula).
    */
  val AlgoVersion = 1

  protected def storeKind: String = "lsh"
  protected def geometry: String =
    s"g:$AlgoVersion,${Dedup.NumHashes},${Dedup.BandSize}"
  protected def allTables: Seq[String] = Seq("bands")

  protected def listing(dir: String): Seq[(String, String)] =
    tableListing(dir, "documents")

  /** Band rows of exactly these files' documents — the one derivation
    * both arms share ([[Dedup.signDocs]] → [[Dedup.bandRows]]).
    */
  private def deriveBands(s: SparkSession, files: Seq[String]): DataFrame = {
    import s.implicits._
    val docs = s.read.parquet(files: _*).select($"doc_id", $"text")
      .repartition(s.sparkContext.defaultParallelism)
    Dedup.bandRows(Dedup.signDocs(docs)).select($"doc_id", $"band", $"bkey")
  }

  protected def build(s: SparkSession, root: Path, snap: Seq[(String, String)]): Unit = {
    require(snap.nonEmpty, s"LSH index build: no documents files for $root")
    ParquetIO.overwriteSwap(deriveBands(s, snap.map(_._2)),
      root.resolve("bands").toString)
    writeSources(root, "bands", snap.map(_._1).toSet)
  }

  protected def appendBuild(s: SparkSession, root: Path,
      newFiles: Seq[(String, String)], snap: Seq[(String, String)]): Boolean = {
    val applied = appliedSources(root, "bands").getOrElse(return false)
    val sub = newFiles.filterNot(f => applied.contains(f._1))
    if (sub.nonEmpty) {
      ParquetIO.appendAsVersion(deriveBands(s, sub.map(_._2)),
        root.resolve("bands").toString)
      writeSources(root, "bands", applied ++ sub.map(_._1))
    }
    true
  }

  /** (doc_id, band, bkey) — the committed band index. */
  def bands(s: SparkSession, dir: String): DataFrame = {
    ensure(s, dir)
    ParquetIO.read(s, tableDir(dir, "bands"))
  }

  // ---------------------------------------------------------------- q303

  /** q303: LSH INDEX PROBE — the artifact-read form of the incremental
    * dedup probe, on the q301 delta convention (doc_id % 10 = 7 is
    * today's batch). The base side is the PERSISTED band index filtered
    * to yesterday's docs (a parquet read — zero base shingling); the
    * delta signs alone; candidates verify by exact shingle intersection
    * with the base texts fetched per-candidate (semi-join). The oracle
    * re-derives the ENTIRE band table relationally and takes the same
    * cross pairs — equality proves the committed artifact is exactly
    * the recomputed banding, which is what makes its append arm safe to
    * trust at production cadence.
    */
  def q303LshIndexProbe(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val deltaDocs = Dedup.signDocs(
      Tables.loadSpread(s, dir, "documents").filter($"doc_id" % 10 === 7)
        .select($"doc_id", $"text")).persist()
    val baseBands = bands(s, dir).filter($"doc_id" % 10 =!= 7)
    val cand = Dedup.bandRows(deltaDocs).as("x")
      .join(baseBands.as("y"),
        col("x.band") === col("y.band") && col("x.bkey") === col("y.bkey"))
      .select(col("x.doc_id").as("new_doc"), col("y.doc_id").as("dup_of"))
      .distinct()
    val baseShs = Tables.load(s, dir, "documents")
      .join(cand.select($"dup_of".as("doc_id")).distinct(), Seq("doc_id"), "left_semi")
      .select($"doc_id".as("dup_of"),
        array_distinct(Dedup.shingles($"text")).as("shs_b"))
    cand
      .join(deltaDocs.select($"doc_id".as("new_doc"), $"shs".as("shs_a")), "new_doc")
      .join(baseShs, "dup_of")
      .select($"new_doc", $"dup_of",
        size(array_intersect($"shs_a", $"shs_b")).cast("long").as("n_common"),
        size($"shs_a").as("na"), size($"shs_b").as("nb"))
      .filter($"n_common" > 0)
      .select($"new_doc", $"dup_of", $"n_common",
        ($"n_common".cast("double") / ($"na" + $"nb" - $"n_common")).as("jaccard"))
      .orderBy($"new_doc", $"dup_of")
  }

  private val q303Sql =
    s"""WITH ${Dedup.minhashCtesShared},
      |inc AS (
      |  SELECT CASE WHEN doc_a % 10 = 7 THEN doc_a ELSE doc_b END AS new_doc,
      |         CASE WHEN doc_a % 10 = 7 THEN doc_b ELSE doc_a END AS dup_of,
      |         n_common, jaccard
      |  FROM verified
      |  WHERE (doc_a % 10 = 7) <> (doc_b % 10 = 7))
      |SELECT new_doc, dup_of, n_common, jaccard
      |FROM inc
      |ORDER BY new_doc, dup_of""".stripMargin

  def queries: Seq[GraftQuery] = Seq(
    GraftQuery("q303_lsh_index_probe", Seq("EXT-dedup", "S6"),
      "persisted LSH band index probe: delta signs alone, base side is the committed artifact, candidate-only verify; oracle re-derives the full banding",
      q303LshIndexProbe, Some(q303Sql)))
}
