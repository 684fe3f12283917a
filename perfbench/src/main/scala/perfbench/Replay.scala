package perfbench

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Incremental, Scd2}
import graft.pipeline.{Checks, Core, ParquetIO, RawIngest, Staging, Star}

/** `Pipeline.run`, step for step, through the layers' public functions,
  * with a span around each dbt layer and each `ParquetIO` call. It must
  * leave the same table contents as `Pipeline.run`; the benchmark checks
  * that by content hash, and a table that differs counts as a failed
  * operation.
  */
final class Replay(spark: SparkSession, workDir: String, tr: Tracer) {
  private def path(layer: String, table: String) = s"$workDir/$layer/$table"
  private def exists(layer: String, table: String) = ParquetIO.exists(path(layer, table))
  private def read(layer: String, table: String): DataFrame =
    tr.span("parquetio", s"read $layer.$table")(ParquetIO.read(spark, path(layer, table)))
  private def write(df: DataFrame, layer: String, table: String): Unit =
    tr.span("parquetio", s"write $layer.$table")(ParquetIO.overwriteSwap(df, path(layer, table)))

  private def incremental(layer: String, table: String, key: Seq[String],
      watermark: String, transform: Option[Timestamp] => DataFrame,
      fullRefresh: Boolean, upsertLayer: String): Unit =
    if (fullRefresh || !exists(layer, table)) write(transform(None), layer, table)
    else {
      val existing = read(layer, table)
      val hwm = existing.agg(max(col(watermark))).first().get(0) match {
        case t: Timestamp => Some(t)
        case l: java.time.LocalDateTime => Some(Timestamp.valueOf(l))
        case i: java.time.Instant => Some(Timestamp.from(i))
        case _ => None
      }
      val merged = Incremental.upsert(existing, transform(hwm), key)
      tr.span(upsertLayer, s"upsert $table")(write(merged, layer, table))
    }

  private def snapshot(table: String, batch: DataFrame, key: String, asOf: Timestamp): Unit =
    if (!exists("snapshots", table))
      write(Scd2.firstRun(batch, Seq(key), "last_updated"), "snapshots", table)
    else
      write(Scd2.snapshot(read("snapshots", table), batch, Seq(key), "last_updated", lit(asOf)),
        "snapshots", table)

  def run(landingDir: String, at: Timestamp, fullRefresh: Boolean): Seq[Checks.CheckResult] = {
    tr.span("raw", "ingest") {
      def loadRaw(table: String, glob: String, source: String): Unit =
        if (!exists("raw", table))
          write(RawIngest.ingest(spark, landingDir, glob, source, lit(at), 1L), "raw", table)
        else {
          val existing = read("raw", table)
          val startId = existing.agg(coalesce(max(col("id")), lit(0L))).first().getLong(0) + 1L
          val history =
            if (existing.columns.contains("source_file")) Some(existing.select(col("source_file")))
            else None
          tr.span("parquetio", s"append raw.$table")(ParquetIO.appendInPlace(
            RawIngest.ingest(spark, landingDir, glob, source, lit(at), startId, history),
            path("raw", table)))
        }
      loadRaw("fortune_500", "*fortune500*.json", "fortune500")
      loadRaw("wiki_sp500", "*sp500.json", "wikipedia_sp500")
    }
    def since(df: DataFrame, c: String)(hwm: Option[Timestamp]) =
      hwm.foldLeft(df)((d, ts) => d.filter(col(c) > lit(ts)))
    tr.span("staging", "models") {
      incremental("staging", "stg_wiki_sp500", Seq("cik"), "ingested_at",
        hwm => Staging.stgWikiSp500(since(read("raw", "wiki_sp500"), "ingested_at")(hwm)),
        fullRefresh, "staging")
      incremental("staging", "stg_fortune500", Seq("company_name"), "ingested_at",
        hwm => Staging.stgFortune500(since(read("raw", "fortune_500"), "ingested_at")(hwm)),
        fullRefresh, "staging")
    }
    tr.span("core", "cr_company_complete") {
      incremental("core", "cr_company_complete", Seq("cik"), "last_updated",
        hwm => Core.crCompanyComplete(
          read("staging", "stg_fortune500"), read("staging", "stg_wiki_sp500"), hwm),
        fullRefresh, "core.upsert")
    }
    val core = read("core", "cr_company_complete")
    tr.span("snapshots", "scd2") {
      snapshot("company_location_snapshot", Star.locationSnapshotBatch(core), "location_key", at)
      snapshot("fortune_metrics_snapshot", Star.fortuneMetricsSnapshotBatch(core),
        "fortune_metrics_key", at)
    }
    tr.span("star", "models") {
      write(Star.dimCompany(core), "analytics", "dim_company")
      write(Star.dimLocation(read("snapshots", "company_location_snapshot")),
        "analytics", "dim_location")
      write(Star.dimFortuneMetrics(read("snapshots", "fortune_metrics_snapshot")),
        "analytics", "dim_fortune_metrics")
      incremental("analytics", "fact_company_performance", Seq("company_key"),
        "last_updated", hwm => Star.factCompanyPerformance(since(core, "last_updated")(hwm)),
        fullRefresh, "star")
    }
    tr.span("checks", "suite") {
      val tables = Expected.tables.filterNot(_._1 == "raw")
        .map { case (l, t) => t -> read(l, t) }.toMap
      Checks.run(tables, Checks.referenceSuite(tables))
    }
  }

  private var prev = Map.empty[String, Long]

  /** Row-level facts of the run just replayed, counted outside its spans
    * in `harness`, a session of its own, so that these counts reach neither
    * the Catalyst figures nor the Spark totals: rows appended to RAW, rows
    * written by staging and star, the core rewrite ratio (incremental run
    * only) and SCD2 versions opened/closed.
    */
  def rowCounts(harness: SparkSession, run: Int): Map[String, Double] = {
    def n(l: String, t: String) = ParquetIO.read(harness, path(l, t)).count()
    def closed(t: String) = ParquetIO.read(harness, path("snapshots", t))
      .filter(col("dbt_valid_to").isNotNull).count()
    val snaps = Seq("company_location_snapshot", "fortune_metrics_snapshot")
    val now = Map(
      "raw" -> (n("raw", "wiki_sp500") + n("raw", "fortune_500")),
      "snap" -> snaps.map(n("snapshots", _)).sum,
      "closed" -> snaps.map(closed).sum)
    val coreDir = path("core", "cr_company_complete")
    val ratio = if (run != 1) Map.empty[String, Double] else {
      val cur = ParquetIO.resolveVersion(coreDir).get
      val after = ParquetIO.read(harness, coreDir)
      val before = ParquetIO.readVersion(harness, coreDir, cur - 1)
      val changed = after.exceptAll(before.select(after.columns.map(col): _*)).count()
      Map("core.rows_rewritten_per_row_changed" ->
        after.count().toDouble / math.max(changed, 1L))
    }
    val d = (k: String) => (now(k) - prev.getOrElse(k, 0L)).toDouble
    val out = ratio ++ Map(
      "raw.rows" -> d("raw"),
      "staging.rows_out" ->
        (n("staging", "stg_wiki_sp500") + n("staging", "stg_fortune500")).toDouble,
      "snapshots.rows_opened" -> d("snap"),
      "snapshots.rows_closed" -> d("closed"),
      "star.rows" -> Seq("dim_company", "dim_location", "dim_fortune_metrics",
        "fact_company_performance").map(n("analytics", _)).sum.toDouble)
    prev = now
    out
  }
}

object Replay {
  /** Order-free content hash of every pipeline table: row count plus the
    * sum of a 64-bit row hash.
    */
  def hashes(spark: SparkSession, workDir: String): Map[String, String] =
    Expected.tables.map { case (l, t) =>
      val df = ParquetIO.read(spark, s"$workDir/$l/$t")
      val r = df.agg(count(lit(1)),
        sum(xxhash64(df.columns.map(col): _*).cast("decimal(38,0)"))).first()
      s"$l.$t" -> s"${r.getLong(0)}:${r.get(1)}"
    }.toMap
}
