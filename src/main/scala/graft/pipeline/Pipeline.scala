package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Incremental, Scd2}

/** End-to-end orchestrator reproducing the reference DAG's topology
  * (SURVEY.md §3.1; DAG:199-201):
  *
  *   extract/load (RAW) → staging → core → snapshots → star → test
  *
  * with the reference's materialization strategies per layer
  * (dbt_project.yml:35-56): incremental+unique_key upserts for staging/
  * core/fact, full-refresh tables for dims, SCD2 snapshot state between
  * core and star (which is what makes current-only dims possible), and
  * tests once at the end.
  *
  * Storage: Parquet per layer directory, committed through
  * [[ParquetIO]]'s versioned pointer (write a new version, then flip
  * `_current`), making re-runs idempotent like MERGE. At
  * warehouse scale the same code targets bucketed tables (key-bucketed
  * upserts avoid the existing side's shuffle) or Delta MERGE — the
  * helpers are signature-compatible (SURVEY.md §7.3).
  */
final class Pipeline(spark: SparkSession, workDir: String) {

  private def path(layer: String, table: String): String =
    s"$workDir/$layer/$table"

  def exists(layer: String, table: String): Boolean =
    ParquetIO.exists(path(layer, table))

  def read(layer: String, table: String): DataFrame =
    ParquetIO.read(spark, path(layer, table))

  /** Atomic overwrite via [[ParquetIO.overwriteSwap]]. */
  def overwriteSwap(df: DataFrame, layer: String, table: String): Unit =
    ParquetIO.overwriteSwap(df, path(layer, table))

  /** dbt incremental materialization: first run writes full; later runs
    * watermark-filter on `ingested_at > max(watermarkCol)` (P3, strictly
    * greater — dbt's is_incremental branch) then MERGE-upsert on the
    * unique key (S6). Under `fullRefresh` the is_incremental() guard is
    * false even when the target exists (dbt --full-refresh,
    * reference: DBT/models/staging/stg_wiki_sp500.sql:5-7): the table is
    * rebuilt from the complete upstream — the recovery path for schema
    * changes and bad backfills.
    */
  private def writeIncremental(
      layer: String, table: String, key: Seq[String],
      watermarkCol: String,
      transform: Option[java.sql.Timestamp] => DataFrame,
      fullRefresh: Boolean = false): Unit = {
    if (fullRefresh || !exists(layer, table)) {
      overwriteSwap(transform(None), layer, table)
    } else {
      val existing = read(layer, table)
      val hwm = existing.agg(max(col(watermarkCol))).first().get(0)
      val hwmTs = hwm match {
        case t: java.sql.Timestamp => Some(t)
        case l: java.time.LocalDateTime => Some(java.sql.Timestamp.valueOf(l))
        case i: java.time.Instant => Some(java.sql.Timestamp.from(i))
        case _ => None
      }
      val incoming = transform(hwmTs)
      overwriteSwap(Incremental.upsert(existing, incoming, key), layer, table)
    }
  }

  /** SCD2 snapshot materialization (S8/§2.9). */
  private def writeSnapshot(
      table: String, batch: DataFrame, key: String, asOf: Column): Unit = {
    if (!exists("snapshots", table))
      overwriteSwap(Scd2.firstRun(batch, Seq(key), "last_updated"), "snapshots", table)
    else
      overwriteSwap(
        Scd2.snapshot(read("snapshots", table), batch, Seq(key), "last_updated", asOf),
        "snapshots", table)
  }

  /** One full pipeline run over a landing directory of JSON files.
    *
    * @param at logical run timestamp (ingested_at for this batch and the
    *           snapshot hard-delete invalidation time) — injectable so
    *           runs are deterministic and replayable.
    * @param fullRefresh rebuild every incremental model from its complete
    *           upstream (dbt --full-refresh). RAW stays append-only and
    *           snapshots keep their history — dbt --full-refresh does not
    *           drop snapshots either.
    * @return test results of the final `dbt test` stage.
    */
  def run(landingDir: String, at: java.sql.Timestamp,
      fullRefresh: Boolean = false): Seq[Checks.CheckResult] = {
    // ---- extract/load: landing JSON → RAW (S4/S5, DAG:111-136) ----
    // RAW is append-only: later batches APPEND new parquet files next to
    // the existing ones (job-committed, so readers never see a partial
    // batch) instead of rewriting the accumulated history — O(batch) per
    // ingest run, not O(history). Only the scalar max(id) reads the
    // existing table (S5's persisted identity).
    def loadRaw(table: String, glob: String, source: String): Unit = {
      if (!exists("raw", table)) {
        overwriteSwap(RawIngest.ingest(spark, landingDir, glob, source, lit(at), 1L),
          "raw", table)
      } else {
        val existing = read("raw", table)
        val startId =
          existing.agg(coalesce(max(col("id")), lit(0L))).first().getLong(0) + 1L
        // COPY INTO load history: files already in RAW are not re-loaded
        val history =
          if (existing.columns.contains("source_file"))
            Some(existing.select(col("source_file")))
          else None
        ParquetIO.appendInPlace(
          RawIngest.ingest(spark, landingDir, glob, source, lit(at), startId, history),
          path("raw", table))
      }
    }
    loadRaw("fortune_500", "*fortune500*.json", "fortune500")
    loadRaw("wiki_sp500", "*sp500.json", "wikipedia_sp500")

    // ---- staging (incremental, watermark on RAW ingested_at) ----
    writeIncremental("staging", "stg_wiki_sp500", Seq("cik"), "ingested_at",
      hwm => Staging.stgWikiSp500(hwm.foldLeft(read("raw", "wiki_sp500"))(
        (df, ts) => df.filter(col("ingested_at") > lit(ts)))), fullRefresh)
    writeIncremental("staging", "stg_fortune500", Seq("company_name"), "ingested_at",
      hwm => Staging.stgFortune500(hwm.foldLeft(read("raw", "fortune_500"))(
        (df, ts) => df.filter(col("ingested_at") > lit(ts)))), fullRefresh)

    // ---- core (incremental on cik, cross-source watermark quirk) ----
    writeIncremental("core", "cr_company_complete", Seq("cik"), "last_updated",
      hwm => Core.crCompanyComplete(
        read("staging", "stg_fortune500"), read("staging", "stg_wiki_sp500"), hwm),
      fullRefresh)

    // ---- snapshots (between core and star, DAG:201) ----
    val core = read("core", "cr_company_complete")
    writeSnapshot("company_location_snapshot",
      Star.locationSnapshotBatch(core), "location_key", lit(at))
    writeSnapshot("fortune_metrics_snapshot",
      Star.fortuneMetricsSnapshotBatch(core), "fortune_metrics_key", lit(at))

    // ---- star: dims full-refresh, fact incremental (dbt_project.yml:50-56) ----
    overwriteSwap(Star.dimCompany(core), "analytics", "dim_company")
    overwriteSwap(Star.dimLocation(read("snapshots", "company_location_snapshot")),
      "analytics", "dim_location")
    overwriteSwap(Star.dimFortuneMetrics(read("snapshots", "fortune_metrics_snapshot")),
      "analytics", "dim_fortune_metrics")
    writeIncremental("analytics", "fact_company_performance", Seq("company_key"),
      "last_updated",
      hwm => Star.factCompanyPerformance(hwm.foldLeft(core)(
        (df, ts) => df.filter(col("last_updated") > lit(ts)))), fullRefresh)

    // ---- test stage, once at the end (DAG:177-180, ordering DAG:201) ----
    val tables = Map(
      "stg_wiki_sp500" -> read("staging", "stg_wiki_sp500"),
      "stg_fortune500" -> read("staging", "stg_fortune500"),
      "cr_company_complete" -> read("core", "cr_company_complete"),
      "company_location_snapshot" -> read("snapshots", "company_location_snapshot"),
      "fortune_metrics_snapshot" -> read("snapshots", "fortune_metrics_snapshot"),
      "dim_company" -> read("analytics", "dim_company"),
      "dim_location" -> read("analytics", "dim_location"),
      "dim_fortune_metrics" -> read("analytics", "dim_fortune_metrics"),
      "fact_company_performance" -> read("analytics", "fact_company_performance"))
    Checks.run(tables, Checks.referenceSuite(tables))
  }
}
