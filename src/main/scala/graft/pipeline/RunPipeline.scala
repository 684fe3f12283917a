package graft.pipeline

import java.nio.file.{Files, Path, Paths}
import java.sql.Timestamp

import org.apache.spark.sql.SparkSession

import graft.{Sessions, Verify}

/** CLI entry for the firmographic pipeline — the analog of one Airflow
  * DAG run (SURVEY.md §3.1): ingest a landing dir, run every layer, print
  * the test-stage results and a small run manifest (S9 parity: model
  * list + row counts + test results).
  *
  * Usage: runMain graft.pipeline.RunPipeline [--full-refresh] <landingDir> <workDir> [asOf]
  *
  * `SPARK_MASTER` overrides the local master for a deployment.
  */
object RunPipeline {
  def main(args: Array[String]): Unit = {
    val fullRefresh = args.contains("--full-refresh")
    val pos = args.filterNot(_ == "--full-refresh")
    val (landingDir, workDir) = (pos(0), pos(1))
    // remaining args joined: lets "2025-06-01 00:00:00" arrive unquoted
    val asOf = if (pos.length > 2) Timestamp.valueOf(pos.drop(2).mkString(" "))
      else new Timestamp(System.currentTimeMillis())
    val b = Sessions.benchBuilder(Sessions.cpus).appName("graft-firmographics")
    val spark = sys.env.get("SPARK_MASTER").fold(b)(b.master).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val failed = try run(spark, landingDir, workDir, asOf, fullRefresh)._1.filterNot(_.passed)
      finally spark.stop()
    if (failed.nonEmpty) sys.exit(1)
  }

  /** Every model with its upstream lineage, in layer order, mirroring the
    * reference DAG's edges (DAG:199-201; dbt graph in
    * dbt_project.yml:35-56).
    */
  private val Models: Seq[(String, String, Seq[String])] = Seq(
    ("raw", "wiki_sp500", Seq("landing")),
    ("raw", "fortune_500", Seq("landing")),
    ("staging", "stg_wiki_sp500", Seq("raw.wiki_sp500")),
    ("staging", "stg_fortune500", Seq("raw.fortune_500")),
    ("core", "cr_company_complete",
      Seq("staging.stg_fortune500", "staging.stg_wiki_sp500")),
    ("snapshots", "company_location_snapshot", Seq("core.cr_company_complete")),
    ("snapshots", "fortune_metrics_snapshot", Seq("core.cr_company_complete")),
    ("analytics", "dim_company", Seq("core.cr_company_complete")),
    ("analytics", "dim_location", Seq("snapshots.company_location_snapshot")),
    ("analytics", "dim_fortune_metrics", Seq("snapshots.fortune_metrics_snapshot")),
    ("analytics", "fact_company_performance", Seq("core.cr_company_complete")))

  /** Runs every layer on `spark` (left running), prints per-model row
    * counts and the test results, and writes the run manifest and the
    * docs page under `workDir`. Returns the test results and the
    * manifest's path.
    */
  def run(spark: SparkSession, landingDir: String, workDir: String, asOf: Timestamp,
      fullRefresh: Boolean = false): (Seq[Checks.CheckResult], Path) = {
    val pipe = new Pipeline(spark, workDir)
    val results = pipe.run(landingDir, asOf, fullRefresh)
    // each table counted once, for stdout, the manifest and the docs alike
    val models = Models.map { case (layer, t, deps) =>
      Docs.Model(layer, t, pipe.read(layer, t).count(), deps)
    }
    println(s"=== graft firmographics run @ $asOf ===")
    models.foreach(m => println(f"${m.layer}%-10s ${m.table}%-30s ${m.rows}%6d rows"))
    val failed = results.filterNot(_.passed)
    println(s"tests: ${results.size - failed.size}/${results.size} passed")
    failed.foreach(r => println(s"  FAIL ${r.table}.${r.name}: ${r.violations} violations"))

    // S9 parity: per-run manifest artifact (model list + row counts +
    // test results, keyed by invocation id — the spirit of the
    // reference's manifest/run_results S3 upload, DAG:66-107)
    val invocationId = java.util.UUID.randomUUID().toString
    val q = Verify.jsonString _
    val modelsJson = models.map(m =>
      s"""{"layer": ${q(m.layer)}, "table": ${q(m.table)}, "rows": ${m.rows}, """ +
        s""""depends_on": ${m.dependsOn.map(q).mkString("[", ",", "]")}}""")
      .mkString("[", ",", "]")
    val testsJson = results.map(r =>
      s"""{"table": ${q(r.table)}, "test": ${q(r.name)}, "violations": ${r.violations}}""")
      .mkString("[", ",", "]")
    val manifest =
      s"""{"invocation_id": ${q(invocationId)}, "as_of": ${q(asOf.toString)},
         | "models": $modelsJson, "tests": $testsJson}""".stripMargin
    val manifestPath = Files.createDirectories(Paths.get(workDir, "manifests"))
      .resolve(s"run_$invocationId.json")
    Files.writeString(manifestPath, manifest)
    println(s"manifest: $manifestPath")

    // docs site (dbt docs generate analog): one self-contained HTML page
    // with the lineage DAG as inline SVG + model/test tables
    val docsDir = Files.createDirectories(Paths.get(workDir, "docs"))
    Files.writeString(docsDir.resolve("index.html"), Docs.render(invocationId,
      asOf.toString, models, results.map(r => Docs.TestRow(r.table, r.name, r.violations))))
    println(s"docs: $docsDir/index.html")
    (results, manifestPath)
  }
}
