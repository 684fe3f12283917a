package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Per-layer metrics of the traced passes, each a mean per pass. A layer's
  * time `<layer>.s` is the duration of its outermost spans; the
  * reconciliation splits every operation's wall time into time inside
  * layer spans and Spark jobs, and the gap the harness spent between them.
  */
object Layers {
  val Names: Seq[String] = Seq("tables", "fn", "action", "raw", "staging", "core",
    "snapshots", "star", "checks", "parquetio")

  def report(tr: Tracer, w: Workload, traced: Seq[PassResult], baseline: Seq[PassResult],
      cores: Int, m: mutable.Map[String, Double]): Unit = {
    val passes = traced.size.toDouble
    val spans = tr.spans.toSeq
    val jobs = tr.jobs.values.asScala.toSeq
    def sec(ns: Long) = ns / 1e9
    def dur(s: Span) = sec(s.end - s.start)
    def outermost(layer: String) =
      spans.filter(s => s.layer == layer && !tr.ancestors(s.parent).exists(_.layer == layer))
    def jobsUnder(p: Span => Boolean) = jobs.filter(j => tr.ancestors(j.span).exists(p))
    def sum(js: Seq[JobRec]): Counters = {
      val c = new Counters
      js.foreach(j => c.add(tr.counters(j.jobId)))
      c
    }

    Names.foreach { l =>
      m(s"$l.s") = outermost(l).map(dur).sum / passes
      m(s"$l.self_s") = sec(spans.filter(_.layer == l).map(tr.selfNs).sum) / passes
      m(s"$l.jobs") = jobsUnder(_.layer == l).size / passes
    }
    m("core.upsert_s") = outermost("core.upsert").map(dur).sum / passes
    // Tables.load called directly, one span per table
    val loads = spans.filter(s => s.layer == "tables" && s.name != "load-all")
    m("tables.load_s") = loads.map(dur).sum / passes
    m("tables.load_jobs") = jobs.count(j => loads.exists(_.id == j.span)) / passes
    val infer = jobsUnder(s => s.layer == "query")
      .filter(j => j.firstStage.contains("Tables.scala"))
    m("tables.infer_jobs") = infer.size / passes
    m("tables.infer_s") = infer.map(j => sec(j.end - j.start)).sum / passes
    m("parquetio.read_infer_jobs") = jobsUnder(_.layer == "parquetio")
      .count(_.firstStage.contains("ParquetIO.scala")) / passes

    // the harness's own counts and hashes run in another session, which
    // the Catalyst listener (registered on the bench session) never hears
    val cat = tr.catalyst
    Seq("analysis", "optimization", "planning").foreach { p =>
      m(s"catalyst.${p}_s") = cat.getOrElse(p, 0L) / 1e3 / passes
    }
    m("catalyst.actions") = tr.actionCount / passes

    // Spark totals cover the operations' jobs only, not the harness's own
    // between-run counting and hashing
    val all = sum(jobsUnder(s => s.layer == "query" || s.layer == "run"))
    val wall = traced.map(_.wallS).sum
    m("spark.jobs") = all.jobs / passes
    m("spark.stages") = all.stages / passes
    m("spark.tasks") = all.tasks / passes
    m("spark.single_task_jobs") = all.singleTaskJobs / passes
    m("spark.task_run_s") = all.taskRunMs / 1e3 / passes
    m("spark.task_cpu_s") = all.taskCpuNs / 1e9 / passes
    m("spark.task_gc_s") = all.taskGcMs / 1e3 / passes
    m("spark.sched_delay_s") = all.schedDelayMs / 1e3 / passes
    m("spark.fetch_wait_s") = all.fetchWaitMs / 1e3 / passes
    m("spark.core_busy_frac") = all.taskRunMs / 1e3 / (wall * cores)
    m("spark.shuffle_write_bytes") = all.shuffleWrite / passes
    m("spark.shuffle_read_bytes") = all.shuffleRead / passes
    m("spark.input_bytes") = all.inputBytes / passes
    m("spark.spill_bytes") = all.spillBytes / passes
    m("spark.resident_rdds") = traced.map(_.residentRdds).sum / passes

    val st = tr.streaming
    m("streaming.triggers") = st("triggers") / passes
    m("streaming.trigger_s") = st("trigger_ms") / 1e3 / passes
    m("streaming.state_commit_s") = st("state_commit_ms") / 1e3 / passes
    m("streaming.wal_commit_s") = st("wal_commit_ms") / 1e3 / passes
    m("streaming.state_rows") = tr.stateRowsTotal / passes

    val rawJobs = sum(jobsUnder(_.layer == "raw"))
    m("raw.bytes_in") = rawJobs.inputBytes / passes
    val stg = jobsUnder(_.layer == "staging").map(j => tr.counters(j.jobId))
    m("staging.max_task_share") =
      stg.map(_.maxTaskMs).sum.toDouble / math.max(stg.map(_.taskRunMs).sum, 1L)
    val writes = spans.filter(s => s.layer == "parquetio" && !s.name.startsWith("read"))
    m("parquetio.commits") = writes.size / passes
    m("parquetio.write_s") = writes.map(dur).sum / passes
    val written = sum(jobs.filter(j => writes.exists(_.id == j.span)))
    m("parquetio.bytes_written") = written.bytesWritten / passes
    m("parquetio.files_written") = written.filesWritten / passes
    w match {
      case p: PipelineWorkload =>
        Seq("raw.rows", "staging.rows_out", "snapshots.rows_opened",
          "snapshots.rows_closed", "star.rows").foreach(k => m(k) = p.layerRows(k) / passes)
        m("core.rows_rewritten_per_row_changed") =
          p.layerRows("core.rows_rewritten_per_row_changed") / passes
        m("pipeline.replay_tables_matching") =
          p.replayHashes.count { case (k, v) => p.plainHashes.get(k).contains(v) }
      case _ =>
    }

    // reconciliation: an operation's wall time is its own self time (the
    // harness between layer calls: the gap) plus everything below it
    val units = spans.filter(s => s.layer == "query" || s.layer == "run")
    val unitWall = units.map(dur).sum
    val gap = sec(units.map(tr.selfNs).sum)
    m("trace.op_wall_s") = unitWall / passes
    m("trace.layer_sum_s") = (unitWall - gap) / passes
    m("trace.gap_s") = gap / passes
    m("trace.gap_frac") = gap / math.max(unitWall, 1e-9)
    def opSum(ps: Seq[PassResult]) = Stats.median(ps.map(_.ops.map(_.seconds).sum))
    m("trace_overhead_frac") = opSum(traced) / opSum(baseline) - 1.0
  }
}
