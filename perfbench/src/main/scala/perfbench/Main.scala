package perfbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import graft.{Registry, Sessions}

/** Benchmark JVM: builds the bench session, runs the workload's untimed
  * warm-up (which also writes or checks outputs), then as many whole passes
  * as fit in `--seconds`, and writes its measurements to `<out>/jvm.json`.
  *
  * With `--trace 1` the measured window holds traced passes, then untraced
  * ones as the baseline of the trace overhead, each in half the window.
  */
object Main {
  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val launchedMs = args("launched-ms").toLong
    val seconds = args("seconds").toDouble
    val traceRun = args("trace") == "1"
    val out = Paths.get(args("out"))
    val cpus = args("cpus")

    val t0 = System.nanoTime()
    val spark = Sessions.benchBuilder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val buildS = (System.nanoTime() - t0) / 1e9
    val tr = new Tracer(spark)
    // the harness's own counting and hashing run in a session of their own
    val harness = spark.newSession()

    val workload: Workload = args("workload") match {
      case "pipeline" =>
        new PipelineWorkload(spark, harness, tr, Paths.get(args("landing")),
          Paths.get(args("warmup-landing")), Paths.get(args("scratch")), hashTables = traceRun)
      case _ =>
        val names = args("queries").split(",").toSet
        val qs = Registry.all.filter(q => names.contains(q.name))
        require(qs.size == names.size, s"unknown queries: ${names -- qs.map(_.name)}")
        new RegistryWorkload(spark, tr, args("data"), qs, args("seed").toLong)
    }

    val w0 = System.nanoTime()
    val (checked, checkFailed) = tr.span("warmup", "pass")(workload.warmup(out))
    val warmupS = (System.nanoTime() - w0) / 1e9
    val setupS = (System.currentTimeMillis() - launchedMs) / 1e3

    // as many whole passes as fit in the window at the last pass's pace, at
    // least one
    def loop(budget: Double, traced: Boolean): Seq[PassResult] = {
      val start = System.nanoTime()
      val b = Seq.newBuilder[PassResult]
      var last = 0.0
      def elapsed = (System.nanoTime() - start) / 1e9
      while (last == 0.0 || elapsed + last <= budget) {
        val t = elapsed
        b += workload.pass(traced)
        last = elapsed - t
      }
      b.result()
    }
    // a trace run's traced passes come before its untraced ones, so that the
    // JVM's continued warming cannot pass for negative tracing overhead
    val traced = if (!traceRun) Nil else {
      tr.start()
      val t = loop(seconds / 2, traced = true)
      tr.drain()
      tr.detach()
      t
    }
    val plain = loop(if (traceRun) seconds / 2 else seconds, traced = false)

    val m = scala.collection.mutable.LinkedHashMap[String, Double]()
    m("setup_s") = setupS
    m("total_s") = Stats.median(plain.map(_.wallS))
    m("op_geomean_s") = Stats.geomean(plain.flatMap(_.ops).map(_.seconds))
    m("op_p50_s") = Stats.median(plain.flatMap(_.ops).map(_.seconds))
    m("peak_rss_mb") = Stats.peakRssMb()
    m("passes") = plain.size
    plain.zipWithIndex.foreach { case (p, i) =>
      m(s"pass.$i") = p.wallS
      p.ops.foreach(o => m(s"pass.$i.${o.name}") = o.seconds)
    }
    m("sessions.build_s") = buildS
    m("warmup_s") = warmupS
    workload match {
      case p: PipelineWorkload =>
        Seq("first_run", "incremental_run", "full_refresh").foreach { r =>
          m(s"pipeline.${r}_s") = Stats.median(plain.flatMap(_.ops).filter(_.name == r).map(_.seconds))
        }
        m("pipeline.stored_bytes") = p.lastStoredBytes
      case _ =>
    }
    plain.flatMap(_.ops).groupBy(_.name).toSeq.sortBy(_._1).foreach { case (k, v) =>
      m(s"op.$k") = Stats.median(v.map(_.seconds))
    }
    if (traceRun)
      Layers.report(tr, workload, traced, plain, cpus.toInt, m)
    val all = (plain ++ traced).flatMap(_.ops)
    // a traced pipeline run also checks the replay, table by table
    val (replayChecked, replayFailed) = workload match {
      case p: PipelineWorkload if traceRun => p.replayCheck()
      case _ => (0, 0)
    }
    val attempted = checked + all.size + replayChecked
    val failed = checkFailed + all.count(!_.ok) + replayFailed
    m("attempted") = attempted
    m("failed") = failed
    if (traceRun) tr.writeSpans(out.resolve("spans.jsonl"))
    spark.stop()
    Files.writeString(out.resolve("jvm.json"),
      m.map { case (k, v) => s""""$k":${Stats.num(v)}""" }.mkString("{", ",", "}\n"))
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def geomean(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else math.exp(xs.map(math.log).sum / xs.size)

  def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else BigDecimal(v).toString
}
