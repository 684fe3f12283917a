package perfbench

import java.nio.file.{Files, Path, Paths}
import java.sql.Timestamp
import java.util.Comparator

import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.{GraftQuery, Tables}
import graft.pipeline.{Checks, ParquetIO, Pipeline}

/** One operation of a pass: a registry query or one `Pipeline.run`. */
final case class Op(name: String, seconds: Double, ok: Boolean)

/** One pass. `wallS` is the sum of its operations' wall times (the harness's
  * housekeeping between operations is not counted).
  */
final case class PassResult(wallS: Double, ops: Seq[Op], residentRdds: Long = 0L)

trait Workload {
  /** The untimed first pass: warms the JVM and the session and writes or
    * checks outputs. Returns the number of operations run and the number
    * that failed.
    */
  def warmup(out: Path): (Int, Int)
  def pass(traced: Boolean): PassResult
}

object Fs {
  def rm(p: Path): Unit =
    if (Files.exists(p))
      Files.walk(p).sorted(Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))

  def du(p: Path): Long =
    if (!Files.exists(p)) 0L
    else Files.walk(p).filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum

  /** Rows of a `ParquetIO` table's committed version, summed from the data
    * files' footers: the row count its readers see, without a Spark job.
    */
  def committedRows(dir: String): Long = {
    val v = Paths.get(ParquetIO.resolveVersion(dir).map(ParquetIO.versionPath(dir, _)).getOrElse(dir))
    val conf = new Configuration()
    Files.list(v).iterator().asScala.filter(_.getFileName.toString.endsWith(".parquet"))
      .map { f =>
        val r = ParquetFileReader.open(HadoopInputFile.fromPath(new HPath(f.toUri), conf))
        try r.getRecordCount finally r.close()
      }.sum
  }
}

/** A fixed set of registry queries, run in a seeded order that changes
  * every pass. Each query is its `fn` (DataFrame construction, including
  * any eager work) followed by a full materialization through the noop
  * sink, exactly as `graft.Bench` times it. The warm-up is two passes: one
  * that writes every result for the check, then one through the noop sink,
  * because the first noop pass is still warming the JIT (on a busy box its
  * total spread twice as far over ten runs as the second pass's).
  */
final class RegistryWorkload(spark: SparkSession, tr: Tracer, dataDir: String,
    queries: Seq[GraftQuery], seed: Long) extends Workload {
  private val rnd = new Random(seed)

  private def run(q: GraftQuery, sink: DataFrame => Unit): Op = {
    val t0 = System.nanoTime()
    val ok = try {
      tr.span("query", q.name) {
        val df = tr.span("fn", q.name)(q.fn(spark, dataDir))
        tr.span("action", q.name)(sink(df))
      }
      true
    } catch { case e: Throwable =>
      System.err.println(s"[perfbench] ${q.name} failed: $e")
      false
    }
    Op(q.name, (System.nanoTime() - t0) / 1e9, ok)
  }

  def warmup(out: Path): (Int, Int) = {
    def str(x: String) = "\"" + x.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    Files.writeString(out.resolve("oracle_sql.json"), queries.flatMap(q =>
      q.oracle.map(o => s"${str(q.name)}: ${str(o)}")).mkString("{", ",\n", "}\n"))
    val failed = queries.count { q =>
      val dst = out.resolve("results").resolve(q.name).toString
      val op = run(q, _.write.mode("overwrite").parquet(dst))
      spark.catalog.clearCache()
      !op.ok
    }
    val noop = pass(traced = false)
    (2 * queries.size, failed + noop.ops.count(!_.ok))
  }

  def pass(traced: Boolean): PassResult = {
    var resident = 0L
    val ops = tr.span("pass", "registry") {
      if (traced) tr.span("tables", "load-all") {
        Tables.names.foreach(t => tr.span("tables", t)(Tables.load(spark, dataDir, t)))
      }
      rnd.shuffle(queries).map { q =>
        // outside the timed operation: each query starts on a collected
        // heap, so no query pays for its predecessors' garbage
        System.gc()
        val op = run(q, _.write.format("noop").mode("overwrite").save())
        // persisted blocks a query leaves behind, read before the
        // harness clears them (the queries leave release to the caller)
        resident += spark.sparkContext.getPersistentRDDs.size
        spark.catalog.clearCache()
        op
      }
    }
    PassResult(ops.map(_.seconds).sum, ops, resident)
  }
}

/** The paper's pipeline: a first run on landing batch 1, an incremental
  * run on batch 2, then a full refresh, each pass in a fresh work
  * directory. Untraced passes call `Pipeline.run`; traced passes replay the
  * same steps through the layers' public functions ([[Replay]]). After
  * every run, outside its timing, its check verdicts and the row count of
  * every model are compared with the generator's predictions. The warm-up
  * is the first and the incremental run over `warmLanding`, a smaller
  * landing set of the same shape (a run's time is mostly per-job overhead,
  * so small runs warm the JIT about as well; the full refresh reuses their
  * code paths). With `hashTables`, every timed pass's tables are hashed in
  * `harness`, a session the tracer does not observe, so that
  * [[replayCheck]] can compare the replay's tables with `Pipeline.run`'s.
  */
final class PipelineWorkload(spark: SparkSession, harness: SparkSession, tr: Tracer,
    landing: Path, warmLanding: Path, scratch: Path, hashTables: Boolean) extends Workload {
  private val expected = Expected.load(landing.resolve("expected.txt"))
  private val warmExpected = Expected.load(warmLanding.resolve("expected.txt"))
  private val at = Seq("2025-01-01 00:00:00", "2025-02-01 00:00:00", "2025-03-01 00:00:00")
    .map(Timestamp.valueOf)
  private val runs = Seq(("first_run", "batch1", false),
    ("incremental_run", "batch2", false), ("full_refresh", "batch2", true))
  private var n = 0
  var lastStoredBytes = 0L
  var plainHashes = Map.empty[String, String]
  var replayHashes = Map.empty[String, String]
  val layerRows = scala.collection.mutable.Map[String, Double]().withDefaultValue(0.0)

  private def fresh(): Path = {
    n += 1
    val d = scratch.resolve(s"work-$n")
    Fs.rm(d)
    Files.createDirectories(d)
    d
  }

  private def verdicts(exp: Expected, run: Int, res: Seq[Checks.CheckResult]): Seq[String] = {
    val got = res.map(r => s"${r.table}.${r.name}" -> r.violations).toMap
    val want = exp.checks(run)
    (want.keySet ++ got.keySet).toSeq.sorted.collect {
      case k if got.get(k) != want.get(k) =>
        s"run $run check $k: got ${got.get(k)} want ${want.get(k)}"
    }
  }

  private def rowCounts(exp: Expected, work: Path, run: Int): Seq[String] =
    Expected.tables.flatMap { case (layer, t) =>
      val got = Fs.committedRows(work.resolve(layer).resolve(t).toString)
      val want = exp.rows(run)(s"$layer.$t")
      if (got == want) None else Some(s"run $run rows $layer.$t: got $got want $want")
    }

  /** The first `count` runs in a fresh work directory, each checked after it
    * ends.
    */
  private def runAll(land: Path, exp: Expected, traced: Boolean,
      count: Int = runs.size): (Path, Seq[Op]) = {
    val work = fresh()
    lazy val replay = new Replay(spark, work.toString, tr)
    val pipe = new Pipeline(spark, work.toString)
    val ops = runs.zipWithIndex.take(count).map { case ((name, batch, full), i) =>
      System.gc()
      val s0 = System.nanoTime()
      val dir = land.resolve(batch).toString
      val res = tr.span("run", name) {
        if (traced) replay.run(dir, at(i), full) else pipe.run(dir, at(i), full)
      }
      val wall = (System.nanoTime() - s0) / 1e9
      val bad = verdicts(exp, i, res) ++ rowCounts(exp, work, i)
      bad.foreach(b => System.err.println(s"[perfbench] pipeline mismatch: $b"))
      if (traced) replay.rowCounts(harness, i).foreach { case (k, v) => layerRows(k) += v }
      Op(name, wall, bad.isEmpty)
    }
    (work, ops)
  }

  def warmup(out: Path): (Int, Int) = {
    val (work, ops) = runAll(warmLanding, warmExpected, traced = false, count = 2)
    Fs.rm(work)
    (ops.size, ops.count(!_.ok))
  }

  def pass(traced: Boolean): PassResult = {
    val (work, ops) = tr.span("pass", "pipeline")(runAll(landing, expected, traced))
    val wall = ops.map(_.seconds).sum
    lastStoredBytes = Fs.du(work)
    if (hashTables) {
      val hashes = Replay.hashes(harness, work.toString)
      if (traced) replayHashes = hashes else plainHashes = hashes
    }
    Fs.rm(work)
    PassResult(wall, ops)
  }

  /** The replay's tables against `Pipeline.run`'s, one comparison per
    * table: the number compared and the number whose content hash differs.
    */
  def replayCheck(): (Int, Int) = {
    val bad = Expected.tables.map { case (l, t) => s"$l.$t" }.filter { k =>
      val (got, want) = (replayHashes.get(k), plainHashes.get(k))
      if (got.isEmpty || got != want)
        System.err.println(s"[perfbench] replay mismatch: $k: got $got want $want")
      got.isEmpty || got != want
    }
    (Expected.tables.size, bad.size)
  }
}

/** The generator's predictions: per run, each check's violation count and
  * each model's row count. File format, one fact per line:
  * `check <run> <table.check> <violations>` or `rows <run> <layer.table> <n>`.
  */
final case class Expected(checks: Seq[Map[String, Long]], rows: Seq[Map[String, Long]])

object Expected {
  val tables: Seq[(String, String)] = Seq(
    ("raw", "wiki_sp500"), ("raw", "fortune_500"),
    ("staging", "stg_wiki_sp500"), ("staging", "stg_fortune500"),
    ("core", "cr_company_complete"),
    ("snapshots", "company_location_snapshot"),
    ("snapshots", "fortune_metrics_snapshot"),
    ("analytics", "dim_company"), ("analytics", "dim_location"),
    ("analytics", "dim_fortune_metrics"),
    ("analytics", "fact_company_performance"))

  def load(p: Path): Expected = {
    val lines = Files.readAllLines(p).toArray(Array.empty[String]).toSeq
      .map(_.trim.split("\\s+")).filter(_.length == 4)
    def of(kind: String) = (0 until 3).map(r => lines.collect {
      case Array(`kind`, run, k, v) if run.toInt == r => k -> v.toLong
    }.toMap)
    Expected(of("check"), of("rows"))
  }
}
