package graft

import scala.collection.mutable

import org.apache.spark.GraftListenerBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The one task-metrics listener of the harnesses ([[Bench]], [[Smoke]]):
  * it answers where a measured body's wall time went (task compute, GC,
  * scheduler and launch overhead, shuffle fetch) and how many bytes it
  * read, which neither `explain` nor a wall clock can. Optimization
  * guide §1 ("decide whether the time is going to shuffle read, shuffle
  * write, executor compute, scheduler delay...") with the Spark UI off.
  *
  * [[measure]] times the body alone. Spark delivers listener events
  * asynchronously, so the meter drains the listener bus before the clock
  * starts and after it stops — never inside the timed window.
  */
final class TaskMeter private (sc: org.apache.spark.SparkContext) extends SparkListener {
  import TaskMeter._

  private var jobs = 0
  private val stages = mutable.LinkedHashMap[Int, Stage]()

  /** Runs `body` and returns its value, its wall seconds and every job,
    * stage and task it ran. Exceptions propagate.
    */
  def measure[A](body: => A): Measured[A] = {
    GraftListenerBus.drain(sc)
    synchronized { jobs = 0; stages.clear() }
    val t0 = System.nanoTime()
    val a = body
    val sec = (System.nanoTime() - t0) / 1e9
    GraftListenerBus.drain(sc)
    synchronized(Measured(a, sec, jobs, stages.values.toSeq))
  }

  /** Bench isolation for one run of a query: cached intermediates are
    * cleared (queries `persist()` inputs they reference more than once
    * and leave release to the caller, so a predecessor's cache would
    * subsidize the next query) and the heap is collected, both OUTSIDE
    * the window; then a noop-sink write of `df` is measured. The noop
    * sink materializes every column — a bare `count()` would let
    * Catalyst prune unreferenced projections. `df` is by-name, so eager
    * work inside a query's `fn` is timed too. A failure is returned,
    * not thrown, with the metrics of the work it did.
    */
  def noopWrite(spark: SparkSession)(df: => DataFrame): Measured[scala.util.Try[Unit]] = {
    spark.catalog.clearCache()
    System.gc()
    measure(scala.util.Try(df.write.format("noop").mode("overwrite").save()))
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized { jobs += 1 }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    val s = stage(i.stageId)
    s.name = i.name.takeWhile(_ != '\n').take(90)
    s.spanMs = (for (a <- i.submissionTime; b <- i.completionTime) yield b - a).getOrElse(0L)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val s = stage(e.stageId)
      s.tasks += 1
      s.runMs += m.executorRunTime
      s.cpuNs += m.executorCpuTime
      s.gcMs += m.jvmGCTime
      s.fetchMs += m.shuffleReadMetrics.fetchWaitTime
      // launch -> finish minus everything the task itself metered
      s.schedMs += math.max(0L, e.taskInfo.finishTime - e.taskInfo.launchTime -
        m.executorRunTime - m.executorDeserializeTime - m.resultSerializationTime)
      s.inputBytes += m.inputMetrics.bytesRead
      s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      val read = m.shuffleReadMetrics.totalBytesRead
      s.shuffleRead += read
      s.maxTaskRead = math.max(s.maxTaskRead, read)
    }
  }

  private def stage(id: Int): Stage = stages.getOrElseUpdate(id, new Stage(id))
}

object TaskMeter {
  /** A meter listening on `spark`'s context from now on. */
  def apply(spark: SparkSession): TaskMeter = {
    val m = new TaskMeter(spark.sparkContext)
    spark.sparkContext.addSparkListener(m)
    m
  }

  /** One stage's summed task metrics; `spanMs` runs from submission to
    * completion, `maxTaskRead` is its largest single-task shuffle read
    * (the skew indicator).
    */
  final class Stage(val id: Int) {
    var name = ""
    var spanMs, tasks, runMs, cpuNs, gcMs, fetchMs, schedMs = 0L
    var inputBytes, shuffleWrite, shuffleRead, maxTaskRead = 0L

    def json: String =
      s"""{"id":$id,"name":${Verify.jsonString(name)},"span_ms":$spanMs,""" +
        s""""tasks":$tasks,"run_ms":$runMs,"cpu_ms":${cpuNs / 1000000},""" +
        s""""gc_ms":$gcMs,"fetch_ms":$fetchMs,"sched_ms":$schedMs}"""
  }

  /** What one measured body cost. */
  final case class Measured[A](value: A, sec: Double, jobs: Int, stages: Seq[Stage]) {
    def sum(f: Stage => Long): Long = stages.iterator.map(f).sum
    def inputBytes: Long = sum(_.inputBytes)

    /** Per-window sums plus the five stages with the longest span. */
    def json: String =
      s"""{"jobs":$jobs,"stages":${stages.size},"tasks":${sum(_.tasks)},""" +
        s""""run_ms":${sum(_.runMs)},"cpu_ms":${sum(_.cpuNs) / 1000000},""" +
        s""""gc_ms":${sum(_.gcMs)},"fetch_ms":${sum(_.fetchMs)},""" +
        s""""sched_ms":${sum(_.schedMs)},"input_bytes":$inputBytes,""" +
        s""""top_stages":${stages.sortBy(-_.spanMs).take(5).map(_.json).mkString("[", ",", "]")}}"""
  }
}
