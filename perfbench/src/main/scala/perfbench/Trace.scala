package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Spark-side counters summed over a set of tasks or jobs. */
final class Counters {
  var jobs, stages, tasks, singleTaskJobs = 0L
  var taskRunMs, taskCpuNs, taskGcMs, schedDelayMs, fetchWaitMs = 0L
  var shuffleWrite, shuffleRead, inputBytes, spillBytes = 0L
  var bytesWritten, filesWritten, maxTaskMs = 0L

  def add(o: Counters): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    singleTaskJobs += o.singleTaskJobs; taskRunMs += o.taskRunMs
    taskCpuNs += o.taskCpuNs; taskGcMs += o.taskGcMs
    schedDelayMs += o.schedDelayMs; fetchWaitMs += o.fetchWaitMs
    shuffleWrite += o.shuffleWrite; shuffleRead += o.shuffleRead
    inputBytes += o.inputBytes; spillBytes += o.spillBytes
    bytesWritten += o.bytesWritten; filesWritten += o.filesWritten
    maxTaskMs = math.max(maxTaskMs, o.maxTaskMs)
  }
}

/** One timed interval: a workload pass, a query or pipeline run, a layer
  * call, or a Spark job. `layer` names the repo module the span measures.
  */
final case class Span(id: Int, parent: Int, layer: String, name: String,
    start: Long, var end: Long = -1L)

final case class JobRec(jobId: Int, span: Int, firstStage: String,
    start: Long, var end: Long = -1L)

/** In-memory tracer. Spans are opened around calls into the program's
  * public functions on the driver thread; Spark jobs are attributed to the
  * innermost open span through a job-local property, which threads the
  * span id into every job (and every streaming micro-batch thread) the
  * call starts. Until [[start]], it adds nothing but a boolean test per
  * call and no listener.
  */
final class Tracer(spark: SparkSession) {
  @volatile private var on = false
  private val Prop = "perfbench.span"
  private val sc = spark.sparkContext
  val spans = mutable.ArrayBuffer[Span]()
  val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val jobCounters = new ConcurrentHashMap[Int, Counters]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private var stack = List.empty[Int]
  @volatile private var catalystMs = Map.empty[String, Long]
  @volatile private var actions = 0L
  val streaming = mutable.Map[String, Double]().withDefaultValue(0.0)
  private val stateRows = new ConcurrentHashMap[String, Long]()

  def span[T](layer: String, name: String)(body: => T): T =
    if (!on) body
    else {
      val s = Span(spans.size, stack.headOption.getOrElse(-1), layer, name,
        System.nanoTime())
      spans += s
      stack = s.id :: stack
      sc.setLocalProperty(Prop, s.id.toString)
      try body
      finally {
        s.end = System.nanoTime()
        stack = stack.tail
        sc.setLocalProperty(Prop, stack.headOption.map(_.toString).orNull)
      }
    }

  /** Wait for the listener bus to deliver the events of finished jobs. */
  def drain(): Unit = if (on) {
    val deadline = System.nanoTime() + 2000000000L
    while (jobs.values.asScala.exists(_.end < 0) && System.nanoTime() < deadline)
      Thread.sleep(10)
    Thread.sleep(100)
  }

  def counters(job: Int): Counters = jobCounters.computeIfAbsent(job, _ => new Counters)

  private object Jobs extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val sp = Option(e.properties).flatMap(p => Option(p.getProperty(Prop)))
        .map(_.toInt).getOrElse(-1)
      val first = e.stageInfos.sortBy(_.stageId).headOption.map(_.name).getOrElse("")
      jobs.put(e.jobId, JobRec(e.jobId, sp, first, System.nanoTime()))
      val c = counters(e.jobId)
      c.synchronized {
        c.jobs += 1
        val n = e.stageInfos.map(_.numTasks).sum
        if (e.stageInfos.size == 1 && n == 1) c.singleTaskJobs += 1
      }
      e.stageIds.foreach(s => stageJob.put(s, e.jobId))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      val j = jobs.get(e.jobId)
      if (j != null) j.end = System.nanoTime()
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val job = stageJob.getOrDefault(e.stageInfo.stageId, -1)
      if (job >= 0 && e.stageInfo.numTasks > 0) {
        val c = counters(job)
        c.synchronized { c.stages += 1 }
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val job = stageJob.getOrDefault(e.stageId, -1)
      val m = e.taskMetrics
      if (job >= 0 && m != null) {
        val c = counters(job)
        val dur = e.taskInfo.finishTime - e.taskInfo.launchTime
        c.synchronized {
          c.tasks += 1
          c.taskRunMs += m.executorRunTime
          c.taskCpuNs += m.executorCpuTime
          c.taskGcMs += m.jvmGCTime
          c.schedDelayMs += math.max(0L, dur - m.executorRunTime -
            m.executorDeserializeTime - m.resultSerializationTime)
          c.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
          c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          c.inputBytes += m.inputMetrics.bytesRead
          c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
          c.bytesWritten += m.outputMetrics.bytesWritten
          if (m.outputMetrics.bytesWritten > 0) c.filesWritten += 1
          c.maxTaskMs = math.max(c.maxTaskMs, m.executorRunTime)
        }
      }
    }
  }

  private object Catalyst extends QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = synchronized {
      actions += 1
      catalystMs = qe.tracker.phases.foldLeft(catalystMs) { case (acc, (k, v)) =>
        acc.updated(k, acc.getOrElse(k, 0L) + v.durationMs)
      }
    }
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = record(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = record(qe)
  }

  private object Streams extends StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Tracer.this.synchronized {
        val p = e.progress
        def d(k: String): Double = Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
        streaming("triggers") += 1
        streaming("trigger_ms") += d("triggerExecution")
        streaming("wal_commit_ms") += d("walCommit") + d("commitOffsets")
        streaming("state_commit_ms") += p.stateOperators.map(_.commitTimeMs.toDouble).sum
        stateRows.put(p.id.toString, p.stateOperators.map(_.numRowsTotal).sum)
      }
  }

  def stateRowsTotal: Long = stateRows.values.asScala.map(_.toLong).sum
  def catalyst: Map[String, Long] = catalystMs
  def actionCount: Long = actions

  /** Attach the listeners and start recording spans. */
  def start(): Unit = {
    sc.addSparkListener(Jobs)
    spark.listenerManager.register(Catalyst)
    spark.streams.addListener(Streams)
    on = true
  }

  def detach(): Unit = if (on) {
    on = false
    sc.removeSparkListener(Jobs)
    spark.listenerManager.unregister(Catalyst)
    spark.streams.removeListener(Streams)
  }

  def ancestors(id: Int): Iterator[Span] =
    Iterator.iterate(id)(i => if (i < 0) -1 else spans(i).parent)
      .takeWhile(_ >= 0).map(spans(_))

  /** Self time of a span: its duration less the union of its children's
    * intervals (child spans and the Spark jobs attributed to it).
    */
  def selfNs(s: Span): Long = {
    val kids = spans.iterator.filter(_.parent == s.id).map(k => (k.start, k.end)) ++
      jobs.values.asScala.iterator.filter(j => j.span == s.id && j.end > 0)
        .map(j => (math.max(j.start, s.start), math.min(j.end, s.end)))
    val ivs = kids.filter { case (a, b) => b > a }.toSeq.sortBy(_._1)
    var covered = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    ivs.foreach { case (a, b) =>
      if (a > curB) { if (curB > curA) covered += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    if (curB > curA) covered += curB - curA
    (s.end - s.start) - covered
  }

  def writeSpans(path: java.nio.file.Path): Unit = {
    val sb = new StringBuilder
    spans.foreach { s =>
      sb ++= s"""{"id":${s.id},"parent":${s.parent},"layer":"${s.layer}",""" +
        s""""name":"${s.name}","start_ns":${s.start},"end_ns":${s.end}}""" + "\n"
    }
    jobs.values.asScala.toSeq.sortBy(_.jobId).foreach { j =>
      sb ++= s"""{"job":${j.jobId},"parent":${j.span},"layer":"spark",""" +
        s""""first_stage":"${j.firstStage.replace("\"", "'")}",""" +
        s""""start_ns":${j.start},"end_ns":${j.end}}""" + "\n"
    }
    java.nio.file.Files.writeString(path, sb.toString)
  }
}
