package graft.streaming

import java.sql.Timestamp
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{ExpiredTimerInfo, GroupState, GroupStateTimeout,
  OutputMode, StatefulProcessor, TimeMode, TimerValues, Trigger, TTLConfig, ValueState}
import org.apache.spark.sql.types._

import graft.{FileTree, GraftQuery}
import graft.functions.Fns.exactSum2

/** Structured Streaming surface (SURVEY.md §2.8). The reference is
  * batch-only; its incremental models are the "streaming-shaped" surface
  * (high-water-mark + keyed upsert + SCD2 state). These are the idiomatic
  * Spark streaming twins of the batch operators — the same event
  * analytics q13/q14 compute, expressed as continuous queries:
  *
  *  - hourlyCounts: watermarked tumbling-window aggregation
  *    (readStream → window agg → append sink);
  *  - sessionize: custom per-key state via flatMapGroupsWithState,
  *    closing a session after a 30-minute event-time gap.
  *
  * Scale: streaming state lives in the state store partitioned by
  * grouping key — the watermark bounds it; sessionize keeps one open
  * session per user, so state is O(active users), not O(events).
  */
object StreamingOps {

  /** The events schema with `ts` at the given physical type — the
    * generator has shipped the column both as INT64 TIMESTAMP(NANOS)
    * (readable only as raw long) and as a true parquet TIMESTAMP
    * (surfacing as TIMESTAMP_NTZ); a readStream schema must match what
    * is physically in the files, so the source sniffs first.
    */
  def eventSchema(tsType: org.apache.spark.sql.types.DataType): StructType =
    StructType(Seq(
      StructField("event_id", LongType),
      StructField("ts", tsType),
      StructField("user_id", LongType),
      StructField("event_type", StringType),
      StructField("value", DoubleType),
      StructField("props", StringType)))

  /** One batch-side schema sniff + the matching normalization to a
    * session-tz TimestampType `ts` — delegates the per-variant mapping
    * to [[graft.Tables.tsVariant]] so batch and streaming reads of the
    * same files can never disagree. An EMPTY landing directory (the
    * normal start-the-stream-before-data-arrives pattern) can't be
    * sniffed; only THAT case falls back — to the current generator's
    * layout (true parquet TIMESTAMP → TIMESTAMP_NTZ) by default,
    * overridable via `graft.stream.tsType` (SQL conf) or
    * `SPARK_GRAFT_STREAM_TS_TYPE` (env) = `timestamp_ntz | timestamp |
    * nanos_long` for known generator drift (events.ts shipped as INT64
    * TIMESTAMP(NANOS) through round 6). Any other read failure — a
    * corrupt footer, a permission error — propagates: a swallowed real
    * error here would surface later as a schema-mismatch stream failure
    * with the cause erased.
    */
  private def tsNormalize(spark: SparkSession, dir: String): (StructType, DataFrame => DataFrame) = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val physical =
      try spark.read.parquet(dir).schema("ts").dataType
      catch {
        case e: org.apache.spark.sql.AnalysisException
            if Option(e.getMessage).exists(m =>
              m.contains("PATH_NOT_FOUND") || m.contains("Path does not exist") ||
                m.contains("UNABLE_TO_INFER_SCHEMA") ||
                m.contains("Unable to infer schema")) =>
          fallbackTsType(spark)
      }
    val (dt, norm) = graft.Tables.tsVariant(physical)
    (eventSchema(dt), norm)
  }

  /** Declared `ts` type when the landing directory is empty at stream
    * definition time (nothing to sniff). Conf beats env beats the
    * current generator default; [[graft.Tables.tsVariant]] maps each to
    * its normalization, so a correct override makes late-arriving files
    * read exactly as a post-arrival sniff would have.
    */
  private def fallbackTsType(spark: SparkSession): org.apache.spark.sql.types.DataType = {
    val pick = spark.conf.getOption("graft.stream.tsType")
      .orElse(sys.env.get("SPARK_GRAFT_STREAM_TS_TYPE"))
    pick match {
      case Some("nanos_long")    => LongType
      case Some("timestamp")     => TimestampType
      case Some("timestamp_ntz") | None => TimestampNTZType
      case Some(other) => throw new IllegalArgumentException(
        s"graft.stream.tsType '$other' not one of timestamp_ntz | timestamp | nanos_long")
    }
  }

  /** File-source stream over a directory of events parquet.
    * `maxFilesPerTrigger` is a SOURCE option — passing it here (not on
    * the sink, where it is silently ignored) is what makes each staged
    * file its own micro-batch with a watermark update in between.
    */
  def readEvents(spark: SparkSession, dir: String,
      maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    val (schema, norm) = tsNormalize(spark, dir)
    val base = spark.readStream.schema(schema)
    val withOpt = maxFilesPerTrigger
      .map(n => base.option("maxFilesPerTrigger", n.toString))
      .getOrElse(base)
    norm(withOpt.parquet(dir))
  }

  /** Tumbling 1-hour event-time window with a 2-hour watermark: counts
    * and exact value sums per (window, event_type). Append mode — a
    * window emits once its watermark passes.
    */
  def hourlyCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), exactSum2(col("value")).as("total_value"))
      .select(col("window.start").as("hour"), col("event_type"),
        col("n"), col("total_value"))

  /** Streaming keyed upsert sink (foreachBatch): every micro-batch is
    * MERGE-upserted into a parquet target on `keys` — the streaming form
    * of the reference's incremental materialization (SURVEY.md §2.1 S6 /
    * §2.8: the incremental models ARE the streaming-shaped surface; this
    * closes the loop with a real continuous query). In-batch duplicates
    * of a key are resolved last-write-wins by `orderCol` before the
    * merge so the sink state stays one row per key.
    */
  def upsertSink(
      stream: DataFrame, keys: Seq[String], orderCol: String,
      targetDir: String): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    stream.writeStream.foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
      import org.apache.spark.sql.expressions.Window
      val spark = batch.sparkSession
      val w = Window.partitionBy(keys.map(col): _*)
        .orderBy(col(orderCol).desc)
      val deduped = batch.toDF()
        .withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1).drop("__rn")
      val merged =
        if (!graft.pipeline.ParquetIO.exists(targetDir)) deduped
        else graft.operators.Incremental.upsert(
          graft.pipeline.ParquetIO.read(spark, targetDir), deduped, keys)
      graft.pipeline.ParquetIO.overwriteSwap(merged, targetDir)
    }

  /** Streaming exact dedup: watermark-bounded dropDuplicates on the
    * event id — the streaming twin of q17's content-hash dedup; state
    * holds only ids inside the watermark horizon.
    */
  def dedupStream(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .dropDuplicates("event_id")

  /** Stream-stream interval join — the continuous form of q36's range
    * join: each left event pairs with the same user's right-side events
    * from the preceding 10 minutes. Both sides carry watermarks and the
    * join condition bounds event-time distance, so Spark can expire join
    * state (state ≈ one watermark horizon per side per key — the ONLY
    * stream-stream join shape that is safe unbounded; an un-bounded
    * condition would grow state forever).
    */
  def intervalJoin(left: DataFrame, right: DataFrame): DataFrame = {
    val l = left.select(col("event_id").as("l_event_id"), col("user_id"),
        col("ts").as("l_ts"), col("event_type").as("l_type"))
      .withWatermark("l_ts", "2 hours")
    val r = right.select(col("event_id").as("r_event_id"),
        col("user_id").as("r_user_id"), col("ts").as("r_ts"),
        col("event_type").as("r_type"))
      .withWatermark("r_ts", "2 hours")
    l.join(r,
      col("user_id") === col("r_user_id") &&
        col("r_ts") >= col("l_ts") - expr("INTERVAL 10 MINUTES") &&
        col("r_ts") < col("l_ts"))
      .select(col("l_event_id"), col("r_event_id"), col("user_id"),
        col("l_ts"), col("r_ts"), col("l_type"), col("r_type"))
  }

  final case class Event(
      event_id: Long, ts: Timestamp, user_id: Long,
      event_type: String, value: Double)

  final case class SessionState(
      sessionSeq: Long, start: Timestamp, last: Timestamp, n: Long)

  final case class Session(
      user_id: Long, session_seq: Long, n_events: Long,
      session_start: Timestamp, session_end: Timestamp)

  val SessionGapMs: Long = 30 * 60 * 1000L

  /** Custom keyed state: fold each user's events in event-time order,
    * emitting a session whenever a >30min gap closes it; the open session
    * survives in the state store across micro-batches. (The batch
    * equivalent is q14's gaps-and-islands — same session boundaries.)
    */
  def sessionize(events: Dataset[Event]): Dataset[Session] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, Session](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (userId: Long, evs: Iterator[Event], state: GroupState[SessionState]) =>
          val sorted = evs.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
          val closed = Seq.newBuilder[Session]
          var st = state.getOption.orNull
          sorted.foreach { e =>
            if (st == null) {
              st = SessionState(1L, e.ts, e.ts, 1L)
            } else if (e.ts.getTime - st.last.getTime > SessionGapMs) {
              closed += Session(userId, st.sessionSeq, st.n, st.start, st.last)
              st = SessionState(st.sessionSeq + 1, e.ts, e.ts, 1L)
            } else {
              st = st.copy(last = e.ts, n = st.n + 1)
            }
          }
          if (st != null) state.update(st)
          closed.result().iterator
      }
  }

  /** Production sessionize: same gaps-and-islands semantics, plus an
    * EVENT-TIME TIMEOUT — when the stream's watermark passes a user's
    * last event + the session gap, the open session is emitted and its
    * state REMOVED. Without this, a one-visit user's session (and its
    * state-store entry) lives forever; with it, state is strictly
    * O(users active inside the watermark horizon). Requires an upstream
    * `withWatermark` on the event-time column.
    */
  def sessionizeWithTimeout(events: Dataset[Event]): Dataset[Session] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", "2 hours")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, Session](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (userId: Long, evs: Iterator[Event], state: GroupState[SessionState]) =>
          if (evs.isEmpty && state.hasTimedOut) {
            // watermark passed last+gap: close and drop the open session
            val st = state.get
            state.remove()
            Iterator.single(Session(userId, st.sessionSeq, st.n, st.start, st.last))
          } else {
            val sorted = evs.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
            val closed = Seq.newBuilder[Session]
            var st = state.getOption.orNull
            sorted.foreach { e =>
              if (st == null) {
                st = SessionState(1L, e.ts, e.ts, 1L)
              } else if (e.ts.getTime - st.last.getTime > SessionGapMs) {
                closed += Session(userId, st.sessionSeq, st.n, st.start, st.last)
                st = SessionState(st.sessionSeq + 1, e.ts, e.ts, 1L)
              } else {
                st = st.copy(last = e.ts, n = st.n + 1)
              }
            }
            if (st != null) {
              state.update(st)
              // Clamp to just past the current watermark: late events (the
              // API delivers rows older than watermark - gap) would
              // otherwise compute a timeout below the watermark, which
              // flatMapGroupsWithState rejects with IllegalArgumentException
              // and fails the query. The clamp defers an already-due timeout
              // to the next watermark advance — same emitted set.
              state.setTimeoutTimestamp(math.max(
                state.getCurrentWatermarkMs() + 1, st.last.getTime + SessionGapMs))
            }
            closed.result().iterator
          }
      }
  }

  /** Spark 4 `transformWithState` sessionizer — the same semantics as
    * [[sessionizeWithTimeout]] on the new arbitrary-stateful-processing
    * API (StatefulProcessor + typed ValueState + first-class event-time
    * TIMERS, successor to flatMapGroupsWithState). Each key keeps one
    * open-session ValueState and exactly one registered timer at
    * last + gap; new events delete/re-register the timer, and an expiry
    * whose timestamp still matches the state closes and clears it (a
    * stale timer that raced a newer event is ignored). Requires the
    * RocksDB state store provider
    * (`spark.sql.streaming.stateStore.providerClass`).
    */
  class SessionProcessor extends StatefulProcessor[Long, Event, Session] {
    @transient private var state: ValueState[SessionState] = _
    // Timestamp of the one registered timer for this key. Tracked
    // explicitly (not derived as last + gap) because registration clamps
    // to the watermark for late events — delete/expiry checks must use
    // the timestamp actually registered, not the recomputed formula.
    @transient private var timerTs: ValueState[Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      state = getHandle.getValueState[SessionState](
        "session", Encoders.product[SessionState], TTLConfig.NONE)
      timerTs = getHandle.getValueState[Long](
        "timerTs", Encoders.scalaLong, TTLConfig.NONE)
    }

    override def handleInputRows(
        userId: Long, evs: Iterator[Event],
        timerValues: TimerValues): Iterator[Session] = {
      val sorted = evs.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
      val closed = Seq.newBuilder[Session]
      var st = if (state.exists()) state.get() else null
      if (st != null && timerTs.exists()) getHandle.deleteTimer(timerTs.get())
      sorted.foreach { e =>
        if (st == null) {
          st = SessionState(1L, e.ts, e.ts, 1L)
        } else if (e.ts.getTime - st.last.getTime > SessionGapMs) {
          closed += Session(userId, st.sessionSeq, st.n, st.start, st.last)
          st = SessionState(st.sessionSeq + 1, e.ts, e.ts, 1L)
        } else {
          st = st.copy(last = e.ts, n = st.n + 1)
        }
      }
      if (st != null) {
        state.update(st)
        // clamp past-due timers to just beyond the current watermark (a
        // late event can make last + gap < watermark); same emitted set,
        // the close just lands on the next watermark advance
        val tts = math.max(
          timerValues.getCurrentWatermarkInMs() + 1,
          st.last.getTime + SessionGapMs)
        getHandle.registerTimer(tts)
        timerTs.update(tts)
      }
      closed.result().iterator
    }

    override def handleExpiredTimer(
        userId: Long, timerValues: TimerValues,
        expiredTimerInfo: ExpiredTimerInfo): Iterator[Session] = {
      if (state.exists() && timerTs.exists()) {
        // close only on the CURRENT registered timer; a stale timer that
        // raced a newer event (delete missed it) is ignored
        if (expiredTimerInfo.getExpiryTimeInMs >= timerTs.get()) {
          val st = state.get()
          state.clear()
          timerTs.clear()
          return Iterator.single(Session(userId, st.sessionSeq, st.n, st.start, st.last))
        }
      }
      Iterator.empty
    }
  }

  def sessionizeTransformWithState(events: Dataset[Event]): Dataset[Session] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", "2 hours")
      .groupByKey(_.user_id)
      .transformWithState(new SessionProcessor,
        TimeMode.EventTime(), OutputMode.Append())
  }

  private val q55Counter = new AtomicInteger(0)

  /** Shared memory-sink harness for the oracle-carried streaming queries
    * (q55/q63/q109/q120): stage `copies` of the events file into a temp
    * source directory, run `build`'s streaming plan to a uniquely-named
    * memory sink under AvailableNow, materialize the emitted rows into a
    * local relation, and — in a FINALLY, so a failing query cannot leak
    * them across the 129-query Verify/Bench session — drop the sink view
    * and both temp trees.
    */
  private def memorySinkRun(
      s: SparkSession, prefix: String, dir: String, copies: Int = 1)(
      build: DataFrame => DataFrame): DataFrame = {
    val name = s"graft_${prefix}_${q55Counter.incrementAndGet()}"
    val ckptDir = java.nio.file.Files.createTempDirectory(s"graft-$prefix-ckpt")
    // the file source requires a DIRECTORY; stage the single events file
    // into one (in production the landing prefix is a directory)
    val srcDir = java.nio.file.Files.createTempDirectory(s"graft-$prefix-src")
    // Stateful streaming instantiates one state store PER shuffle
    // partition PER stateful operator PER micro-batch; at the session's
    // 32 partitions that fixed cost dwarfs the actual state at test
    // scale (and on a real cluster the partition count should track the
    // KEY cardinality of the state, not the batch parallelism default).
    // 8 partitions here; restored in the finally.
    val prevParts = s.conf.get("spark.sql.shuffle.partitions")
    s.conf.set("spark.sql.shuffle.partitions", "8")
    try {
      (1 to copies).foreach { i =>
        java.nio.file.Files.copy(
          java.nio.file.Paths.get(s"$dir/events.parquet"),
          srcDir.resolve(s"events_$i.parquet"))
      }
      val q = build(readEvents(s, srcDir.toString))
        .writeStream.format("memory").queryName(name)
        .option("checkpointLocation", ckptDir.toString)
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      // Materialize off the memory sink into a local relation so the
      // sink table, the checkpoint, and the staged copies can all be
      // released NOW (Bench runs each query 3x); emitted sets are
      // result-sized, so the collect is the data the sink already held.
      val sink = s.table(name)
      val rows = sink.collect()
      s.createDataFrame(java.util.Arrays.asList(rows: _*), sink.schema)
    } finally {
      s.conf.set("spark.sql.shuffle.partitions", prevParts)
      try s.catalog.dropTempView(name) catch { case _: Throwable => () }
      FileTree.delete(ckptDir)
      FileTree.delete(srcDir)
    }
  }

  /** q55: the `transformWithState` sessionizer, ORACLE-CARRIED — the
    * hardest stateful code in the repo run end-to-end (file source →
    * RocksDB state + event-time timers → memory sink, one AvailableNow
    * pass) and hash-checked by the driver against relational SQL. The
    * emitted set is exactly determined: every session closed by a >30min
    * in-stream gap, plus each user's final open session iff the final
    * watermark (max event time − 2h, ms-floored) passed its timer
    * (last + 30min). The oracle reproduces the PROCESSOR's arithmetic —
    * millisecond-floored ordering and gap comparison (Timestamp.getTime),
    * first/last event by (ms, event_id) — not q14's second-floored gap:
    * with sub-second event times the two disagree on gaps inside
    * (1800 s, 1801 s), and the oracle must model the engine, not the
    * engine's cousin.
    */
  def q55StreamSessions(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val prev = s.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    s.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      memorySinkRun(s, "q55_sessions", dir) { src =>
        sessionizeTransformWithState(
          src.select($"event_id", $"ts", $"user_id", $"event_type", $"value")
            .as[Event]).toDF()
      }.orderBy($"user_id", $"session_seq")
    } finally {
      prev match {
        case Some(p) => s.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => s.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  private val q55Sql =
    """WITH ordered AS (
      |  SELECT event_id, ts, user_id,
      |    lag(ts) OVER (PARTITION BY user_id ORDER BY epoch_ms(ts), event_id) AS prev_ts
      |  FROM events),
      |flagged AS (
      |  SELECT *, CASE WHEN prev_ts IS NULL
      |      OR epoch_ms(ts) - epoch_ms(prev_ts) > 1800000 THEN 1 ELSE 0 END AS new_session
      |  FROM ordered),
      |numbered AS (
      |  SELECT *, sum(new_session) OVER (PARTITION BY user_id
      |    ORDER BY epoch_ms(ts), event_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_seq
      |  FROM flagged),
      |sess AS (
      |  SELECT user_id, CAST(session_seq AS BIGINT) AS session_seq,
      |    count(*) AS n_events,
      |    CAST(first(ts ORDER BY epoch_ms(ts), event_id) AS TIMESTAMP) AS session_start,
      |    CAST(last(ts ORDER BY epoch_ms(ts), event_id) AS TIMESTAMP) AS session_end
      |  FROM numbered
      |  GROUP BY user_id, session_seq),
      |mx AS (SELECT max(epoch_ms(CAST(ts AS TIMESTAMP))) AS max_ms FROM events),
      |lastseq AS (SELECT user_id, max(session_seq) AS last_seq FROM sess GROUP BY user_id)
      |SELECT s.user_id, s.session_seq, s.n_events, s.session_start, s.session_end
      |FROM sess s JOIN lastseq l ON s.user_id = l.user_id CROSS JOIN mx
      |WHERE s.session_seq < l.last_seq
      |   OR epoch_ms(s.session_end) + 1800000 < mx.max_ms - 7200000
      |ORDER BY s.user_id, s.session_seq""".stripMargin

  /** q63: the watermarked tumbling-window aggregation, ORACLE-CARRIED —
    * [[hourlyCounts]] run as a real continuous query (file source →
    * append-mode window agg → memory sink, one AvailableNow pass). Append
    * mode emits a window only once the watermark passes its END, so the
    * emitted set is exactly: hourly windows with
    * end ≤ max event time (ms-floored) − 2 h; the final partial windows
    * are withheld as unfinalized — the oracle states that cut explicitly,
    * turning the watermark/emission contract itself into a hash-checked
    * fact (q55 proves the timer path; this proves the eviction path).
    */
  def q63StreamHourly(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    memorySinkRun(s, "q63_hourly", dir)(hourlyCounts)
      .orderBy($"hour", $"event_type")
  }

  private val q63Sql =
    """WITH agg AS (
      |  SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour, event_type,
      |    count(*) AS n,
      |    CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
      |  FROM events
      |  GROUP BY 1, 2),
      |mx AS (SELECT max(epoch_ms(CAST(ts AS TIMESTAMP))) AS max_ms FROM events)
      |SELECT hour, event_type, n, total_value
      |FROM agg CROSS JOIN mx
      |WHERE epoch_ms(hour) + 3600000 <= max_ms - 7200000
      |ORDER BY hour, event_type""".stripMargin

  /** q109: the stream-stream interval join, ORACLE-CARRIED — purchases
    * joined to the same user's clicks from the preceding 10 minutes,
    * run as a real continuous query (file source x2 → watermarked
    * interval join → memory sink, one AvailableNow pass). An INNER
    * stream-stream join emits each match as soon as both rows arrive —
    * the watermark bounds retained state, not emission — so the emitted
    * set equals the batch join exactly, and the oracle is the plain
    * range-predicate join: the statement "bounded state loses no
    * matches" becomes a hash-checked fact (q55 proves timers, q63
    * proves eviction, this proves two-sided join state).
    */
  def q109StreamIntervalJoin(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    memorySinkRun(s, "q109_ij", dir) { src =>
      intervalJoin(
        src.filter(col("event_type") === "purchase"),
        src.filter(col("event_type") === "click"))
    }.orderBy($"l_event_id", $"r_event_id")
  }

  private val q109Sql =
    """SELECT p.event_id AS l_event_id, c.event_id AS r_event_id,
      |  p.user_id,
      |  CAST(p.ts AS TIMESTAMP) AS l_ts, CAST(c.ts AS TIMESTAMP) AS r_ts,
      |  p.event_type AS l_type, c.event_type AS r_type
      |FROM events p JOIN events c
      |  ON p.user_id = c.user_id
      | AND p.event_type = 'purchase' AND c.event_type = 'click'
      |-- epoch_us, not raw ts: the parquet carries NANOS and the Spark
      |-- side joins micro-truncated timestamps; a ns-precision predicate
      |-- could disagree on pairs within 1 us of either boundary
      | AND epoch_us(c.ts) >= epoch_us(p.ts) - 600000000
      | AND epoch_us(c.ts) < epoch_us(p.ts)
      |ORDER BY l_event_id, r_event_id""".stripMargin

  /** q206: LEFT OUTER stream-stream interval join, ORACLE-CARRIED —
    * the completion of q109's join-topology story. An outer
    * stream-stream join is semantically harder than the inner: NULL
    * rows cannot emit when the left row arrives (a match may still
    * come) — they emit only when the WATERMARK proves no future right
    * row can satisfy the interval, so the watermark governs emission
    * itself, not just state eviction. That makes the emitted set
    * watermark-dependent at the tail: a purchase too close to stream
    * end never gets its no-match verdict. Determinism discipline: the
    * query applies ITS OWN final-watermark cut (outer rows kept only
    * strictly below max(ts) - 2h, the same device q63 uses for window
    * emission) so the gate pins the boundary to stated arithmetic, not
    * to the engine's batch-boundary heuristics; matched rows are
    * inner-semantics and always kept. State/scale: identical bounds to
    * q109 — both sides' state is watermark-trimmed, keyed on user_id.
    */
  def q206StreamOuterJoin(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val emitted = memorySinkRun(s, "q206_oj", dir) { src =>
      val l = src.filter(col("event_type") === "purchase")
        .select(col("event_id").as("l_event_id"), col("user_id"),
          col("ts").as("l_ts"), col("event_type").as("l_type"))
        .withWatermark("l_ts", "2 hours")
      val r = src.filter(col("event_type") === "click")
        .select(col("event_id").as("r_event_id"),
          col("user_id").as("r_user_id"), col("ts").as("r_ts"),
          col("event_type").as("r_type"))
        .withWatermark("r_ts", "2 hours")
      l.join(r,
          col("user_id") === col("r_user_id") &&
            col("r_ts") >= col("l_ts") - expr("INTERVAL 10 MINUTES") &&
            col("r_ts") < col("l_ts"),
          "leftOuter")
        .select(col("l_event_id"), col("r_event_id"), col("user_id"),
          col("l_ts"), col("r_ts"), col("r_type"))
    }
    // The final watermark is the MIN over both sides' per-operator
    // watermarks — each side watermarks AFTER its event_type filter, so
    // the boundary is min(max purchase ts, max click ts) - 2h, and
    // outer eviction fires at the watermark itself (a left row is safe
    // to close once no in-watermark right can satisfy r_ts < l_ts —
    // verified against the emitted set: last outer row sits just under
    // this bound, first withheld one just over it)
    val cut = graft.Tables.load(s, dir, "events")
      .filter($"event_type".isin("purchase", "click"))
      .groupBy($"event_type").agg(max($"ts").as("mx"))
      .agg((min($"mx") - expr("INTERVAL 2 HOURS")).as("cut"))
    // NULL-free surface: sentinel-fill the outer columns in BOTH
    // engines (a nullable int64 parquet column round-trips through the
    // gate's pandas load as float64 — sentinels keep every column's
    // dtype, and therefore its hash, unambiguous)
    emitted
      .crossJoin(broadcast(cut))
      .filter($"r_event_id".isNotNull || $"l_ts" < $"cut")
      .select($"l_event_id",
        coalesce($"r_event_id", lit(-1L)).as("r_event_id"),
        $"user_id", $"l_ts",
        coalesce($"r_ts", to_timestamp(lit("1970-01-01"))).as("r_ts"),
        coalesce($"r_type", lit("NO_CLICK")).as("r_type"))
      .orderBy($"l_event_id", $"r_event_id")
  }

  private val q206Sql =
    """WITH mx AS (
      |  SELECT min(m) AS max_us FROM (
      |    SELECT event_type, max(epoch_us(CAST(ts AS TIMESTAMP))) AS m
      |    FROM events WHERE event_type IN ('purchase', 'click')
      |    GROUP BY event_type)),
      |matched AS (
      |  SELECT p.event_id AS l_event_id, c.event_id AS r_event_id,
      |    p.user_id,
      |    CAST(p.ts AS TIMESTAMP) AS l_ts, CAST(c.ts AS TIMESTAMP) AS r_ts,
      |    c.event_type AS r_type
      |  FROM events p JOIN events c
      |    ON p.user_id = c.user_id
      |   AND p.event_type = 'purchase' AND c.event_type = 'click'
      |   AND epoch_us(c.ts) >= epoch_us(p.ts) - 600000000
      |   AND epoch_us(c.ts) < epoch_us(p.ts))
      |SELECT l_event_id, r_event_id, user_id, l_ts, r_ts, r_type FROM matched
      |UNION ALL
      |SELECT p.event_id, CAST(-1 AS BIGINT), p.user_id,
      |  CAST(p.ts AS TIMESTAMP), TIMESTAMP '1970-01-01', 'NO_CLICK'
      |FROM events p CROSS JOIN mx
      |WHERE p.event_type = 'purchase'
      |  AND p.event_id NOT IN (SELECT l_event_id FROM matched)
      |  AND epoch_us(p.ts) < mx.max_us - 7200000000
      |ORDER BY l_event_id, r_event_id""".stripMargin

  /** q139: STREAM-STATIC enrichment join, ORACLE-CARRIED — the
    * remaining join topology after q109's stream-stream: a streaming
    * fact enriched against a broadcast static dimension (the profile /
    * feature-store lookup every event pipeline runs). Stream-static
    * joins are STATELESS — the dimension is re-broadcast per
    * micro-batch, nothing is watermark-retained for the join itself —
    * so the only state is the downstream windowed aggregation's, and
    * the emitted set equals the batch left-join + the q63 watermark
    * cut. The profile deliberately covers only EVEN user ids, so the
    * left-outer NULL→'UNKNOWN' path is exercised and hash-checked, not
    * just the happy path.
    */
  def q139StreamStaticJoin(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val profile = graft.Tables.load(s, dir, "customer")
      .filter(col("c_custkey") % 2 === 0)
      .select(col("c_custkey").as("user_id"), col("c_mktsegment").as("segment"))
    memorySinkRun(s, "q139_ss", dir) { src =>
      src.join(broadcast(profile), Seq("user_id"), "left")
        .withColumn("segment", coalesce(col("segment"), lit("UNKNOWN")))
        .withWatermark("ts", "2 hours")
        .groupBy(window(col("ts"), "1 hour"), col("segment"))
        .agg(count(lit(1)).as("n"))
        .select(col("window.start").as("hour"), col("segment"), col("n"))
    }.orderBy($"hour", $"segment")
  }

  private val q139Sql =
    """WITH prof AS (
      |  SELECT c_custkey AS user_id, c_mktsegment AS segment
      |  FROM customer WHERE c_custkey % 2 = 0),
      |agg AS (
      |  SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour,
      |    coalesce(segment, 'UNKNOWN') AS segment,
      |    CAST(count(*) AS BIGINT) AS n
      |  FROM events LEFT JOIN prof USING (user_id)
      |  GROUP BY 1, 2),
      |mx AS (SELECT max(epoch_ms(CAST(ts AS TIMESTAMP))) AS max_ms FROM events)
      |SELECT hour, segment, n
      |FROM agg CROSS JOIN mx
      |WHERE epoch_ms(hour) + 3600000 <= max_ms - 7200000
      |ORDER BY hour, segment""".stripMargin

  /** q172: streaming sink auto-compaction — the maintenance loop every
    * long-running file sink needs: each micro-batch APPENDS O(batch)
    * files to the versioned target ([[graft.pipeline.ParquetIO
    * .appendInPlace]], the RAW-layer contract), and when the file count
    * crosses a threshold the sink bin-packs the table with
    * [[graft.pipeline.ParquetIO.compact]] — committed as a new version
    * through the CAS protocol, so readers mid-scan on the old version
    * finish under the GC retain window and the appends that follow land
    * in the compacted lineage. Without this loop a year of micro-batches
    * makes every downstream scan pay per-file open + footer + task-
    * scheduling costs (the classic small-file death); with it the file
    * count stays bounded by threshold + O(batch) forever. Three staged
    * copies of `documents` force three batches (append 4 files each;
    * threshold 8 triggers exactly one mid-stream compaction) and the
    * emitted checksum proves the append→compact→append cycle lost and
    * duplicated nothing — the oracle is the 3× batch content.
    */
  def q172StreamCompact(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.pipeline.ParquetIO
    val ckptDir = java.nio.file.Files.createTempDirectory("graft-q172-ckpt")
    val srcDir = java.nio.file.Files.createTempDirectory("graft-q172-src")
    val tgtRoot = java.nio.file.Files.createTempDirectory("graft-q172-tgt")
    val tgtDir = tgtRoot.resolve("docs").toString
    val prevParts = s.conf.get("spark.sql.shuffle.partitions")
    s.conf.set("spark.sql.shuffle.partitions", "8")
    try {
      (0 until 3).foreach { i =>
        java.nio.file.Files.copy(
          java.nio.file.Paths.get(s"$dir/documents.parquet"),
          srcDir.resolve(s"batch$i.parquet"))
      }
      var compactions = 0
      val q = s.readStream
        .schema(graft.Tables.load(s, dir, "documents").schema)
        .option("maxFilesPerTrigger", 1) // three staged files -> three batches
        .parquet(srcDir.toString)
        .writeStream.foreachBatch {
          (batch: Dataset[org.apache.spark.sql.Row], _: Long) =>
            ParquetIO.appendInPlace(batch.toDF().repartition(4), tgtDir)
            if (ParquetIO.tableFileCount(tgtDir) >= 8) {
              ParquetIO.compact(s, tgtDir, targetBytes = 1L << 30)
              compactions += 1
            }
        }
        .option("checkpointLocation", ckptDir.toString)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      val files = ParquetIO.tableFileCount(tgtDir)
      val out = ParquetIO.read(s, tgtDir)
        .agg(
          count(lit(1)).as("n_docs"),
          sum(conv(substring(md5(concat_ws("|",
            $"doc_id".cast("string"), md5($"text"))), 1, 8), 16, 10)
            .cast("long")).as("content_checksum"))
        .select($"n_docs", $"content_checksum",
          lit(compactions >= 1 && files <= 8).as("files_bounded"))
      val rows = out.collect() // 1 row; frees the temp table for deletion
      s.createDataFrame(java.util.Arrays.asList(rows: _*), out.schema)
    } finally {
      s.conf.set("spark.sql.shuffle.partitions", prevParts)
      FileTree.delete(ckptDir); FileTree.delete(srcDir); FileTree.delete(tgtRoot)
    }
  }

  private val q172Sql =
    """SELECT CAST(count(*) * 3 AS BIGINT) AS n_docs,
      |  CAST(sum(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '|' || md5(text)), 1, 8))::BIGINT) * 3
      |    AS BIGINT) AS content_checksum,
      |  TRUE AS files_bounded
      |FROM documents""".stripMargin

  /** q180: streaming CDC consumption — the replication topology every
    * lakehouse tails: a file-source STREAM of change-feed batches
    * (diff(S1→S2) staged before diff(S2→S3); modification times pin
    * the order, `maxFilesPerTrigger=1` makes each feed one micro-batch)
    * drives a foreachBatch consumer that applies each feed to a
    * versioned replica through [[graft.pipeline.ParquetIO
    * .transformConcurrent]] — the serializable read-modify-write, so a
    * concurrent writer on the replica could interleave safely. The
    * final replica must equal S3 exactly (the oracle just SELECTs it):
    * a dropped batch, an out-of-order apply, or a stale image breaks
    * the hash. Per batch the work is [[graft.operators.ChangeFeed
    * .applyFeed]]'s one anti-join + union — O(replica) scan, O(changes)
    * feed side, no state store (the replica IS the state).
    */
  def q180StreamFeedApply(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.operators.ChangeFeed
    import graft.pipeline.ParquetIO
    val keys = Seq("c_custkey")
    val (s1, s2, s3) = ChangeFeed.chainStates(s, dir)
    val ckptDir = java.nio.file.Files.createTempDirectory("graft-q180-ckpt")
    val srcDir = java.nio.file.Files.createTempDirectory("graft-q180-src")
    val tgtRoot = java.nio.file.Files.createTempDirectory("graft-q180-tgt")
    val tgtDir = tgtRoot.resolve("replica").toString
    try {
      // stage the two feeds as one parquet file each, mtime-ordered —
      // the file source's processing order for equal-batch triggers
      val feedSchema = ChangeFeed.diff(s1, s2, keys).schema
      Seq(ChangeFeed.diff(s1, s2, keys) -> "feed0",
          ChangeFeed.diff(s2, s3, keys) -> "feed1").zipWithIndex.foreach {
        case ((feed, name), i) =>
          val stage = srcDir.resolve(s".stage-$name")
          feed.coalesce(1).write.mode("overwrite").parquet(stage.toString)
          val part = java.nio.file.Files.list(stage).iterator()
          val dataFile = Iterator.continually(part)
            .takeWhile(_.hasNext).map(_.next())
            .find(_.getFileName.toString.endsWith(".parquet")).get
          val dst = srcDir.resolve(s"$name.parquet")
          java.nio.file.Files.move(dataFile, dst)
          java.nio.file.Files.setLastModifiedTime(dst,
            java.nio.file.attribute.FileTime.fromMillis(1000000L + i * 60000L))
          FileTree.delete(stage)
      }
      ParquetIO.overwriteSwap(s1, tgtDir) // the replica starts at S1
      val q = s.readStream
        .schema(feedSchema)
        .option("maxFilesPerTrigger", 1) // one staged feed per micro-batch
        .parquet(srcDir.toString)
        .writeStream.foreachBatch {
          (batch: Dataset[org.apache.spark.sql.Row], _: Long) =>
            val feed = batch.toDF().persist()
            feed.count() // pin the batch before the replica version moves
            ParquetIO.transformConcurrent(s, tgtDir) {
              case Some(base) => ChangeFeed.applyFeed(base, feed, keys)
              case None       => ChangeFeed.applyFeed(s1, feed, keys)
            }
            feed.unpersist()
            ()
        }
        .option("checkpointLocation", ckptDir.toString)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      val out = ParquetIO.read(s, tgtDir).orderBy($"c_custkey")
      val rows = out.collect() // O(dimension) — frees the temp replica
      s.createDataFrame(java.util.Arrays.asList(rows: _*), out.schema)
    } finally {
      FileTree.delete(ckptDir); FileTree.delete(srcDir); FileTree.delete(tgtRoot)
    }
  }

  private val q180Sql =
    """SELECT c_custkey, c_mktsegment AS segment,
      |  c_acctbal + CASE WHEN c_custkey % 5 = 0 THEN 10 ELSE 0 END
      |            + CASE WHEN c_custkey % 7 = 0 THEN 100 ELSE 0 END AS bal
      |FROM customer WHERE c_custkey % 4 IN (0, 2, 3)
      |ORDER BY c_custkey""".stripMargin

  /** q184: streaming MERGE-on-read sink — the q125 upsert sink rebuilt
    * so no micro-batch ever rewrites the table: each batch goes through
    * [[graft.pipeline.ParquetIO.upsertMoR]] (matched positions →
    * deletion vectors, batch rows → appended files, O(batch) I/O), and
    * when [[graft.pipeline.ParquetIO.deleteRatio]] crosses a threshold
    * the sink compacts — materializing the vectors exactly like Delta's
    * streaming MERGE + OPTIMIZE loop. Two mtime-ordered update batches
    * overlap on `%30` keys, so last-writer-wins across batches is part
    * of the hash; the final read must equal the batch-semantics oracle
    * (CASE over the original table) and the `maintained` literal folds
    * the operational proof: a compaction actually triggered and the
    * final delete ratio returned to zero.
    */
  def q184StreamUpsertMoR(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.pipeline.ParquetIO
    val ckptDir = java.nio.file.Files.createTempDirectory("graft-q184-ckpt")
    val srcDir = java.nio.file.Files.createTempDirectory("graft-q184-src")
    val tgtRoot = java.nio.file.Files.createTempDirectory("graft-q184-tgt")
    val tgtDir = tgtRoot.resolve("cust").toString
    try {
      val base = graft.Tables.load(s, dir, "customer")
        .select($"c_custkey".as("k"), $"c_mktsegment".as("segment"),
          $"c_acctbal".as("bal"))
      ParquetIO.overwriteSwap(base.repartition(4), tgtDir)
      val batches = Seq(
        base.filter($"k" % 6 === 0)
          .select($"k", $"segment", ($"bal" + 10d).as("bal")),
        base.filter($"k" % 15 === 0)
          .select($"k", $"segment", ($"bal" + 100d).as("bal")))
      val feedSchema = batches.head.schema
      batches.zipWithIndex.foreach { case (b, i) =>
        val stage = srcDir.resolve(s".stage-$i")
        b.coalesce(1).write.mode("overwrite").parquet(stage.toString)
        val st = java.nio.file.Files.list(stage)
        val dataFile =
          try {
            import scala.jdk.CollectionConverters._
            st.iterator().asScala
              .find(_.getFileName.toString.endsWith(".parquet")).get
          } finally st.close()
        val dst = srcDir.resolve(s"batch$i.parquet")
        java.nio.file.Files.move(dataFile, dst)
        java.nio.file.Files.setLastModifiedTime(dst,
          java.nio.file.attribute.FileTime.fromMillis(1000000L + i * 60000L))
        FileTree.delete(stage)
      }
      var compactions = 0
      val q = s.readStream
        .schema(feedSchema)
        .option("maxFilesPerTrigger", 1)
        .parquet(srcDir.toString)
        .writeStream.foreachBatch {
          (batch: Dataset[org.apache.spark.sql.Row], _: Long) =>
            val b = batch.toDF().persist()
            b.count() // pin: upsertMoR's append must not re-evaluate it
            ParquetIO.upsertMoR(s, tgtDir, b, Seq("k"))
            b.unpersist()
            if (ParquetIO.deleteRatio(s, tgtDir) > 0.05) {
              ParquetIO.compact(s, tgtDir, targetBytes = 1L << 30)
              compactions += 1
            }
            ()
        }
        .option("checkpointLocation", ckptDir.toString)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      val maintained = compactions >= 1 && ParquetIO.deleteRatio(s, tgtDir) == 0.0
      val out = ParquetIO.readMoR(s, tgtDir)
        .agg(
          count(lit(1)).as("n_rows"),
          exactSum2($"bal").as("total_bal"))
        .select($"n_rows", $"total_bal", lit(maintained).as("maintained"))
      val rows = out.collect()
      s.createDataFrame(java.util.Arrays.asList(rows: _*), out.schema)
    } finally {
      FileTree.delete(ckptDir); FileTree.delete(srcDir); FileTree.delete(tgtRoot)
    }
  }

  private val q184Sql =
    """SELECT CAST(count(*) AS BIGINT) AS n_rows,
      |  CAST(sum(CAST(c_acctbal
      |    + CASE WHEN c_custkey % 15 = 0 THEN 100
      |           WHEN c_custkey % 6 = 0 THEN 10 ELSE 0 END
      |    AS DECIMAL(18,2))) AS DOUBLE) AS total_bal,
      |  TRUE AS maintained
      |FROM customer""".stripMargin

  /** q218's oracle: q173's derivation chain (same clustered base, same
    * frozen codebook CTEs from [[graft.operators.Similarity]]), with
    * the base side feeding only the threshold and the two delta sides
    * emitted — the one-shot batch answer the micro-batch union must
    * hash-match.
    */
  private def q218Sql =
    s"""WITH anch AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS av
      |              FROM embeddings WHERE vec_id < 6),
      |e AS (
      |  SELECT anch.vec_id * 100 + j AS vec_id,
      |    list_transform(av, x -> x + CAST(0.002 AS DOUBLE) * j) AS v
      |  FROM anch CROSS JOIN (SELECT unnest(range(0, 10)) AS j)),
      |${graft.operators.Similarity.ivfDimsSql},
      |${graft.operators.Similarity.ivfCbSql("c", "c")},
      |sides AS (
      |  SELECT 'base' AS side, vec_id, v FROM e
      |  UNION ALL
      |  SELECT 'delta_indist', anch.vec_id * 100 + j,
      |    list_transform(av, x -> x + CAST(0.002 AS DOUBLE) * j)
      |  FROM anch CROSS JOIN (SELECT unnest(range(10, 20)) AS j)
      |  UNION ALL
      |  SELECT 'delta_shifted', vec_id, CAST(embedding AS DOUBLE[])
      |  FROM embeddings WHERE vec_id >= 100 AND vec_id < 140),
      |errs AS (
      |  SELECT side, vec_id,
      |    1.0 - max(round(list_dot_product(s.v, c.cv) /
      |      (sqrt(list_dot_product(s.v, s.v)) * sqrt(list_dot_product(c.cv, c.cv))), 6))
      |      AS err
      |  FROM sides s CROSS JOIN cb_c c GROUP BY side, vec_id),
      |stats AS (
      |  SELECT side, CAST(count(*) AS BIGINT) AS n_vecs,
      |    CAST(sum(CAST(err AS DECIMAL(18,6))) AS DOUBLE) / count(*) AS m
      |  FROM errs WHERE side <> 'base' GROUP BY side),
      |bstats AS (
      |  SELECT CAST(sum(CAST(err AS DECIMAL(18,6))) AS DOUBLE) / count(*) AS bmean,
      |    quantile_cont(err, 0.95) AS bp95
      |  FROM errs WHERE side = 'base')
      |SELECT side, n_vecs, round(m, 6) AS mean_err,
      |  round(greatest(bp95, bmean * 2), 6) AS threshold,
      |  CASE WHEN m > greatest(bp95, bmean * 2) THEN 'rebuild'
      |       ELSE 'append' END AS decision
      |FROM stats CROSS JOIN bstats ORDER BY side""".stripMargin

  /** Write `df` as exactly ONE parquet file named `batch<idx>.parquet`
    * inside `srcDir` — the staged-micro-batch device (q218's stager,
    * shared): with `maxFilesPerTrigger=1` each staged file becomes one
    * deterministic micro-batch in arrival order.
    */
  private def stageBatch(srcDir: java.nio.file.Path, idx: Int,
      df: DataFrame): Unit = {
    val tmp = srcDir.resolve(s"stage$idx")
    df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
    val part = java.nio.file.Files.list(tmp).iterator()
    var moved = false
    while (part.hasNext && !moved) {
      val f = part.next()
      if (f.getFileName.toString.endsWith(".parquet")) {
        java.nio.file.Files.move(f, srcDir.resolve(s"batch$idx.parquet"))
        moved = true
      }
    }
    FileTree.delete(tmp)
  }

  // ---------------------------------------------------------------- q227

  /** q227: STREAMING KMV sketch tiles — q221's sketch-cube maintained
    * incrementally under a live feed: each micro-batch computes its own
    * per-event-type smallest-K partial (bounded-heap topk_by over the
    * batch's distinct user-day keys) and merges it into a tiny persisted
    * state table (smallest-K of the array union, ≤types×K longs — the
    * "real-time distinct counts" state is KILOBYTES regardless of feed
    * volume). Because KMV union is exactly associative AND idempotent
    * (array_distinct absorbs keys recurring across batches), the final
    * merged state is bit-identical to the sketch a one-shot batch build
    * would produce — which is precisely what the oracle checks: DuckDB
    * computes each type's smallest-K DIRECTLY from all rows, so the
    * hash compare proves the streaming merge loses nothing. The 3-way
    * event_id split makes batch boundaries deterministic (q218/q160
    * staging contract).
    */
  def q227StreamSketchTiles(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.operators.Sketches.{RollK, RollNum}
    import graft.functions.SketchAggregates.topkBy
    val ckptDir = java.nio.file.Files.createTempDirectory("graft-q227-ckpt")
    val srcDir = java.nio.file.Files.createTempDirectory("graft-q227-src")
    val outRoot = java.nio.file.Files.createTempDirectory("graft-q227-out")
    val stateDir = outRoot.resolve("tiles").toString
    val prevParts = s.conf.get("spark.sql.shuffle.partitions")
    s.conf.set("spark.sql.shuffle.partitions", "8")
    try {
      val ev = graft.Tables.load(s, dir, "events")
      (0 to 2).foreach(b =>
        stageBatch(srcDir, b, ev.filter(pmod($"event_id", lit(3)) === b)))
      val stateSchema = StructType(Seq(
        StructField("event_type", StringType),
        StructField("sk", ArrayType(LongType, containsNull = false))))
      s.createDataFrame(
        s.sparkContext.emptyRDD[org.apache.spark.sql.Row], stateSchema)
        .write.mode("overwrite").parquet(stateDir)
      val q = readEvents(s, srcDir.toString, maxFilesPerTrigger = Some(1))
        .writeStream.foreachBatch {
          (batch: Dataset[org.apache.spark.sql.Row], _: Long) =>
            val part = batch.toDF()
              .select(col("event_type"),
                concat_ws("|", col("user_id"),
                  to_date(col("ts")).cast("string")).as("k"))
              .distinct()
              .withColumn("h",
                conv(substring(md5(col("k")), 1, 13), 16, 10).cast("long"))
              .groupBy(col("event_type"))
              .agg(topkBy((-col("h")).cast("double"), col("h"), RollK)
                .as("tk"))
              .select(col("event_type"),
                expr("transform(tk, x -> x.id)").as("sk"))
            val merged = batch.sparkSession.read.parquet(stateDir)
              .unionByName(part)
              .groupBy(col("event_type"))
              .agg(slice(array_sort(array_distinct(
                flatten(collect_list(col("sk"))))), 1, RollK).as("sk"))
            // types×K longs: materialize the next state off the old one
            // before overwriting the path the read came from
            val rows = merged.collect()
            batch.sparkSession
              .createDataFrame(java.util.Arrays.asList(rows: _*), stateSchema)
              .write.mode("overwrite").parquet(stateDir)
            ()
        }
        .option("checkpointLocation", ckptDir.toString)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      val exact = ev.select($"event_type",
          concat_ws("|", $"user_id", to_date($"ts").cast("string")).as("k"))
        .distinct()
        .groupBy($"event_type").agg(count(lit(1)).as("exact_n"))
      val out = s.read.parquet(stateDir)
        .join(exact, "event_type")
        .select($"event_type", size($"sk").as("m"),
          when(size($"sk") < RollK, size($"sk").cast("double"))
            .otherwise(round(lit(RollNum) / element_at($"sk", RollK), 4))
            .as("est"),
          $"exact_n", lit(3).as("n_batches"))
        .orderBy($"event_type")
      // materialize off the temp state dir before the finally removes it
      val rows = out.collect()
      s.createDataFrame(java.util.Arrays.asList(rows: _*), out.schema)
    } finally {
      s.conf.set("spark.sql.shuffle.partitions", prevParts)
      FileTree.delete(ckptDir); FileTree.delete(srcDir); FileTree.delete(outRoot)
    }
  }

  private val q227Sql = {
    val k = graft.operators.Sketches.RollK
    val num = graft.operators.Sketches.RollNum
    s"""WITH ud AS (
      |  SELECT DISTINCT event_type,
      |    user_id || '|' || CAST(CAST(ts AS DATE) AS VARCHAR) AS k
      |  FROM events),
      |dh AS (
      |  SELECT DISTINCT event_type,
      |    ('0x' || substr(md5(k), 1, 13))::BIGINT AS h
      |  FROM ud),
      |r AS (
      |  SELECT event_type, h,
      |    row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn,
      |    count(*) OVER (PARTITION BY event_type) AS mtot
      |  FROM dh),
      |st AS (
      |  SELECT event_type, CAST(least(max(mtot), $k) AS INTEGER) AS m,
      |    max(CASE WHEN rn <= $k THEN h END) AS kth, max(mtot) AS mtot
      |  FROM r GROUP BY event_type),
      |ex AS (SELECT event_type, CAST(count(*) AS BIGINT) AS exact_n
      |       FROM ud GROUP BY event_type)
      |SELECT st.event_type, m,
      |  CASE WHEN mtot < $k THEN CAST(mtot AS DOUBLE)
      |       ELSE round($num / kth, 4) END AS est,
      |  exact_n, CAST(3 AS INTEGER) AS n_batches
      |FROM st JOIN ex USING (event_type)
      |ORDER BY event_type""".stripMargin
  }

  // ---------------------------------------------------------------- q228

  /** q228: WATERMARK LATE-DATA AUDIT — what a streaming windowed
    * aggregation ACTUALLY does with late rows, pinned by oracle.
    * Folklore says "the watermark drops late data"; measured Spark 4.1
    * semantics are sharper, and this query hash-checks all three arms:
    * late-event FILTERING uses the watermark of the PREVIOUS
    * micro-batch while EVICTION uses the current one (the
    * SPARK-40925 split), so a late row gets a ONE-BATCH GRACE — it is
    * accepted, and its already-closed window emits at that batch's
    * end — while a row arriving two or more batches after its window
    * closed is dropped and counted by `numRowsDroppedByWatermark`.
    * Consequently every window reaches an append sink EXACTLY once.
    *
    * Four deterministic micro-batches staged out of time order build
    * all three populations: the middle five days (sets the eviction
    * watermark wm0 = its max − 24 h), the oldest twenty days split by
    * event_id parity — the even half rides the grace batch (accepted,
    * emitted under wm0 at its own batch end), the odd half arrives one
    * batch later and is DROPPED against wm0 — then the newest five
    * days (advances the final watermark so the no-data batch flushes
    * remaining closed windows). Emission = accepted rows in windows
    * with end ≤ (global max − 24 h), one row per window; the audit row
    * carries input size, emitted total, the semantic dropped count
    * (odd-half rows with window end ≤ wm0), the never-emitted
    * remainder, and a flag that the engine's own
    * `numRowsDroppedByWatermark` fired (the raw metric counts
    * post-partial-aggregation rows, so only its sign is stable).
    */
  def q228WatermarkAudit(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ckptDir = java.nio.file.Files.createTempDirectory("graft-q228-ckpt")
    val srcDir = java.nio.file.Files.createTempDirectory("graft-q228-src")
    val outRoot = java.nio.file.Files.createTempDirectory("graft-q228-out")
    val outDir = outRoot.resolve("wins").toString
    val prevParts = s.conf.get("spark.sql.shuffle.partitions")
    s.conf.set("spark.sql.shuffle.partitions", "8")
    try {
      val ev = graft.Tables.load(s, dir, "events")
        .withColumn("es", unix_millis($"ts".cast("timestamp")))
        .persist()
      val maxAll = ev.agg(max($"es")).head().getLong(0)
      val d5 = maxAll - 5L * 86400000L
      val d10 = maxAll - 10L * 86400000L
      stageBatch(srcDir, 0, ev.filter($"es" > d10 && $"es" <= d5).drop("es"))
      stageBatch(srcDir, 1,
        ev.filter($"es" <= d10 && pmod($"event_id", lit(2)) === 0).drop("es"))
      stageBatch(srcDir, 2,
        ev.filter($"es" <= d10 && pmod($"event_id", lit(2)) === 1).drop("es"))
      stageBatch(srcDir, 3, ev.filter($"es" > d5).drop("es"))
      val outSchema = StructType(Seq(
        StructField("win_start", TimestampNTZType),
        StructField("event_type", StringType),
        StructField("n", LongType)))
      s.createDataFrame(
        s.sparkContext.emptyRDD[org.apache.spark.sql.Row], outSchema)
        .write.mode("overwrite").parquet(outDir)
      val q = readEvents(s, srcDir.toString, maxFilesPerTrigger = Some(1))
        .withWatermark("ts", "24 hours")
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n"))
        .select(col("window.start").as("win_start"), col("event_type"),
          col("n"))
        .writeStream.format("parquet")
        .option("path", outDir)
        .option("checkpointLocation", ckptDir.toString)
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      val metricDropped = q.recentProgress
        .flatMap(p => Option(p.stateOperators).toSeq.flatten)
        .map(_.numRowsDroppedByWatermark).sum
      val sink = s.read.schema(outSchema).parquet(outDir)
      val emitted = Option(sink.agg(sum($"n")).head().get(0))
        .map(_.asInstanceOf[Long]).getOrElse(0L)
      val total = ev.count()
      // semantic dropped count: odd late half against wm0 (the rule the
      // window rows already pin; the engine metric counts post-partial
      // rows so only its sign is portable)
      val maxM = ev.filter($"es" > d10 && $"es" <= d5)
        .agg(max($"es")).head().getLong(0)
      val wm0 = maxM - 86400000L
      val dropped = ev.filter($"es" <= d10 &&
          pmod($"event_id", lit(2)) === 1 &&
          (floor($"es" / 3600000L) * 3600000L + 3600000L) <= wm0)
        .count()
      ev.unpersist(false)
      val audit = Seq(("__audit", emitted, total, dropped,
          total - emitted - dropped, if (metricDropped > 0) 1L else 0L))
        .toDF("event_type", "n", "n_input", "n_dropped", "n_unemitted",
          "engine_dropped")
        .withColumn("win_start", lit(null).cast(TimestampNTZType))
      val out = sink
        .select($"win_start", $"event_type", $"n",
          lit(null).cast(LongType).as("n_input"),
          lit(null).cast(LongType).as("n_dropped"),
          lit(null).cast(LongType).as("n_unemitted"),
          lit(null).cast(LongType).as("engine_dropped"))
        .unionByName(audit.select($"win_start", $"event_type", $"n",
          $"n_input", $"n_dropped", $"n_unemitted", $"engine_dropped"))
        .orderBy($"event_type", $"win_start")
      // materialize off the temp sink dir before the finally removes it
      val rows = out.collect()
      s.createDataFrame(java.util.Arrays.asList(rows: _*), out.schema)
    } finally {
      s.conf.set("spark.sql.shuffle.partitions", prevParts)
      FileTree.delete(ckptDir); FileTree.delete(srcDir); FileTree.delete(outRoot)
    }
  }

  private val q228Sql =
    """WITH et AS (
      |  SELECT event_id, event_type, CAST(ts AS TIMESTAMP) AS ts,
      |    epoch_ms(CAST(ts AS TIMESTAMP)) AS es
      |  FROM events),
      |mx AS (SELECT max(es) AS m FROM et),
      |wm0 AS (
      |  SELECT max(es) - 86400000 AS w0 FROM et CROSS JOIN mx
      |  WHERE es > m - 10 * 86400000 AND es <= m - 5 * 86400000),
      |cls AS (
      |  SELECT event_id, event_type, date_trunc('hour', ts) AS win_start,
      |    epoch_ms(date_trunc('hour', ts)) + 3600000 AS we,
      |    (es <= m - 10 * 86400000) AS late_batch,
      |    (event_id % 2 = 1) AS second_half
      |  FROM et CROSS JOIN mx),
      |-- drop rule: a row is filtered iff it arrives with the PREVIOUS
      |-- batch's watermark already past its window end; under the staged
      |-- schedule that is exactly the odd late half against wm0
      |dropped AS (
      |  SELECT * FROM cls CROSS JOIN wm0
      |  WHERE late_batch AND second_half AND we <= w0),
      |accepted AS (
      |  SELECT c.* FROM cls c CROSS JOIN wm0
      |  WHERE NOT (late_batch AND second_half AND we <= w0)),
      |-- eviction rule: a window reaches the sink (exactly once) when
      |-- the final watermark passes its end
      |wins AS (
      |  SELECT win_start, event_type, CAST(count(*) AS BIGINT) AS n
      |  FROM accepted CROSS JOIN mx
      |  WHERE we <= m - 86400000
      |  GROUP BY win_start, event_type),
      |tot AS (SELECT CAST(count(*) AS BIGINT) AS n_input FROM et),
      |drp AS (SELECT CAST(count(*) AS BIGINT) AS d FROM dropped),
      |acc AS (SELECT CAST(coalesce(sum(n), 0) AS BIGINT) AS a FROM wins)
      |SELECT win_start, event_type, n,
      |  CAST(NULL AS BIGINT) AS n_input, CAST(NULL AS BIGINT) AS n_dropped,
      |  CAST(NULL AS BIGINT) AS n_unemitted, CAST(NULL AS BIGINT) AS engine_dropped
      |FROM wins
      |UNION ALL
      |SELECT CAST(NULL AS TIMESTAMP), '__audit', a, n_input, d,
      |  n_input - a - d, CAST(1 AS BIGINT)
      |FROM acc CROSS JOIN tot CROSS JOIN drp
      |ORDER BY event_type, win_start""".stripMargin

  /** q238: CHAINED STATEFUL OPERATORS in one continuous query —
    * watermarked streaming dedup feeding a watermarked tumbling-window
    * aggregation (Spark's multiple-stateful-operator support, the shape
    * every production ingest runs: dedupe the at-least-once transport,
    * THEN aggregate). The source is deliberately doubled (two copies of
    * the events file), so the dedup state is doing real work: a
    * duplicate row is either inside the watermark horizon (suppressed
    * by id state) or behind it (dropped as late) — both paths keep it
    * out of the aggregate, which is why the oracle is the SINGLE-copy
    * q63 arithmetic (same window sums, same `window_end <= max(ts) -
    * 2h` append-mode emission cut). State bounds: id state one
    * watermark horizon wide, window state one emission horizon — both
    * watermark-trimmed, cluster-safe at any rate.
    */
  def q238StreamChained(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    memorySinkRun(s, "q238_chain", dir, copies = 2) { src =>
      src.withWatermark("ts", "2 hours")
        .dropDuplicates("event_id")
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n"), exactSum2(col("value")).as("total_value"))
        .select(col("window.start").as("hour"), col("event_type"),
          col("n"), col("total_value"))
    }.orderBy($"hour", $"event_type")
  }

  private val q238Sql =
    """WITH agg AS (
      |  SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour, event_type,
      |    count(*) AS n,
      |    CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
      |  FROM events
      |  GROUP BY 1, 2),
      |mx AS (SELECT max(epoch_ms(CAST(ts AS TIMESTAMP))) AS max_ms FROM events)
      |SELECT hour, event_type, n, total_value
      |FROM agg CROSS JOIN mx
      |WHERE epoch_ms(hour) + 3600000 <= max_ms - 7200000
      |ORDER BY hour, event_type""".stripMargin

  private val MgTileK = 127

  /** q247: STREAMING MISRA-GRIES TILES — q227's bounded-state tile
    * pattern with the KMV distinct sketch swapped for the MG heavy-
    * hitter summary, closing the streaming/approx symmetry (q70 is the
    * batch MG; this is its continuous form). Each micro-batch of
    * documents computes per-key counts, merges them into the persisted
    * ≤(K+1)-row counter state, and re-trims by the MG merge rule
    * (subtract the (K+1)-th largest counter, drop non-positives) — the
    * Agarwal et al. mergeable-summaries operation, under which the
    * merged error stays ≤ n/(K+1), so every >1% key of the FULL stream
    * is still guaranteed present in kilobytes of state. The final
    * answer is literally q70's: exact heavy keys semi-joined against
    * the surviving sketch keys — the streaming pipeline must reproduce
    * the batch guarantee row-for-row, and the oracle is q70's SQL.
    */
  def q247StreamMgTiles(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ckptDir = java.nio.file.Files.createTempDirectory("graft-q247-ckpt")
    val srcDir = java.nio.file.Files.createTempDirectory("graft-q247-src")
    val outRoot = java.nio.file.Files.createTempDirectory("graft-q247-out")
    val stateDir = outRoot.resolve("mg").toString
    val prevParts = s.conf.get("spark.sql.shuffle.partitions")
    s.conf.set("spark.sql.shuffle.partitions", "8")
    try {
      val docs = graft.Tables.load(s, dir, "documents")
      (0 to 2).foreach(b =>
        stageBatch(srcDir, b, docs.filter(pmod($"doc_id", lit(3)) === b)))
      val stateSchema = StructType(Seq(
        StructField("key", StringType),
        StructField("cnt", LongType)))
      s.createDataFrame(
        s.sparkContext.emptyRDD[org.apache.spark.sql.Row], stateSchema)
        .write.mode("overwrite").parquet(stateDir)
      val docSchema = docs.schema
      val q = s.readStream.schema(docSchema)
        .option("maxFilesPerTrigger", 1).parquet(srcDir.toString)
        .writeStream.foreachBatch {
          (batch: Dataset[org.apache.spark.sql.Row], _: Long) =>
            val sp = batch.sparkSession
            val part = batch.toDF()
              .select(col("lang"), explode(split(col("text"), " ")).as("tok"))
              .groupBy(concat_ws("|", col("lang"), col("tok")).as("key"))
              .agg(count(lit(1)).as("cnt"))
            val merged = sp.read.parquet(stateDir)
              .unionByName(part)
              .groupBy(col("key")).agg(sum(col("cnt")).as("cnt"))
            // MG merge-trim: d = (K+1)-th largest counter (0 if fewer),
            // every counter drops by d, non-positives evicted — state
            // is ≤K rows of (key, cnt), kilobytes at any stream length
            val rows = merged.collect()
              .map(r => (r.getString(0), r.getLong(1)))
              .sortBy(-_._2)
            val d = if (rows.length > MgTileK) rows(MgTileK)._2 else 0L
            val trimmed = rows.map { case (k, c) => (k, c - d) }
              .filter(_._2 > 0)
            sp.createDataFrame(trimmed.toSeq).toDF("key", "cnt")
              .write.mode("overwrite").parquet(stateDir)
            ()
        }
        .option("checkpointLocation", ckptDir.toString)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      val mgKeys = s.read.parquet(stateDir).select($"key".as("mk"))
      val n = org.apache.spark.sql.expressions.Window.partitionBy()
      val stream = docs.select($"lang", explode(split($"text", " ")).as("tok"))
      val out = stream.groupBy($"lang", $"tok").agg(count(lit(1)).as("cnt"))
        .withColumn("n", sum($"cnt").over(n))
        .filter($"cnt" * 100 > $"n")
        .join(mgKeys, concat_ws("|", $"lang", $"tok") === $"mk", "left_semi")
        .select($"lang", $"tok", $"cnt")
        .orderBy($"lang", $"tok")
      val rows = out.collect()
      s.createDataFrame(java.util.Arrays.asList(rows: _*), out.schema)
    } finally {
      s.conf.set("spark.sql.shuffle.partitions", prevParts)
      FileTree.delete(ckptDir); FileTree.delete(srcDir); FileTree.delete(outRoot)
    }
  }

  private val q247Sql =
    """WITH u AS (SELECT lang, unnest(string_split(text, ' ')) AS tok
      |           FROM documents),
      |c AS (SELECT lang, tok, count(*) AS cnt FROM u GROUP BY lang, tok)
      |SELECT lang, tok, cnt FROM c
      |WHERE cnt * 100 > (SELECT CAST(sum(cnt) AS BIGINT) FROM c)
      |ORDER BY lang, tok""".stripMargin

  /** q327: STREAMING SUFFIX-ARRAY MAINTENANCE (round 14 — VERDICT r13
    * "Next round" #6): the [[graft.operators.SuffixIndex]] merge arm
    * made the suffix family append-capable; this operationalizes it as
    * the foreachBatch sink loop the lakehouse family already runs
    * (q172/q184's shape). A STAGED copy of the suffix pool streams in
    * three installments — 80% of pool docs land as the initial corpus
    * (full build, the one-time cost), the remaining two 10% slices
    * arrive as file-source micro-batches — and the foreachBatch
    * consumer does exactly what a production ingest sink would: land
    * the batch's part files into the corpus table, then
    * `SuffixIndex.ensure()`, which takes the MERGE arm (window
    * prefix-sums + bounded collision resolution, never a doubling
    * re-run) and the O(delta) cover union. Output is q311's sampled
    * permutation over the final committed ranks plus the `_last_arm`
    * breadcrumb as an `arm` column; the oracle is q311's brute-force
    * sorted-suffix truth over the WHOLE pool with `arm` pinned to
    * 'merge' — so the hash simultaneously proves (a) the
    * stream-maintained artifact equals a one-shot build over
    * everything the stream delivered and (b) the maintenance actually
    * went through the merge arm, not a quiet rebuild. Per batch the
    * work is one base-window scan + delta windows + bounded collisions
    * ([[graft.Smoke]] `suffix` measures the bytes: the two-batch
    * cadence reads O(base + delta) per batch, vs the rebuild's full
    * doubling); the staged world is fingerprinted by the source
    * listing, so testdata regeneration re-exercises the whole loop
    * while repeat invocations on the same corpus read the committed
    * result (every artifact query's pricing posture).
    */
  /** The staged-world key q327 files its stage under: md5 of the source
    * corpus listing (name:size:mtime) — regenerated testdata gets a
    * fresh stage, same bytes reuse it. Exposed package-private so the
    * torn-state spec can target EXACTLY the stage a given corpus maps
    * to instead of sweeping every sibling (ADVICE r14).
    */
  private[graft] def q327StageKey(dir: String): String = {
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    val srcTable = Paths.get(dir, "documents.parquet")
    val listing = {
      val files =
        if (Files.isDirectory(srcTable)) {
          val st = Files.list(srcTable)
          try st.iterator().asScala.toSeq
            .filter(p => !p.getFileName.toString.startsWith("_") &&
              !p.getFileName.toString.startsWith("."))
            .sortBy(_.getFileName.toString)
          finally st.close()
        } else Seq(srcTable)
      files.map(p => s"${p.getFileName}:${Files.size(p)}:" +
        s"${Files.getLastModifiedTime(p).toMillis}").mkString("\n")
    }
    java.security.MessageDigest.getInstance("MD5")
      .digest(s"$srcTable\n$listing".getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
  }

  def q327StreamSuffixMaintain(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import java.nio.file.{Files, Paths, StandardCopyOption}
    import scala.jdk.CollectionConverters._
    import graft.operators.{Dedup, SuffixIndex}
    val key = q327StageKey(dir)
    val streamRoot = Paths.get(sys.props("java.io.tmpdir"), "graft-suffix-stream")
    val stageRoot = streamRoot.resolve(key)
    val staged = stageRoot.resolve("corpus")
    val docTable = staged.resolve("documents.parquet")
    val done = stageRoot.resolve("_complete")
    // The staged world is usable only if BOTH halves survive: the corpus
    // (`_complete` under streamRoot) AND the maintained index (under the
    // independently lifecycled index root — SPARK_GRAFT_INDEX_DIR,
    // documented rm-rf-safe). A marker without a committed `_last_arm`
    // is a torn state (index wiped, crash before ensure() committed, or
    // a different index root than the run that staged) — re-reading it
    // would crash here and a bare ensure() would take the REBUILD arm
    // and break the 'merge' pin, so the only correct move is to
    // re-exercise the whole loop.
    val armFile = SuffixIndex.indexPathFor(staged.toString).resolve("_last_arm")
    def exercise(): Unit = {
      // clean any partial state (and stale sibling stages of older
      // testdata generations) before re-exercising the loop
      if (Files.exists(streamRoot)) {
        val st = Files.list(streamRoot)
        try st.iterator().asScala.toSeq.foreach(FileTree.delete)
        finally st.close()
      }
      val stale = SuffixIndex.indexPathFor(staged.toString)
      if (Files.exists(stale)) FileTree.delete(stale)
      Files.createDirectories(staged)
      val pool = Dedup.suffixPoolDocs(graft.Tables.load(s, dir, "documents"))
        .persist()
      val isB1 = $"doc_id" % 100 === 20
      val isB2 = $"doc_id" % 100 === 40
      pool.filter(!isB1 && !isB2)
        .write.mode("overwrite").parquet(docTable.toString)
      SuffixIndex.ensure(s, staged.toString) // initial build (rebuild arm)
      val incoming = stageRoot.resolve("incoming")
      Seq(("b1", pool.filter(isB1)), ("b2", pool.filter(isB2))).foreach {
        case (tag, df) =>
          val scratch = Files.createTempDirectory("graft-q327-stage")
          df.repartition(1).write.mode("overwrite").parquet(scratch.toString)
          Files.createDirectories(incoming)
          val st = Files.list(scratch)
          try st.iterator().asScala.toSeq
            .filter(p => !p.getFileName.toString.startsWith("_") &&
              !p.getFileName.toString.startsWith("."))
            .foreach(p => Files.move(p,
              incoming.resolve(s"$tag-${p.getFileName}"),
              StandardCopyOption.ATOMIC_MOVE))
          finally st.close()
          FileTree.delete(scratch)
      }
      pool.unpersist(false)
      val ckpt = stageRoot.resolve("ckpt")
      val q = s.readStream
        .schema(s.read.parquet(incoming.toString).schema)
        .option("maxFilesPerTrigger", 1) // two staged files -> two batches
        .parquet(incoming.toString)
        .writeStream.foreachBatch {
          (batch: Dataset[org.apache.spark.sql.Row], id: Long) =>
            // the production sink loop: land the micro-batch as part
            // files of the corpus table, then maintain the artifact —
            // ensure() takes the merge arm against the committed ranks
            val scratch = Files.createTempDirectory("graft-q327-batch")
            batch.toDF().write.mode("overwrite").parquet(scratch.toString)
            val st = Files.list(scratch)
            try st.iterator().asScala.toSeq
              .filter(p => !p.getFileName.toString.startsWith("_") &&
                !p.getFileName.toString.startsWith("."))
              .foreach(p => Files.move(p,
                docTable.resolve(s"delta$id-${p.getFileName}"),
                StandardCopyOption.ATOMIC_MOVE))
            finally st.close()
            FileTree.delete(scratch)
            SuffixIndex.ensure(s, staged.toString)
            ()
        }
        .option("checkpointLocation", ckpt.toString)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      Files.writeString(done, "ok")
    }
    if (!Files.exists(done) || !Files.exists(armFile)) exercise()
    // ranks() first: its ensure() re-validates the committed fingerprint,
    // so the breadcrumb read below reports the index state the returned
    // frame actually came from
    var rk = SuffixIndex.ranks(s, staged.toString)
    // ADVICE r14: the INVERSE tear — index tables wiped/corrupted while
    // `_last_arm` survives — passes the existence check above; ranks()'s
    // ensure() then takes the rebuild arm and commits 'rebuild', after
    // which `_complete` + `_last_arm` both exist and every later run
    // would skip re-exercise and emit arm='rebuild' against the
    // 'merge'-pinned oracle FOREVER. Self-heal instead of failing
    // stickily: if the validated breadcrumb isn't 'merge', wipe the
    // stage + index and re-exercise the loop once.
    if (!Files.exists(armFile) || Files.readString(armFile).trim != "merge") {
      exercise()
      rk = SuffixIndex.ranks(s, staged.toString)
    }
    val docs = Dedup.suffixPoolDocs(
      graft.Tables.load(s, staged.toString, "documents"))
    val arm = Files.readString(armFile).trim
    rk
      .filter($"rank" <= 30 || $"rank" % 2500 === 1)
      .join(docs, Seq("doc_id"))
      .select($"rank", $"doc_id", $"pos",
        expr("substring(text, pos, 40)").as("head40"), lit(arm).as("arm"))
      .orderBy($"rank")
  }

  /** q311's brute-force truth with the maintenance-path assertion
    * pinned: the compare sorts rows, so wrapping the ordered sample is
    * safe.
    */
  private def q327Sql: String =
    s"""SELECT q.*, 'merge' AS arm
      |FROM (${graft.operators.Dedup.q311SqlShared}) q""".stripMargin

  def queries: Seq[GraftQuery] = Seq(
    GraftQuery("q327_stream_suffix_maintain", Seq("EXT-streaming", "EXT-dedup", "S6"),
      "streaming suffix-array maintenance: micro-batched corpus growth through a foreachBatch sink that lands each batch and merge-maintains the committed permutation + cover, proven equal to one-shot truth with the merge arm pinned",
      q327StreamSuffixMaintain, Some(q327Sql)),
    GraftQuery("q247_stream_mg_tiles", Seq("EXT-streaming", "EXT-approx", "A2"),
      "streaming Misra-Gries tiles: per-batch counts merged into <=K-row state via the mergeable-summaries trim; heavy keys reproduce batch q70",
      q247StreamMgTiles, Some(q247Sql)),
    GraftQuery("q238_stream_chained", Seq("EXT-streaming", "A3", "A2"),
      "chained stateful operators: watermarked streaming dedup over a doubled source feeding a watermarked window aggregation, single-copy oracle",
      q238StreamChained, Some(q238Sql)),
    GraftQuery("q227_stream_sketch_tiles",
      Seq("EXT-streaming", "EXT-approx", "EXT-olap"),
      "streaming KMV sketch tiles: per-batch bounded-heap partials merged into kilobyte state, final state == one-shot build",
      q227StreamSketchTiles, Some(q227Sql)),
    GraftQuery("q228_watermark_audit", Seq("EXT-streaming", "A2", "P6"),
      "watermark late-data audit: staged newest-first batches force late drops; oracle mirrors the window-end <= watermark cut",
      q228WatermarkAudit, Some(q228Sql)),
    GraftQuery("q218_stream_drift_monitor",
      Seq("EXT-streaming", "EXT-similarity", "EXT-occ"),
      "streaming index-drift monitor: frozen base stats gauge each micro-batch, append/rebuild stamped before landing",
      q218StreamDriftMonitor, Some(q218Sql)),
    GraftQuery("q184_stream_upsert_mor", Seq("EXT-streaming", "S6", "J4", "EXT-occ", "EXT-cdc"),
      "streaming merge-on-read upsert sink: per-batch O(batch) upsertMoR + deleteRatio-triggered compaction; last-writer-wins hash-carried",
      q184StreamUpsertMoR, Some(q184Sql)),
    GraftQuery("q180_stream_feed_apply", Seq("EXT-streaming", "S6", "J4", "EXT-cdc", "EXT-occ"),
      "streaming CDC consumption: mtime-ordered feed micro-batches applied to a versioned replica via serializable read-modify-write; final replica == S3",
      q180StreamFeedApply, Some(q180Sql)),
    GraftQuery("q172_stream_compact", Seq("EXT-streaming", "S7", "EXT-occ"),
      "streaming append sink with threshold-triggered auto-compaction: bounded file count, content oracle-carried at 3x",
      q172StreamCompact, Some(q172Sql)),
    GraftQuery("q55_stream_sessions", Seq("EXT-streaming", "W1", "W2"),
      "transformWithState sessionizer (RocksDB + event-time timers), oracle-carried",
      q55StreamSessions, Some(q55Sql)),
    GraftQuery("q139_stream_static_join", Seq("EXT-streaming", "J1", "A2"),
      "stream-static broadcast enrichment (stateless join) + watermarked window agg, oracle-carried",
      q139StreamStaticJoin, Some(q139Sql)),
    GraftQuery("q63_stream_hourly", Seq("EXT-streaming", "A2", "F1"),
      "watermarked append-mode window aggregation, emission cut oracle-carried",
      q63StreamHourly, Some(q63Sql)),
    GraftQuery("q109_stream_interval_join", Seq("EXT-streaming", "J1"),
      "watermarked stream-stream interval join, lossless-state oracle-carried",
      q109StreamIntervalJoin, Some(q109Sql)),
    GraftQuery("q206_stream_outer_join", Seq("EXT-streaming", "J1", "J3"),
      "LEFT OUTER stream-stream interval join: watermark-gated NULL emission, final cut pinned by stated arithmetic",
      q206StreamOuterJoin, Some(q206Sql)),
    GraftQuery("q120_stream_dedup", Seq("EXT-streaming", "A3"),
      "watermarked streaming dropDuplicates over a doubled source, oracle-carried",
      q120StreamDedup, Some(q120Sql)),
    GraftQuery("q125_stream_upsert", Seq("EXT-streaming", "S6", "J4"),
      "foreachBatch MERGE sink over two redelivered batches, idempotence oracle-carried",
      q125StreamUpsert, Some(q125Sql)),
    GraftQuery("q160_stream_near_dup", Seq("EXT-streaming", "EXT-dedup"),
      "streaming near-dup dedup: micro-batches probe a static minhash band index; union of batches == q76's batch answer",
      q160StreamNearDup, Some(graft.operators.Dedup.q76Sql)),
    GraftQuery("q167_stream_ann_serve", Seq("EXT-streaming", "EXT-similarity"),
      "streaming ANN serving: micro-batched query vectors route against the broadcast frozen codebook and probe home cells; union of batch top-3s == the batch oracle",
      q167StreamAnnServe, Some(graft.operators.Similarity.q167Sql)))

  /** q120: watermarked streaming deduplication, ORACLE-CARRIED — the
    * source directory is staged with TWO copies of the events file, so
    * the stream genuinely re-delivers every record and
    * `dropDuplicates("event_id")` (2-hour watermark bounding the seen-id
    * state) must collapse them; the oracle is simply the single-copy
    * table. This is the at-least-once → exactly-once repair every
    * streaming ingest needs (a replayed Kafka partition, a re-listed
    * file); q55 proves timers, q63 eviction, q109 join state — this
    * proves the dedup state store, completing the stateful-operator
    * quartet. Emitted rows are first-arrival; the copies are
    * byte-identical so emission order cannot leak into the hash.
    */
  def q120StreamDedup(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    memorySinkRun(s, "q120_dedup", dir, copies = 2) { src =>
      dedupStream(src)
        .select(col("event_id"), col("ts"), col("user_id"),
          col("event_type"), col("value"))
    }.orderBy($"event_id")
  }

  private val q120Sql =
    """SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type, value
      |FROM events
      |ORDER BY event_id""".stripMargin

  /** q125: the foreachBatch UPSERT SINK, ORACLE-CARRIED — the streaming
    * form of the reference's incremental materialization (S6) run as a
    * real continuous query: the source directory holds TWO copies of the
    * events file and `maxFilesPerTrigger=1` forces TWO micro-batches, so
    * batch 1 seeds the keyed parquet target and batch 2 MERGE-upserts
    * byte-identical rows into it — the emitted table proves the sink is
    * IDEMPOTENT under redelivery, the contract that makes at-least-once
    * sources safe. Keyed state: one row per user, latest-wins by
    * event_id (unique, so the in-batch dedup and the merge are both
    * deterministic); the oracle is the batch arg_max. The target lives
    * in a per-invocation temp dir, swapped atomically per batch
    * (ParquetIO.overwriteSwap — the same writer the reference's
    * incremental models use).
    */
  def q125StreamUpsert(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ckptDir = java.nio.file.Files.createTempDirectory("graft-q125-ckpt")
    val srcDir = java.nio.file.Files.createTempDirectory("graft-q125-src")
    val tgtRoot = java.nio.file.Files.createTempDirectory("graft-q125-tgt")
    val tgtDir = tgtRoot.resolve("target").toString
    // same state-store/partition economics as memorySinkRun
    val prevParts = s.conf.get("spark.sql.shuffle.partitions")
    s.conf.set("spark.sql.shuffle.partitions", "8")
    try {
      java.nio.file.Files.copy(
        java.nio.file.Paths.get(s"$dir/events.parquet"),
        srcDir.resolve("events.parquet"))
      java.nio.file.Files.copy(
        java.nio.file.Paths.get(s"$dir/events.parquet"),
        srcDir.resolve("events_replayed.parquet"))
      val (schema, norm) = tsNormalize(s, srcDir.toString)
      val src = norm(s.readStream
        .schema(schema)
        .option("maxFilesPerTrigger", 1) // two staged files -> two batches
        .parquet(srcDir.toString))
        .select($"user_id", $"event_id", $"event_type", $"value", $"ts")
      val q = upsertSink(src, Seq("user_id"), orderCol = "event_id", tgtDir)
        .option("checkpointLocation", ckptDir.toString)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      val out = graft.pipeline.ParquetIO.read(s, tgtDir)
        .select($"user_id", $"event_id", $"event_type", $"value", $"ts")
        .orderBy($"user_id")
      // materialize before the finally deletes the backing files
      val rows = out.collect()
      s.createDataFrame(java.util.Arrays.asList(rows: _*), out.schema)
    } finally {
      s.conf.set("spark.sql.shuffle.partitions", prevParts)
      FileTree.delete(ckptDir)
      FileTree.delete(srcDir)
      FileTree.delete(tgtRoot)
    }
  }

  private val q125Sql =
    """SELECT user_id, max(event_id) AS event_id,
      |  arg_max(event_type, event_id) AS event_type,
      |  arg_max(value, event_id) AS value,
      |  CAST(arg_max(ts, event_id) AS TIMESTAMP) AS ts
      |FROM events
      |GROUP BY user_id
      |ORDER BY user_id""".stripMargin

  /** q160: STREAMING NEAR-DUP DEDUP, ORACLE-CARRIED — the
    * continuous-crawl composition of q76 (incremental dedup) with the
    * foreachBatch machinery: the base corpus's minhash band index is a
    * PERSISTED static table, and each arriving micro-batch signs its
    * documents, probes the index (delta bands ⋈ base bands ONLY — never
    * delta×delta, never base×base, exactly q76's join topology),
    * verifies candidates by exact shingle intersection, and APPENDS the
    * verified pairs to a parquet result. The delta (doc_id % 5 == 0,
    * q76's "today's crawl") is staged as TWO files with
    * maxFilesPerTrigger=1 so two genuine micro-batches run; because the
    * batches partition the delta and the join side is static, the union
    * of per-batch results must equal q76's one-shot batch answer — the
    * oracle IS q76's SQL. Per-batch work scales with the batch's
    * collision rate, the property that makes continuous dedup
    * affordable at crawl scale.
    */
  def q160StreamNearDup(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.functions.NativeExpressions.minhashSignature
    import graft.operators.Dedup
    val ckptDir = java.nio.file.Files.createTempDirectory("graft-q160-ckpt")
    val srcDir = java.nio.file.Files.createTempDirectory("graft-q160-src")
    val outRoot = java.nio.file.Files.createTempDirectory("graft-q160-out")
    val outDir = outRoot.resolve("pairs").toString
    val prevParts = s.conf.get("spark.sql.shuffle.partitions")
    s.conf.set("spark.sql.shuffle.partitions", "8")
    try {
      // stage the delta as two single-file batches (half of the crawl each)
      val delta = graft.Tables.load(s, dir, "documents")
        .filter($"doc_id" % 5 === 0)
        .select($"doc_id".cast("long").as("doc_id"), $"text")
      def stage(half: Int): Unit = {
        val tmp = srcDir.resolve(s"stage$half")
        delta.filter(($"doc_id" / 5) % 2 === half)
          .coalesce(1).write.mode("overwrite").parquet(tmp.toString)
        val part = java.nio.file.Files.list(tmp).iterator()
        var moved = false
        while (part.hasNext && !moved) {
          val f = part.next()
          if (f.getFileName.toString.endsWith(".parquet")) {
            java.nio.file.Files.move(f, srcDir.resolve(s"batch$half.parquet"))
            moved = true
          }
        }
        FileTree.delete(tmp)
      }
      stage(0); stage(1)

      // the static side: base-corpus shingle sets + band index, built once
      def sign(docs: DataFrame): DataFrame =
        docs.select($"doc_id", array_distinct(Dedup.shingles($"text")).as("shs"))
          .filter(size($"shs") > 0)
          .select($"doc_id", $"shs",
            minhashSignature($"shs", Dedup.NumHashes).as("sig"))
      def bandKeys = array((0 until Dedup.NumHashes / Dedup.BandSize).map { bnd =>
        md5(concat_ws("|", (0 until Dedup.BandSize).map(r =>
          element_at($"sig", bnd * Dedup.BandSize + r + 1)): _*))
      }: _*)
      def bandsOf(signed: DataFrame, idCol: String): DataFrame =
        signed.select($"doc_id".as(idCol), posexplode(bandKeys))
          .withColumnRenamed("pos", "band").withColumnRenamed("col", "bkey")
      // the static side: the PERSISTED band index ([[graft.operators
      // .LshIndex]] artifact, round 11) — the stream probes a committed
      // parquet table; the base corpus is never re-shingled or re-signed
      // inside this query (the q76 posture, streaming-served)
      val baseBands = graft.operators.LshIndex.bands(s, dir)
        .filter($"doc_id" % 5 =!= 0)
        .withColumnRenamed("doc_id", "dup_of").persist()

      // seed the result with the right (possibly final) empty schema so
      // a dup-free stream still yields a readable, zero-row table
      val outSchema = StructType(Seq(
        StructField("new_doc", LongType), StructField("dup_of", LongType),
        StructField("n_common", LongType), StructField("jaccard", DoubleType)))
      s.createDataFrame(s.sparkContext.emptyRDD[org.apache.spark.sql.Row], outSchema)
        .write.mode("overwrite").parquet(outDir)

      val q = s.readStream.schema("doc_id LONG, text STRING")
        .option("maxFilesPerTrigger", 1)
        .parquet(srcDir.toString)
        .writeStream.foreachBatch {
          (batch: Dataset[org.apache.spark.sql.Row], _: Long) =>
            val bd = sign(batch.toDF()).persist()
            val cand = bandsOf(bd, "new_doc")
              .join(baseBands, Seq("band", "bkey"))
              .select($"new_doc", $"dup_of").distinct()
            // verification fetches shingles for ONLY the candidate base
            // docs (left-semi into the corpus — O(candidates) per batch)
            val baseShs = graft.Tables.load(s, dir, "documents")
              .join(cand.select($"dup_of".as("doc_id")).distinct(),
                Seq("doc_id"), "left_semi")
              .select($"doc_id".as("dup_of"),
                array_distinct(Dedup.shingles($"text")).as("shs_b"))
            cand
              .join(bd.select($"doc_id".as("new_doc"), $"shs".as("shs_a")), "new_doc")
              .join(baseShs, "dup_of")
              .select($"new_doc", $"dup_of",
                size(array_intersect($"shs_a", $"shs_b")).cast("long").as("n_common"),
                size($"shs_a").as("na"), size($"shs_b").as("nb"))
              .filter($"n_common" > 0)
              .select($"new_doc", $"dup_of", $"n_common",
                ($"n_common".cast("double") / ($"na" + $"nb" - $"n_common"))
                  .as("jaccard"))
              .write.mode("append").parquet(outDir)
            bd.unpersist(false)
            () // foreachBatch wants Unit; unpersist returns the Dataset
        }
        .option("checkpointLocation", ckptDir.toString)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      val out = s.read.parquet(outDir)
        .orderBy($"new_doc", $"dup_of")
      val rows = out.collect()
      baseBands.unpersist(false)
      s.createDataFrame(java.util.Arrays.asList(rows: _*), out.schema)
    } finally {
      s.conf.set("spark.sql.shuffle.partitions", prevParts)
      FileTree.delete(ckptDir); FileTree.delete(srcDir); FileTree.delete(outRoot)
    }
  }

  /** q167: streaming ANN serving — the ONLINE half of the vector-search
    * story (q45/q54/q137 are the offline index consumers, q161 the
    * index maintainer): query vectors arrive as a file stream in two
    * micro-batches, and each batch routes against the BROADCAST frozen
    * coarse codebook (top-2 cells by rounded cosine), probes the
    * persisted home-cell corpus table, exact-scores the collisions, and
    * appends its per-query top-3 to the sink. Per-query results are
    * independent of batching, so the union of the micro-batch appends
    * hash-matches the one-shot batch oracle — the same
    * union==batch-answer contract q160 proves for streaming dedup.
    *
    * Scale: serving state is the materialized index (cells + codebook),
    * built ONCE before the stream starts; per batch the work is
    * O(|batch|·k) routing + cell-occupancy probes — no per-batch
    * training, no corpus rescans. This is the FAISS-server topology
    * expressed as foreachBatch over the shared artifact.
    */
  def q167StreamAnnServe(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    import graft.operators.{AnnIndex, Similarity}
    val ckptDir = java.nio.file.Files.createTempDirectory("graft-q167-ckpt")
    val srcDir = java.nio.file.Files.createTempDirectory("graft-q167-src")
    val outRoot = java.nio.file.Files.createTempDirectory("graft-q167-out")
    val outDir = outRoot.resolve("hits").toString
    val prevParts = s.conf.get("spark.sql.shuffle.partitions")
    s.conf.set("spark.sql.shuffle.partitions", "8")
    try {
      // stage the query stream as two single-file batches (query-id parity)
      val queries = graft.Tables.load(s, dir, "embeddings")
        .filter($"vec_id" % 100 === 0)
        .select($"vec_id", $"embedding")
      def stage(half: Int): Unit = {
        val tmp = srcDir.resolve(s"stage$half")
        queries.filter((($"vec_id" / 100) % 2).cast("int") === half)
          .coalesce(1).write.mode("overwrite").parquet(tmp.toString)
        val part = java.nio.file.Files.list(tmp).iterator()
        var moved = false
        while (part.hasNext && !moved) {
          val f = part.next()
          if (f.getFileName.toString.endsWith(".parquet")) {
            java.nio.file.Files.move(f, srcDir.resolve(s"batch$half.parquet"))
            moved = true
          }
        }
        FileTree.delete(tmp)
      }
      stage(0); stage(1)

      // serving state, built before the stream starts: broadcastable
      // codebook + the corpus at its home cell with vectors attached
      def widen(c: org.apache.spark.sql.Column) =
        transform(c, x => x.cast("double"))
      val cb = AnnIndex.codebook(s, dir, "b").persist()
      val e = graft.Tables.loadSpread(s, dir, "embeddings")
        .select($"vec_id", widen($"embedding").as("v"))
        .withColumn("nrm", Similarity.norm($"v"))
      val corpus = AnnIndex.cells(s, dir, "b", maxProbes = 1)
        .select($"vec_id", $"cell")
        .join(e, Seq("vec_id"))
        .select($"vec_id".as("neighbor_id"), $"cell",
          $"v".as("nv"), $"nrm".as("nn"))
        .persist()
      corpus.count()

      val outSchema = StructType(Seq(
        StructField("query_id", LongType), StructField("neighbor_id", LongType),
        StructField("cos_sim", DoubleType), StructField("rank", IntegerType)))
      s.createDataFrame(s.sparkContext.emptyRDD[org.apache.spark.sql.Row], outSchema)
        .write.mode("overwrite").parquet(outDir)

      val q = s.readStream
        .schema("vec_id LONG, embedding ARRAY<FLOAT>")
        .option("maxFilesPerTrigger", 1)
        .parquet(srcDir.toString)
        .writeStream.foreachBatch {
          (batch: Dataset[org.apache.spark.sql.Row], _: Long) =>
            val qv = batch.toDF()
              .select($"vec_id".as("query_id"), widen($"embedding").as("qv"))
              .withColumn("qn", Similarity.norm($"qv"))
            val wr = Window.partitionBy($"query_id")
              .orderBy($"csim".desc, $"centroid_id".asc)
            val routed = qv.crossJoin(broadcast(cb))
              .select($"query_id", $"qv", $"qn", $"centroid_id",
                round(Similarity.dot($"qv", $"cv") / ($"qn" * $"cnrm"), 6)
                  .as("csim"))
              .withColumn("rn", row_number().over(wr))
              .filter($"rn" <= 2)
              .select($"query_id", $"qv", $"qn", $"centroid_id".as("cell"))
            val wk = Window.partitionBy($"query_id")
              .orderBy($"cos_sim".desc, $"neighbor_id".asc)
            routed.join(corpus, Seq("cell"))
              .filter($"query_id" =!= $"neighbor_id")
              .select($"query_id", $"neighbor_id",
                round(Similarity.dot($"qv", $"nv") / ($"qn" * $"nn"), 6)
                  .as("cos_sim"))
              .withColumn("rank", row_number().over(wk))
              .filter($"rank" <= 3)
              .write.mode("append").parquet(outDir)
            ()
        }
        .option("checkpointLocation", ckptDir.toString)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      val out = s.read.parquet(outDir).orderBy($"query_id", $"rank")
      val rows = out.collect()
      cb.unpersist(false); corpus.unpersist(false)
      s.createDataFrame(java.util.Arrays.asList(rows: _*), out.schema)
    } finally {
      s.conf.set("spark.sql.shuffle.partitions", prevParts)
      FileTree.delete(ckptDir); FileTree.delete(srcDir); FileTree.delete(outRoot)
    }
  }

  /** q218: streaming index-drift monitor — q173's retrain decision run
    * ONLINE, the gauge an [[graft.operators.AnnIndex]]-shaped serving
    * stack runs against every candidate append batch BEFORE it lands:
    * the clustered base and its frozen quantization-error statistics
    * (exact-decimal mean + interpolated p95) are built once before the
    * stream starts — exactly the `_drift` artifact the batch index
    * persists — and each arriving micro-batch is scored against the
    * broadcast frozen codebook, reduced to its mean nearest-centroid
    * cosine distance, and stamped APPEND or REBUILD by the
    * max(p95, 2·mean) rule. Two staged batches make both arms observable:
    * an in-distribution delta (more members of the trained clusters)
    * must stamp `append`, a drifted delta (raw uniform-sphere vectors,
    * near-orthogonal to every centroid) must stamp `rebuild`. The
    * per-batch decision depends only on that batch's vectors, so the
    * union of the micro-batch emissions hash-matches the one-shot batch
    * oracle (q160/q167's union==batch contract). At 100 TB: monitor
    * state is two scalars + a ≤2 MB codebook; per batch one
    * O(|batch|·k) scoring pass — the streaming cost of never letting a
    * frozen-codebook index silently degrade.
    */
  def q218StreamDriftMonitor(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.operators.Similarity
    val ckptDir = java.nio.file.Files.createTempDirectory("graft-q218-ckpt")
    val srcDir = java.nio.file.Files.createTempDirectory("graft-q218-src")
    val outRoot = java.nio.file.Files.createTempDirectory("graft-q218-out")
    val outDir = outRoot.resolve("drift").toString
    val prevParts = s.conf.get("spark.sql.shuffle.partitions")
    s.conf.set("spark.sql.shuffle.partitions", "8")
    try {
      def widen(c: org.apache.spark.sql.Column) =
        transform(c, x => x.cast("double"))
      // the q173 clustered base: 6 anchors × 10 perturbed members
      val raw = graft.Tables.load(s, dir, "embeddings")
        .select($"vec_id", widen($"embedding").as("av"))
      val anchors = raw.filter($"vec_id" < 6)
      def members(lo: Int, hi: Int): DataFrame = anchors
        .crossJoin(s.range(lo, hi).toDF("j")) // bounded 6×10 product
        .select(($"vec_id" * 100 + $"j").as("vec_id"),
          transform($"av", x => x + lit(0.002) * $"j").as("v"))
      val base = members(0, 10).withColumn("nrm", Similarity.norm($"v"))
        .persist()
      val cb = Similarity.ivfCodebookOf(s, base.select($"vec_id", $"v"), "c")
        .persist()
      cb.count()
      def errOf(set: DataFrame): DataFrame = set.crossJoin(broadcast(cb))
        .select($"vec_id",
          round(Similarity.dot($"v", $"cv") / ($"nrm" * $"cnrm"), 6)
            .as("csim"))
        .groupBy($"vec_id").agg((lit(1.0) - max($"csim")).as("err"))
      // the frozen monitor state: two scalars, the streaming analogue
      // of AnnIndex's persisted `_drift` line
      val bs = errOf(base).agg(
        (sum($"err".cast(DecimalType(18, 6))).cast("double") /
          count(lit(1))).as("bmean"),
        expr("percentile(err, 0.95D)").as("bp95")).head()
      val (bmean, bp95) = (bs.getDouble(0), bs.getDouble(1))

      // stage the two candidate batches as single-file micro-batches
      val deltaIn = members(10, 20)
        .select(lit("delta_indist").as("side"), $"vec_id", $"v")
      val shifted = raw.filter($"vec_id" >= 100 && $"vec_id" < 140)
        .select(lit("delta_shifted").as("side"), $"vec_id", $"av".as("v"))
      def stage(idx: Int, df: DataFrame): Unit = {
        val tmp = srcDir.resolve(s"stage$idx")
        df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
        val part = java.nio.file.Files.list(tmp).iterator()
        var moved = false
        while (part.hasNext && !moved) {
          val f = part.next()
          if (f.getFileName.toString.endsWith(".parquet")) {
            java.nio.file.Files.move(f, srcDir.resolve(s"batch$idx.parquet"))
            moved = true
          }
        }
        FileTree.delete(tmp)
      }
      stage(0, deltaIn); stage(1, shifted)

      val outSchema = StructType(Seq(
        StructField("side", StringType), StructField("n_vecs", LongType),
        StructField("mean_err", DoubleType),
        StructField("threshold", DoubleType),
        StructField("decision", StringType)))
      s.createDataFrame(s.sparkContext.emptyRDD[org.apache.spark.sql.Row], outSchema)
        .write.mode("overwrite").parquet(outDir)

      val q = s.readStream
        .schema("side STRING, vec_id LONG, v ARRAY<DOUBLE>")
        .option("maxFilesPerTrigger", 1)
        .parquet(srcDir.toString)
        .writeStream.foreachBatch {
          (batch: Dataset[org.apache.spark.sql.Row], _: Long) =>
            val b = batch.toDF().withColumn("nrm", Similarity.norm($"v"))
            val errs = b.crossJoin(broadcast(cb))
              .select($"side", $"vec_id",
                round(Similarity.dot($"v", $"cv") / ($"nrm" * $"cnrm"), 6)
                  .as("csim"))
              .groupBy($"side", $"vec_id")
              .agg((lit(1.0) - max($"csim")).as("err"))
            errs.groupBy($"side")
              .agg(count(lit(1)).as("n_vecs"),
                (sum($"err".cast(DecimalType(18, 6))).cast("double") /
                  count(lit(1))).as("m"))
              .select($"side", $"n_vecs", round($"m", 6).as("mean_err"),
                round(greatest(lit(bp95), lit(bmean) * 2), 6).as("threshold"),
                when($"m" > greatest(lit(bp95), lit(bmean) * 2), lit("rebuild"))
                  .otherwise(lit("append")).as("decision"))
              .write.mode("append").parquet(outDir)
            ()
        }
        .option("checkpointLocation", ckptDir.toString)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      val out = s.read.parquet(outDir).orderBy($"side")
      val rows = out.collect()
      base.unpersist(false); cb.unpersist(false)
      s.createDataFrame(java.util.Arrays.asList(rows: _*), out.schema)
    } finally {
      s.conf.set("spark.sql.shuffle.partitions", prevParts)
      FileTree.delete(ckptDir); FileTree.delete(srcDir); FileTree.delete(outRoot)
    }
  }
}
