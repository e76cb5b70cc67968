package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{ExpiredTimerInfo, GroupState, GroupStateTimeout, ListState, MapState, OutputMode, StatefulProcessor, StreamingQueryListener, TTLConfig, TimeMode, TimerValues, ValueState}
import org.apache.spark.sql.types._

/** Structured-Streaming restatement of the reference's KPI pipeline
  * (`KafkaKpiPipeline.scala`), on the file source (no Kafka jar in this
  * environment — SURVEY §2.1 S5-S7: the file source preserves the event-time
  * /watermark semantics; swap `.format("kafka")` back in production).
  *
  * The driver's harness is batch-shaped (fn → DataFrame), so each streaming
  * query here runs BOUNDED: start over the sf directory, drain with
  * `processAllAvailable`, return the materialized memory-sink table. The
  * results are deterministic and equal to their batch twins, which makes
  * the streaming path DuckDB-oracle-checkable — the strongest correctness
  * statement available for streaming (batch/stream agreement, SURVEY §5.4).
  *
  * Unbounded production use: same plans with `writeStream.format("parquet")
  * .option("checkpointLocation", …).trigger(ProcessingTime(…))` — see
  * reference `KafkaKpiPipeline.scala:293-300` (S8).
  */
object StreamingKpi {

  /** Canonical schema for graft-WRITTEN event stream layouts (the sentinel
    * dirs in StreamingQueries): ts pinned to int64 ns so the streaming
    * source schema never depends on which physical layout the upstream
    * generator shipped (`graft.Tables.events` normalizes reads of the
    * generator's own file, which has carried both ns-int64 and µs
    * TIMESTAMP_NTZ across rounds). */
  val eventsRawSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", LongType), // ns epoch
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  /** File-source streaming scan of the events table. One file = one
    * micro-batch here; `maxFilesPerTrigger` is the file-source analogue of
    * the reference's `maxOffsetsPerTrigger` rate limit (:233). The
    * streaming source needs a declared schema; take the file's own footer
    * schema (one cheap batch footer read) so either physical ts layout
    * streams, then normalize exactly like the batch path. */
  def eventsStream(spark: SparkSession, sfDir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val fileSchema = spark.read.parquet(s"$sfDir/events.parquet").schema
    // The streaming file source wants a directory; the sf dirs hold one
    // flat file per table, so scan the dir with a glob pinned to events.
    graft.Tables.normEventsTs(
      spark.readStream
        .schema(fileSchema)
        .option("maxFilesPerTrigger", 1)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sfDir))
  }

  /** One micro-batch's progress snapshot (SURVEY §2.9 T7) — the fields the
    * reference's monitor loop polls from `lastProgress`
    * (`KafkaKpiPipeline.scala:315-333`): batch id, input volume, state
    * store size, trigger latency. */
  final case class BatchProgress(
      runId: String, batchId: Long, numInputRows: Long,
      stateRows: Long, stateBytes: Long, triggerMs: Long,
      stateRemoved: Long)

  /** Listener-based progress capture. Registered on the (isolated) child
    * session's StreamingQueryManager before start so no batch is missed;
    * events arrive asynchronously on the listener bus, so completeness is
    * established by waiting for the query's terminated event — every
    * progress event for a run precedes its termination event in bus order.
    * Unbounded production use: attach the same listener and stream
    * `snapshot` to a metrics sink instead of draining it once at stop. */
  final class ProgressLog extends StreamingQueryListener {
    private val buf = scala.collection.mutable.ArrayBuffer.empty[BatchProgress]
    private val done = scala.collection.mutable.Set.empty[String]

    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()

    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val st = Option(p.stateOperators).getOrElse(Array.empty)
      val trig = Option(p.durationMs.get("triggerExecution"))
        .map(_.longValue).getOrElse(0L)
      synchronized {
        buf += BatchProgress(p.runId.toString, p.batchId, p.numInputRows,
          st.map(_.numRowsTotal).sum, st.map(_.memoryUsedBytes).sum, trig,
          st.map(_.numRowsRemoved).sum)
      }
    }

    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
      synchronized { done += e.runId.toString }

    def snapshot(runId: String): Seq[BatchProgress] =
      synchronized(buf.filter(_.runId == runId).toSeq)

    def isTerminated(runId: String): Boolean = synchronized(done.contains(runId))

    /** Wait for the run's terminated event (bounded), so `snapshot` is
      * complete when this returns true. */
    def awaitTerminated(runId: String, timeoutMs: Long = 10000): Boolean = {
      val deadline = System.nanoTime() + timeoutMs * 1000000L
      while (!isTerminated(runId) && System.nanoTime() < deadline) Thread.sleep(20)
      isTerminated(runId)
    }
  }

  /** Run a bounded streaming query into a memory sink and return the result
    * table. Complete mode for aggregations (every window in the final
    * table), Append for stateful flatMap output.
    *
    * The stream is BUILT (via `build`) and run in an isolated child session:
    * stateful queries pay a per-state-partition constant every micro-batch
    * (store commit + snapshot + task), so the bounded drain wants 8 state
    * partitions (halves these drains vs 32 at sf0.1 state sizes, with
    * bit-identical results — all aggregates are partition-invariant by
    * construction), and that setting binds from the session conf at query
    * start. Mutating the shared session would race with any concurrently
    * started query; `newSession()` shares the SparkContext but isolates the
    * SQLConf. Parent runtime conf (e.g. a state-store-provider override) is
    * carried over, since `newSession` starts from builder-time defaults.
    * Unbounded production runs should size state partitions to state
    * volume, not cores. */
  def runBounded(spark: SparkSession, build: SparkSession => DataFrame,
                 name: String, mode: OutputMode,
                 extraConf: Map[String, String] = Map.empty): DataFrame =
    runBoundedWithProgress(spark, build, name, mode, extraConf)._1

  /** [[runBounded]] plus the per-batch progress telemetry (T7) the listener
    * observed while the query drained. `extraConf` entries land on the
    * ISOLATED child session only (e.g. a state-store-provider override for
    * one query), never on the caller's shared session. */
  def runBoundedWithProgress(
      spark: SparkSession, build: SparkSession => DataFrame,
      name: String, mode: OutputMode,
      extraConf: Map[String, String] = Map.empty): (DataFrame, Seq[BatchProgress]) = {
    val s2 = spark.newSession()
    spark.conf.getAll.foreach { case (k, v) =>
      // Static/read-only entries can't be set on a live session — skip.
      try s2.conf.set(k, v) catch { case _: Exception => () }
    }
    s2.conf.set("spark.sql.shuffle.partitions", "8")
    extraConf.foreach { case (k, v) => s2.conf.set(k, v) }
    // T7 telemetry: registered before start so batch 0 is captured.
    val progressLog = new ProgressLog
    s2.streams.addListener(progressLog)
    // Re-runs in one session: memory sink names must be fresh.
    val sink = s"${name}_${System.nanoTime()}"
    val q = build(s2).writeStream
      .format("memory")
      .queryName(sink)
      .outputMode(mode)
      .start()
    val progress = try {
      q.processAllAvailable()
      q.stop()
      // Progress events are async; the terminated event (which follows
      // every progress event of this run in bus order) marks completeness.
      progressLog.awaitTerminated(q.runId.toString)
      progressLog.snapshot(q.runId.toString)
    } finally {
      if (q.isActive) q.stop()
      s2.streams.removeListener(progressLog)
    }
    // Materialize and FREE the sink: memory-sink tables otherwise pile up
    // across the driver's repeated invocations and bloat the session. The
    // result rows return as a DataFrame of the PARENT session (the child's
    // catalog dies with it).
    val result = s2.table(sink)
    val rows = result.collect()
    val out = spark.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](java.util.Arrays.asList(rows: _*)),
      result.schema)
    s2.catalog.dropTempView(sink)
    (out, progress)
  }

  // ---------------------------------------------------------------------
  // Per-flow IAT via keyed state — the streaming-correct replacement for
  // the reference's illegal lag-in-streaming (quirk Q2; SURVEY §2.9 T8).
  // ---------------------------------------------------------------------

  case class FlowEvent(event_id: Long, slice: String, flow: Long, ts_sec: Double)
  case class FlowKey(slice: String, flow: Long)
  case class IatOut(event_id: Long, slice: String, flow: Long,
                    ts_sec6: Double, iat6: Double)

  /** Keyed state: last-seen timestamp per flow (the exact state the
    * reference's intended lag carries — `KafkaKpiPipeline.scala:86-96`).
    * Rows inside a batch are sorted by (ts, event_id) before sequencing:
    * event-time order within the batch, carry-over state across batches.
    * First packet of a flow gets IAT = 0.0 (quirk Q4, kept). */
  def iatFlatMap(key: FlowKey, rows: Iterator[FlowEvent],
                 state: GroupState[Double]): Iterator[IatOut] = {
    val (out, last) = sequenceIat(key, rows,
      if (state.exists) Some(state.get) else None)
    last.foreach(state.update)
    out.iterator
  }

  /** The IAT body shared by both keyed-state routes: sort one flow's rows
    * by (ts, event_id) and lag each against the previous ts, starting from
    * the flow's carried state `last0`; ts and IAT round to 1e-6. Returns
    * the rows and the flow's new last-seen ts. */
  private def sequenceIat(key: FlowKey, rows: Iterator[FlowEvent],
                          last0: Option[Double]): (Seq[IatOut], Option[Double]) = {
    var last = last0
    val out = rows.toSeq.sortBy(e => (e.ts_sec, e.event_id)).map { e =>
      val iat = last.map(e.ts_sec - _).getOrElse(0.0)
      last = Some(e.ts_sec)
      IatOut(e.event_id, key.slice, key.flow,
        math.floor(e.ts_sec * 1e6 + 0.5) / 1e6,
        math.floor(iat * 1e6 + 0.5) / 1e6)
    }
    (out, last)
  }

  /** Streaming per-flow IAT dataset (call on a streaming events frame). */
  def flowIat(spark: SparkSession, events: DataFrame): Dataset[IatOut] = {
    import spark.implicits._
    flowEvents(events)
      .groupByKey(e => FlowKey(e.slice, e.flow))
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(iatFlatMap)
  }

  private def flowEvents(events: DataFrame): Dataset[FlowEvent] = {
    import events.sparkSession.implicits._
    events
      .select(
        col("event_id"),
        col("event_type").as("slice"),
        col("user_id").as("flow"),
        (unix_micros(col("ts")) / lit(1e6)).as("ts_sec"))
      .as[FlowEvent]
  }

  /** [[iatFlatMap]] restated on Spark 4's `transformWithState` API — the
    * successor of `flatMapGroupsWithState` (typed state variables behind a
    * StatefulProcessorHandle, optional TTL/timers, RocksDB-only). The
    * per-flow state is one typed ValueState[Double] (last-seen ts); the
    * semantics — in-batch event-time sort, cross-batch carry, IAT 0.0 for
    * a flow's first packet — are identical, and the engine must prove it
    * by reproducing the same batch-lag oracle. */
  final class IatProcessor extends StatefulProcessor[FlowKey, FlowEvent, IatOut] {
    @transient private var lastTs: ValueState[Double] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      lastTs = getHandle.getValueState[Double]("lastTs",
        org.apache.spark.sql.Encoders.scalaDouble, TTLConfig.NONE)

    override def handleInputRows(key: FlowKey, rows: Iterator[FlowEvent],
        timerValues: TimerValues): Iterator[IatOut] = {
      val (out, last) = sequenceIat(key, rows,
        if (lastTs.exists()) Some(lastTs.get()) else None)
      last.foreach(lastTs.update)
      out.iterator
    }
  }

  /** Conf required by transformWithState: the operator's state schema
    * evolution rides RocksDB-only features. RocksDB changelog
    * checkpointing was MEASURED here and rejected (r22): at these state
    * sizes it cost +0.6 s per drain (changelog files + the mandatory
    * first snapshot per partition, on top of the store open) — it pays
    * off when snapshots are large, which bounded bench state never is;
    * production deployments with nontrivial state should enable it. */
  val TwsConf: Map[String, String] = Map(
    "spark.sql.streaming.stateStore.providerClass" ->
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")

  case class UEvent(user_id: Long, event_id: Long, event_type: String,
                    ts_us: Long)
  case class DigestOut(event_id: Long, user_id: Long, event_type: String,
                       type_seq: Long, recent3_sum: Long)

  /** The two `transformWithState` state surfaces the Value-state
    * processors don't touch — MapState (per-user per-event-type running
    * counts: a keyed sub-map inside one grouping key's state, the shape a
    * per-entity feature store uses) and ListState (the user's rolling
    * last-3 event ids). Emission is PER ROW with running values, so the
    * output is batch-boundary independent given ORDERED DELIVERY: rows
    * are (ts_us, event_id)-sorted only WITHIN a micro-batch, so the
    * digest of an event depends only on the user's event order as long
    * as no batch carries a timestamp earlier than an already-processed
    * batch (ADVICE r8). This precondition — shared with [[IatProcessor]]
    * — holds for the declared harness layout (the file source replays
    * one time-ordered capture; the boundary spec exercises a mid-stream
    * split); with genuinely out-of-order cross-batch input, divergence
    * from the batch oracle is EXPECTED, and the production answer is the
    * timer-evicting event-time processors below (SessionKpiProcessor),
    * which buffer in state until the watermark closes the window. */
  final class UserDigestProcessor
      extends StatefulProcessor[Long, UEvent, DigestOut] {
    @transient private var typeCounts: MapState[String, Long] = _
    @transient private var recent: ListState[Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      typeCounts = getHandle.getMapState[String, Long]("typeCounts",
        org.apache.spark.sql.Encoders.STRING,
        org.apache.spark.sql.Encoders.scalaLong, TTLConfig.NONE)
      recent = getHandle.getListState[Long]("recent",
        org.apache.spark.sql.Encoders.scalaLong, TTLConfig.NONE)
    }

    override def handleInputRows(key: Long, rows: Iterator[UEvent],
        timerValues: TimerValues): Iterator[DigestOut] = {
      val sorted = rows.toSeq.sortBy(e => (e.ts_us, e.event_id))
      val out = sorted.map { e =>
        val n = (if (typeCounts.containsKey(e.event_type))
          typeCounts.getValue(e.event_type) else 0L) + 1L
        typeCounts.updateValue(e.event_type, n)
        val upd = (recent.get().toSeq :+ e.event_id).takeRight(3)
        recent.put(upd.toArray)
        DigestOut(e.event_id, e.user_id, e.event_type, n, upd.sum)
      }
      out.iterator
    }
  }

  /** Per-user digest stream via [[UserDigestProcessor]]. */
  def userDigestTws(spark: SparkSession, events: DataFrame): Dataset[DigestOut] = {
    import spark.implicits._
    events.select(col("user_id"), col("event_id"), col("event_type"),
        unix_micros(col("ts")).as("ts_us"))
      .as[UEvent]
      .groupByKey(_.user_id)
      .transformWithState(new UserDigestProcessor, TimeMode.None(),
        OutputMode.Append())
  }

  /** Streaming per-flow IAT via [[IatProcessor]]. */
  def flowIatTws(spark: SparkSession, events: DataFrame): Dataset[IatOut] = {
    import spark.implicits._
    flowEvents(events)
      .groupByKey(e => FlowKey(e.slice, e.flow))
      .transformWithState(new IatProcessor, TimeMode.None(), OutputMode.Append())
  }

  // ---------------------------------------------------------------------
  // Event-time TIMER eviction — the transformWithState feature the IAT
  // twin doesn't touch.
  // ---------------------------------------------------------------------

  case class SessionEvent(slice: String, flow: Long, ts: java.sql.Timestamp)
  case class SessionOut(slice: String, flow: Long, n_events: Long,
                        start_sec6: Double, end_sec6: Double)

  /** Gap-closed session assembly with explicit, watermark-driven state
    * eviction: each flow's open session lives in one ValueState; every
    * batch extends it and re-registers an EVENT-TIME timer at
    * (session end + gap). When the watermark passes that instant the
    * session provably cannot grow any more — the timer fires,
    * [[handleExpiredTimer]] emits the closed session, and the state is
    * cleared. Bounded state with deterministic eviction is the 100 TB
    * sessionization shape; `stream_kpi_session` covers the
    * aggregation-only `session_window` form, this is the arbitrary-state
    * form (e.g. the reference's per-flow KPI accumulators,
    * `KafkaKpiPipeline.scala:86-96`, closed at flow end). */
  final class SessionProcessor(gapSec: Long)
      extends StatefulProcessor[FlowKey, SessionEvent, SessionOut] {
    @transient private var sess: ValueState[(Double, Double, Long)] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      sess = getHandle.getValueState[(Double, Double, Long)]("sess",
        org.apache.spark.sql.Encoders.product[(Double, Double, Long)],
        TTLConfig.NONE)

    override def handleInputRows(key: FlowKey, rows: Iterator[SessionEvent],
        timerValues: TimerValues): Iterator[SessionOut] = {
      val ts = rows.map(_.ts.getTime / 1000.0).toSeq
      if (ts.nonEmpty) {
        val (start, end, n) =
          if (sess.exists()) sess.get() else (ts.min, ts.min, 0L)
        val newEnd = math.max(end, ts.max)
        sess.update((math.min(start, ts.min), newEnd, n + ts.size))
        // One live timer per key: re-arm at the new session end + gap.
        getHandle.listTimers().foreach(getHandle.deleteTimer _)
        getHandle.registerTimer(((newEnd + gapSec) * 1000).toLong)
      }
      Iterator.empty
    }

    override def handleExpiredTimer(key: FlowKey, timerValues: TimerValues,
        expired: ExpiredTimerInfo): Iterator[SessionOut] = {
      if (!sess.exists()) Iterator.empty
      else {
        val (start, end, n) = sess.get()
        sess.clear()
        Iterator.single(SessionOut(key.slice, key.flow, n,
          math.floor(start * 1e6 + 0.5) / 1e6,
          math.floor(end * 1e6 + 0.5) / 1e6))
      }
    }
  }

  /** Timer-evicted sessions over a streaming events frame (must carry a
    * watermark on `ts` — event-time timers fire off the watermark). */
  def sessionsTws(spark: SparkSession, events: DataFrame,
                  gapSec: Long): Dataset[SessionOut] = {
    import spark.implicits._
    events
      .select(col("event_type").as("slice"), col("user_id").as("flow"), col("ts"))
      .as[SessionEvent]
      .groupByKey(e => FlowKey(e.slice, e.flow))
      .transformWithState(new SessionProcessor(gapSec),
        TimeMode.EventTime(), OutputMode.Append())
  }

  // ---------------------------------------------------------------------
  // Full session KPI through the timer path (round-6 verdict #6):
  // stream_kpi_session's gap-merge + value aggregation re-stated on the
  // timer-evicting processor, so the DECLARED query exercises the state-
  // cleanup path a 100 TB session workload lives on — not just the
  // built-in session_window aggregation.
  // ---------------------------------------------------------------------

  case class SessEvent(slice: String, ts: java.sql.Timestamp,
                       ts_us: Long, value: Double)

  /** One open (not yet watermark-closed) session. `sum` is the EXACT
    * decimal value total as a plain string: each event's double is
    * quantized exactly like `DetAgg.dsum`'s DECIMAL(38,10) cast (shortest
    * decimal repr, scale 10, HALF_UP) and added exactly, so the final
    * string→double parse lands on the identical bits the batch decimal
    * aggregate (and the DuckDB twin) produce — regardless of batch
    * boundaries or arrival order (decimal addition is exact, hence
    * order-free). */
  case class OpenSession(startUs: Long, endUs: Long, n: Long, sum: String)
  case class OpenSessions(sessions: Seq[OpenSession])
  case class SessionKpiOut(slice: String, start_us: Long, end_us: Long,
                           n_events: Long, total_raw: String)

  /** Gap-merged per-slice sessions with watermark-driven eviction — the
    * arbitrary-state form of the reference's windowed KPI accumulation
    * (reference `KafkaKpiPipeline.scala:99-165` aggregates per watermarked
    * window; here the "window" is a data-driven session and its state is
    * explicitly closed). State holds the open sessions; every batch folds
    * its rows in (interval merge at gap granularity — the same islands
    * the batch gaps-and-islands oracle builds) and re-arms ONE event-time
    * timer at the earliest still-open (end + gap). When the watermark passes that
    * instant the session provably cannot grow or merge any more — the
    * timer fires, every closed session is emitted and dropped from state,
    * and the timer re-arms for the rest. State is bounded by the number
    * of concurrently-open sessions per key, never by stream length. */
  final class SessionKpiProcessor(gapUs: Long)
      extends StatefulProcessor[String, SessEvent, SessionKpiOut] {
    @transient private var open: ValueState[OpenSessions] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      open = getHandle.getValueState[OpenSessions]("open",
        org.apache.spark.sql.Encoders.product[OpenSessions], TTLConfig.NONE)

    private def merge(all: Seq[OpenSession]): Seq[OpenSession] =
      mergeSessions(all, gapUs)

    /** Timer instant for a session: ceil((end+gap) µs → ms), so firing
      * (watermark ≥ timer) implies watermark µs ≥ end + gap — never a
      * sub-millisecond-early close. */
    private def closeMs(endUs: Long): Long = (endUs + gapUs + 999) / 1000

    private def rearm(sessions: Seq[OpenSession]): Unit = {
      getHandle.listTimers().foreach(getHandle.deleteTimer _)
      if (sessions.nonEmpty)
        getHandle.registerTimer(closeMs(sessions.map(_.endUs).min))
    }

    override def handleInputRows(key: String, rows: Iterator[SessEvent],
        timerValues: TimerValues): Iterator[SessionKpiOut] = {
      val pts = rows.map { e =>
        OpenSession(e.ts_us, e.ts_us, 1L,
          new java.math.BigDecimal(java.lang.Double.toString(e.value))
            .setScale(10, java.math.RoundingMode.HALF_UP).toPlainString)
      }.toSeq
      if (pts.nonEmpty) {
        val prev = if (open.exists()) open.get().sessions else Seq.empty
        val merged = merge(prev ++ pts)
        open.update(OpenSessions(merged))
        rearm(merged)
      }
      Iterator.empty
    }

    override def handleExpiredTimer(key: String, timerValues: TimerValues,
        expired: ExpiredTimerInfo): Iterator[SessionKpiOut] = {
      val wmUs = timerValues.getCurrentWatermarkInMs() * 1000
      val ss = if (open.exists()) open.get().sessions else Seq.empty
      val (closed, still) = ss.partition(o => o.endUs + gapUs <= wmUs)
      if (still.isEmpty) open.clear() else open.update(OpenSessions(still))
      rearm(still)
      closed.iterator.map(o =>
        SessionKpiOut(key, o.startUs, o.endUs, o.n, o.sum))
    }
  }

  /** Sort by start and merge every pair closer than the gap — points and
    * carried intervals alike (a point is a width-0 interval). Pure and
    * order-insensitive (decimal sums are exact, min/max/count are
    * commutative), which is what makes the processor's output independent
    * of batch boundaries; pinned against a reference gaps-and-islands
    * implementation in StreamingKpiSpec. */
  private[graft] def mergeSessions(all: Seq[OpenSession],
                                   gapUs: Long): Seq[OpenSession] = {
    def dec(s: String) = new java.math.BigDecimal(s)
    val sorted = all.sortBy(o => (o.startUs, o.endUs))
    val out = scala.collection.mutable.ArrayBuffer.empty[OpenSession]
    sorted.foreach { o =>
      if (out.nonEmpty && o.startUs - out.last.endUs < gapUs) {
        val p = out.remove(out.length - 1)
        out += OpenSession(p.startUs, math.max(p.endUs, o.endUs), p.n + o.n,
          dec(p.sum).add(dec(o.sum)).toPlainString)
      } else out += o
    }
    out.toSeq
  }

  /** Timer-evicted session KPIs over a streaming events frame (must carry
    * a watermark on `ts`). */
  def sessionKpiTws(spark: SparkSession, events: DataFrame,
                    gapUs: Long): Dataset[SessionKpiOut] = {
    import spark.implicits._
    events
      .select(col("event_type").as("slice"), col("ts"),
        unix_micros(col("ts")).as("ts_us"), col("value"))
      .as[SessEvent]
      .groupByKey(_.slice)
      .transformWithState(new SessionKpiProcessor(gapUs),
        TimeMode.EventTime(), OutputMode.Append())
  }
}
