package graft

import java.sql.Timestamp

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StreamingQueryListener}

import graft.streaming.StreamingKpi

/** Streaming semantics spec (SURVEY §5.4): MemoryStream-driven watermark
  * late-drop, append finalization, and keyed-state IAT across batches. */
class StreamingKpiSpec extends SparkSpec {
  import spark.implicits._

  private def ts(sec: Long) = new Timestamp(sec * 1000)

  test("watermark drops events later than the delay in append mode") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Timestamp, String, Double)]
    val agg = mem.toDF().toDF("ts", "slice", "value")
      .withWatermark("ts", "10 seconds")
      .groupBy(col("slice"), window(col("ts"), "10 seconds"))
      .agg(count(lit(1)).as("n"))
      .select(col("slice"), col("window.start").as("ws"), col("n"))
    val q = agg.writeStream.format("memory").queryName("wm_test")
      .outputMode(OutputMode.Append).start()
    try {
      // batch 1: window [0,10) gets 2 events; watermark → 100-10 = 90
      mem.addData((ts(3), "a", 1.0), (ts(5), "a", 1.0), (ts(100), "a", 1.0))
      q.processAllAvailable()
      // batch 2: a LATE event for [0,10) — beyond watermark, must be dropped
      mem.addData((ts(7), "a", 99.0))
      q.processAllAvailable()
      // batch 3: advance watermark far enough to finalize [100,110)
      mem.addData((ts(200), "a", 1.0))
      q.processAllAvailable()
      val rows = spark.table("wm_test")
        .select("ws", "n").as[(Timestamp, Long)].collect().toMap
      assert(rows(ts(0)) == 2L, "late event must not inflate the closed window")
      assert(rows(ts(100)) == 1L)
    } finally q.stop()
  }

  test("dropDuplicatesWithinWatermark: dedups inside the delay, evicts state past it") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Timestamp, Long)]
    val dedup = mem.toDF().toDF("ts", "key")
      .withWatermark("ts", "10 seconds")
      .dropDuplicatesWithinWatermark("key")
    val q = dedup.writeStream.format("memory").queryName("ddwm_test")
      .outputMode(OutputMode.Append).start()
    try {
      // batch 1: key 1 twice within the delay → one row; watermark → 20-10=10
      mem.addData((ts(3), 1L), (ts(5), 1L), (ts(20), 2L))
      q.processAllAvailable()
      // batch 2: key 1 again at t=8 — its state (expires at 3+10=13) is
      // still live at watermark 10 → still deduped.
      mem.addData((ts(8), 1L))
      q.processAllAvailable()
      // batch 3: advance watermark past key 1's expiry, then re-emit key 1
      // — state was evicted, so the SAME key passes again. This is the
      // bounded-state contract: dedup guaranteed only within the delay
      // (stream_dedup's exact variant holds all keys instead).
      mem.addData((ts(100), 3L))
      q.processAllAvailable()
      mem.addData((ts(105), 1L))
      q.processAllAvailable()
      val keys = spark.table("ddwm_test").select("key")
        .as[Long].collect().toSeq
      assert(keys.sorted == Seq(1L, 1L, 2L, 3L),
        s"key 1 once per watermark epoch, keys 2/3 once: got $keys")
    } finally q.stop()
  }

  test("keyed-state IAT carries last-ts across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String, Long, Double)] // event_id, slice, flow, ts_sec
    val events = mem.toDF().toDF("event_id", "slice", "flow", "ts_sec")
      .select(col("event_id"), col("slice"), col("flow"), col("ts_sec"))
      .as[StreamingKpi.FlowEvent]
      .groupByKey(e => StreamingKpi.FlowKey(e.slice, e.flow))
      .flatMapGroupsWithState(OutputMode.Append,
        org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout)(StreamingKpi.iatFlatMap)
    val q = events.toDF().writeStream.format("memory").queryName("iat_test")
      .outputMode(OutputMode.Append).start()
    try {
      mem.addData((1L, "s", 1L, 10.0), (2L, "s", 1L, 12.0))
      q.processAllAvailable()
      mem.addData((3L, "s", 1L, 15.0)) // next batch: state must remember 12.0
      q.processAllAvailable()
      val iats = spark.table("iat_test")
        .select("event_id", "iat6").as[(Long, Double)].collect().toMap
      assert(iats(1L) == 0.0) // first packet of flow (quirk Q4)
      assert(iats(2L) == 2.0)
      assert(iats(3L) == 3.0) // across-batch state carry
    } finally q.stop()
  }

  test("transformWithState IAT: typed ValueState carries across batches") {
    // The Spark 4 stateful API (StatefulProcessor + ValueState) must show
    // the same cross-batch semantics as the legacy flatMapGroupsWithState
    // route above. RocksDB provider: transformWithState is RocksDB-only.
    implicit val sqlCtx = spark.sqlContext
    val provider = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(provider)
    spark.conf.set(provider,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val mem = MemoryStream[(Long, String, Long, Double)]
      val events = mem.toDF().toDF("event_id", "slice", "flow", "ts_sec")
        .as[StreamingKpi.FlowEvent]
        .groupByKey(e => StreamingKpi.FlowKey(e.slice, e.flow))
        .transformWithState(new StreamingKpi.IatProcessor,
          org.apache.spark.sql.streaming.TimeMode.None(), OutputMode.Append())
      val q = events.toDF().writeStream.format("memory").queryName("iat_tws_test")
        .outputMode(OutputMode.Append).start()
      try {
        mem.addData((1L, "s", 7L, 10.0), (2L, "s", 7L, 12.5))
        q.processAllAvailable()
        mem.addData((3L, "s", 7L, 16.0), (4L, "t", 7L, 20.0))
        q.processAllAvailable()
        val iats = spark.table("iat_tws_test")
          .select("event_id", "iat6").as[(Long, Double)].collect().toMap
        assert(iats(1L) == 0.0) // first packet of flow
        assert(iats(2L) == 2.5)
        assert(iats(3L) == 3.5) // typed ValueState carried across batches
        assert(iats(4L) == 0.0) // different key: fresh state
      } finally q.stop()
    } finally prev match {
      case Some(v) => spark.conf.set(provider, v)
      case None => spark.conf.unset(provider)
    }
  }

  test("keyed state runs identically on the RocksDB state store") {
    // HDFSBackedStateStoreProvider (default) keeps state on the heap — the
    // right choice for these bounded runs, but at 100 TB state the
    // production backend is RocksDB (off-heap, incremental checkpoints,
    // bounded memory). The jar ships with Spark; this pins that the keyed
    // IAT pipeline produces identical rows under it.
    val sfDir = "/root/testdata/sf0.001"
    val provider = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(provider)
    spark.conf.set(provider,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val rocks = StreamingKpi.runBounded(spark,
        s2 => StreamingKpi.flowIat(s2, StreamingKpi.eventsStream(s2, sfDir)).toDF(),
        "rocks_iat", OutputMode.Append)
      spark.conf.unset(provider)
      val heap = StreamingKpi.runBounded(spark,
        s2 => StreamingKpi.flowIat(s2, StreamingKpi.eventsStream(s2, sfDir)).toDF(),
        "heap_iat", OutputMode.Append)
      assert(rocks.count() == heap.count() && rocks.count() > 0)
      assert(rocks.except(heap).isEmpty && heap.except(rocks).isEmpty)
    } finally {
      prev match {
        case Some(v) => spark.conf.set(provider, v)
        case None => spark.conf.unset(provider)
      }
    }
  }

  test("progress listener reports per-batch telemetry (T7)") {
    val sfDir = "/root/testdata/sf0.001"
    val (rows, progress) = StreamingKpi.runBoundedWithProgress(spark,
      s2 => StreamingKpi.eventsStream(s2, sfDir)
        .groupBy(col("event_type"), window(col("ts"), "1 hour"))
        .agg(count(lit(1)).as("n"))
        .select(col("event_type"), col("window.start").as("ws"), col("n")),
      "prog_test", OutputMode.Complete)
    assert(rows.count() > 0)
    assert(progress.nonEmpty, "listener captured no batches")
    // Every input row is accounted for across micro-batches.
    val totalIn = progress.map(_.numInputRows).sum
    assert(totalIn == Tables.events(spark, sfDir).count(),
      s"progress input rows $totalIn != table size")
    // Batch ids are the monotone micro-batch sequence.
    assert(progress.map(_.batchId) == progress.map(_.batchId).sorted)
    // The windowed aggregate holds state: the store must report rows.
    assert(progress.last.stateRows > 0, "stateful query reported empty state")
  }

  test("ProgressLog.awaitTerminated wakes on the terminated event, false at the timeout") {
    val log = new StreamingKpi.ProgressLog
    val runId = java.util.UUID.randomUUID()
    @volatile var postedAt = 0L
    val poster = new Thread(() => {
      Thread.sleep(200)
      postedAt = System.nanoTime()
      log.onQueryTerminated(new StreamingQueryListener.QueryTerminatedEvent(
        java.util.UUID.randomUUID(), runId, None))
    })
    poster.start()
    assert(log.awaitTerminated(runId.toString, timeoutMs = 10000))
    val wokeMs = (System.nanoTime() - postedAt) / 1e6
    poster.join()
    assert(wokeMs < 1000, s"woke $wokeMs ms after the terminated event")
    // Already terminated: no wait at all.
    val t0 = System.nanoTime()
    assert(log.awaitTerminated(runId.toString, timeoutMs = 10000))
    assert((System.nanoTime() - t0) / 1e6 < 1000)
    // No event: false, and only once the timeout has passed.
    val t1 = System.nanoTime()
    assert(!log.awaitTerminated(java.util.UUID.randomUUID().toString, timeoutMs = 300))
    assert((System.nanoTime() - t1) / 1e6 >= 300)
  }

  test("a repeated streamed drain compiles no new classes") {
    // Child sessions share the JVM's codegen cache (Sessions.child): the
    // second identical drain must find every generated class compiled.
    val sfDir = "/root/testdata/sf0.001"
    def drain(): Long = StreamingKpi.runBounded(spark,
      s2 => StreamingKpi.flowIatTws(s2, StreamingKpi.eventsStream(s2, sfDir)).toDF(),
      "compile_once", OutputMode.Append, StreamingKpi.TwsConf).count()
    def compiles: Long =
      org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val n1 = drain()
    val c0 = compiles
    val n2 = drain()
    val added = compiles - c0
    assert(n1 > 0 && n2 == n1)
    assert(added == 0, s"the second identical drain compiled $added classes")
  }

  test("statePartitions: one per 25 000 input rows, at least 1, at most one per task slot") {
    val s2 = StreamingKpi.childSession(spark)
    def parts(sf: String) =
      StreamingKpi.statePartitions(StreamingKpi.eventsStream(s2, s"/root/testdata/$sf"))
    assert(parts("sf0.001") == 1) // 1 000 rows
    assert(parts("sf0.01") == 1) // 10 000 rows
    assert(parts("sf0.1") == 4) // 100 000 rows, local[4]
    // A source without a path counts no rows.
    implicit val sqlCtx = spark.sqlContext
    assert(StreamingKpi.statePartitions(MemoryStream[Long].toDF()) == 1)
  }

  test("bounded drains give the same rows on 1 and on 4 state partitions") {
    val sfDir = "/root/testdata/sf0.001"
    // Tumbling KPIs over the packet view: every KpiExprs KPI that needs no
    // IAT column (lag is not a streaming operator).
    val iatBased = Set("Byte_Velocity", "Avg_IAT", "Jitter", "IAT_Skewness",
      "IAT_Kurtosis", "Min_IAT", "Max_IAT", "IAT_PAPR", "Idle_Periods",
      "Idle_Rate", "IAT_Median")
    val kpis = graft.functions.KpiExprs.kpis(0.1, 100.0, 1400.0)
      .filterNot(k => iatBased(k.name))
    // State partitions each drain really ran with, from its progress.
    final class StatePartitions extends StreamingQueryListener {
      val seen = java.util.concurrent.ConcurrentHashMap.newKeySet[Long]()
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        Option(e.progress.stateOperators).getOrElse(Array.empty)
          .foreach(o => seen.add(o.numShufflePartitions))
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    }
    def drains(extraConf: Map[String, String]) = {
      val parts = new StatePartitions
      def watched(f: SparkSession => DataFrame): SparkSession => DataFrame = { s2 =>
        s2.streams.addListener(parts)
        f(s2)
      }
      val kpi = StreamingKpi.runBounded(spark, watched(s2 =>
        graft.operators.FlowOps.packetView(
          StreamingKpi.eventsStream(s2, sfDir).withWatermark("ts", "10 seconds"))
          .groupBy(col("slice"), window(col("ts"), "1 hour").as("w"))
          .agg(kpis.head.sparkNamed, kpis.tail.map(_.sparkNamed): _*)
          .select(col("slice") +: col("w.start").as("window_start") +:
            kpis.map(k => col(k.name)): _*)),
        "parts_kpi", OutputMode.Complete, extraConf)
      val iat = StreamingKpi.runBounded(spark, watched(s2 =>
        StreamingKpi.flowIatTws(s2, StreamingKpi.eventsStream(s2, sfDir)).toDF()),
        "parts_iat", OutputMode.Append, extraConf ++ StreamingKpi.TwsConf)
      (kpi, iat, parts.seen.asScala.toSet)
    }
    val (kpi1, iat1, parts1) = drains(Map.empty)
    val (kpi4, iat4, parts4) =
      drains(Map("spark.sql.shuffle.partitions" -> "4"))
    assert(parts1 == Set(1L) && parts4 == Set(4L), s"ran on $parts1 and $parts4")
    for ((a, b) <- Seq(kpi1 -> kpi4, iat1 -> iat4)) {
      assert(a.count() > 0 && a.count() == b.count())
      assert(a.except(b).isEmpty && b.except(a).isEmpty)
    }
  }

  test("stream-stream time-range join matches across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    val clicksMem = MemoryStream[(Long, Long, Timestamp)]
    val buysMem = MemoryStream[(Long, Long, Timestamp)]
    val clicks = clicksMem.toDF().toDF("click_id", "user_id", "click_ts")
      .withWatermark("click_ts", "10 seconds")
    val buys = buysMem.toDF().toDF("purchase_id", "p_user", "p_ts")
      .withWatermark("p_ts", "10 seconds")
    val joined = clicks.join(buys,
      col("user_id") === col("p_user") &&
        col("p_ts") > col("click_ts") &&
        col("p_ts") <= col("click_ts") + expr("INTERVAL 1 HOUR"))
      .select(col("click_id"), col("purchase_id"))
    val q = joined.writeStream.format("memory").queryName("ss_join")
      .outputMode(OutputMode.Append).start()
    try {
      // batch 1: a click, no purchase yet — click state must be retained
      clicksMem.addData((1L, 7L, ts(100)))
      q.processAllAvailable()
      // batch 2: in-window purchase (cross-batch match), out-of-window
      // purchase (same user, too late), and a different user
      buysMem.addData((10L, 7L, ts(160)), (11L, 7L, ts(100 + 3601)), (12L, 8L, ts(170)))
      q.processAllAvailable()
      val got = spark.table("ss_join")
        .as[(Long, Long)].collect().toSet
      assert(got == Set((1L, 10L)),
        s"expected only the in-window same-user pair, got $got")
    } finally q.stop()
  }

  test("transformWithState timers: sessions evicted when the watermark passes the gap") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val provider = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(provider)
    spark.conf.set(provider,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val mem = MemoryStream[(Timestamp, String, Long)]
      val events = mem.toDF().toDF("ts", "event_type", "user_id")
        .withWatermark("ts", "0 seconds")
      val sessions = StreamingKpi.sessionsTws(spark, events, gapSec = 30L)
      val q = sessions.toDF().writeStream.format("memory").queryName("tws_sessions")
        .outputMode(OutputMode.Append).start()
      try {
        def ts(sec: Long) = new Timestamp(sec * 1000L)
        // batch 1: two events of flow A within the gap — open session,
        // timer armed at 120+30; nothing may be emitted yet.
        mem.addData((ts(100), "s", 1L), (ts(120), "s", 1L))
        q.processAllAvailable()
        assert(spark.table("tws_sessions").isEmpty,
          "no eviction before the watermark reaches end+gap")
        // batch 2: flow A again at 140 (same session: 140 < 120+30 and the
        // watermark only now advances to 140) — the timer must RE-ARM to
        // 140+30, not fire at the stale 120+30.
        mem.addData((ts(140), "s", 1L))
        q.processAllAvailable()
        assert(spark.table("tws_sessions").isEmpty,
          "re-armed timer must not fire while the session can still grow")
        // batch 3: unrelated flow far in the future pushes the watermark
        // past 170 → flow A's timer fires, session evicted exactly once.
        mem.addData((ts(1000), "s", 2L))
        q.processAllAvailable()
        val got = spark.table("tws_sessions")
          .select("flow", "n_events", "start_sec6", "end_sec6")
          .as[(Long, Long, Double, Double)].collect().toSet
        assert(got == Set((1L, 3L, 100.0, 140.0)),
          s"expected flow 1's closed 3-event session [100,140], got $got")
      } finally q.stop()
    } finally prev match {
      case Some(v) => spark.conf.set(provider, v)
      case None => spark.conf.unset(provider)
    }
  }

  test("mergeSessions equals reference gaps-and-islands for random point sets") {
    // The processor folds arbitrary batch slices of a key's points into
    // its open-session state; correctness requires the fold to land on
    // the SAME islands a one-shot batch pass builds, for any slicing and
    // any arrival order. Property: merging randomly-shuffled singleton
    // points — in one shot AND incrementally over random batch splits —
    // equals the sorted-scan reference split at gap boundaries.
    val rnd = new scala.util.Random(20260813)
    val gapUs = 1000L
    for (_ <- 1 to 50) {
      val n = 1 + rnd.nextInt(60)
      val ts = Seq.fill(n)(rnd.nextInt(20000).toLong).distinct
      def point(t: Long) = StreamingKpi.OpenSession(t, t, 1L,
        new java.math.BigDecimal(java.lang.Double.toString(t * 0.25))
          .setScale(10, java.math.RoundingMode.HALF_UP).toPlainString)
      // reference: sort, split where the gap is >= gapUs
      val sorted = ts.sorted
      val islands = sorted.tail.foldLeft(Seq(Seq(sorted.head))) { (acc, t) =>
        if (t - acc.last.last < gapUs) acc.init :+ (acc.last :+ t)
        else acc :+ Seq(t)
      }.map { pts =>
        val sum = pts.map(t => new java.math.BigDecimal(
          java.lang.Double.toString(t * 0.25))
          .setScale(10, java.math.RoundingMode.HALF_UP))
          .reduce(_ add _)
        StreamingKpi.OpenSession(pts.min, pts.max, pts.size.toLong,
          sum.toPlainString)
      }
      val shuffled = rnd.shuffle(ts).map(point)
      // one-shot merge over an arbitrary arrival order
      val oneShot = StreamingKpi.mergeSessions(shuffled, gapUs)
      assert(oneShot.map(o => (o.startUs, o.endUs, o.n,
        new java.math.BigDecimal(o.sum))) ==
        islands.map(o => (o.startUs, o.endUs, o.n,
          new java.math.BigDecimal(o.sum))))
      // incremental merge over random batch splits (the streaming shape)
      val batches = shuffled.grouped(1 + rnd.nextInt(7)).toSeq
      val folded = batches.foldLeft(Seq.empty[StreamingKpi.OpenSession]) {
        (state, batch) => StreamingKpi.mergeSessions(state ++ batch, gapUs)
      }
      assert(folded.map(o => (o.startUs, o.endUs, o.n,
        new java.math.BigDecimal(o.sum))) ==
        islands.map(o => (o.startUs, o.endUs, o.n,
          new java.math.BigDecimal(o.sum))))
    }
  }

  test("SessionKpiProcessor: gap-split sessions close independently with exact sums") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val provider = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(provider)
    spark.conf.set(provider,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val mem = MemoryStream[(Timestamp, String, Double)]
      val events = mem.toDF().toDF("ts", "event_type", "value")
        .withWatermark("ts", "0 seconds")
      val sessions = StreamingKpi.sessionKpiTws(spark, events,
        gapUs = 30L * 1000000) // 30 s gap
      val q = sessions.toDF().writeStream.format("memory")
        .queryName("tws_kpi_sessions").outputMode(OutputMode.Append).start()
      try {
        def ts(sec: Long) = new Timestamp(sec * 1000L)
        // One batch, one key, TWO islands: [100,110] and [200,200] —
        // unlike SessionProcessor, the KPI processor must SPLIT on the
        // gap, close the first island once the watermark (200) passes
        // 110+30, and keep the second open (200+30 > 200).
        mem.addData((ts(100), "s", 0.1), (ts(110), "s", 0.2),
          (ts(200), "s", 0.3))
        q.processAllAvailable()
        val first = spark.table("tws_kpi_sessions")
          .select("slice", "start_us", "end_us", "n_events", "total_raw")
          .as[(String, Long, Long, Long, String)].collect().toSet
        assert(first.map(t => (t._1, t._2, t._3, t._4)) ==
          Set(("s", 100000000L, 110000000L, 2L)),
          s"expected only the first island closed, got $first")
        // Decimal accumulation is exact: 0.1 + 0.2 parses to exactly 0.3.
        assert(first.head._5.toDouble == 0.3)
        // A far-future row on ANOTHER key pushes the watermark past
        // 200+30 → the second island closes with its single event.
        mem.addData((ts(1000), "t", 9.9))
        q.processAllAvailable()
        val all = spark.table("tws_kpi_sessions")
          .select("slice", "start_us", "end_us", "n_events")
          .as[(String, Long, Long, Long)].collect().toSet
        assert(all == Set(
          ("s", 100000000L, 110000000L, 2L),
          ("s", 200000000L, 200000000L, 1L)),
          s"expected both islands closed, got $all")
      } finally q.stop()
    } finally prev match {
      case Some(v) => spark.conf.set(provider, v)
      case None => spark.conf.unset(provider)
    }
  }

  // -------------------------------------------------------------------
  // Checkpoint-restart durability (round-7 verdict #1): the one property
  // a production deployment of the stateful processors depends on — the
  // reference's own pipeline runs checkpointed (KafkaKpiPipeline.scala:
  // 191,296). Both tests stop a REAL checkpointed query mid-stream and
  // restart a second incarnation from the same checkpoint; MemoryStream
  // retains its buffer in-JVM, so recovery replays uncommitted offsets
  // exactly like a durable source would.
  // -------------------------------------------------------------------

  private def withRocksDb[A](body: => A): A = {
    val provider = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(provider)
    spark.conf.set(provider,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try body finally prev match {
      case Some(v) => spark.conf.set(provider, v)
      case None => spark.conf.unset(provider)
    }
  }

  test("IatProcessor ValueState survives a checkpoint restart") {
    implicit val sqlCtx = spark.sqlContext
    withRocksDb {
      val root = java.nio.file.Files.createTempDirectory("graft_iat_ckpt_")
        .toFile.getAbsolutePath
      def runSplit(split: Boolean): Map[Long, (Double, Double)] = {
        val tag = if (split) "split" else "single"
        val out = s"$root/out_$tag"
        val ckpt = s"$root/ckpt_$tag"
        val mem = MemoryStream[(Long, String, Long, Double)]
        def start() = mem.toDF().toDF("event_id", "slice", "flow", "ts_sec")
          .as[StreamingKpi.FlowEvent]
          .groupByKey(e => StreamingKpi.FlowKey(e.slice, e.flow))
          .transformWithState(new StreamingKpi.IatProcessor,
            org.apache.spark.sql.streaming.TimeMode.None(), OutputMode.Append())
          .toDF()
          .writeStream.format("parquet")
          .option("path", out).option("checkpointLocation", ckpt)
          .outputMode(OutputMode.Append).start()
        val half1 = Seq((1L, "s", 7L, 10.0), (2L, "s", 7L, 12.5))
        val half2 = Seq((3L, "s", 7L, 16.0), (4L, "s", 8L, 20.0))
        val q1 = start()
        try {
          mem.addData(half1: _*)
          if (!split) mem.addData(half2: _*)
          q1.processAllAvailable()
        } finally q1.stop()
        if (split) {
          // second incarnation, same checkpoint: lastTs for flow 7 (12.5)
          // must come back from RocksDB, not from reprocessing.
          val q2 = start()
          try {
            mem.addData(half2: _*)
            q2.processAllAvailable()
          } finally q2.stop()
        }
        spark.read.parquet(out)
          .select("event_id", "ts_sec6", "iat6")
          .as[(Long, Double, Double)].collect()
          .map(r => r._1 -> (r._2, r._3)).toMap
      }
      val restarted = runSplit(split = true)
      val single = runSplit(split = false)
      assert(restarted == single,
        s"restarted run diverged from single run:\n$restarted\nvs\n$single")
      // The across-restart carry specifically: flow 7's first post-restart
      // event sequences against pre-stop state (16.0 - 12.5), and a flow
      // first seen after the restart starts fresh.
      assert(restarted(3L)._2 == 3.5)
      assert(restarted(4L)._2 == 0.0)
      assert(restarted.size == 4, "exactly-once: no lost or duplicated rows")
    }
  }

  test("UserDigestProcessor MapState and ListState survive a checkpoint restart") {
    // The two non-Value state surfaces must restore across incarnations:
    // the per-type count map AND the rolling last-3 list both carry
    // pre-stop entries into the first post-restart event's digest.
    implicit val sqlCtx = spark.sqlContext
    withRocksDb {
      val root = java.nio.file.Files.createTempDirectory("graft_dig_ckpt_")
        .toFile.getAbsolutePath
      def runSplit(split: Boolean): Map[Long, (Long, Long)] = {
        val tag = if (split) "split" else "single"
        val out = s"$root/out_$tag"
        val ckpt = s"$root/ckpt_$tag"
        val mem = MemoryStream[(Long, Long, String, Long)]
        def start() = mem.toDF()
          .toDF("user_id", "event_id", "event_type", "ts_us")
          .as[StreamingKpi.UEvent]
          .groupByKey(_.user_id)
          .transformWithState(new StreamingKpi.UserDigestProcessor,
            org.apache.spark.sql.streaming.TimeMode.None(), OutputMode.Append())
          .toDF()
          .writeStream.format("parquet")
          .option("path", out).option("checkpointLocation", ckpt)
          .outputMode(OutputMode.Append).start()
        val half1 = Seq((1L, 10L, "click", 100L), (1L, 11L, "view", 110L),
          (1L, 12L, "click", 120L))
        val half2 = Seq((1L, 13L, "click", 130L), (2L, 14L, "view", 140L))
        val q1 = start()
        try {
          mem.addData(half1: _*)
          if (!split) mem.addData(half2: _*)
          q1.processAllAvailable()
        } finally q1.stop()
        if (split) {
          val q2 = start()
          try {
            mem.addData(half2: _*)
            q2.processAllAvailable()
          } finally q2.stop()
        }
        spark.read.parquet(out)
          .select("event_id", "type_seq", "recent3_sum")
          .as[(Long, Long, Long)].collect()
          .map(r => r._1 -> (r._2, r._3)).toMap
      }
      val restarted = runSplit(split = true)
      val single = runSplit(split = false)
      assert(restarted == single,
        s"restarted digest diverged:\n$restarted\nvs\n$single")
      // The across-restart carries specifically: event 13 is user 1's
      // THIRD click (MapState count 2 restored) and its rolling window
      // is 11+12+13 (ListState [10,11,12] restored, trimmed); user 2 is
      // fresh after the restart.
      assert(restarted(13L) == ((3L, 36L)))
      assert(restarted(14L) == ((1L, 14L)))
      assert(restarted.size == 5, "exactly-once: no lost or duplicated rows")
    }
  }

  test("legacy flatMapGroupsWithState GroupState survives a checkpoint restart") {
    // Same durability property as the IatProcessor test, on the LEGACY
    // keyed-state API and the default (HDFS-backed) state store — the two
    // IAT routes must be interchangeable in a checkpointed deployment.
    implicit val sqlCtx = spark.sqlContext
    val root = java.nio.file.Files.createTempDirectory("graft_iat_legacy_ckpt_")
      .toFile.getAbsolutePath
    val mem = MemoryStream[(Long, String, Long, Double)]
    def start() = mem.toDF().toDF("event_id", "slice", "flow", "ts_sec")
      .as[StreamingKpi.FlowEvent]
      .groupByKey(e => StreamingKpi.FlowKey(e.slice, e.flow))
      .flatMapGroupsWithState(OutputMode.Append,
        org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout)(
        StreamingKpi.iatFlatMap)
      .toDF()
      .writeStream.format("parquet")
      .option("path", s"$root/out").option("checkpointLocation", s"$root/ckpt")
      .outputMode(OutputMode.Append).start()
    val q1 = start()
    try {
      mem.addData((1L, "s", 7L, 10.0), (2L, "s", 7L, 12.5))
      q1.processAllAvailable()
    } finally q1.stop()
    val q2 = start()
    try {
      mem.addData((3L, "s", 7L, 16.0))
      q2.processAllAvailable()
    } finally q2.stop()
    val iats = spark.read.parquet(s"$root/out")
      .select("event_id", "iat6").as[(Long, Double)].collect().toMap
    assert(iats == Map(1L -> 0.0, 2L -> 2.5, 3L -> 3.5),
      s"GroupState must carry last-ts across the restart, got $iats")
  }

  test("SessionKpiProcessor: timer registered before stop fires after restart") {
    implicit val sqlCtx = spark.sqlContext
    withRocksDb {
      val root = java.nio.file.Files.createTempDirectory("graft_sess_ckpt_")
        .toFile.getAbsolutePath
      val out = s"$root/out"
      val ckpt = s"$root/ckpt"
      val outSchema = org.apache.spark.sql.Encoders
        .product[StreamingKpi.SessionKpiOut].schema
      val mem = MemoryStream[(Timestamp, String, Double)]
      def start() = StreamingKpi.sessionKpiTws(spark,
          mem.toDF().toDF("ts", "event_type", "value")
            .withColumn("user_id", lit(0L))
            .withWatermark("ts", "0 seconds"),
          gapUs = 30L * 1000000)
        .toDF()
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ckpt)
        .outputMode(OutputMode.Append).start()
      // Incarnation 1: open session [100,110] on slice "s" — the processor
      // registers an event-time timer at 110+30 s. Watermark (0 s delay)
      // reaches only 110, so nothing may be emitted before the stop.
      val q1 = start()
      try {
        mem.addData((ts(100), "s", 0.1), (ts(110), "s", 0.2))
        q1.processAllAvailable()
      } finally q1.stop()
      assert(spark.read.schema(outSchema).parquet(out).isEmpty,
        "no session may close before the watermark passes end+gap")
      // Incarnation 2, same checkpoint: a far-future row on ANOTHER slice
      // pushes the watermark past 140 s — the timer registered BEFORE the
      // stop must fire now, emitting the session assembled from restored
      // ValueState with its exact decimal sum intact.
      val q2 = start()
      try {
        mem.addData((ts(10000), "t", 9.9))
        q2.processAllAvailable()
      } finally q2.stop()
      val got = spark.read.schema(outSchema).parquet(out)
        .as[StreamingKpi.SessionKpiOut].collect().toSeq
      assert(got.map(o => (o.slice, o.start_us, o.end_us, o.n_events)) ==
        Seq(("s", 100000000L, 110000000L, 2L)),
        s"expected flow s's [100,110] session exactly once, got $got")
      assert(new java.math.BigDecimal(got.head.total_raw)
        .compareTo(new java.math.BigDecimal("0.3")) == 0,
        s"exact decimal sum must survive the restart, got ${got.head.total_raw}")
    }
  }

  test("SessionKpiProcessor output is independent of micro-batch boundaries") {
    // Round-7 verdict #4: mergeSessions is property-pinned pure, but here
    // the PROCESSOR itself runs the same layout through the real engine at
    // 1-file and N-file triggers — byte-identical emitted sessions either
    // way. Files are time-ordered (mtime-increasing) so neither run drops
    // anything as late; the last file is a far-future sentinel that closes
    // every real session. One session deliberately spans the file1/file2
    // boundary (gap 10 s < 30 s), so the split run must merge across
    // batches what the batched run sees at once.
    withRocksDb {
      import org.apache.spark.sql.types._
      val dir = java.nio.file.Files.createTempDirectory("graft_sess_bnd_")
        .toFile
      val schema = StructType(Seq(StructField("ts", TimestampType),
        StructField("event_type", StringType), StructField("value", DoubleType)))
      def write(name: String, mtime: Long, rows: (Long, String, Double)*): Unit = {
        val f = new java.io.File(dir, name)
        spark.createDataFrame(
          new java.util.ArrayList[org.apache.spark.sql.Row](
            java.util.Arrays.asList(rows.map(r =>
              org.apache.spark.sql.Row(ts(r._1), r._2, r._3)): _*)), schema)
          .coalesce(1).write.mode("overwrite")
          .parquet(s"${f.getAbsolutePath}.stage")
        val part = new java.io.File(s"${f.getAbsolutePath}.stage").listFiles()
          .find(p => p.getName.startsWith("part-") &&
            p.getName.endsWith(".parquet")).get
        java.nio.file.Files.move(part.toPath, f.toPath)
        java.nio.file.Files.setLastModifiedTime(f.toPath,
          java.nio.file.attribute.FileTime.fromMillis(mtime))
      }
      val t0 = System.currentTimeMillis()
      write("a.parquet", t0, (100L, "s", 0.1), (120L, "s", 0.2))
      write("b.parquet", t0 + 1000, (140L, "s", 0.4), (150L, "t", 1.0))
      write("c.parquet", t0 + 2000, (300L, "s", 0.8), (400L, "t", 1.5))
      write("z.parquet", t0 + 3000, (100000L, "__wm__", 0.0))
      def run(maxFiles: Int): Seq[(String, Long, Long, Long, String)] =
        StreamingKpi.runBounded(spark, s2 =>
          StreamingKpi.sessionKpiTws(s2,
            s2.readStream.schema(schema)
              .option("maxFilesPerTrigger", maxFiles)
              .parquet(dir.getAbsolutePath)
              .withColumn("user_id", lit(0L))
              .withWatermark("ts", "0 seconds"),
            gapUs = 30L * 1000000).toDF(),
          s"sess_bnd_$maxFiles", OutputMode.Append, StreamingKpi.TwsConf)
          .filter(col("slice") =!= "__wm__")
          .as[(String, Long, Long, Long, String)].collect().toSeq.sorted
      val perFile = run(1)
      val allAtOnce = run(100)
      assert(perFile == allAtOnce,
        s"batch boundaries changed the output:\n$perFile\nvs\n$allAtOnce")
      // Sanity on content, not just agreement: the boundary-spanning
      // session [100,140] merged (120→140 crosses files at gap 20 s <
      // 30 s, and 140 is not late: file a's watermark only reached 120).
      assert(perFile.map(t => (t._1, t._2, t._3, t._4)).toSet == Set(
        ("s", 100000000L, 140000000L, 3L),
        ("s", 300000000L, 300000000L, 1L),
        ("t", 150000000L, 150000000L, 1L),
        ("t", 400000000L, 400000000L, 1L)),
        s"unexpected sessions: $perFile")
    }
  }

  test("user digest (MapState+ListState) is batch-boundary independent") {
    // Per-row emission with running state: counts and the rolling last-3
    // window must carry across a micro-batch split exactly as they do in
    // one batch. File b's rows extend file a's users, so both the
    // MapState counts and the ListState window cross the boundary.
    withRocksDb {
      import org.apache.spark.sql.types._
      val dir = java.nio.file.Files.createTempDirectory("graft_dig_bnd_")
        .toFile
      val schema = StructType(Seq(StructField("ts", TimestampType),
        StructField("user_id", LongType), StructField("event_id", LongType),
        StructField("event_type", StringType)))
      def write(name: String, mtime: Long,
                rows: (Long, Long, Long, String)*): Unit = {
        val f = new java.io.File(dir, name)
        spark.createDataFrame(
          new java.util.ArrayList[org.apache.spark.sql.Row](
            java.util.Arrays.asList(rows.map(r =>
              org.apache.spark.sql.Row(ts(r._1), r._2, r._3, r._4)): _*)),
          schema)
          .coalesce(1).write.mode("overwrite")
          .parquet(s"${f.getAbsolutePath}.stage")
        val part = new java.io.File(s"${f.getAbsolutePath}.stage").listFiles()
          .find(p => p.getName.startsWith("part-") &&
            p.getName.endsWith(".parquet")).get
        java.nio.file.Files.move(part.toPath, f.toPath)
        java.nio.file.Files.setLastModifiedTime(f.toPath,
          java.nio.file.attribute.FileTime.fromMillis(mtime))
      }
      val t0 = System.currentTimeMillis()
      write("a.parquet", t0,
        (100L, 1L, 10L, "click"), (110L, 1L, 11L, "view"),
        (120L, 2L, 12L, "click"))
      write("b.parquet", t0 + 1000,
        (130L, 1L, 13L, "click"), (140L, 1L, 14L, "click"),
        (150L, 2L, 15L, "view"))
      def run(maxFiles: Int): Seq[(Long, Long, String, Long, Long)] =
        StreamingKpi.runBounded(spark, s2 =>
          StreamingKpi.userDigestTws(s2,
            s2.readStream.schema(schema)
              .option("maxFilesPerTrigger", maxFiles)
              .parquet(dir.getAbsolutePath)).toDF(),
          s"dig_bnd_$maxFiles", OutputMode.Append, StreamingKpi.TwsConf)
          .as[(Long, Long, String, Long, Long)].collect().toSeq.sorted
      val perFile = run(1)
      val allAtOnce = run(100)
      assert(perFile == allAtOnce,
        s"batch boundaries changed the digest:\n$perFile\nvs\n$allAtOnce")
      // Content: user 1's second click (id 13) is type_seq 2 with the
      // rolling window crossing the file boundary (10+11+13, then
      // 11+13+14).
      assert(perFile.toSet == Set(
        (10L, 1L, "click", 1L, 10L), (11L, 1L, "view", 1L, 21L),
        (12L, 2L, "click", 1L, 12L), (13L, 1L, "click", 2L, 34L),
        (14L, 1L, "click", 3L, 38L), (15L, 2L, "view", 1L, 27L)),
        s"unexpected digests: $perFile")
    }
  }

  test("union of two watermarked inputs finalizes on the MINIMUM watermark") {
    // Multi-input watermark coordination: after a union, the engine's
    // global watermark is the minimum across inputs — a window closes
    // only when EVERY input has passed it. Pin both directions: the
    // window stays open while one input lags (no premature finalize
    // from the fast input), then closes as soon as the laggard catches
    // up, counting rows from BOTH inputs.
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val mem1 = MemoryStream[java.sql.Timestamp]
    val mem2 = MemoryStream[java.sql.Timestamp]
    def side(m: MemoryStream[java.sql.Timestamp]) =
      m.toDF().toDF("ts").withWatermark("ts", "0 seconds")
    val q = side(mem1).union(side(mem2))
      .groupBy(window(col("ts"), "10 seconds"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("ws"), col("n"))
      .writeStream.format("memory").queryName("union_wm")
      .outputMode(OutputMode.Append).start()
    try {
      // Both inputs land in [100,110); input 1 races ahead to t=1000.
      mem1.addData(ts(101), ts(105), ts(1000))
      mem2.addData(ts(103))
      q.processAllAvailable()
      assert(spark.table("union_wm").isEmpty,
        "window [100,110) must NOT finalize while input 2's watermark " +
          "sits at 103 — the global watermark is the minimum")
      // Input 2 catches up: the window closes with rows from BOTH sides.
      mem2.addData(ts(1000))
      q.processAllAvailable()
      val out = spark.table("union_wm")
        .as[(java.sql.Timestamp, Long)].collect().toMap
      assert(out == Map(ts(100) -> 3L),
        s"expected [100,110) with 3 rows (2 from input 1 + 1 from " +
          s"input 2), got $out")
    } finally q.stop()
  }

  test("streaming tumbling aggregation equals the batch group-by") {
    val sfDir = "/root/testdata/sf0.001"
    val streamed = StreamingKpi.runBounded(spark,
      s2 => StreamingKpi.eventsStream(s2, sfDir)
        .groupBy(col("event_type"), window(col("ts"), "1 hour"))
        .agg(count(lit(1)).as("n"))
        .select(col("event_type"), col("window.start").as("ws"), col("n")),
      "sb_agree", OutputMode.Complete)
    val batch = Tables.events(spark, sfDir)
      .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("ws"))
      .agg(count(lit(1)).as("n"))
    assert(streamed.count() == batch.count())
    assert(streamed.except(batch).isEmpty && batch.except(streamed).isEmpty)
  }

  test("stream-stream join buffered state survives a checkpoint restart") {
    // The last stateful operator class without restart coverage: the
    // time-range inner join buffers unmatched rows in the state store, so
    // a purchase arriving AFTER a restart must still join a click that
    // was buffered BEFORE the stop (stream_join_funnel's production
    // deployment is checkpointed like every other query here).
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_ssj_ckpt_")
      .toFile.getAbsolutePath
    def run(split: Boolean): Set[(Long, Long, Long)] = {
      val tag = if (split) "split" else "single"
      val out = s"$root/out_$tag"
      val ckpt = s"$root/ckpt_$tag"
      val clicks = MemoryStream[(Long, Long, Long)]
      val purch = MemoryStream[(Long, Long, Long)]
      def start() = {
        val c = clicks.toDF().toDF("click_id", "user_id", "c_sec")
          .withColumn("c_ts", timestamp_seconds(col("c_sec")))
          .withWatermark("c_ts", "10 seconds")
        val p = purch.toDF().toDF("purchase_id", "p_user", "p_sec")
          .withColumn("p_ts", timestamp_seconds(col("p_sec")))
          .withWatermark("p_ts", "10 seconds")
        c.join(p, col("user_id") === col("p_user") &&
            col("p_ts") > col("c_ts") &&
            col("p_ts") <= col("c_ts") + expr("INTERVAL 1 HOUR"))
          .select(col("click_id"), col("purchase_id"), col("user_id"))
          .writeStream.format("parquet")
          .option("path", out).option("checkpointLocation", ckpt)
          .outputMode(OutputMode.Append).start()
      }
      val q1 = start()
      try {
        clicks.addData((1L, 7L, 100L), (2L, 8L, 110L))
        purch.addData((10L, 7L, 150L)) // joins click 1 before the stop
        if (!split) purch.addData((11L, 8L, 200L), (12L, 7L, 130L))
        q1.processAllAvailable()
      } finally q1.stop()
      if (split) {
        // Incarnation 2, same checkpoint: both purchases must match
        // clicks restored from the join's buffered state, not reingested.
        val q2 = start()
        try {
          purch.addData((11L, 8L, 200L), (12L, 7L, 130L))
          q2.processAllAvailable()
        } finally q2.stop()
      }
      spark.read.parquet(out)
        .select("click_id", "purchase_id", "user_id")
        .as[(Long, Long, Long)].collect().toSet
    }
    val restarted = run(split = true)
    val single = run(split = false)
    assert(restarted == single,
      s"restarted join diverged from single run:\n$restarted\nvs\n$single")
    assert(restarted == Set((1L, 10L, 7L), (1L, 12L, 7L), (2L, 11L, 8L)),
      "both post-restart purchases must join pre-stop buffered clicks")
  }

  test("left-outer join emits buffered clicks' null rows after a restart") {
    // The outer-specific restart property: a click buffered UNMATCHED
    // before the stop must produce its null-extended row from restored
    // state when the post-restart watermark passes its expiry — an
    // implementation that rebuilt join state from scratch on restart
    // would lose the click entirely (no output row at all), and one
    // that emitted eagerly at stop would produce it too early.
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_lo_ckpt_")
      .toFile.getAbsolutePath
    val clicks = MemoryStream[(Long, Long, Long)]
    val purch = MemoryStream[(Long, Long, Long)]
    def start() = {
      val c = clicks.toDF().toDF("click_id", "user_id", "c_sec")
        .withColumn("c_ts", timestamp_seconds(col("c_sec")))
        .withWatermark("c_ts", "10 seconds")
      val p = purch.toDF().toDF("purchase_id", "p_user", "p_sec")
        .withColumn("p_ts", timestamp_seconds(col("p_sec")))
        .withWatermark("p_ts", "10 seconds")
      c.join(p, col("user_id") === col("p_user") &&
          col("p_ts") > col("c_ts") &&
          col("p_ts") <= col("c_ts") + expr("INTERVAL 1 HOUR"), "left_outer")
        .select(col("click_id"), col("purchase_id"))
        .writeStream.format("parquet")
        .option("path", s"$root/out").option("checkpointLocation", s"$root/ckpt")
        .outputMode(OutputMode.Append).start()
    }
    val q1 = start()
    try {
      clicks.addData((1L, 7L, 100L), (2L, 8L, 110L))
      purch.addData((10L, 7L, 150L)) // click 1 matches; click 2 stays buffered
      q1.processAllAvailable()
    } finally q1.stop()
    val pre = spark.read.parquet(s"$root/out")
      .collect().map(r => (r.getLong(0), Option(r.get(1)))).toSet
    assert(!pre.contains((2L, None)),
      s"click 2's null row must not exist before its expiry, got $pre")
    val q2 = start()
    try {
      clicks.addData((99L, 999L, 10000L))
      purch.addData((98L, 998L, 10000L))
      q2.processAllAvailable()
    } finally q2.stop()
    val fin = spark.read.parquet(s"$root/out")
      .collect().map(r => (r.getLong(0), Option(r.get(1)))).toSet
    assert(fin == Set((1L, Some(10L)), (2L, None)),
      s"restart must emit exactly click 2's null row from restored " +
        s"buffered state, got $fin")
  }

  test("left-outer stream-stream join: null rows only at watermark expiry") {
    // The timing property the batch oracle can't see: an unmatched left
    // row's null-extended output must NOT exist before the watermark
    // passes its join-window upper bound, and must exist exactly once
    // after — and a matched row must never ALSO produce a null twin.
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val clicks = MemoryStream[(Long, Long, Long)]
    val purch = MemoryStream[(Long, Long, Long)]
    val c = clicks.toDF().toDF("click_id", "user_id", "c_sec")
      .withColumn("c_ts", timestamp_seconds(col("c_sec")))
      .withWatermark("c_ts", "10 seconds")
    val p = purch.toDF().toDF("purchase_id", "p_user", "p_sec")
      .withColumn("p_ts", timestamp_seconds(col("p_sec")))
      .withWatermark("p_ts", "10 seconds")
    val joined = c.join(p, col("user_id") === col("p_user") &&
        col("p_ts") > col("c_ts") &&
        col("p_ts") <= col("c_ts") + expr("INTERVAL 1 HOUR"), "left_outer")
      .select(col("click_id"), col("purchase_id"))
    val q = joined.writeStream.format("memory").queryName("lo_expiry")
      .outputMode(OutputMode.Append).start()
    try {
      clicks.addData((1L, 7L, 100L), (2L, 8L, 110L))
      purch.addData((10L, 7L, 150L)) // matches click 1; click 2 unmatched
      q.processAllAvailable()
      val mid = spark.table("lo_expiry")
        .collect().map(r => (r.getLong(0), Option(r.get(1)))).toSet
      assert(mid == Set((1L, Some(10L))),
        s"pre-expiry output must hold only the matched pair, got $mid")
      // Advance both watermarks past click 2's expiry (110 + 3600 + 10).
      clicks.addData((99L, 999L, 10000L))
      purch.addData((98L, 998L, 10000L))
      q.processAllAvailable()
      val fin = spark.table("lo_expiry")
        .collect().map(r => (r.getLong(0), Option(r.get(1)))).toSet
      assert(fin == Set((1L, Some(10L)), (2L, None)),
        s"expiry must add exactly click 2's null row, got $fin")
    } finally q.stop()
  }
}
