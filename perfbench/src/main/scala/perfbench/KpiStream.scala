package perfbench

import java.io.File

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import org.apache.spark.sql.types._

import graft.functions.KpiExprs
import graft.operators.FlowOps
import graft.streaming.StreamingKpi

/** Phase 3 streaming path: drain a pre-written backlog of event files (one
  * file = one micro-batch) through two bounded queries — watermarked
  * 1-minute tumbling KPIs over the packet view, and the per-flow IAT
  * keyed-state processor on RocksDB. */
final class KpiStream extends Workload {
  val name = "kpi_stream"

  import KpiStream._

  private var dir: File = _
  private var reference: Map[(String, Long), Row] = Map.empty
  // The benchmark's own listener, registered on the child session of a
  // traced drain.
  @volatile private var meter: Option[StreamMeter] = None

  def records: Long = Files.toLong * EventsPerFile

  def generate(root: File, seed: Long): Unit = {
    dir = new File(root, "events"); dir.mkdirs()
    val rnd = new java.util.SplittableRandom(seed)
    val slices = Array("embb", "urllc", "mmtc")
    var id = 0L
    // One JSON-lines file per micro-batch (the reference's Kafka feed
    // carries JSON events), stamped in time order: the file source replays
    // files by modification time.
    def write(f: Int, lines: Iterator[String]): Unit = {
      val file = new File(dir, f"events-$f%03d.json")
      Main.writeLines(file, lines)
      file.setLastModified(1700000000000L + f * 1000L)
    }
    (0 until Files).foreach { f =>
      // File f covers [f, f+1) × SecondsPerFile of event time, sorted, so
      // no event is ever behind the 10 s watermark.
      val ms = Array.fill(EventsPerFile)(
        (BaseEpoch + f * SecondsPerFile) * 1000L + rnd.nextLong(SecondsPerFile * 1000L)).sorted
      write(f, ms.iterator.map { t =>
        id += 1
        val s = rnd.nextInt(3)
        val len = s match {
          case 0 => 600 + rnd.nextInt(801)
          case 1 => 40 + rnd.nextInt(161)
          case _ => 20 + rnd.nextInt(101)
        }
        event(id, t, rnd.nextLong(Flows), slices(s), len.toDouble, s"""{"k": ${rnd.nextInt(64)}}""")
      })
    }
    // The sentinel: one far-future event that lifts the watermark past
    // every real window, so append mode emits them all.
    write(Files, Iterator.single(
      event(-1L, (BaseEpoch + Files * SecondsPerFile + 600) * 1000L, -1L, Sentinel, 0.0, "{}")))
  }

  private def event(id: Long, ms: Long, flow: Long, slice: String, len: Double, props: String): String =
    s"""{"event_id":$id,"ts":"${java.time.Instant.ofEpochMilli(ms)}","user_id":$flow,""" +
      s""""event_type":"$slice","value":$len,"props":"${props.replace("\"", "\\\"")}"}"""

  /** Tumbling 1-minute KPIs over the packet view: every KPI streaming can
    * aggregate (no IAT — lag is not a streaming operator — and no exact
    * distinct counts). */
  private def tumbling(events: DataFrame): DataFrame = {
    val kpis = StreamKpis
    FlowOps.packetView(events)
      .groupBy(col("slice"), window(col("ts"), "1 minute").as("w"))
      .agg(kpis.head.sparkNamed, kpis.tail.map(_.sparkNamed): _*)
      .select(col("slice") +: col("w.start").as("window_start") +: kpis.map(k => col(k.name)): _*)
  }

  private def stream(s2: SparkSession): DataFrame =
    s2.readStream.schema(Schema).option("maxFilesPerTrigger", 1).json(dir.getAbsolutePath)

  def prepare(spark: SparkSession): Unit = {
    val batch = tumbling(spark.read.schema(Schema).json(dir.getAbsolutePath))
      .filter(col("slice") =!= Sentinel)
    reference = batch.collect().map(r => (r.getAs[String]("slice"),
      r.getAs[java.sql.Timestamp]("window_start").getTime) -> r).toMap
  }

  private def conf(ckpt: File, extra: Map[String, String]): Map[String, String] =
    extra + ("spark.sql.streaming.checkpointLocation" -> ckpt.getAbsolutePath)

  private def build(f: SparkSession => DataFrame): SparkSession => DataFrame = { s2 =>
    meter.foreach(m => s2.streams.addListener(m))
    f(s2)
  }

  import Main.timed

  // Wall seconds of the last iteration's two drains (tumbling, IAT).
  private var drainS = Seq.empty[Double]

  def iterate(spark: SparkSession, scratch: File, tr: Option[Tracer]): Iter = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    def span[T](n: String)(b: => T): T = tr.fold(b)(_.span(n)(b))
    // Fresh checkpoints per iteration: every batch is really executed. The
    // two queries drain concurrently, as in one streaming application.
    val (((kpiOut, kpiProg), kpiS), ((iatOut, iatProg), iatS)) = span("streaming.runBoundedWithProgress") {
      val iat = Future(timed(StreamingKpi.runBoundedWithProgress(spark,
        build(s2 => StreamingKpi.flowIatTws(s2, stream(s2)).toDF()),
        "bench_iat", OutputMode.Append, conf(new File(scratch, "iat"), StreamingKpi.TwsConf))))
      val kpi = timed(StreamingKpi.runBoundedWithProgress(spark,
        build(s2 => tumbling(stream(s2).withWatermark("ts", "10 seconds"))),
        "bench_kpi", OutputMode.Append, conf(new File(scratch, "kpi"), Map.empty)))
      (kpi, Await.result(iat, Duration.Inf))
    }
    drainS = Seq(kpiS, iatS)
    span("check") {
      val drained = kpiOut.filter(col("slice") =!= Sentinel).collect()
      val matching = drained.count { r =>
        reference.get((r.getAs[String]("slice"), r.getAs[java.sql.Timestamp]("window_start").getTime))
          .exists(ref => StreamKpis.forall(k => ref.getAs[Any](k.name) == r.getAs[Any](k.name)))
      }
      val iatRows = iatOut.count()
      val batches = kpiProg.size + iatProg.size
      val stateRows = iatProg.map(_.stateRows).max
      val events = drained.map(_.getAs[Long]("Total_Packets")).sum
      val failure =
        if (drained.length != reference.size) s"drained ${drained.length} windows, batch has ${reference.size}"
        else if (events != records) s"windows hold $events events, $records were written"
        else if (matching != reference.size) s"${reference.size - matching} windows differ from the batch KPIs"
        else if (iatRows != records + 1) s"IAT rows $iatRows != ${records + 1}"
        else if (kpiProg.size < Files + 1 || iatProg.size < Files + 1) s"only $batches batches for ${Files + 1} files"
        else if (stateRows <= 0) "no keyed state after the IAT drain"
        else ""
      Iter(failure.isEmpty, failure, (kpiProg ++ iatProg).map(_.triggerMs.toDouble),
        matching.toDouble / reference.size, Map("batches_per_iteration" -> batches.toDouble))
    }
  }

  def layers(spark: SparkSession, scratch: () => File, tr: Tracer, engine: EngineMeter): Map[String, Double] = {
    val m = new StreamMeter
    meter = Some(m)
    val t0 = System.nanoTime()
    val it = try tr.span("layers.drain")(iterate(spark, scratch(), Some(tr))) finally meter = None
    val wall = (System.nanoTime() - t0) / 1e9
    require(it.ok, it.failure)
    val b = m.snapshot
    def p50(f: StreamMeter.Batch => Long) = Stats.median(b.map(f(_).toDouble))
    Map(
      "streaming.add_batch_ms_p50" -> p50(_.addBatchMs),
      "streaming.planning_ms_p50" -> p50(_.planningMs),
      "streaming.wal_commit_ms_p50" -> p50(_.walCommitMs),
      "streaming.state_commit_ms_p50" -> p50(_.stateCommitMs),
      "streaming.state_rows" -> b.map(_.stateRows).max.toDouble,
      "streaming.state_mem_bytes" -> b.map(_.stateMemBytes).max.toDouble,
      "streaming.rows_updated" -> b.map(_.rowsUpdated).sum.toDouble,
      "streaming.batches" -> b.size.toDouble,
      // Drain time outside the micro-batches: query start, stop and
      // collecting the memory sink, summed over both queries.
      "streaming.sink_collect_s" -> (drainS.sum - b.map(_.triggerMs).sum / 1000.0),
      "trace.layer_share" -> tr.durations("streaming.runBoundedWithProgress").last / wall)
  }
}

object KpiStream {
  val Files = 2
  val EventsPerFile = 10000
  val SecondsPerFile = 60L
  val Flows = 2000L
  val BaseEpoch = 1700000000L
  val Sentinel = "__wm__"

  val Schema: StructType = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", TimestampType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType), StructField("props", StringType)))

  /** The KPIs a streaming aggregation can maintain incrementally. */
  val StreamKpis: Seq[KpiExprs.Kpi] = {
    val iatBased = Set("Byte_Velocity", "Avg_IAT", "Jitter", "IAT_Skewness", "IAT_Kurtosis",
      "Min_IAT", "Max_IAT", "IAT_PAPR", "Idle_Periods", "Idle_Rate", "IAT_Median")
    val distinct = Set("Unique_Pkt_Sizes", "Protocol_Diversity", "Unique_Src_Ports",
      "Unique_Dst_Ports", "Retransmission_Ratio")
    KpiExprs.kpis(idleThr = 0.1, smallLen = 100.0, largeLen = 1400.0)
      .filterNot(k => iatBased(k.name) || distinct(k.name))
  }
}
