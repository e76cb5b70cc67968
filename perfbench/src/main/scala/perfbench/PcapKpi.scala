package perfbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.KpiExprs
import graft.operators.FlowOps
import graft.sources.Pcap

/** Phase 2+3 batch path: decode a seeded PCAP corpus (3 slice directories)
  * with `spark.read.format("pcap")`, sequence each (slice, flow) with the
  * lag IAT, and build the full KPI table per (slice, second). */
final class PcapKpi extends Workload {
  val name = "pcap_kpi"

  import PcapKpi._

  private var dirs: Seq[File] = Nil
  // Ground truth per (slice, second): packets and captured bytes.
  private var truth: Map[(String, Long), (Long, Long)] = Map.empty
  private var fileBytes = 0L

  def records: Long = TotalPackets

  def generate(dir: File, seed: Long): Unit = {
    val rnd = new java.util.SplittableRandom(seed)
    val counts = mutable.HashMap.empty[(String, Long), (Long, Long)]
    dirs = Slices.map { sl =>
      val d = new File(dir, sl.name); d.mkdirs()
      val pkts = slicePackets(sl, rnd.split())
      pkts.foreach { p =>
        val k = (sl.name, p._1)
        val (n, b) = counts.getOrElse(k, (0L, 0L))
        counts(k) = (n + 1, b + captured(p))
      }
      // Contiguous time ranges per file, so every file is a valid capture.
      pkts.grouped((pkts.length + FilesPerSlice - 1) / FilesPerSlice).zipWithIndex
        .foreach { case (chunk, i) =>
          java.nio.file.Files.write(new File(d, f"part-$i%02d.pcap").toPath,
            Pcap.synthesize(chunk))
        }
      d
    }
    truth = counts.toMap
    fileBytes = dirs.flatMap(_.listFiles).map(_.length).sum
  }

  def prepare(spark: SparkSession): Unit = ()

  /** Decoded packets in the canonical packet-view columns. The TCP
    * sequence number doubles as the ordering tie-break (`event_id`): the
    * generator never puts two packets of one flow on the same instant. */
  private def decoded(spark: SparkSession): DataFrame =
    spark.read.format("pcap").load(dirs.map(_.getAbsolutePath): _*)
      .select(col("sliceType").as("slice"), col("flowId").as("flow"),
        col("timestamp").as("ts_sec"), col("capturedLen").cast("double").as("len"),
        col("protocol").as("proto"), col("srcPort").as("src_port"),
        col("dstPort").as("dst_port"), col("tcpWindow").cast("double").as("win_size"),
        col("tcpFlags").as("flags"), col("tcpSeq").as("seq"),
        col("tcpSeq").as("event_id"))

  private def kpiTable(seqd: DataFrame): DataFrame = {
    val kpis = KpiExprs.kpis(idleThr = 0.1, smallLen = 100.0, largeLen = 1400.0)
    seqd.groupBy(col("slice"), floor(col("ts_sec")).cast("long").as("sec"))
      .agg(kpis.head.sparkNamed, kpis.tail.map(_.sparkNamed): _*)
  }

  private def check(rows: Array[Row]): Iter = {
    val expectedRows = Slices.size * Seconds
    val total = rows.map(_.getAs[Long]("Total_Packets")).sum
    val matching = rows.count { r =>
      truth.get((r.getAs[String]("slice"), r.getAs[Long]("sec"))).exists {
        case (n, b) => r.getAs[Long]("Total_Packets") == n && r.getAs[Double]("Total_Bytes") == b.toDouble
      }
    }
    val failure =
      if (rows.length != expectedRows) s"rows ${rows.length} != $expectedRows"
      else if (total != TotalPackets) s"sum(Total_Packets) $total != $TotalPackets"
      else if (matching != expectedRows) s"${expectedRows - matching} rows disagree with the generator"
      else ""
    Iter(failure.isEmpty, failure, Nil, matching.toDouble / expectedRows, Map.empty)
  }

  def iterate(spark: SparkSession, scratch: File, tr: Option[Tracer]): Iter = {
    def span[T](n: String)(b: => T): T = tr.fold(b)(_.span(n)(b))
    val pkt = span("sources.pcap_read")(decoded(spark))
    val seqd = span("operators.FlowOps.withIat")(FlowOps.withIat(pkt))
    val table = span("functions.KpiExprs.kpis")(kpiTable(seqd))
    check(span("action.collect")(table.collect()))
  }

  def layers(spark: SparkSession, scratch: () => File, tr: Tracer, engine: EngineMeter): Map[String, Double] = {
    def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
    // Cumulative prefixes of the same pipeline over the same input, each
    // run twice (median): decode → decode+IAT → full table.
    def prefix(n: String)(body: => Unit): Double = {
      (1 to 2).foreach(_ => tr.span(n)(body))
      Stats.median(tr.durations(n))
    }
    val decodeS = prefix("prefix.decode")(noop(decoded(spark)))
    val iatS = prefix("prefix.decode_iat")(noop(FlowOps.withIat(decoded(spark))))
    var table: DataFrame = null
    val fullS = prefix("prefix.full") {
      table = kpiTable(FlowOps.withIat(decoded(spark)))
      check(table.collect())
    }
    val plan = Plans.metrics(table)
    val expandOut = plan.collect { case ("Expand", m) => m.getOrElse("numOutputRows", 0L) }.sum
    val iterS = Stats.median(tr.durations(s"$name.iteration"))
    Map(
      "sources.decode_s" -> decodeS,
      "sources.packets_decoded" -> plan.collect { case (n, m) if n.contains("BatchScan") =>
        m.getOrElse("numOutputRows", 0L) }.sum.toDouble,
      "sources.bytes_read" -> fileBytes.toDouble,
      "operators.sequence_s" -> (iatS - decodeS),
      "functions.kpi_agg_s" -> (fullS - iatS),
      "functions.agg_rows_in" -> TotalPackets.toDouble,
      "functions.expand_ratio" -> expandOut.toDouble / TotalPackets,
      "trace.layer_share" -> fullS / iterS)
  }
}

object PcapKpi {
  final case class SliceProfile(name: String, meanIatS: Double, minPayload: Int,
                                maxPayload: Int, tcpShare: Double, dstPort: Int)

  // eMBB: bulk transfers; URLLC: small, tightly spaced; mMTC: tiny, sparse.
  val Slices = Seq(
    SliceProfile("embb", 0.02, 600, 1400, 0.8, 443),
    SliceProfile("urllc", 0.005, 40, 200, 0.3, 5060),
    SliceProfile("mmtc", 0.3, 20, 120, 0.5, 1883))
  val Seconds = 30
  val FlowsPerSlice = 200
  val PacketsPerFlow = 8
  val FilesPerSlice = 4
  val BaseEpoch = 1700000000L
  val TotalPackets: Long = Slices.size.toLong * (FlowsPerSlice * PacketsPerFlow + Seconds)

  type Spec = (Long, Long, Int, Int, Int, Int, Int, Long, Int, Int, Int)

  private def captured(p: Spec): Long = 14 + 20 + (if (p._7 == 6) 20 else 8) + p._11

  /** One slice's packets in time order; timestamps are whole microseconds.
    * Every flow sends PacketsPerFlow packets, plus one heartbeat packet per
    * second so every (slice, second) window is populated. */
  def slicePackets(sl: SliceProfile, rnd: java.util.SplittableRandom): IndexedSeq[Spec] = {
    val horizonUs = Seconds * 1000000L
    val out = mutable.ArrayBuffer.empty[(Long, Spec)]
    var seq = 1L
    (0 until FlowsPerSlice).foreach { f =>
      val so = 1 + f % 250
      val dst = 1 + f / 250
      val sport = 1024 + rnd.nextInt(60000)
      val proto = if (rnd.nextDouble() < sl.tcpShare) 6 else 17
      var t = rnd.nextLong(horizonUs)
      var lastSeq = seq
      (0 until PacketsPerFlow).foreach { _ =>
        // Exponential gaps of at least 1 µs; a flow running past the
        // horizon wraps to the start (fixed packet count per flow).
        t = (t + 1 + (-math.log(1 - rnd.nextDouble()) * sl.meanIatS * 1e6).toLong) % horizonUs
        val payload = sl.minPayload + rnd.nextInt(sl.maxPayload - sl.minPayload + 1)
        // ~2% TCP retransmissions reuse the previous sequence number.
        val pseq = if (proto == 6 && rnd.nextDouble() < 0.02) lastSeq else { seq += 1; seq }
        lastSeq = pseq
        val flags = if (proto != 6) 0 else if (rnd.nextDouble() < 0.01) 0x04 else 0x10
        val win = if (proto != 6) 0 else if (rnd.nextDouble() < 0.02) 0 else 1024 * (1 + rnd.nextInt(64))
        val us = BaseEpoch * 1000000L + t
        out += ((us, (us / 1000000L, us % 1000000L, so, dst, sport, sl.dstPort, proto,
          pseq, flags, win, payload)))
      }
    }
    (0 until Seconds).foreach { s =>
      val us = (BaseEpoch + s) * 1000000L + 500000L
      seq += 1
      out += ((us, (us / 1000000L, us % 1000000L, 254, 254, 9, 9, 17, seq, 0, 0, 32)))
    }
    out.sortBy(_._1).map(_._2).toIndexedSeq
  }
}
