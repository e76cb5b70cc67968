package graft.sources.v2

import java.util.{Map => JMap}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import graft.sources.Pcap

/** DataSource V2 PCAP reader — `spark.read.format("pcap").load(dir)`.
  *
  * The engine's file route to the reference's custom decode stage
  * (SURVEY §2.1 S2: "alternative: DataSource V2 custom reader"): the
  * reference's `binaryFiles → flatMap` shape
  * (`PcapKpiExtractor.scala:368-381`) with the decoder in
  * [[graft.sources.Pcap]] integrated into Catalyst:
  *
  *  - **one InputPartition per file** — parallelism = file count, exactly
  *    the reference's `minPartitions = nFiles` contract (`:369`);
  *  - **column pruning** via SupportsPushDownRequiredColumns — a KPI query
  *    that needs 5 of the 16 packet fields materializes 5 (an RDD of
  *    case-class rows always builds all 16);
  *  - rows are produced as InternalRow straight from the decode loop — no
  *    RDD, no Scala-object round-trip, no extra copy.
  *
  * Options: `maxPackets` (per-file decode cap, default = the reference's
  * 100 000), `pathGlobFilter`-style suffix filtering is implicit (only
  * `.pcap` files in a directory are scanned; a file path is taken as-is).
  * The slice tag is the parent directory name, as in the reference's HDFS
  * layout (`:316-339`).
  */
class PcapDataSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "pcap"

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    PcapTable.Schema

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: JMap[String, String]): Table =
    new PcapTable(properties)

  override def supportsExternalMetadata(): Boolean = false
}

object PcapTable {
  /** Flat packet schema — field-for-field the [[Pcap.PacketEvent]] row. */
  val Schema: StructType = StructType(Seq(
    StructField("sliceType", StringType),
    StructField("fileName", StringType),
    StructField("timestamp", DoubleType),
    StructField("timestampMs", LongType),
    StructField("capturedLen", IntegerType),
    StructField("originalLen", IntegerType),
    StructField("protocol", StringType),
    StructField("srcIp", StringType),
    StructField("dstIp", StringType),
    StructField("srcPort", IntegerType),
    StructField("dstPort", IntegerType),
    StructField("tcpSeq", LongType),
    StructField("tcpFlags", IntegerType),
    StructField("tcpWindow", IntegerType),
    StructField("ethertype", IntegerType),
    StructField("flowId", StringType)))

  /** Extract one schema field from a decoded packet. */
  def extractor(field: String): Pcap.PacketEvent => Any = field match {
    case "sliceType"   => e => UTF8String.fromString(e.sliceType)
    case "fileName"    => e => UTF8String.fromString(e.fileName)
    case "timestamp"   => e => e.timestamp
    case "timestampMs" => e => e.timestampMs
    case "capturedLen" => e => e.capturedLen
    case "originalLen" => e => e.originalLen
    case "protocol"    => e => UTF8String.fromString(e.protocol)
    case "srcIp"       => e => UTF8String.fromString(e.srcIp)
    case "dstIp"       => e => UTF8String.fromString(e.dstIp)
    case "srcPort"     => e => e.srcPort
    case "dstPort"     => e => e.dstPort
    case "tcpSeq"      => e => e.tcpSeq
    case "tcpFlags"    => e => e.tcpFlags
    case "tcpWindow"   => e => e.tcpWindow
    case "ethertype"   => e => e.ethertype
    case "flowId"      => e => UTF8String.fromString(e.flowId)
    case other => throw new IllegalArgumentException(s"unknown pcap field $other")
  }
}

class PcapTable(properties: JMap[String, String]) extends Table with SupportsRead {
  override def name(): String = "pcap"
  override def schema(): StructType = PcapTable.Schema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    val merged = new java.util.HashMap[String, String](properties)
    options.asCaseSensitiveMap().forEach((k, v) => merged.put(k, v))
    new PcapScanBuilder(merged.asScala.toMap)
  }
}

class PcapScanBuilder(options: Map[String, String])
  extends ScanBuilder with SupportsPushDownRequiredColumns {

  private var required: StructType = PcapTable.Schema

  override def pruneColumns(requiredSchema: StructType): Unit =
    // An empty projection (e.g. count(*)) still decodes rows — zero-column
    // InternalRows keep the row count correct.
    required = requiredSchema

  override def build(): Scan = {
    // load(p) passes "path" verbatim; load(p1, p2, …) passes "paths" as a
    // JSON string array — parse it as JSON (paths may contain commas or
    // quotes), not by splitting on ','.
    def expand(v: String): Seq[String] =
      if (v.trim.startsWith("[")) {
        val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
        mapper.readValue(v, classOf[Array[String]]).toSeq
      } else Seq(v)
    val paths = Seq("path", "paths").flatMap(k => options.get(k))
      .flatMap(expand).map(_.trim).filter(_.nonEmpty)
    require(paths.nonEmpty, "pcap source needs a path: spark.read.format(\"pcap\").load(dir)")
    val maxPackets = options.get("maxpackets").orElse(options.get("maxPackets"))
      .map(_.toInt).getOrElse(Pcap.MaxPacketsPerFile)
    // The session's Hadoop conf (fs.* settings, credentials), not a bare
    // `new Configuration()` — listed here, and shipped to the readers so a
    // non-local filesystem opens with the same settings.
    val hadoopConf = org.apache.spark.sql.SparkSession.active.sessionState.newHadoopConf()
    // Driver-side listing only (the reference's S1 stage): directories
    // expand to their .pcap children, files pass through.
    val fs = new Path(paths.head).getFileSystem(hadoopConf)
    // (path, on-disk bytes): the listing already holds the lengths, and
    // they feed the scan's statistics below.
    val files = paths.flatMap { p =>
      val path = new Path(p)
      val st = fs.getFileStatus(path)
      if (st.isDirectory)
        fs.listStatus(path).toSeq
          .filter(x => x.isFile && x.getPath.getName.endsWith(".pcap"))
          .map(x => (x.getPath.toString, x.getLen))
      else Seq((p, st.getLen))
    }
    PcapScan(files.map(_._1), required, maxPackets,
      new org.apache.spark.util.SerializableConfiguration(hadoopConf),
      files.map(_._2).sum)
  }
}

case class PcapInputPartition(path: String, slice: String) extends InputPartition

case class PcapScan(files: Seq[String], required: StructType, maxPackets: Int,
                    hadoopConf: org.apache.spark.util.SerializableConfiguration,
                    totalBytes: Long = 0L)
  extends Scan with Batch
  with org.apache.spark.sql.connector.read.SupportsReportStatistics {

  override def readSchema(): StructType = required
  override def toBatch: Batch = this

  /** On-disk bytes from the driver-side listing (row count unknown until
    * decode): enough for Catalyst to judge a small pcap side broadcastable
    * instead of assuming the DSv2 default of Long.MaxValue. */
  override def estimateStatistics()
      : org.apache.spark.sql.connector.read.Statistics =
    new org.apache.spark.sql.connector.read.Statistics {
      override def sizeInBytes(): java.util.OptionalLong =
        java.util.OptionalLong.of(totalBytes)
      override def numRows(): java.util.OptionalLong =
        java.util.OptionalLong.empty()
    }
  override def description(): String =
    s"pcap ${files.length} files, ${required.fieldNames.mkString(",")}"

  override def planInputPartitions(): Array[InputPartition] =
    files.map(f => PcapInputPartition(f, Pcap.defaultSlicer(f)): InputPartition).toArray

  override def createReaderFactory(): PartitionReaderFactory =
    PcapReaderFactory(required.fieldNames.toSeq, maxPackets, hadoopConf)
}

case class PcapReaderFactory(fields: Seq[String], maxPackets: Int,
                             hadoopConf: org.apache.spark.util.SerializableConfiguration)
  extends PartitionReaderFactory {

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[PcapInputPartition]
    new PartitionReader[InternalRow] {
      private val extractors = fields.map(PcapTable.extractor).toArray
      private val path = new Path(p.path)
      private val in = path.getFileSystem(hadoopConf.value).open(path)
      private val it = Pcap.decodeStream(in, p.slice, p.path, maxPackets)
      private var current: InternalRow = _

      override def next(): Boolean =
        if (it.hasNext) {
          val e = it.next()
          val row = new GenericInternalRow(extractors.length)
          var i = 0
          while (i < extractors.length) { row.update(i, extractors(i)(e)); i += 1 }
          current = row
          true
        } else false

      override def get(): InternalRow = current
      override def close(): Unit = in.close()
    }
  }
}
