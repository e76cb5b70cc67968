package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

import graft.sources.Pcap

/** DataSource V2 pcap reader spec: agreement with the decoder run on the
  * driver, per-file partitioning, column pruning, options, resilience. */
class PcapV2Spec extends SparkSpec {

  private def writeCorpus(): String = {
    val root = Files.createTempDirectory("pcapv2").toString
    Seq("eMBB", "URLLC").foreach { slice =>
      Files.createDirectories(Paths.get(root, slice))
      val specs = (0 until 20).map(i =>
        (1700000000L + i, 1000L * i, 1 + i % 3, 2, 1000 + i, 80, if (i % 2 == 0) 6 else 17,
          i.toLong, 0x10, 100, i % 5))
      Files.write(Paths.get(root, slice, s"cap_$slice.pcap"), Pcap.synthesize(specs))
    }
    root
  }

  test("v2 reader agrees row-for-row with decodeStream run on the driver") {
    val root = writeCorpus()
    val v2 = spark.read.format("pcap").load(root + "/eMBB")
      .union(spark.read.format("pcap").load(root + "/URLLC"))
    val driver = Seq("eMBB", "URLLC").flatMap { slice =>
      val f = Paths.get(root, slice, s"cap_$slice.pcap")
      Pcap.decodeStream(Files.newInputStream(f), slice, f.toString)
    }
    // fileName formats differ (file:/ URI vs raw path) — compare the rest.
    val cols = PcapCols.filterNot(_ == "fileName")
    val a = v2.select(cols.map(col): _*).collect().map(_.toSeq).toSet
    val b = driver.map { p =>
      val byName = p.productElementNames.zip(p.productIterator).toMap
      cols.map(byName)
    }.toSet
    assert(a == b && a.size == 40)
  }

  test("one partition per file; slice = parent dir") {
    val root = writeCorpus()
    val df = spark.read.format("pcap").load(s"$root/eMBB", s"$root/URLLC")
    assert(df.rdd.getNumPartitions == 2)
    assert(df.select("sliceType").distinct().as[String](spark.implicits.newStringEncoder)
      .collect().toSet == Set("eMBB", "URLLC"))
  }

  test("scan statistics report the listed files' on-disk bytes") {
    val root = writeCorpus()
    val df = spark.read.format("pcap").load(s"$root/eMBB")
    val expected = Option(new java.io.File(s"$root/eMBB").listFiles())
      .get.filter(_.getName.endsWith(".pcap")).map(_.length()).sum
    val stats = df.queryExecution.optimizedPlan.stats
    assert(stats.sizeInBytes === BigInt(expected),
      "Catalyst must see the real byte size, not the DSv2 Long.MaxValue default")
  }

  test("column pruning reaches the scan; count(*) works on zero columns") {
    val root = writeCorpus()
    val df = spark.read.format("pcap").load(root + "/eMBB").select("protocol", "srcPort")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("protocol,srcPort") || plan.contains("protocol, srcPort"))
    assert(df.collect().length == 20)
    assert(spark.read.format("pcap").load(root + "/eMBB").count() == 20)
  }

  test("maxPackets option caps per file") {
    val root = writeCorpus()
    val df = spark.read.format("pcap").option("maxPackets", 5).load(root + "/eMBB")
    assert(df.count() == 5)
  }

  test("pcap_decode_v2 census equals the RDD-route pcap_decode census") {
    val a = SparkEntry.queries("pcap_decode_v2")(spark, "unused")
      .collect().map(_.toSeq).toSet
    val b = SparkEntry.queries("pcap_decode")(spark, "unused")
      .collect().map(_.toSeq).toSet
    assert(a == b && a.nonEmpty)
  }

  test("scan carries the SESSION's Hadoop conf to readers (fs.* keys), not a bare Configuration") {
    // A bare `new Configuration()` in the scan would silently drop
    // credentials/fs.* settings on a real cluster (ADVICE round 4, fixed
    // via sessionState.newHadoopConf + SerializableConfiguration). Pin it:
    // a session-level conf key must be visible in the conf the scan ships.
    val root = writeCorpus()
    spark.conf.set("fs.graft.test.marker", "visible-to-readers")
    try {
      val builder = new graft.sources.v2.PcapScanBuilder(Map("path" -> (root + "/eMBB")))
      val scan = builder.build().asInstanceOf[graft.sources.v2.PcapScan]
      assert(scan.hadoopConf.value.get("fs.graft.test.marker") == "visible-to-readers")
      // And the full read path still works with the session conf in play.
      assert(spark.read.format("pcap").load(root + "/eMBB").count() == 20)
    } finally spark.conf.unset("fs.graft.test.marker")
  }

  test("multi-path load survives a directory name containing a comma") {
    // load(p1, p2) arrives as a JSON array in the `paths` option — a naive
    // comma split would shear a path like "a,b" in two.
    val root = Files.createTempDirectory("pcapv2comma").toString
    val dir = Paths.get(root, "slice,with,commas")
    Files.createDirectories(dir)
    val specs = (0 until 7).map(i =>
      (1700000000L + i, 0L, 1, 2, 1000 + i, 80, 6, i.toLong, 0x10, 100, 0))
    Files.write(dir.resolve("c.pcap"), Pcap.synthesize(specs))
    val df = spark.read.format("pcap").load(dir.toString, root + "/slice,with,commas")
    // Both paths point at the same dir; each load path scans it once.
    assert(df.count() == 14)
    assert(df.select("sliceType").distinct().collect().map(_.getString(0)).toSet ==
      Set("slice,with,commas"))
  }

  test("corrupt file yields zero rows, never throws") {
    val root = Files.createTempDirectory("pcapv2bad").toString
    Files.write(Paths.get(root, "junk.pcap"), Array[Byte](1, 2, 3, 4, 5))
    assert(spark.read.format("pcap").load(root).count() == 0)
  }

  private val PcapCols = Seq("sliceType", "fileName", "timestamp", "timestampMs",
    "capturedLen", "originalLen", "protocol", "srcIp", "dstIp", "srcPort",
    "dstPort", "tcpSeq", "tcpFlags", "tcpWindow", "ethertype", "flowId")
}
