package graft.sources

import java.io.{BufferedInputStream, DataInputStream, EOFException, InputStream}

/** PCAP binary source — the reference's custom decode stage rebuilt
  * clean-room from the public libpcap format (reference behavior:
  * `PcapKpiExtractor.scala:59-227`; format: 24-byte global header with
  * endianness magic, 16-byte per-record headers, Ethernet/IPv4/TCP-UDP-ICMP
  * parsing).
  *
  * This object is the decoder itself ([[decodeStream]] over one file's
  * bytes, [[parsePacket]] per frame) plus a deterministic pcap writer
  * ([[synthesize]]). Spark reads pcap files through the DataSource V2
  * reader `spark.read.format("pcap")` ([[graft.sources.v2.PcapDataSource]]):
  * one partition per file and executor-side decode — the reference's
  * `binaryFiles → flatMap` shape (`:368-381`) — so all byte work happens
  * on executors, the driver only lists files, and no shuffle occurs until
  * the first keyed aggregate.
  */
object Pcap {

  /** Flat packet event row (the 16-field boundary object between the
    * decode stage and the KPI pipeline — reference `:37-54`). */
  final case class PacketEvent(
      sliceType: String,
      fileName: String,
      timestamp: Double, // epoch seconds.micros
      timestampMs: Long,
      capturedLen: Int,
      originalLen: Int,
      protocol: String,
      srcIp: String,
      dstIp: String,
      srcPort: Int,
      dstPort: Int,
      tcpSeq: Long,
      tcpFlags: Int,
      tcpWindow: Int,
      ethertype: Int,
      flowId: String)

  val MagicLe = 0xd4c3b2a1 // file written little-endian (bytes a1 b2 c3 d4 read BE)
  val MagicBe = 0xa1b2c3d4
  val MagicLeNano = 0x4d3cb2a1
  val MagicBeNano = 0xa1b23c4d
  val MaxPacketsPerFile = 100000 // reference decode cap (:20)
  val MaxCapLen = 65536          // sanity bound (:95)

  private def u16(b: Array[Byte], off: Int): Int =
    ((b(off) & 0xff) << 8) | (b(off + 1) & 0xff)

  private def u32(b: Array[Byte], off: Int): Long =
    ((b(off) & 0xffL) << 24) | ((b(off + 1) & 0xffL) << 16) |
      ((b(off + 2) & 0xffL) << 8) | (b(off + 3) & 0xffL)

  private def readU32(in: DataInputStream, le: Boolean): Long = {
    val v = in.readInt()
    val x = if (le) Integer.reverseBytes(v) else v
    x & 0xffffffffL
  }

  /** LINKTYPE_ETHERNET — the pcap global header's `network` field value
    * for Ethernet frames. */
  val LinkEthernet = 1

  /** Linktypes whose record payload starts directly at the IP header —
    * DLT_RAW's two historical numeric values (libpcap's 12 on some BSDs,
    * the standardized 101). Other non-Ethernet linktypes (LINKTYPE_NULL=0
    * has a 4-byte family header, LINUX_SLL=113 a 16-byte one, …) carry
    * their own link headers; without a per-type parser their frames must
    * degrade to OTHER rather than risk fabricating IPv4 flows from a
    * link-header byte whose first nibble happens to be 4. */
  val RawIpLinktypes: Set[Int] = Set(101, 12)

  /** Parse one captured frame (Ethernet → IPv4 → TCP/UDP/ICMP) into a
    * PacketEvent. Unknown layers degrade gracefully to OTHER/defaults —
    * decode must never throw on garbage (resilience contract). */
  def parsePacket(bytes: Array[Byte], slice: String, file: String,
                  tsSec: Long, tsFrac: Long, origLen: Int,
                  nano: Boolean = false,
                  linktype: Int = LinkEthernet): PacketEvent = {
    // Fractional field is µs in classic pcap, ns in the nano variants.
    val ts = (tsSec & 0xffffffffL) + tsFrac / (if (nano) 1e9 else 1e6)
    var ethertype = 0
    var proto = "OTHER"
    var srcIp = ""; var dstIp = ""
    var srcPort = 0; var dstPort = 0
    var seq = 0L; var flags = 0; var win = 0
    val isEthernet = linktype == LinkEthernet
    if (isEthernet && bytes.length >= 14) ethertype = u16(bytes, 12)
    // Raw-IP tolerance, gated on the capture's declared linktype: only the
    // whitelisted DLT_RAW values parse the IP header at offset 0 (still
    // guarded by the version nibble). Declared divergence from the
    // reference (PcapKpiExtractor.scala:161-164), which retries offset 0
    // whenever the ETHERTYPE is unknown regardless of linktype — on real
    // Ethernet captures that misdecodes ARP/IPv6/VLAN frames whose dest
    // MAC begins 0x4X (the version-nibble guard passes on the MAC byte)
    // into garbage IPv4 flows. Linktypes with their own link headers
    // (NULL=0, LINUX_SLL=113, …) degrade to OTHER unconditionally — a
    // link-header first nibble of 4 would otherwise fabricate IPv4 flows.
    val ipOff =
      if (isEthernet) { if (ethertype == 0x0800) 14 else -1 }
      else if (RawIpLinktypes(linktype)) 0
      else -1
    if (ipOff >= 0 && bytes.length >= ipOff + 20 && ((bytes(ipOff) >> 4) & 0x0f) == 4) {
      val ihl = (bytes(ipOff) & 0x0f) * 4
      val p = bytes(ipOff + 9) & 0xff
      srcIp = (12 to 15).map(i => bytes(ipOff + i) & 0xff).mkString(".")
      dstIp = (16 to 19).map(i => bytes(ipOff + i) & 0xff).mkString(".")
      val l4 = ipOff + ihl
      p match {
        case 6 =>
          proto = "TCP"
          if (bytes.length >= l4 + 20) {
            srcPort = u16(bytes, l4); dstPort = u16(bytes, l4 + 2)
            seq = u32(bytes, l4 + 4)
            flags = bytes(l4 + 13) & 0xff
            win = u16(bytes, l4 + 14)
          }
        case 17 =>
          proto = "UDP"
          if (bytes.length >= l4 + 8) {
            srcPort = u16(bytes, l4); dstPort = u16(bytes, l4 + 2)
          }
        case 1 => proto = "ICMP"
        case _ => proto = "OTHER"
      }
    }
    PacketEvent(slice, file, ts, (ts * 1000).toLong, bytes.length, origLen,
      proto, srcIp, dstIp, srcPort, dstPort, seq, flags, win, ethertype,
      s"${srcIp}_${dstIp}_${srcPort}_${dstPort}_$proto")
  }

  /** Stream-decode one pcap file: global header (endianness by magic),
    * then 16-byte record headers + captured bytes, bounded by
    * [[MaxPacketsPerFile]] and the [[MaxCapLen]] sanity guard. Never
    * throws: truncation/garbage ends the iteration. */
  def decodeStream(in: InputStream, slice: String, file: String,
                   maxPackets: Int = MaxPacketsPerFile): Iterator[PacketEvent] = {
    val d = new DataInputStream(new BufferedInputStream(in, 65536))
    val out = scala.collection.mutable.ArrayBuffer.empty[PacketEvent]
    try {
      val magic = d.readInt()
      val le = magic == MagicLe || magic == MagicLeNano
      val nano = magic == MagicLeNano || magic == MagicBeNano
      val known = le || magic == MagicBe || magic == MagicBeNano
      if (known) {
        d.skipBytes(16) // version, thiszone, sigfigs, snaplen
        val linktype = readU32(d, le).toInt // network: 1 = Ethernet, 101 = RAW
        var n = 0
        var eof = false
        while (!eof && n < maxPackets) {
          try {
            val tsSec = readU32(d, le)
            val tsFrac = readU32(d, le)
            val capLen = readU32(d, le).toInt
            val origLen = readU32(d, le).toInt
            if (capLen <= 0 || capLen >= MaxCapLen) eof = true
            else {
              val buf = new Array[Byte](capLen)
              d.readFully(buf)
              out += parsePacket(buf, slice, file, tsSec, tsFrac, origLen,
                nano, linktype)
              n += 1
            }
          } catch { case _: EOFException => eof = true }
        }
      }
    } catch { case _: Exception => () } finally d.close()
    out.iterator
  }

  /** Slice tag of a pcap file: its parent directory name (the reference
    * derives it from the HDFS directory layout — `:316-339`). */
  def defaultSlicer(path: String): String = {
    val parts = path.split("/")
    if (parts.length >= 2) parts(parts.length - 2) else "unknown"
  }

  // ---------------------------------------------------------------------
  // Deterministic synthetic pcap bytes (for specs + the demo query —
  // the harness ships no PCAPs).
  // ---------------------------------------------------------------------

  /** Encode packets into little-endian pcap bytes. Each spec is
    * (tsSec, tsUsec, srcIp last octet, dstIp last octet, srcPort, dstPort,
    * proto 6|17, seq, flags, window, payloadLen). */
  def synthesize(specs: Seq[(Long, Long, Int, Int, Int, Int, Int, Long, Int, Int, Int)]): Array[Byte] = {
    val bb = new java.io.ByteArrayOutputStream()
    def w32le(v: Long): Unit = {
      bb.write((v & 0xff).toInt); bb.write(((v >> 8) & 0xff).toInt)
      bb.write(((v >> 16) & 0xff).toInt); bb.write(((v >> 24) & 0xff).toInt)
    }
    def w16be(v: Int): Unit = { bb.write((v >> 8) & 0xff); bb.write(v & 0xff) }
    def w32be(v: Long): Unit = { w16be(((v >> 16) & 0xffff).toInt); w16be((v & 0xffff).toInt) }
    // global header (LE magic as the reference's common case)
    w32le(0xa1b2c3d4L); w16be(0); w16be(0) // magic written LE; version via BE writer is fine (ignored)
    w32le(0); w32le(0); w32le(65535); w32le(1)
    specs.foreach { case (sec, usec, so, do_, sp, dp, proto, seq, fl, win, payload) =>
      val l4 = if (proto == 6) 20 else 8
      val ipLen = 20 + l4 + payload
      val cap = 14 + ipLen
      w32le(sec); w32le(usec); w32le(cap); w32le(cap)
      // ethernet
      (0 until 12).foreach(_ => bb.write(0)); w16be(0x0800)
      // ipv4: IHL=5
      bb.write(0x45); bb.write(0); w16be(ipLen); w16be(0); w16be(0)
      bb.write(64); bb.write(proto); w16be(0)
      bb.write(10); bb.write(0); bb.write(0); bb.write(so)
      bb.write(10); bb.write(0); bb.write(0); bb.write(do_)
      if (proto == 6) {
        w16be(sp); w16be(dp); w32be(seq); w32be(0)
        bb.write(0x50); bb.write(fl); w16be(win); w16be(0); w16be(0)
      } else {
        w16be(sp); w16be(dp); w16be(l4 + payload); w16be(0)
      }
      (0 until payload).foreach(i => bb.write(i & 0xff))
    }
    bb.toByteArray
  }
}
