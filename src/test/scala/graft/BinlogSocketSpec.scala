package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.sources.{BinlogBinary, BinlogSocket}

/** The replication-socket packet framing: frame-strip + reassembly
  * round trips into the SAME binary decoder as the file transports,
  * >16 MiB events reassemble across continuation packets, and the
  * torn-capture / dropped-packet / server-ERR edges refuse by name.
  * The end-to-end collapse equivalence is the declared
  * `cdc_binlog_socket` query's oracle row — the same latest-wins
  * oracle as every other binlog transport. */
class BinlogSocketSpec extends SparkTestBase {

  private val cols: Seq[(String, DataType)] = Seq(
    "okey" -> LongType, "price" -> DoubleType, "status" -> StringType)

  private def envDf(rows: Seq[(String, Long, Long, Any, Any, Any)]) = {
    val schema = StructType(Seq(
      StructField("op", StringType), StructField("seq", LongType),
      StructField("tsSec", LongType), StructField("okey", LongType),
      StructField("price", DoubleType), StructField("status", StringType)))
    spark.createDataFrame(
      java.util.Arrays.asList(rows.map(r =>
        Row(r._1, r._2, r._3, r._4, r._5, r._6)): _*), schema)
      .withColumn("ts", timestamp_seconds(col("tsSec"))
        .cast(TimestampNTZType))
      .select("op", "seq", "ts", "okey", "price", "status")
  }

  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("graft_sock").toString

  private def write(dir: String, name: String,
      bytes: Array[Byte]): Unit = {
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(dir))
    java.nio.file.Files.write(
      java.nio.file.Paths.get(dir, name), bytes)
    ()
  }

  private def causes(e: Throwable): String =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
      .map(m => Option(m.getMessage).getOrElse("")).mkString(" | ")

  test("packet capture round-trips through the shared binary decoder: " +
      "artificial ROTATE stripped, OK bytes removed, envelope " +
      "identical to the raw-file transport") {
    val env = envDf(Seq(
      ("I", 1L, 800000000L, 1L, 10.5, "plain"),
      ("I", 2L, 800000001L, 2L, null, null),
      ("U", 3L, 800000002L, 1L, -7.25, "quote 'n' slash — ünïcodé"),
      ("D", 4L, 900000000L, 2L, null, null)))
    val dir = tmp()
    BinlogSocket.renderPacketStream(env, cols, s"$dir/cap", files = 2)
    val back = BinlogSocket.parse(spark, s"$dir/cap", cols)
    // transport-agnostic: byte-identical schema to the file path
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(s"$dir/empty"))
    assert(back.schema ==
      BinlogBinary.parse(spark, s"$dir/empty", cols).schema)
    assert(back.collect().map(_.toSeq).toSet ==
      env.collect().map(_.toSeq).toSet)
    // the captures are packet-framed, NOT binlog files: no magic, a
    // 4-byte packet header first, and an artificial ROTATE inside
    val capFiles = new java.io.File(s"$dir/cap").listFiles()
      .filter(_.getName.endsWith(".cap")).toSeq
    assert(capFiles.size == 2)
    capFiles.foreach { f =>
      val bytes = java.nio.file.Files.readAllBytes(f.toPath)
      assert(!bytes.take(4).sameElements(
        Array(0xfe.toByte, 'b'.toByte, 'i'.toByte, 'n'.toByte)))
      assert((bytes(3) & 0xff) == 1) // first packet sequence id
      assert((bytes(4) & 0xff) == 0x00) // OK byte leads the payload
      assert((bytes(4 + 1 + 4) & 0xff) == 4) // then the ROTATE event
    }
  }

  test("a >16 MiB event reassembles across continuation packets " +
      "byte-identically (and an exact-bound payload closes with an " +
      "empty continuation)") {
    val fde = BinlogBinary.fdeEvent()
    // a fake jumbo event: valid 19-byte header shape is irrelevant to
    // the packet layer — depacketize only strips framing
    val jumbo = new Array[Byte](0xffffff + 1000)
    new java.util.Random(7).nextBytes(jumbo)
    jumbo(4) = 35 // any non-ROTATE type byte
    val out = new java.io.ByteArrayOutputStream()
    var seq = 1
    seq = BinlogSocket.writePacket(out,
      Array[Byte](0x00) ++ fde, seq)
    seq = BinlogSocket.writePacket(out,
      Array[Byte](0x00) ++ jumbo, seq)
    // the jumbo payload spans 2 packets (FDE took id 1): next id is 4
    assert(seq == 4)
    BinlogSocket.writePacket(out,
      Array[Byte](0xfe.toByte, 0, 0, 2, 0), seq)
    val evs = BinlogSocket.depacketize(out.toByteArray, "spec")
    assert(java.util.Arrays.equals(evs, fde ++ jumbo))
    // exact 0xffffff payload: trailing empty continuation required
    val exact = new Array[Byte](0xffffff)
    exact(0) = 0x00
    val out2 = new java.io.ByteArrayOutputStream()
    val after = BinlogSocket.writePacket(out2, exact, 0)
    assert(after == 2) // data packet + empty continuation
    val bytes2 = out2.toByteArray
    assert(bytes2.length == 4 + 0xffffff + 4) // second header, 0 payload
  }

  test("torn captures, dropped packets, trailing bytes, mid-stream " +
      "slices, and unknown leaders refuse by name") {
    val fde = BinlogBinary.fdeEvent()
    def cap(withEof: Boolean, startSeq: Int = 1,
        skipOne: Boolean = false): Array[Byte] = {
      val out = new java.io.ByteArrayOutputStream()
      var seq = startSeq
      seq = BinlogSocket.writePacket(out, Array[Byte](0x00) ++ fde, seq)
      if (skipOne) seq = (seq + 1) % 256 // a packet the wire lost
      seq = BinlogSocket.writePacket(out,
        Array[Byte](0x00) ++ BinlogBinary.rotateEvent("bin.000002"), seq)
      if (withEof) BinlogSocket.writePacket(out,
        Array[Byte](0xfe.toByte, 0, 0, 2, 0), seq)
      out.toByteArray
    }
    // a clean capture decodes
    assert(BinlogSocket.depacketize(cap(withEof = true), "spec")
      .nonEmpty)
    // no EOF: torn
    val e1 = intercept[IllegalArgumentException] {
      BinlogSocket.depacketize(cap(withEof = false), "spec") }
    assert(e1.getMessage.contains("EOF or ERR"))
    // a skipped sequence id: dropped packet
    val e2 = intercept[IllegalArgumentException] {
      BinlogSocket.depacketize(
        cap(withEof = true, skipOne = true), "spec") }
    assert(e2.getMessage.contains("dropped or reordered"))
    // trailing bytes after the EOF
    val e3 = intercept[IllegalArgumentException] {
      BinlogSocket.depacketize(
        cap(withEof = true) ++ Array[Byte](1, 2, 3), "spec") }
    assert(e3.getMessage.contains("after the stream's EOF"))
    // a capture that does not open with (rotate +) FDE is a
    // mid-stream slice: no checksum discipline to decode under
    val out4 = new java.io.ByteArrayOutputStream()
    var s4 = 1
    s4 = BinlogSocket.writePacket(out4,
      Array[Byte](0x00) ++ BinlogBinary.rotateEvent("bin.000002"), s4)
    BinlogSocket.writePacket(out4,
      Array[Byte](0xfe.toByte, 0, 0, 2, 0), s4)
    val e4 = intercept[IllegalArgumentException] {
      BinlogSocket.depacketize(out4.toByteArray, "spec") }
    assert(e4.getMessage.contains("FORMAT_DESCRIPTION"))
    // an unknown packet leader refuses
    val out5 = new java.io.ByteArrayOutputStream()
    BinlogSocket.writePacket(out5, Array[Byte](0x7f, 1, 2), 1)
    val e5 = intercept[IllegalArgumentException] {
      BinlogSocket.depacketize(out5.toByteArray, "spec") }
    assert(e5.getMessage.contains("unknown packet leader"))
  }

  test("BinlogSocketCdcSource: the pass TAILS captured dump streams, " +
      "one capture per micro-batch; a torn capture refuses at the " +
      "frame layer") {
    import graft.streaming.StreamingOps
    import graft.sources.BinlogSocketCdcSource
    val base = tmp()
    val caps = s"$base/caps"
    BinlogSocket.renderPacketStream(envDf(Seq(
      ("I", 1L, 800000000L, 1L, 10.0, "a"),
      ("I", 2L, 800000000L, 2L, 20.0, "b"))), cols, caps, files = 1)
    val src = BinlogSocketCdcSource(caps, cols)
    assert(src.schema.fieldNames.toSeq ==
      Seq("op", "seq", "ts", "okey", "price", "status"))
    StreamingOps.runCdcPass(spark, src, s"$base/ckpt",
      s"$base/state")
    def served: Map[Long, Double] =
      StreamingOps.readLatestState(spark, s"$base/state")
        .select("okey", "price").collect()
        .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(served == Map(1L -> 10.0, 2L -> 20.0))
    // a second capture lands; the RESUMED pass consumes only it
    BinlogSocket.renderPacketStream(envDf(Seq(
      ("D", 3L, 800000001L, 2L, null, null))), cols, s"$base/cap2",
      files = 1)
    val c2 = new java.io.File(s"$base/cap2").listFiles().head
    java.nio.file.Files.copy(c2.toPath,
      java.nio.file.Paths.get(s"$caps/sock.000001.cap"))
    StreamingOps.runCdcPass(spark, src, s"$base/ckpt",
      s"$base/state")
    assert(served == Map(1L -> 10.0))
    // a TORN capture (EOF packet cut off) refuses the batch
    val base2 = tmp()
    val caps2 = s"$base2/caps"
    BinlogSocket.renderPacketStream(envDf(Seq(
      ("I", 9L, 800000000L, 9L, 9.0, "x"))), cols, caps2, files = 1)
    val f = new java.io.File(caps2).listFiles().head
    val bytes = java.nio.file.Files.readAllBytes(f.toPath)
    java.nio.file.Files.write(f.toPath, bytes.dropRight(9))
    val e = intercept[Throwable] {
      StreamingOps.runCdcPass(spark,
        BinlogSocketCdcSource(caps2, cols), s"$base2/ckpt",
        s"$base2/state")
    }
    assert(Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
      .map(m => Option(m.getMessage).getOrElse("")).mkString(" | ")
      .contains("EOF or ERR"))
  }

  test("packetizeDumpFile bridges a raw rotation into a capture: the " +
      "depacketized stream decodes to the same envelope as the file") {
    val env = envDf(Seq(
      ("I", 1L, 800000000L, 1L, 10.5, "plain"),
      ("U", 3L, 800000002L, 1L, -7.25, "ünïcodé"),
      ("D", 4L, 900000000L, 1L, null, null)))
    val dir = tmp()
    BinlogBinary.render(env, cols, s"$dir/raw", files = 1)
    val f = new java.io.File(s"$dir/raw").listFiles().head
    val cap = BinlogSocket.packetizeDumpFile(
      java.nio.file.Files.readAllBytes(f.toPath), f.getName)
    write(s"$dir/cap", f.getName + ".cap", cap)
    val viaSocket = BinlogSocket.parse(spark, s"$dir/cap", cols)
      .collect().map(_.toSeq).toSet
    val viaFile = BinlogBinary.parse(spark, s"$dir/raw", cols)
      .collect().map(_.toSeq).toSet
    assert(viaSocket == viaFile && viaSocket.size == 3)
    // a non-binlog input refuses at the bridge
    intercept[IllegalArgumentException] {
      BinlogSocket.packetizeDumpFile(Array[Byte](1, 2, 3, 4, 5), "x") }
  }

  test("HEARTBEAT (type 27) keep-alives: surfaced as op = 'H' " +
      "position-only rows when opted in, invisible otherwise") {
    val env = envDf(Seq(
      ("I", 10L, 800000000L, 1L, 1.5, "a"),
      ("I", 20L, 800000001L, 2L, 2.5, "b"),
      ("I", 30L, 800000002L, 3L, 3.5, "c")))
    val dir = tmp()
    BinlogSocket.renderPacketStream(env, cols, s"$dir/cap", files = 1,
      heartbeatEvery = 2)
    // opted in: pulses ride as op = "H", payload NULL, seq = the
    // caught-up-through position
    val got = BinlogSocket.parse(spark, s"$dir/cap", cols,
      heartbeats = true).orderBy(col("seq"), col("op")).collect()
    val hs = got.filter(_.getString(0) == "H")
    assert(hs.nonEmpty && hs.forall(r => r.isNullAt(3) && r.isNullAt(4)))
    assert(got.count(_.getString(0) == "I") == 3)
    // the trailing idle pulse sits past the last row's position
    assert(hs.map(_.getLong(1)).max > 30L)
    // NOT opted in: the same capture serves only the real events —
    // the pre-round-20 posture, heartbeats skip silently
    val plain = BinlogSocket.parse(spark, s"$dir/cap", cols).collect()
    assert(plain.length == 3 && plain.forall(_.getString(0) != "H"))
  }

  test("packet framing round-trip property: payload sizes across the " +
      "16 MiB continuation boundary reassemble byte-identically with " +
      "continuous sequence ids") {
    val rnd = new java.util.Random(42)
    val fde = BinlogBinary.fdeEvent()
    // sizes hugging the boundary (the exact-0xffffff case needs the
    // empty trailing continuation) plus a random small sample
    val sizes = Seq(0xffffff - 2, 0xffffff - 1, 0xffffff, 0xffffff + 1,
      0xffffff + 2) ++ (1 to 10).map(_ => 1 + rnd.nextInt(5000))
    sizes.foreach { sz =>
      // payload = OK byte + (sz - 1) event bytes
      val ev = new Array[Byte](sz - 1)
      rnd.nextBytes(ev)
      if (ev.length > 4) ev(4) = 35 // not a ROTATE type byte
      val out = new java.io.ByteArrayOutputStream()
      var seq = 1
      seq = BinlogSocket.writePacket(out, Array[Byte](0x00) ++ fde, seq)
      seq = BinlogSocket.writePacket(out, Array[Byte](0x00) ++ ev, seq)
      BinlogSocket.writePacket(out,
        Array[Byte](0xfe.toByte, 0, 0, 2, 0), seq)
      val back = BinlogSocket.depacketize(out.toByteArray, s"prop$sz")
      assert(java.util.Arrays.equals(back, fde ++ ev),
        s"size $sz did not round-trip")
    }
  }

  test("parseTxn over captures: stamps and markers through the shared " +
      "boundary core, ONE capture relation in the plan, the " +
      "uncommitted tail marker-less") {
    val uuid = "3e11fa47-71ca-11e1-9e33-c80aa9429562"
    val t0 = java.time.LocalDateTime.ofEpochSecond(
      800000000L, 0, java.time.ZoneOffset.UTC)
    // raw file with GTID stamps + one committed txn + one open tail,
    // bridged into a capture
    val dir = tmp()
    BinlogBinary.writeEvents(s"$dir/raw", "bin.000001", Seq(
      BinlogBinary.gtidEvent(10L, 800000000L, uuid, 1L),
      BinlogBinary.tableMapEvent("t", cols),
      BinlogBinary.rowsEvent(Row("I", 11L, t0, 1L, 1.5, "a"), cols),
      BinlogBinary.xidEvent(19L, 800000000L, 7L),
      BinlogBinary.gtidEvent(20L, 800000060L, uuid, 2L),
      BinlogBinary.rowsEvent(Row("I", 21L, t0, 3L, 3.5, "c"), cols)))
    val f = new java.io.File(s"$dir/raw").listFiles().head
    write(s"$dir/cap", "sock.000001.cap",
      BinlogSocket.packetizeDumpFile(
        java.nio.file.Files.readAllBytes(f.toPath), f.getName))
    val txn = BinlogSocket.parseTxn(spark, s"$dir/cap", cols)
    // rows + markers ride ONE distributed capture decode
    val leaves = txn.queryExecution.optimizedPlan.collectLeaves()
    assert(leaves.size == 1,
      s"expected ONE capture relation, got " +
        leaves.map(_.getClass.getSimpleName))
    val got = txn.orderBy(col("seq")).collect().map(r =>
      (r.getString(0), r.getLong(1),
        r.getString(r.fieldIndex("txn")))).toSeq
    assert(got == Seq(
      ("I", 11L, s"$uuid:1"), ("C", 19L, s"$uuid:1"),
      ("I", 21L, s"$uuid:2")), s"got: $got")
  }

  test("semi-sync framing: the 0xef + ack-flag prefix strips under " +
      "the declared mode; declaration mismatches refuse by name in " +
      "both directions") {
    val env = envDf(Seq(
      ("I", 1L, 800000000L, 1L, 1.5, "a"),
      ("U", 2L, 800000001L, 1L, 2.5, "b")))
    val dir = tmp()
    BinlogSocket.renderPacketStream(env, cols, s"$dir/cap", files = 1,
      semiSync = true)
    // declared semi-sync: decodes to the same envelope
    val got = BinlogSocket.parse(spark, s"$dir/cap", cols,
      semiSync = true).collect().map(_.toSeq).toSet
    assert(got == env.collect().map(_.toSeq).toSet)
    // the prefix really rides the wire: a plain read refuses (the
    // 0xef byte corrupts the event header — surfaced at the decoder)
    val ePlain = intercept[Throwable] {
      BinlogSocket.parse(spark, s"$dir/cap", cols).collect() }
    assert(Iterator.iterate(ePlain)(_.getCause).takeWhile(_ != null)
      .map(m => Option(m.getMessage).getOrElse("")).mkString(" | ")
      .nonEmpty)
    // declaring semi-sync against a PLAIN capture refuses naming the
    // missing magic
    val dir2 = tmp()
    BinlogSocket.renderPacketStream(env, cols, s"$dir2/cap", files = 1)
    val eSs = intercept[Throwable] {
      BinlogSocket.parse(spark, s"$dir2/cap", cols,
        semiSync = true).collect() }
    val m = Iterator.iterate(eSs)(_.getCause).takeWhile(_ != null)
      .map(x => Option(x.getMessage).getOrElse("")).mkString(" | ")
    assert(m.contains("0xef magic"), s"got: $m")
  }

  test("a mid-stream ERR packet refuses quoting the server's own " +
      "error text — through the full parse path") {
    val env = envDf(Seq(("I", 1L, 800000000L, 1L, 1.5, "a")))
    val dir = tmp()
    BinlogSocket.renderPacketStream(env, cols, s"$dir/cap", files = 1)
    val clean = java.nio.file.Files.readAllBytes(
      new java.io.File(s"$dir/cap").listFiles().head.toPath)
    // swap the EOF tail (last 9 bytes: 4 header + 5 payload) for an
    // ERR packet carrying the server's reason
    val lastSeq = clean(clean.length - 9 + 3) & 0xff
    val torn = clean.dropRight(9) ++ BinlogSocket.errPacket(1236,
      "HY000", "Could not find first log file name in binary log " +
        "index file", lastSeq)
    val dir2 = tmp()
    write(s"$dir2/cap", "sock.000000.cap", torn)
    val e = intercept[Throwable] {
      BinlogSocket.parse(spark, s"$dir2/cap", cols).collect() }
    val msg = causes(e)
    assert(msg.contains("ERR 1236"), s"got: $msg")
    assert(msg.contains("HY000"), s"got: $msg")
    assert(msg.contains("Could not find first log file name"),
      s"got: $msg")
  }
}
