package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.sources.{BinlogBinary, BinlogText}

/** The binary binlog wire decode: render/parse round-trip fidelity,
  * envelope equality with the text transport, the NEWDECIMAL codec,
  * and the loud-refusal edges (truncation, checksum, stale
  * declarations). The end-to-end collapse equivalence is the declared
  * `cdc_binlog_binary` query's oracle row — the SAME latest-wins
  * oracle as `cdc_binlog_text`. */
class BinlogBinarySpec extends SparkTestBase {

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
    java.nio.file.Files.createTempDirectory("graft_binbin").toString

  test("render/parse round-trips ops, NULLs, doubles, unicode text — " +
      "and the envelope schema equals the text transport's") {
    val env = envDf(Seq(
      ("I", 1L, 800000000L, 1L, 10.5, "plain"),
      ("I", 2L, 800000001L, 2L, null, null), // explicit NULL payload
      ("U", 3L, 800000002L, 1L, -7.25, "it's a 'quote' \\ slash"),
      ("I", 5L, 800000003L, 3L, 1.0, "line1\nline2\rtail — ünïcodé ⚡"),
      ("D", 4L, 900000000L, 2L, null, null)))
    val dir = tmp()
    BinlogBinary.render(env, cols, s"$dir/binlog", files = 2)
    val back = BinlogBinary.parse(spark, s"$dir/binlog", cols)
    // transport-agnostic: byte-identical schema to the text path
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(s"$dir/empty_text"))
    assert(back.schema ==
      BinlogText.parse(spark, s"$dir/empty_text", cols).schema)
    val got = back.collect().map(_.toSeq).toSet
    val want = env.collect().map(_.toSeq).toSet
    assert(got == want, s"round-trip diverged:\n got=$got\nwant=$want")
    // rotation files really split and are raw binlog (magic-led)
    val files = new java.io.File(s"$dir/binlog").listFiles()
      .filter(_.getName.startsWith("bin.")).toSeq
    assert(files.size == 2)
    files.foreach { f =>
      val head = java.nio.file.Files.readAllBytes(f.toPath).take(4)
      assert(head.sameElements(Array(0xfe.toByte, 'b'.toByte,
        'i'.toByte, 'n'.toByte)))
    }
  }

  test("NEWDECIMAL codec: digit-group packing round-trips signs, " +
      "scales, leading zeros, and group boundaries") {
    def rt(s: String, p: Int, sc: Int): Unit = {
      val x = new java.math.BigDecimal(s)
      val enc = BinlogBinary.encodeDecimal(x, p, sc)
      assert(enc.length == BinlogBinary.decimalBinSize(p, sc))
      val dec = BinlogBinary.decodeDecimal(enc, 0, p, sc)
      assert(dec.compareTo(x.setScale(sc)) == 0,
        s"decimal($p,$sc) round-trip of $s gave $dec")
    }
    rt("0", 10, 2); rt("0.00", 10, 2)
    rt("1234.56", 10, 2); rt("-1234.56", 10, 2)
    rt("99999999.99", 10, 2); rt("-99999999.99", 10, 2)
    rt("0.01", 10, 2); rt("-0.01", 10, 2)
    // group boundaries: 9/18/27 digit spans on both sides of the point
    rt("123456789", 9, 0); rt("-123456789", 9, 0)
    rt("123456789987654321", 18, 0)
    rt("0.123456789", 9, 9); rt("-0.123456789987", 12, 12)
    rt("1.000000001", 18, 9)
    rt("999999999999999999.999999999999", 30, 12)
    rt("-999999999999999999.999999999999", 30, 12)
    // the money shape the type-surface fixtures ride
    rt("18446744073709551615", 20, 0) // 2^64-1, the unsigned carrier
    rt("-0.5", 3, 2)
    // ordering sanity: binary compare of encodings matches numeric
    // order (the property MySQL's sort relies on)
    val a = BinlogBinary.encodeDecimal(
      new java.math.BigDecimal("-5.00"), 10, 2)
    val b = BinlogBinary.encodeDecimal(
      new java.math.BigDecimal("3.00"), 10, 2)
    val cmp = a.zip(b).collectFirst {
      case (x, y) if x != y => (x & 0xff) - (y & 0xff) }
    assert(cmp.exists(_ < 0), "negative must sort below positive")
  }

  test("decimal columns ride the wire: DECIMAL(12,2) and the unsigned " +
      "DECIMAL(20,0) carrier round-trip through a rendered file") {
    val dcols: Seq[(String, DataType)] = Seq(
      "okey" -> LongType, "amount" -> DecimalType(12, 2),
      "big_id" -> DecimalType(20, 0), "qty" -> IntegerType)
    val schema = StructType(Seq(
      StructField("op", StringType), StructField("seq", LongType),
      StructField("tsSec", LongType), StructField("okey", LongType),
      StructField("amount", DecimalType(12, 2)),
      StructField("big_id", DecimalType(20, 0)),
      StructField("qty", IntegerType)))
    def d(s: String) = new java.math.BigDecimal(s)
    val rows = Seq(
      Row("I", 1L, 800000000L, 1L, d("1234.56"), d("18446744073709551615"),
        42),
      Row("U", 2L, 800000001L, 1L, d("-0.25"), d("7"), -13),
      Row("I", 3L, 800000002L, 2L, null, null, null))
    val env = spark.createDataFrame(
      java.util.Arrays.asList(rows: _*), schema)
      .withColumn("ts", timestamp_seconds(col("tsSec"))
        .cast(TimestampNTZType))
      .select("op", "seq", "ts", "okey", "amount", "big_id", "qty")
    val dir = tmp()
    BinlogBinary.render(env, dcols, s"$dir/binlog", files = 1)
    val back = BinlogBinary.parse(spark, s"$dir/binlog", dcols)
    assert(back.collect().map(_.toSeq).toSet ==
      env.collect().map(_.toSeq).toSet)
  }

  test("PROPERTY: random envelopes round-trip render→parse identically") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    val genRow = for {
      op <- Gen.oneOf("I", "U", "D")
      seq <- Gen.chooseNum(0L, 0xffffffffL)
      ts <- Gen.chooseNum(0L, 2000000000L)
      okey <- Gen.chooseNum(-1000000L, 1000000L)
      price <- Gen.oneOf(
        Gen.const(null), Gen.chooseNum(-1e9, 1e9).map(Double.box))
      status <- Gen.oneOf(Gen.const(null),
        Gen.asciiPrintableStr.map(_.take(40)),
        Gen.const("tab\t'q'\\n\u00e9"))
    } yield (op, seq, ts, okey: Any, price: Any, status: Any)
    (0 until 3).foreach { i =>
      val rows = Gen.listOfN(60, genRow)
        .apply(Gen.Parameters.default, Seed(42L + i)).get
      val env = envDf(rows)
      val dir = tmp()
      BinlogBinary.render(env, cols, s"$dir/b", files = 3)
      val back = BinlogBinary.parse(spark, s"$dir/b", cols)
      def key(s: Seq[Any]) = s.map(String.valueOf(_)).mkString("\u0001")
      val a = env.collect().map(_.toSeq).toSeq.sortBy(key)
      val b = back.collect().map(_.toSeq).toSeq.sortBy(key)
      assert(a == b, s"sample $i diverged")
    }
  }

  test("PROPERTY: random TYPED envelopes round-trip the full wire " +
      "map — temporal micros, enum indexes, set/bit masks, unsigned " +
      "ranges, blobs, wide CHAR, JSON scalars") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    import graft.sources.BinlogBinary.WireHint
    val enumVals = Seq("alpha", "beta", "gamma", "delta")
    val tcols: Seq[(String, DataType)] = Seq(
      "okey" -> LongType, "tny" -> ByteType, "flt" -> FloatType,
      "d" -> DateType, "dtl" -> TimestampNTZType,
      "tsu" -> TimestampType, "tsec" -> IntegerType,
      "tier" -> StringType, "flags" -> LongType, "bits" -> LongType,
      "yr" -> ShortType, "blob" -> BinaryType, "code" -> StringType,
      "ub" -> DecimalType(20, 0), "attrs" -> StringType)
    val hints = Map[String, WireHint](
      "tsec" -> WireHint.TimeSeconds,
      "tier" -> WireHint.Enum(enumVals),
      "flags" -> WireHint.SetBits(10), "bits" -> WireHint.Bit(33),
      "yr" -> WireHint.Year, "code" -> WireHint.Char(300),
      "ub" -> WireHint.Unsigned, "attrs" -> WireHint.Json)
    def orNull[T](g: Gen[T]): Gen[Any] =
      Gen.oneOf(Gen.const(null: Any), g.map(_.asInstanceOf[Any]))
    val genRow = for {
      seq <- Gen.chooseNum(0L, 0xffffffffL)
      ts <- Gen.chooseNum(0L, 2000000000L)
      okey <- Gen.chooseNum(-1000000L, 1000000L)
      tny <- orNull(Gen.chooseNum(-128, 127).map(_.toByte))
      flt <- orNull(Gen.chooseNum(-1e6f, 1e6f))
      d <- orNull(Gen.chooseNum(0L, 20000L).map(ep =>
        java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(ep))))
      dtl <- orNull(for {
        sec <- Gen.chooseNum(0L, 2000000000L)
        us <- Gen.chooseNum(0L, 999999L)
      } yield java.time.LocalDateTime.ofEpochSecond(sec,
        us.toInt * 1000, java.time.ZoneOffset.UTC))
      tsu <- orNull(for {
        sec <- Gen.chooseNum(1L, 4000000000L)
        us <- Gen.chooseNum(0L, 999999L)
      } yield {
        val t = new java.sql.Timestamp(sec * 1000L)
        t.setNanos(us.toInt * 1000); t
      })
      tsec <- orNull(Gen.chooseNum(0, 838 * 3600))
      tier <- orNull(Gen.oneOf("" +: enumVals))
      flags <- orNull(Gen.chooseNum(0L, (1L << 10) - 1))
      bits <- orNull(Gen.chooseNum(0L, (1L << 33) - 1))
      yr <- orNull(Gen.oneOf(Gen.const(0), Gen.chooseNum(1901, 2155))
        .map(_.toShort))
      blob <- orNull(Gen.listOf(Gen.chooseNum(-128, 127).map(_.toByte))
        .map(_.take(200).toArray))
      code <- orNull(Gen.asciiPrintableStr.map(_.take(280)))
      ub <- orNull(Gen.chooseNum(0L, Long.MaxValue).map(v =>
        new java.math.BigDecimal(java.math.BigInteger.valueOf(v)
          .shiftLeft(1))))
      attrs <- orNull(Gen.oneOf(
        Gen.chooseNum(-1000000L, 1000000L).map(_.toString),
        Gen.const("""{"a":1,"bb":[true,null,"x"]}"""),
        Gen.const("\"just a string\"")))
    } yield Row(Seq[Any]("I", seq, ts, okey, tny, flt, d, dtl, tsu,
      tsec, tier, flags, bits, yr, blob, code, ub, attrs): _*)
    val schema = StructType(
      Seq(StructField("op", StringType), StructField("seq", LongType),
        StructField("tsSec", LongType)) ++
        tcols.map { case (n, t) => StructField(n, t) })
    (0 until 3).foreach { i =>
      val rows = Gen.listOfN(40, genRow)
        .apply(Gen.Parameters.default, Seed(77L + i)).get
      val env = spark.createDataFrame(
        java.util.Arrays.asList(rows: _*), schema)
        .withColumn("ts", timestamp_seconds(col("tsSec"))
          .cast(TimestampNTZType))
        .select((Seq(col("op"), col("seq"), col("ts")) ++
          tcols.map(c => col(c._1))): _*)
      val dir = tmp()
      BinlogBinary.render(env, tcols, s"$dir/b", files = 2,
        hints = hints)
      val back = BinlogBinary.parse(spark, s"$dir/b", tcols,
        hints = hints)
      def canon(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(_.toSeq.map {
          case a: Array[Byte] => a.toSeq
          case x => x
        }.map(String.valueOf(_)).mkString("")).sorted.toSeq
      assert(canon(back) == canon(env), s"typed sample $i diverged")
    }
  }

  test("refusals: truncation, checksum corruption, bad magic, missing " +
      "TABLE_MAP, and stale declarations all refuse loudly") {
    val env = envDf(Seq(
      ("I", 1L, 800000000L, 1L, 10.5, "abc"),
      ("U", 2L, 800000001L, 1L, 11.5, "def")))
    val dir = tmp()
    BinlogBinary.render(env, cols, s"$dir/good", files = 1)
    val good = java.nio.file.Files.readAllBytes(
      new java.io.File(s"$dir/good").listFiles()
        .filter(_.getName.startsWith("bin.")).head.toPath)

    def refuse(bytes: Array[Byte], naming: String,
        declared: Seq[(String, DataType)] = cols): Unit = {
      val d2 = tmp()
      java.nio.file.Files.createDirectories(
        java.nio.file.Paths.get(s"$d2/b"))
      java.nio.file.Files.write(
        java.nio.file.Paths.get(s"$d2/b/bin.000000"), bytes)
      val e = intercept[Throwable] {
        BinlogBinary.parse(spark, s"$d2/b", declared).collect()
      }
      val msg = Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
        .map(m => Option(m.getMessage).getOrElse("")).mkString(" | ")
      assert(msg.contains(naming), s"wanted '$naming', got: $msg")
    }

    // TRUNCATED: the last event's declared size overruns the file
    refuse(good.dropRight(10), "truncated or corrupt")
    // mid-header truncation
    refuse(good.dropRight(good.length - (4 + 5)), "truncated event header")
    // CHECKSUM: flip one byte inside the last event's payload
    val corrupt = good.clone()
    corrupt(corrupt.length - 9) = (corrupt(corrupt.length - 9) ^ 0x40).toByte
    refuse(corrupt, "CRC32 mismatch")
    // MAGIC: not a binlog file
    refuse("CSV,not,binlog\n".getBytes("UTF-8"), "bad magic")
    // MISSING TABLE_MAP: a mid-stream slice (FDE + row event, no map)
    val fde = BinlogBinary.fdeEvent()
    val rowsEventBytes = good.drop(4 + fde.length +
      BinlogBinary.tableMapEvent("orders", cols).length)
    val slice = Array[Byte](0xfe.toByte, 'b', 'i', 'n') ++ fde ++
      rowsEventBytes
    refuse(slice, "no preceding TABLE_MAP")
    // STALE DECLARATION: wrong arity
    refuse(good, "declared 2", Seq("okey" -> LongType,
      "price" -> DoubleType))
    // STALE DECLARATION: wrong type at a position
    refuse(good, "declaration is stale", Seq("okey" -> LongType,
      "price" -> DoubleType, "status" -> LongType))
    // FIRST EVENT NOT FDE: decoding cannot know the checksum algorithm
    refuse(Array[Byte](0xfe.toByte, 'b', 'i', 'n') ++
      BinlogBinary.tableMapEvent("orders", cols),
      "not a FORMAT_DESCRIPTION")
  }

  test("renderer refuses what the format cannot carry: sub-second " +
      "timestamps, 33-bit positions, oversized strings") {
    val dir = tmp()
    // sub-second ts
    val subSec = envDf(Seq(("I", 1L, 800000000L, 1L, 1.0, "x")))
      .withColumn("ts", (col("ts").cast(TimestampType) +
        expr("INTERVAL 0.5 SECOND")).cast(TimestampNTZType))
    val e1 = intercept[Throwable] {
      BinlogBinary.render(subSec, cols, s"$dir/b1", files = 1)
    }
    assert(Iterator.iterate(e1)(_.getCause).takeWhile(_ != null)
      .map(m => Option(m.getMessage).getOrElse("")).mkString(" | ")
      .contains("second-granular"))
    // a position past 2^32 cannot ride the 4-byte log_pos field
    val bigSeq = envDf(Seq(("I", 5000000000L, 800000000L, 1L, 1.0, "x")))
    val e2 = intercept[Throwable] {
      BinlogBinary.render(bigSeq, cols, s"$dir/b2", files = 1)
    }
    assert(Iterator.iterate(e2)(_.getCause).takeWhile(_ != null)
      .map(m => Option(m.getMessage).getOrElse("")).mkString(" | ")
      .contains("32-bit"))
  }

  test("multi-row events decode: one event body carrying several rows " +
      "(the STMT_END_F batch shape a real server writes)") {
    // compose a two-row WRITE_ROWS v2 event by hand via the builders
    val b = new java.io.ByteArrayOutputStream()
    var tid = 108L
    (0 until 6).foreach { _ => b.write((tid & 0xff).toInt); tid >>= 8 }
    b.write(1); b.write(0) // flags LE
    b.write(2); b.write(0) // extra-data len = 2
    b.write(3) // packed width
    b.write(0xff) // present bitmap: all 3
    def image(okey: Long, price: Double, status: String): Unit = {
      b.write(0) // null bitmap: none null
      var v = okey
      (0 until 8).foreach { _ => b.write((v & 0xff).toInt); v >>= 8 }
      var d = java.lang.Double.doubleToLongBits(price)
      (0 until 8).foreach { _ => b.write((d & 0xff).toInt); d >>= 8 }
      val s = status.getBytes("UTF-8")
      b.write(s.length & 0xff); b.write((s.length >> 8) & 0xff)
      b.write(s)
    }
    image(7L, 1.5, "a")
    image(8L, 2.5, "b")
    val event = BinlogBinary.sealEvent(800000000L, 30, 77L, b.toByteArray)
    val file = Array[Byte](0xfe.toByte, 'b', 'i', 'n') ++
      BinlogBinary.fdeEvent() ++
      BinlogBinary.tableMapEvent("orders", cols) ++ event
    val dir = tmp()
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(s"$dir/b"))
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$dir/b/bin.000000"), file)
    val got = BinlogBinary.parse(spark, s"$dir/b", cols)
      .orderBy(col("okey")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(3),
        r.getDouble(4), r.getString(5))).toSeq
    assert(got == Seq(("I", 77L, 7L, 1.5, "a"), ("I", 77L, 8L, 2.5, "b")))
  }

  test("parseDdl: Query events extract position-sorted statements; " +
      "BEGIN/COMMIT/SET punctuation skips — same filter as the text path") {
    val env = envDf(Seq(("I", 50L, 800000000L, 1L, 1.0, "x")))
    val dir = tmp()
    BinlogBinary.render(env, cols, s"$dir/b", files = 1)
    BinlogBinary.writeEvents(s"$dir/b", "bin.000009", Seq(
      BinlogBinary.queryEvent(10L, 800000000L, "BEGIN"),
      BinlogBinary.queryEvent(20L, 800000000L,
        "ALTER TABLE orders ADD COLUMN note VARCHAR(32) DEFAULT 'none'"),
      BinlogBinary.queryEvent(20L, 800000000L,
        "ALTER TABLE orders RENAME COLUMN channel TO chan"),
      BinlogBinary.queryEvent(30L, 800000001L, "COMMIT"),
      BinlogBinary.queryEvent(40L, 800000001L, "SET TIMESTAMP=800000001"),
      BinlogBinary.queryEvent(60L, 800000002L, "TRUNCATE TABLE orders")))
    assert(BinlogBinary.parseDdl(spark, s"$dir/b") == Seq(
      20L -> "ALTER TABLE orders ADD COLUMN note VARCHAR(32) DEFAULT 'none'",
      20L -> "ALTER TABLE orders RENAME COLUMN channel TO chan",
      60L -> "TRUNCATE TABLE orders"))
    // and the extracted statements feed the SAME DdlSql fold
    val cfg = graft.streaming.DdlSql.fold(
      BinlogBinary.parseDdl(spark, s"$dir/b"),
      tableFilter = Some("orders"))
    assert(cfg.renameCols == Map("channel" -> "chan"))
    assert(cfg.defaultCols.keySet == Set("note"))
    assert(cfg.truncateAtSeq.contains(60L))
  }

  test("parseTxn from raw bytes: GTID events delimit, Xids become " +
      "commit markers in ONE distributed decode, the uncommitted " +
      "tail arrives marker-less, pre-stamp rows refuse") {
    val uuid = "3e11fa47-71ca-11e1-9e33-c80aa9429562"
    val dir = tmp()
    // rows: txn 1 = okeys 1,2 (positions 11,12); txn 2 = okey 3 (21)
    val env = envDf(Seq(
      ("I", 11L, 800000000L, 1L, 1.5, "a"),
      ("I", 12L, 800000000L, 2L, 2.5, "b"),
      ("I", 21L, 800000060L, 3L, 3.5, "c")))
    BinlogBinary.render(env, cols, s"$dir/b", files = 1)
    BinlogBinary.writeEvents(s"$dir/b", "bin.000009", Seq(
      BinlogBinary.gtidEvent(10L, 800000000L, uuid, 1L),
      BinlogBinary.gtidEvent(20L, 800000060L, uuid, 2L),
      BinlogBinary.xidEvent(19L, 800000000L, 7L)))
    assert(BinlogBinary.parseGtidIndex(spark, s"$dir/b") == Seq(
      (10L, uuid, 1L), (20L, uuid, 2L)))
    assert(BinlogBinary.parseXids(spark, s"$dir/b") ==
      Seq(19L -> 800000000L))
    val txn = BinlogBinary.parseTxn(spark, s"$dir/b", cols)
    // one dump relation in the plan: markers ride the same decode
    val leaves = txn.queryExecution.optimizedPlan.collectLeaves()
    assert(leaves.size == 1,
      s"expected ONE dump relation, got ${leaves.map(_.getClass.getSimpleName)}")
    val got = txn.orderBy(col("seq")).collect()
      .map(r => (r.getString(0), r.getLong(1),
        r.getString(r.fieldIndex("txn")))).toSeq
    assert(got == Seq(
      ("I", 11L, s"$uuid:1"), ("I", 12L, s"$uuid:1"),
      ("C", 19L, s"$uuid:1"), ("I", 21L, s"$uuid:2")),
      s"got: $got")
    // a row below the first GTID event refuses on action
    val dir2 = tmp()
    BinlogBinary.render(envDf(Seq(("I", 5L, 800000000L, 1L, 1.0, "x"))),
      cols, s"$dir2/b", files = 1)
    BinlogBinary.writeEvents(s"$dir2/b", "bin.000009", Seq(
      BinlogBinary.gtidEvent(10L, 800000000L, uuid, 1L)))
    val e = intercept[Throwable] {
      BinlogBinary.parseTxn(spark, s"$dir2/b", cols).collect()
    }
    assert(Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
      .map(m => Option(m.getMessage).getOrElse("")).mkString(" | ")
      .contains("precedes the dump's first GTID"))
    // a dump with no GTID events at all refuses at declare time
    val dir3 = tmp()
    BinlogBinary.render(envDf(Seq(("I", 5L, 800000000L, 1L, 1.0, "x"))),
      cols, s"$dir3/b", files = 1)
    val e2 = intercept[IllegalArgumentException] {
      BinlogBinary.parseTxn(spark, s"$dir3/b", cols)
    }
    assert(e2.getMessage.contains("no GTID events"))
  }

  test("BinlogBinaryCdcSource: the pass TAILS raw rotations; a file " +
      "without a trailing ROTATE/STOP event refuses as torn") {
    import graft.streaming.StreamingOps
    import graft.sources.BinlogBinaryCdcSource
    val base = tmp()
    val dump = s"$base/dump"
    // rotation 1: two inserts, rendered complete (trailing ROTATE)
    BinlogBinary.render(envDf(Seq(
      ("I", 1L, 800000000L, 1L, 10.0, "a"),
      ("I", 2L, 800000000L, 2L, 20.0, "b"))), cols, dump, files = 1)
    val src = BinlogBinaryCdcSource(dump, cols)
    assert(src.schema.fieldNames.toSeq ==
      Seq("op", "seq", "ts", "okey", "price", "status"))
    StreamingOps.runCdcPass(spark, src, s"$base/ckpt", s"$base/state")
    def served: Map[Long, Double] =
      StreamingOps.readLatestState(spark, s"$base/state")
        .select("okey", "price").collect()
        .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(served == Map(1L -> 10.0, 2L -> 20.0))
    // rotation 2 lands: an EMPTY finished rotation (TABLE_MAP +
    // trailing ROTATE, no rows — servers write these), then rotation 3
    // with the delete; the RESUMED pass consumes only the new files
    BinlogBinary.writeEvents(dump, "bin.000100", Seq(
      BinlogBinary.tableMapEvent("orders", cols),
      BinlogBinary.rotateEvent("bin.000101")))
    BinlogBinary.render(envDf(Seq(("D", 3L, 800000001L, 2L, null, null))),
      cols, s"$base/rot2", files = 1)
    val rot2 = new java.io.File(s"$base/rot2").listFiles()
      .filter(_.getName.startsWith("bin.")).head
    java.nio.file.Files.copy(rot2.toPath,
      java.nio.file.Paths.get(s"$dump/bin.000200"))
    StreamingOps.runCdcPass(spark, src, s"$base/ckpt", s"$base/state")
    assert(served == Map(1L -> 10.0))
    // a TORN rotation (no trailing ROTATE/STOP) refuses the batch
    val base2 = tmp()
    val dump2 = s"$base2/dump"
    BinlogBinary.writeEvents(dump2, "bin.000001", Seq(
      BinlogBinary.tableMapEvent("orders", cols)))
    val src2 = BinlogBinaryCdcSource(dump2, cols)
    val e = intercept[Throwable] {
      StreamingOps.runCdcPass(spark, src2, s"$base2/ckpt",
        s"$base2/state")
    }
    assert(Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
      .map(m => Option(m.getMessage).getOrElse("")).mkString(" | ")
      .contains("in-flight or torn rotation"))
  }

  private val colsOdd: Seq[(String, DataType)] = Seq(
    "okey" -> LongType, "price" -> DoubleType, "note" -> StringType)

  test("parseMulti dispatches on the TABLE_MAP's wire table name into " +
      "the union envelope; ignored tables skip; undeclared refuses") {
    val dir = tmp()
    BinlogBinary.render(envDf(Seq(
      ("I", 1L, 800000000L, 2L, 20.0, "s2"),
      ("U", 3L, 800000002L, 2L, 21.0, "s2b"))),
      cols, s"$dir/b", files = 1, table = "t_even", prefix = "even")
    val odd = envDf(Seq(
      ("I", 2L, 800000001L, 1L, 10.0, "n1"),
      ("D", 4L, 800000003L, 1L, null, null)))
      .withColumnRenamed("status", "note")
    BinlogBinary.render(odd, colsOdd, s"$dir/b", files = 1,
      table = "t_odd", prefix = "odd", append = true)
    // an excluded table's events ride the same dump
    BinlogBinary.render(envDf(Seq(("I", 9L, 800000009L, 7L, 7.0, "x"))),
      cols, s"$dir/b", files = 1, table = "audit", prefix = "audit",
      append = true)
    val env = BinlogBinary.parseMulti(spark, s"$dir/b",
      Map("t_even" -> cols, "t_odd" -> colsOdd),
      ignoreTables = Set("audit"))
    // union envelope: byte-identical schema to the text transport's
    val dirT = tmp()
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(s"$dirT/empty"))
    assert(env.schema == BinlogText.parseMulti(spark, s"$dirT/empty",
      Map("t_even" -> cols, "t_odd" -> colsOdd),
      ignoreTables = Set("audit")).schema)
    val got = env.orderBy(col("seq")).collect().map(r =>
      (r.getString(0), r.getLong(1), r.getString(3),
        r.getAs[Any]("okey"), r.getAs[Any]("price"),
        r.getAs[Any]("status"), r.getAs[Any]("note"))).toSeq
    assert(got == Seq(
      ("I", 1L, "t_even", 2L, 20.0, "s2", null),
      ("I", 2L, "t_odd", 1L, 10.0, null, "n1"),
      ("U", 3L, "t_even", 2L, 21.0, "s2b", null),
      ("D", 4L, "t_odd", 1L, null, null, null)), s"got: $got")
    // the same dump with audit neither declared nor excluded refuses
    val e = intercept[Throwable] {
      BinlogBinary.parseMulti(spark, s"$dir/b",
        Map("t_even" -> cols, "t_odd" -> colsOdd)).collect()
    }
    assert(Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
      .map(m => Option(m.getMessage).getOrElse("")).mkString(" | ")
      .contains("names table 'audit'"))
    // a PER-TABLE stale declaration refuses with the table named
    val e2 = intercept[Throwable] {
      BinlogBinary.parseMulti(spark, s"$dir/b",
        Map("t_even" -> cols,
          "t_odd" -> Seq[(String, DataType)]("okey" -> LongType,
            "price" -> DoubleType, "note" -> LongType)),
        ignoreTables = Set("audit")).collect()
    }
    assert(Iterator.iterate(e2)(_.getCause).takeWhile(_ != null)
      .map(m => Option(m.getMessage).getOrElse("")).mkString(" | ")
      .contains("for table 't_odd'"))
  }

  test("parseMulti: interleaved and RE-REGISTERED table ids in ONE " +
      "file dispatch each row event under its live TABLE_MAP") {
    val dir = tmp()
    val t0 = java.time.LocalDateTime.ofEpochSecond(
      800000000L, 0, java.time.ZoneOffset.UTC)
    def evenRow(seq: Long, okey: Long, price: Double, status: String) =
      Row("I", seq, t0, okey, price, status)
    def oddRow(seq: Long, okey: Long, price: Double, note: String) =
      Row("I", seq, t0, okey, price, note)
    // tid 7 = t_even, tid 9 first maps t_odd, later RE-REGISTERS to
    // t_even (servers reuse table ids across TABLE_MAPs; the LAST
    // registration owns the id) — rows interleave across both maps
    BinlogBinary.writeEvents(s"$dir/b", "bin.000001", Seq(
      BinlogBinary.tableMapEvent("t_even", cols, tableId = 7L),
      BinlogBinary.rowsEvent(evenRow(1L, 10L, 1.0, "a"), cols, 7L),
      BinlogBinary.tableMapEvent("t_odd", colsOdd, tableId = 9L),
      BinlogBinary.rowsEvent(oddRow(2L, 11L, 2.0, "n"), colsOdd, 9L),
      BinlogBinary.rowsEvent(evenRow(3L, 12L, 3.0, "b"), cols, 7L),
      BinlogBinary.tableMapEvent("t_even", cols, tableId = 9L),
      BinlogBinary.rowsEvent(evenRow(4L, 13L, 4.0, "c"), cols, 9L)))
    val env = BinlogBinary.parseMulti(spark, s"$dir/b",
      Map("t_even" -> cols, "t_odd" -> colsOdd))
    val got = env.orderBy(col("seq")).collect().map(r =>
      (r.getLong(1), r.getString(3), r.getAs[Any]("status"),
        r.getAs[Any]("note"))).toSeq
    assert(got == Seq(
      (1L, "t_even", "a", null), (2L, "t_odd", null, "n"),
      (3L, "t_even", "b", null), (4L, "t_even", "c", null)),
      s"got: $got")
  }

  test("parseMultiTxn: one topology-level Xid closes a CROSS-TABLE " +
      "transaction; the uncommitted tail stays marker-less; one scan") {
    val dir = tmp()
    val uuid = "3e11fa47-71ca-11e1-9e33-c80aa9429562"
    // txn 1 spans t_even (pos 11) and t_odd (pos 12), Xid at 19;
    // txn 2 (pos 21) has no Xid — the uncommitted tail
    BinlogBinary.render(envDf(Seq(
      ("I", 11L, 800000000L, 1L, 1.5, "a"),
      ("I", 21L, 800000060L, 3L, 3.5, "c"))),
      cols, s"$dir/b", files = 1, table = "t_even", prefix = "even")
    BinlogBinary.render(
      envDf(Seq(("I", 12L, 800000000L, 2L, 2.5, "n2")))
        .withColumnRenamed("status", "note"),
      colsOdd, s"$dir/b", files = 1, table = "t_odd", prefix = "odd",
      append = true)
    BinlogBinary.writeEvents(s"$dir/b", "bin.000009", Seq(
      BinlogBinary.gtidEvent(10L, 800000000L, uuid, 1L),
      BinlogBinary.gtidEvent(20L, 800000060L, uuid, 2L),
      BinlogBinary.xidEvent(19L, 800000000L, 7L)))
    val txn = BinlogBinary.parseMultiTxn(spark, s"$dir/b",
      Map("t_even" -> cols, "t_odd" -> colsOdd))
    // rows and markers decode in ONE pass: a single dump relation
    val leaves = txn.queryExecution.optimizedPlan.collectLeaves()
    assert(leaves.size == 1,
      s"expected ONE dump relation, got ${leaves.map(_.getClass.getSimpleName)}")
    val got = txn.orderBy(col("seq")).collect().map(r =>
      (r.getString(0), r.getLong(1), r.getString(3),
        r.getString(r.fieldIndex("txn")))).toSeq
    assert(got == Seq(
      ("I", 11L, "t_even", s"$uuid:1"),
      ("I", 12L, "t_odd", s"$uuid:1"),
      ("C", 19L, "_ctl", s"$uuid:1"),
      ("I", 21L, "t_even", s"$uuid:2")), s"got: $got")
  }

  test("gtidStartAfter: a resume token decodes against the BINARY " +
      "GTID index under the same shared boundary rule as text") {
    val dir = tmp()
    val uuid = "3e11fa47-71ca-11e1-9e33-c80aa9429562"
    BinlogBinary.render(envDf(Seq(
      ("I", 11L, 800000000L, 1L, 1.5, "a"),
      ("I", 21L, 800000060L, 3L, 3.5, "c"))),
      cols, s"$dir/b", files = 1)
    BinlogBinary.writeEvents(s"$dir/b", "bin.000009", Seq(
      BinlogBinary.gtidEvent(10L, 800000000L, uuid, 1L),
      BinlogBinary.gtidEvent(20L, 800000060L, uuid, 2L)))
    // txn 1 covered -> boundary one position below txn 2's stamp
    assert(BinlogBinary.gtidStartAfter(spark, s"$dir/b",
      s"$uuid:1", Seq(uuid -> 0L)) == 19L)
    // the whole dump covered -> everything already applied
    assert(BinlogBinary.gtidStartAfter(spark, s"$dir/b",
      s"$uuid:1-2", Seq(uuid -> 0L)) == Long.MaxValue)
    // a foreign-source token refuses through the shared codec
    val e = intercept[Throwable] {
      BinlogBinary.gtidStartAfter(spark, s"$dir/b",
        "11111111-2222-3333-4444-555555555555:1", Seq(uuid -> 0L))
    }
    assert(Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
      .map(m => Option(m.getMessage).getOrElse("")).mkString(" | ")
      .nonEmpty)
  }

  test("ENUM value-list charsets (TLV 10): latin1 member bytes " +
      "transcode through the wire's own metadata; unknown ids and " +
      "uncarriable members refuse by name") {
    val colsE: Seq[(String, DataType)] = Seq(
      "okey" -> LongType, "price" -> DoubleType, "tier" -> StringType)
    val members = Seq("doré", "argenté", "bronzé")
    val schema = StructType(Seq(
      StructField("op", StringType), StructField("seq", LongType),
      StructField("tsSec", LongType), StructField("okey", LongType),
      StructField("price", DoubleType), StructField("tier", StringType)))
    val env = spark.createDataFrame(java.util.Arrays.asList(
      Row("I", 1L, 800000000L, 1L, 1.5, "doré"),
      Row("I", 2L, 800000001L, 2L, 2.5, "argenté")), schema)
      .withColumn("ts", timestamp_seconds(col("tsSec"))
        .cast(TimestampNTZType))
      .select("op", "seq", "ts", "okey", "price", "tier")
    val dir = tmp()
    BinlogBinary.render(env, colsE, s"$dir/b", files = 1,
      hints = Map("tier" -> BinlogBinary.WireHint.Enum(members)),
      enumSetCharset = Some(8)) // latin1_swedish_ci
    // the file really carries LATIN1 member bytes ("doré" = ...0xE9)
    val raw = java.nio.file.Files.readAllBytes(
      new java.io.File(s"$dir/b").listFiles().head.toPath)
    val latin1Dore = "doré".getBytes("ISO-8859-1")
    assert(raw.sliding(latin1Dore.length).exists(
      _.sameElements(latin1Dore)))
    assert(!raw.sliding(4).exists(
      _.sameElements("doré".getBytes("UTF-8").take(4))))
    // hint-less parse: the list resolves from the wire, transcoded
    // through the metadata's collation 8 → correct UTF-8 members
    val back = BinlogBinary.parse(spark, s"$dir/b", colsE)
      .orderBy(col("seq")).collect()
    assert(back.map(_.getString(5)).toSeq == Seq("doré", "argenté"))
    // an UNKNOWN value-list collation id refuses BY ID: patch the
    // TABLE_MAP's field-10 id (packed 8) to 77 and re-seal the CRC
    val patched = java.util.Arrays.copyOf(raw, raw.length)
    var o = 4
    var patchedCount = 0
    while (o < patched.length) {
      val et = patched(o + 4) & 0xff
      val size = java.nio.ByteBuffer.wrap(patched, o + 9, 4)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN).getInt
      if (et == 19) {
        (o until (o + size - 3)).foreach { i =>
          if ((patched(i) & 0xff) == 10 && patched(i + 1) == 1 &&
            patched(i + 2) == 8) {
            patched(i + 2) = 77
            patchedCount += 1
          }
        }
        val crc = new java.util.zip.CRC32()
        crc.update(patched, o, size - 4)
        var v = crc.getValue
        (0 until 4).foreach { k =>
          patched(o + size - 4 + k) = ((v >> (8 * k)) & 0xff).toByte }
      }
      o += size
    }
    assert(patchedCount == 1, s"patched $patchedCount field-10 ids")
    val dir2 = tmp()
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(s"$dir2/b"))
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$dir2/b/bin.000000"), patched)
    val eu = intercept[Throwable] {
      BinlogBinary.parse(spark, s"$dir2/b", colsE).collect() }
    val mu = Iterator.iterate(eu)(_.getCause).takeWhile(_ != null)
      .map(m => Option(m.getMessage).getOrElse("")).mkString(" | ")
    assert(mu.contains("value-list collation id 77"), s"got: $mu")
    // render-side refusals: a member the declared charset cannot
    // carry, and a binary/unknown enumSetCharset
    val e1 = intercept[Exception] {
      BinlogBinary.render(env, colsE, s"${tmp()}/b", files = 1,
        hints = Map("tier" -> BinlogBinary.WireHint.Enum(
          Seq("ok", "volt⚡"))), enumSetCharset = Some(8)) }
    assert(Iterator.iterate[Throwable](e1)(_.getCause)
      .takeWhile(_ != null).map(m => Option(m.getMessage).getOrElse(""))
      .mkString(" | ").contains("does not survive charset"))
    val e2 = intercept[Exception] {
      BinlogBinary.render(env, colsE, s"${tmp()}/b", files = 1,
        hints = Map("tier" -> BinlogBinary.WireHint.Enum(members)),
        enumSetCharset = Some(63)) }
    assert(Iterator.iterate[Throwable](e2)(_.getCause)
      .takeWhile(_ != null).map(m => Option(m.getMessage).getOrElse(""))
      .mkString(" | ").contains("unknown or binary"))
  }

  test("SET value-list charset (TLV 5 + 10, round-20 ADVICE): a " +
      "SET-ONLY table's declared enumSetCharset is emitted and the " +
      "member bytes ride that charset — not UTF-8 — so the hint-less " +
      "decode transcodes them back intact") {
    // render side declares the bitmask column (SetNamed hint); the
    // parse side declares StringType with NO hint — the wire's own
    // member list + charset drive the decode (the set_names posture)
    val colsS: Seq[(String, DataType)] = Seq(
      "okey" -> LongType, "price" -> DoubleType, "flags" -> LongType)
    val colsParse: Seq[(String, DataType)] = Seq(
      "okey" -> LongType, "price" -> DoubleType, "flags" -> StringType)
    val members = Seq("doré", "argenté")
    val schema = StructType(Seq(
      StructField("op", StringType), StructField("seq", LongType),
      StructField("tsSec", LongType), StructField("okey", LongType),
      StructField("price", DoubleType), StructField("flags", LongType)))
    val env = spark.createDataFrame(java.util.Arrays.asList(
      Row("I", 1L, 800000000L, 1L, 1.5, 1L), // {doré}
      Row("I", 2L, 800000001L, 2L, 2.5, 3L)), schema) // {doré,argenté}
      .withColumn("ts", timestamp_seconds(col("tsSec"))
        .cast(TimestampNTZType))
      .select("op", "seq", "ts", "okey", "price", "flags")
    val dir = tmp()
    BinlogBinary.render(env, colsS, s"$dir/b", files = 1,
      hints = Map("flags" -> BinlogBinary.WireHint.SetNamed(members)),
      enumSetCharset = Some(8)) // latin1_swedish_ci
    // the wire carries LATIN1 member bytes and the field-10 id — a
    // SET-only table used to write UTF-8 members and silently drop
    // the charset declaration (mojibake on decode)
    val raw = java.nio.file.Files.readAllBytes(
      new java.io.File(s"$dir/b").listFiles().head.toPath)
    val latin1Dore = "doré".getBytes("ISO-8859-1")
    assert(raw.sliding(latin1Dore.length).exists(
      _.sameElements(latin1Dore)))
    assert(!raw.sliding(4).exists(
      _.sameElements("doré".getBytes("UTF-8").take(4))))
    val back = BinlogBinary.parse(spark, s"$dir/b", colsParse)
      .orderBy(col("seq")).collect()
    assert(back.map(_.getString(5)).toSeq ==
      Seq("doré", "doré,argenté"))
    // a member the declared charset cannot carry refuses by name on
    // the SET side exactly like the ENUM side
    val e1 = intercept[Exception] {
      BinlogBinary.render(env, colsS, s"${tmp()}/b", files = 1,
        hints = Map("flags" -> BinlogBinary.WireHint.SetNamed(
          Seq("ok", "volt⚡"))), enumSetCharset = Some(8)) }
    assert(Iterator.iterate[Throwable](e1)(_.getCause)
      .takeWhile(_ != null).map(m => Option(m.getMessage).getOrElse(""))
      .mkString(" | ").contains("does not survive charset"))
  }

  test("MariaDB compressed row events (166-168): per-event zlib " +
      "blocks inflate and decode like clear events; corrupt frames, " +
      "short inflates, and unknown algorithms refuse by name") {
    val env = envDf(Seq(
      ("I", 1L, 800000000L, 1L, 10.5, "plain"),
      ("I", 2L, 800000001L, 2L, null, null),
      ("U", 3L, 800000002L, 1L, -7.25, "quote 'n' slash — ünïcodé"),
      ("D", 4L, 900000000L, 2L, null, null)))
    val dir = tmp()
    BinlogBinary.renderCompressedMaria(env, cols, s"$dir/b", files = 2)
    val back = BinlogBinary.parse(spark, s"$dir/b", cols)
    assert(back.collect().map(_.toSeq).toSet ==
      env.collect().map(_.toSeq).toSet)
    // the files really carry types 166-168, no clear row events
    val raw = java.nio.file.Files.readAllBytes(
      new java.io.File(s"$dir/b").listFiles()
        .filter(_.getName.startsWith("bin.")).head.toPath)
    def types(bytes: Array[Byte]): Seq[Int] = {
      var o = 4
      val out = Vector.newBuilder[Int]
      while (o < bytes.length) {
        out += (bytes(o + 4) & 0xff)
        o += java.nio.ByteBuffer.wrap(bytes, o + 9, 4)
          .order(java.nio.ByteOrder.LITTLE_ENDIAN).getInt
      }
      out.result()
    }
    assert(types(raw).exists(t => t >= 166 && t <= 168))
    assert(!types(raw).exists(t => t >= 30 && t <= 32),
      "row images must ride compressed, not as clear v2 events")
    // corrupt zlib bytes refuse naming the inflation (flip a byte
    // inside the first compressed event's block)
    val corrupt = java.util.Arrays.copyOf(raw, raw.length)
    var o = 4
    var done = false
    while (!done && o < corrupt.length) {
      val et = corrupt(o + 4) & 0xff
      val size = java.nio.ByteBuffer.wrap(corrupt, o + 9, 4)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN).getInt
      if (et >= 166 && et <= 168) {
        val mid = o + size - 10 // inside the deflate stream
        corrupt(mid) = (corrupt(mid) ^ 0x5a).toByte
        val crc = new java.util.zip.CRC32()
        crc.update(corrupt, o, size - 4)
        var v = crc.getValue
        (0 until 4).foreach { k =>
          corrupt(o + size - 4 + k) = ((v >> (8 * k)) & 0xff).toByte }
        done = true
      }
      o += size
    }
    assert(done)
    val dir2 = tmp()
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(s"$dir2/b"))
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$dir2/b/bin.000000"), corrupt)
    val e = intercept[Throwable] {
      BinlogBinary.parse(spark, s"$dir2/b", cols).collect() }
    val msg = Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
      .map(m => Option(m.getMessage).getOrElse("")).mkString(" | ")
    assert(msg.contains("inflate") || msg.contains("declared") ||
      msg.contains("corrupt"), s"got: $msg")
    // an unknown algorithm nibble refuses by value: patch the block
    // header byte (0x80|lenlen -> 0x80|alg1|lenlen) in a fresh copy
    val badAlg = java.util.Arrays.copyOf(raw, raw.length)
    o = 4; done = false
    while (!done && o < badAlg.length) {
      val et = badAlg(o + 4) & 0xff
      val size = java.nio.ByteBuffer.wrap(badAlg, o + 9, 4)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN).getInt
      if (et >= 166 && et <= 168) {
        // block header = first byte with bit 7 set after the bitmaps;
        // for this 3-column fixture it sits at post-header+2+1+1(+1)
        var i = o + 19 + 8 + 1 + 1 // header+tid/flags+count+bitmap
        if (et == 167) i += 1 // update: second bitmap
        assert((badAlg(i) & 0x80) != 0, "block header not where expected")
        badAlg(i) = (badAlg(i) | 0x10).toByte // algorithm 1
        val crc = new java.util.zip.CRC32()
        crc.update(badAlg, o, size - 4)
        var v = crc.getValue
        (0 until 4).foreach { k =>
          badAlg(o + size - 4 + k) = ((v >> (8 * k)) & 0xff).toByte }
        done = true
      }
      o += size
    }
    assert(done)
    val dir3 = tmp()
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(s"$dir3/b"))
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$dir3/b/bin.000000"), badAlg)
    val ea = intercept[Throwable] {
      BinlogBinary.parse(spark, s"$dir3/b", cols).collect() }
    val ma = Iterator.iterate(ea)(_.getCause).takeWhile(_ != null)
      .map(m => Option(m.getMessage).getOrElse("")).mkString(" | ")
    assert(ma.contains("algorithm 1"), s"got: $ma")
  }

  test("ROWS_QUERY (type 29): the statement's original SQL rides its " +
      "row events as the opt-in audit column, NULL when absent, " +
      "cleared at statement/transaction ends") {
    val t0 = java.time.LocalDateTime.ofEpochSecond(
      800000000L, 0, java.time.ZoneOffset.UTC)
    val dir = tmp()
    BinlogBinary.writeEvents(s"$dir/b", "bin.000001", Seq(
      // statement 1: ROWS_QUERY + two row events + Xid (clears)
      BinlogBinary.rowsQueryEvent(9L, 800000000L,
        "UPDATE orders SET price = price + 1 WHERE okey < 100"),
      BinlogBinary.tableMapEvent("t", cols),
      BinlogBinary.rowsEvent(Row("I", 10L, t0, 1L, 1.5, "a"), cols),
      BinlogBinary.rowsEvent(Row("I", 11L, t0, 2L, 2.5, "b"), cols),
      BinlogBinary.xidEvent(12L, 800000000L, 1L),
      // statement 2: NO ROWS_QUERY — its rows serve NULL
      BinlogBinary.rowsEvent(Row("I", 20L, t0, 3L, 3.5, "c"), cols)))
    val got = BinlogBinary.parse(spark, s"$dir/b", cols,
      rowsQueryCol = Some("_sql")).orderBy(col("seq")).collect()
    assert(got.map(r => (r.getLong(1),
      Option(r.getString(r.fieldIndex("_sql"))))).toSeq == Seq(
      10L -> Some("UPDATE orders SET price = price + 1 WHERE okey < 100"),
      11L -> Some("UPDATE orders SET price = price + 1 WHERE okey < 100"),
      20L -> None))
    // the MARIA dialect's twin (ANNOTATE_ROWS, type 160: bare text,
    // no length byte) feeds the SAME audit column and clear rules
    val dirA = tmp()
    BinlogBinary.writeEvents(s"$dirA/b", "bin.000001", Seq(
      BinlogBinary.annotateRowsEventMaria(9L, 800000000L,
        "DELETE FROM orders WHERE okey = 7"),
      BinlogBinary.tableMapEvent("t", cols),
      BinlogBinary.rowsEvent(Row("D", 10L, t0, 7L, null, null), cols),
      BinlogBinary.xidEvent(11L, 800000000L, 1L),
      BinlogBinary.rowsEvent(Row("I", 20L, t0, 8L, 8.5, "h"), cols)))
    val gotA = BinlogBinary.parse(spark, s"$dirA/b", cols,
      rowsQueryCol = Some("_sql")).orderBy(col("seq")).collect()
    assert(gotA.map(r => (r.getLong(1),
      Option(r.getString(r.fieldIndex("_sql"))))).toSeq == Seq(
      10L -> Some("DELETE FROM orders WHERE okey = 7"),
      20L -> None))
    // a dump with NO type-29 events serves NULL throughout, and the
    // column is invisible unless opted in
    val env = envDf(Seq(("I", 1L, 800000000L, 1L, 1.0, "x")))
    val dir2 = tmp()
    BinlogBinary.render(env, cols, s"$dir2/b", files = 1)
    val plain = BinlogBinary.parse(spark, s"$dir2/b", cols,
      rowsQueryCol = Some("_sql")).collect()
    assert(plain.forall(_.isNullAt(plain.head.fieldIndex("_sql"))))
    assert(!BinlogBinary.parse(spark, s"$dir2/b", cols).schema
      .fieldNames.contains("_sql"))
    // a colliding audit-column name refuses
    intercept[IllegalArgumentException] {
      BinlogBinary.parse(spark, s"$dir2/b", cols,
        rowsQueryCol = Some("status")) }
  }

  test("SET_STR_VALUE (TLV 5): a StringType SET column decodes to " +
      "MySQL's comma-joined member text from the wire's own list; " +
      "stale masks and missing lists refuse by name") {
    val renderCols: Seq[(String, DataType)] = Seq(
      "okey" -> LongType, "tags" -> LongType)
    val t0 = java.time.LocalDateTime.ofEpochSecond(
      800000000L, 0, java.time.ZoneOffset.UTC)
    val schema = StructType(Seq(
      StructField("op", StringType), StructField("seq", LongType),
      StructField("tsSec", LongType), StructField("okey", LongType),
      StructField("tags", LongType)))
    val env = spark.createDataFrame(java.util.Arrays.asList(
      Row("I", 1L, 800000000L, 1L, 5L), // bits 0+2 = a,c
      Row("I", 2L, 800000001L, 2L, 0L), // empty set
      Row("I", 3L, 800000002L, 3L, null)), schema)
      .withColumn("ts", timestamp_seconds(col("tsSec"))
        .cast(TimestampNTZType))
      .select("op", "seq", "ts", "okey", "tags")
    val dir = tmp()
    BinlogBinary.render(env, renderCols, s"$dir/b", files = 1,
      hints = Map("tags" -> BinlogBinary.WireHint.SetNamed(
        Seq("a", "b", "c", "d"))))
    // StringType declaration, NO hint: the wire's member list joins
    val got = BinlogBinary.parse(spark, s"$dir/b",
      Seq("okey" -> LongType, "tags" -> StringType))
      .orderBy(col("seq")).collect()
    assert(got.map(r => Option(r.getString(4))).toSeq ==
      Seq(Some("a,c"), Some(""), None))
    // the LongType bitmask surface still works on the same dump
    val gotL = BinlogBinary.parse(spark, s"$dir/b",
      Seq("okey" -> LongType, "tags" -> LongType))
      .orderBy(col("seq")).collect()
    assert(gotL.map(r =>
      if (r.isNullAt(4)) -1L else r.getLong(4)).toSeq ==
      Seq(5L, 0L, -1L))
    // a dump WITHOUT the member list refuses the StringType reading
    val dir2 = tmp()
    BinlogBinary.render(env, renderCols, s"$dir2/b", files = 1,
      hints = Map("tags" -> BinlogBinary.WireHint.SetBits(4)))
    val e = intercept[Throwable] {
      BinlogBinary.parse(spark, s"$dir2/b",
        Seq("okey" -> LongType, "tags" -> StringType)).collect() }
    val m = Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
      .map(x => Option(x.getMessage).getOrElse("")).mkString(" | ")
    assert(m.contains("declaration is stale"), s"got: $m")
  }

  test("MariaDB QUERY_COMPRESSED (165): DDL statements inflate into " +
      "the same parseDdl stream; noise punctuation still skips") {
    val dir = tmp()
    BinlogBinary.writeEvents(s"$dir/b", "bin.000001", Seq(
      BinlogBinary.queryEventCompressedMaria(10L, 800000000L, "BEGIN"),
      BinlogBinary.queryEventCompressedMaria(20L, 800000001L,
        "ALTER TABLE orders ADD COLUMN note VARCHAR(16) DEFAULT 'none'"),
      BinlogBinary.queryEvent(30L, 800000002L,
        "ALTER TABLE orders RENAME COLUMN status TO chan")))
    // compressed and clear Query events land in ONE position-ordered
    // DDL stream; BEGIN noise skips in both framings
    assert(BinlogBinary.parseDdl(spark, s"$dir/b") == Seq(
      20L -> ("ALTER TABLE orders ADD COLUMN note VARCHAR(16) " +
        "DEFAULT 'none'"),
      30L -> "ALTER TABLE orders RENAME COLUMN status TO chan"))
  }

  test("GEOMETRY (wire type 255): SRID+WKB bytes pass through " +
      "verbatim under BinaryType; a StringType declaration refuses " +
      "naming GEOMETRY") {
    val colsG: Seq[(String, DataType)] = Seq(
      "okey" -> LongType, "geom" -> BinaryType)
    // a real WKB POINT(1 2) with SRID 4326, little-endian
    val wkb = Array[Byte](
      0xe6.toByte, 0x10, 0, 0, // SRID 4326 LE
      1, // little-endian mark
      1, 0, 0, 0) ++ // wkbType POINT
      java.nio.ByteBuffer.allocate(16)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
        .putDouble(1.0).putDouble(2.0).array()
    val schema = StructType(Seq(
      StructField("op", StringType), StructField("seq", LongType),
      StructField("tsSec", LongType), StructField("okey", LongType),
      StructField("geom", BinaryType)))
    val env = spark.createDataFrame(java.util.Arrays.asList(
      Row("I", 1L, 800000000L, 1L, wkb),
      Row("I", 2L, 800000001L, 2L, null)), schema)
      .withColumn("ts", timestamp_seconds(col("tsSec"))
        .cast(TimestampNTZType))
      .select("op", "seq", "ts", "okey", "geom")
    val dir = tmp()
    BinlogBinary.render(env, colsG, s"$dir/b", files = 1,
      hints = Map("geom" -> BinlogBinary.WireHint.Geometry))
    // hint-less parse: the wire type drives the passthrough
    val back = BinlogBinary.parse(spark, s"$dir/b", colsG)
      .orderBy(col("seq")).collect()
    assert(java.util.Arrays.equals(
      back(0).getAs[Array[Byte]](4), wkb))
    assert(back(1).isNullAt(4))
    // a StringType declaration refuses BY NAME, not as a stale
    // generic type error
    val es = intercept[Throwable] {
      BinlogBinary.parse(spark, s"$dir/b",
        Seq("okey" -> LongType, "geom" -> StringType)).collect() }
    val ms = Iterator.iterate(es)(_.getCause).takeWhile(_ != null)
      .map(m => Option(m.getMessage).getOrElse("")).mkString(" | ")
    assert(ms.contains("GEOMETRY"), s"got: $ms")
    assert(ms.contains("BinaryType"), s"got: $ms")
  }

  test("SIMPLE_PRIMARY_KEY metadata: the dump self-describes its " +
      "collapse key; declared mismatches, absent metadata, prefix " +
      "keys, and mid-dump redefinitions refuse by name") {
    val env = envDf(Seq(
      ("I", 1L, 800000000L, 1L, 1.5, "a"),
      ("I", 2L, 800000001L, 2L, 2.5, "b")))
    val dir = tmp()
    BinlogBinary.render(env, cols, s"$dir/pk", files = 2,
      pk = Seq("okey"))
    // the wire names the key; a matching declaration validates
    assert(BinlogBinary.parsePrimaryKey(spark, s"$dir/pk") ==
      Seq("okey"))
    BinlogBinary.requirePrimaryKey(spark, s"$dir/pk", Seq("okey"))
    // a composite wire key resolves in wire ORDER
    BinlogBinary.render(env, cols, s"$dir/pk2", files = 1,
      pk = Seq("status", "okey"))
    assert(BinlogBinary.parsePrimaryKey(spark, s"$dir/pk2") ==
      Seq("status", "okey"))
    // declared-vs-wire mismatch refuses naming BOTH keys
    val em = intercept[IllegalArgumentException] {
      BinlogBinary.requirePrimaryKey(spark, s"$dir/pk", Seq("status")) }
    assert(em.getMessage.contains("PRIMARY KEY (okey)") &&
      em.getMessage.contains("collapses by (status)"), em.getMessage)
    // a dump WITHOUT the metadata refuses naming the server setting
    BinlogBinary.render(env, cols, s"$dir/nopk", files = 1)
    val ea = intercept[Throwable] {
      BinlogBinary.parsePrimaryKey(spark, s"$dir/nopk") }
    assert(ea.getMessage.contains("binlog_row_metadata=FULL"),
      ea.getMessage)
    // a PREFIX-indexed key part refuses by name (no column list can
    // express a fragment identity)
    val t0 = java.time.LocalDateTime.ofEpochSecond(
      800000000L, 0, java.time.ZoneOffset.UTC)
    BinlogBinary.writeEvents(s"$dir/prefix", "bin.000001", Seq(
      BinlogBinary.tableMapEvent("t", cols,
        pkPrefixLens = Seq("status" -> 10)),
      BinlogBinary.rowsEvent(Row("I", 5L, t0, 9L, 1.0, "x"), cols)))
    val ep = intercept[Throwable] {
      BinlogBinary.parsePrimaryKey(spark, s"$dir/prefix") }
    val mp = Iterator.iterate(ep)(_.getCause).takeWhile(_ != null)
      .map(m => Option(m.getMessage).getOrElse("")).mkString(" | ")
    assert(mp.contains("PRIMARY_KEY_WITH_PREFIX"), s"got: $mp")
    // TABLE_MAPs disagreeing mid-dump = ambiguous identity
    BinlogBinary.writeEvents(s"$dir/conflict", "bin.000001", Seq(
      BinlogBinary.tableMapEvent("t", cols, pk = Seq("okey")),
      BinlogBinary.tableMapEvent("t", cols, pk = Seq("status"))))
    val ec = intercept[Throwable] {
      BinlogBinary.parsePrimaryKey(spark, s"$dir/conflict") }
    assert(ec.getMessage.contains("conflicting primary keys"),
      ec.getMessage)
  }

  test("verifyRotationChain: ROTATE announcements must name the next " +
      "file present — a missing middle rotation refuses by name") {
    val dir = tmp()
    BinlogBinary.render(envDf(Seq(
      ("I", 1L, 800000000L, 1L, 1.0, "a"),
      ("I", 2L, 800000000L, 2L, 2.0, "b"),
      ("I", 3L, 800000000L, 3L, 3.0, "c"))),
      cols, s"$dir/b", files = 3)
    // a second name family in the same dir must chain independently
    BinlogBinary.render(envDf(Seq(("I", 9L, 800000009L, 7L, 7.0, "x"))),
      cols, s"$dir/b", files = 1, table = "audit", prefix = "audit",
      append = true)
    BinlogBinary.verifyRotationChain(spark, s"$dir/b") // intact: passes
    // delete the middle rotation: its predecessor's announcement now
    // points at a file that is not there — lost change events
    assert(new java.io.File(s"$dir/b/bin.000001").delete())
    val e = intercept[Throwable] {
      BinlogBinary.verifyRotationChain(spark, s"$dir/b")
    }
    val msg = Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
      .map(m => Option(m.getMessage).getOrElse("")).mkString(" | ")
    assert(msg.contains("announces successor 'bin.000001'"), s"got: $msg")
    assert(msg.contains("MISSING"), s"got: $msg")
  }

  test("a PARTIAL columns-present bitmap (binlog_row_image=MINIMAL) " +
      "refuses by name — absent columns are 'unchanged', not NULL") {
    // hand-built WRITE_ROWS_V2: 3-column TABLE_MAP but the present
    // bitmap covers only okey+price (0b011) — the MINIMAL shape
    val body = new java.io.ByteArrayOutputStream()
    var tid = 108L
    (0 until 6).foreach { _ => body.write((tid & 0xff).toInt); tid >>= 8 }
    body.write(Array[Byte](1, 0)) // flags
    body.write(Array[Byte](2, 0)) // v2 extra-data length (none)
    body.write(3) // packed column count
    body.write(0x03) // columns-present: okey, price only
    body.write(0x00) // null bitmap over the 2 present columns
    var v = 5L // okey
    (0 until 8).foreach { _ => body.write((v & 0xff).toInt); v >>= 8 }
    var d = java.lang.Double.doubleToLongBits(1.5) // price
    (0 until 8).foreach { _ => body.write((d & 0xff).toInt); d >>= 8 }
    val dir = tmp()
    BinlogBinary.writeEvents(s"$dir/b", "bin.000001", Seq(
      BinlogBinary.tableMapEvent("orders", cols),
      BinlogBinary.sealEvent(800000000L, 30, 7L, body.toByteArray)))
    val e = intercept[Throwable] {
      BinlogBinary.parse(spark, s"$dir/b", cols).collect()
    }
    val msg = Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
      .map(m => Option(m.getMessage).getOrElse("")).mkString(" | ")
    assert(msg.contains("PARTIAL columns-present bitmap"), s"got: $msg")
    assert(msg.contains("MINIMAL"), s"got: $msg")
  }

  test("TRANSACTION_PAYLOAD (binlog_transaction_compression): ZSTD " +
      "and NONE payloads inflate and route like plain events; " +
      "corruption and unknown compression refuse") {
    val env = envDf(Seq(
      ("I", 1L, 800000000L, 1L, 10.5, "plain"),
      ("I", 2L, 800000001L, 2L, null, null),
      ("U", 3L, 800000002L, 1L, -7.25, "quote 'n' slash — ünïcodé"),
      ("D", 4L, 900000000L, 2L, null, null)))
    val dir = tmp()
    BinlogBinary.renderCompressed(env, cols, s"$dir/b", files = 2,
      rowsPerTxn = 2)
    val back = BinlogBinary.parse(spark, s"$dir/b", cols)
    assert(back.collect().map(_.toSeq).toSet ==
      env.collect().map(_.toSeq).toSet)
    // the files really carry type-40 wrappers, not bare row events
    val raw = java.nio.file.Files.readAllBytes(
      new java.io.File(s"$dir/b").listFiles()
        .filter(_.getName.startsWith("bin.")).head.toPath)
    def eventTypes(bytes: Array[Byte]): Seq[Int] = {
      var o = 4
      val out = Vector.newBuilder[Int]
      while (o < bytes.length) {
        out += (bytes(o + 4) & 0xff)
        o += java.nio.ByteBuffer.wrap(bytes, o + 9, 4)
          .order(java.nio.ByteOrder.LITTLE_ENDIAN).getInt
      }
      out.result()
    }
    assert(eventTypes(raw).contains(40))
    assert(!eventTypes(raw).exists(t => t == 19 || t == 30 || t == 31),
      "TABLE_MAP/rows must ride INSIDE the payload, not beside it")
    // an UNCOMPRESSED (type NONE) payload decodes too
    val t0 = java.time.LocalDateTime.ofEpochSecond(
      800000000L, 0, java.time.ZoneOffset.UTC)
    val dir2 = tmp()
    BinlogBinary.writeEvents(s"$dir2/b", "bin.000001", Seq(
      BinlogBinary.payloadEvent(5L, 800000000L, Seq(
        BinlogBinary.withoutCrc(BinlogBinary.tableMapEvent("t", cols)),
        BinlogBinary.withoutCrc(BinlogBinary.rowsEvent(
          Row("I", 5L, t0, 9L, 1.0, "x"), cols))),
        compressed = false)))
    val got2 = BinlogBinary.parse(spark, s"$dir2/b", cols).collect()
    assert(got2.length == 1 && got2.head.getLong(3) == 9L)
    // corrupt ZSTD bytes refuse naming the inflation
    val corrupt = java.util.Arrays.copyOf(raw, raw.length)
    // flip a byte late in the first payload body (past the FDE)
    val fdeSize = java.nio.ByteBuffer.wrap(corrupt, 4 + 9, 4)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN).getInt
    val target = 4 + fdeSize + 19 + 12
    corrupt(target) = (corrupt(target) ^ 0x5a).toByte
    val dir3 = tmp()
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(s"$dir3/b"))
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$dir3/b/bin.000001"), corrupt)
    val e = intercept[Throwable] {
      BinlogBinary.parse(spark, s"$dir3/b", cols).collect()
    }
    val msg = Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
      .map(m => Option(m.getMessage).getOrElse("")).mkString(" | ")
    assert(msg.contains("CRC32 mismatch") || msg.contains("inflate") ||
      msg.contains("corrupt"), s"got: $msg")
  }

  test("compressed transactions gate like plain ones: the Xid rides " +
      "INSIDE the ZSTD payload, the GTID outside — parseTxn stamps " +
      "and holds the uncommitted tail; parseXids sees inner commits") {
    val uuid = "3e11fa47-71ca-11e1-9e33-c80aa9429562"
    val t0 = java.time.LocalDateTime.ofEpochSecond(
      800000000L, 0, java.time.ZoneOffset.UTC)
    def innerTxn(rows: Seq[(Long, Long, Double, String)],
        xid: Option[Long]): Seq[Array[Byte]] =
      (BinlogBinary.withoutCrc(BinlogBinary.tableMapEvent("t", cols)) +:
        rows.map { case (seq, okey, price, status) =>
          BinlogBinary.withoutCrc(BinlogBinary.rowsEvent(
            Row("I", seq, t0, okey, price, status), cols))
        }) ++ xid.map(p => BinlogBinary.withoutCrc(
        BinlogBinary.xidEvent(p, 800000000L, 7L)))
    val dir = tmp()
    BinlogBinary.writeEvents(s"$dir/b", "bin.000001", Seq(
      BinlogBinary.gtidEvent(10L, 800000000L, uuid, 1L),
      BinlogBinary.payloadEvent(11L, 800000000L,
        innerTxn(Seq((11L, 1L, 1.5, "a")), xid = Some(19L))),
      BinlogBinary.gtidEvent(20L, 800000060L, uuid, 2L),
      BinlogBinary.payloadEvent(21L, 800000060L,
        innerTxn(Seq((21L, 3L, 3.5, "c")), xid = None))))
    assert(BinlogBinary.parseXids(spark, s"$dir/b") ==
      Seq(19L -> 800000000L))
    val txn = BinlogBinary.parseTxn(spark, s"$dir/b", cols)
    val got = txn.orderBy(col("seq")).collect().map(r =>
      (r.getString(0), r.getLong(1),
        r.getString(r.fieldIndex("txn")))).toSeq
    assert(got == Seq(
      ("I", 11L, s"$uuid:1"), ("C", 19L, s"$uuid:1"),
      ("I", 21L, s"$uuid:2")), s"got: $got")
  }

  test("authentic server compression: transaction-cache-relative " +
      "inner positions renumber into the wrapper's byte footprint; " +
      "overfull wrappers, regressions, and mixed numbering refuse") {
    val uuid = "3e11fa47-71ca-11e1-9e33-c80aa9429562"
    val t0 = java.time.LocalDateTime.ofEpochSecond(
      800000000L, 0, java.time.ZoneOffset.UTC)
    // inner events carry the positions the transaction CACHE gave
    // them — small, restarting near zero, BELOW the wrapper's own
    // file-global position (what a real MySQL 8 server writes with
    // binlog_transaction_compression=ON)
    def cacheTxn(rows: Seq[(Long, Long, Double, String)],
        xidCachePos: Option[Long]): Seq[Array[Byte]] =
      (BinlogBinary.withoutCrc(BinlogBinary.tableMapEvent("t", cols)) +:
        rows.map { case (cachePos, okey, price, status) =>
          BinlogBinary.withoutCrc(BinlogBinary.rowsEvent(
            Row("I", cachePos, t0, okey, price, status), cols))
        }) ++ xidCachePos.map(p => BinlogBinary.withoutCrc(
        BinlogBinary.xidEvent(p, 800000000L, 7L)))
    val dir = tmp()
    val outerPos = 2000L
    BinlogBinary.writeEvents(s"$dir/b", "bin.000001", Seq(
      BinlogBinary.gtidEvent(500L, 800000000L, uuid, 1L),
      BinlogBinary.payloadEvent(outerPos, 800000000L,
        cacheTxn(Seq((60L, 1L, 1.5, "a"), (120L, 2L, 2.5, "b")),
          xidCachePos = Some(180L)))))
    val back = BinlogBinary.parse(spark, s"$dir/b", cols)
      .orderBy(col("seq")).collect()
    assert(back.map(r => (r.getLong(3), r.getDouble(4))).toSeq ==
      Seq((1L, 1.5), (2L, 2.5)))
    // renumbered seqs: strictly increasing, inside the wrapper's own
    // footprint (past the GTID stamp, before the wrapper's end
    // position) — collision-free against every other file position
    val seqs = back.map(_.getLong(1)).toSeq
    assert(seqs == seqs.sorted && seqs.distinct == seqs, s"got: $seqs")
    assert(seqs.forall(s2 => s2 > 500L && s2 < outerPos), s"got: $seqs")
    // the inner Xid renumbers consistently (decode markers and the
    // Xid scan share walkInnerEvents)
    val xids = BinlogBinary.parseXids(spark, s"$dir/b")
    assert(xids.length == 1 &&
      xids.head._1 > seqs.max && xids.head._1 < outerPos,
      s"got: $xids")
    // the txn gate stamps renumbered rows + marker under the GTID
    val txn = BinlogBinary.parseTxn(spark, s"$dir/b", cols)
    val stamped = txn.orderBy(col("seq")).collect().map(r =>
      (r.getString(0), r.getString(r.fieldIndex("txn")))).toSeq
    assert(stamped == Seq(("I", s"$uuid:1"), ("I", s"$uuid:1"),
      ("C", s"$uuid:1")), s"got: $stamped")
    // a cache-position REGRESSION within the payload is corruption
    val dir2 = tmp()
    BinlogBinary.writeEvents(s"$dir2/b", "bin.000001", Seq(
      BinlogBinary.payloadEvent(outerPos, 800000000L,
        cacheTxn(Seq((120L, 1L, 1.5, "a"), (60L, 2L, 2.5, "b")),
          xidCachePos = None))))
    val er = intercept[Throwable] {
      BinlogBinary.parse(spark, s"$dir2/b", cols).collect() }
    val mr = Iterator.iterate(er)(_.getCause).takeWhile(_ != null)
      .map(m => Option(m.getMessage).getOrElse("")).mkString(" | ")
    assert(mr.contains("regresses"), s"got: $mr")
    // MIXED numbering (dump-global first, cache-relative after)
    // refuses — a server never writes it
    val dir3 = tmp()
    BinlogBinary.writeEvents(s"$dir3/b", "bin.000001", Seq(
      BinlogBinary.payloadEvent(outerPos, 800000000L,
        cacheTxn(Seq((2010L, 1L, 1.5, "a"), (60L, 2L, 2.5, "b")),
          xidCachePos = None))))
    val em = intercept[Throwable] {
      BinlogBinary.parse(spark, s"$dir3/b", cols).collect() }
    val mm = Iterator.iterate(em)(_.getCause).takeWhile(_ != null)
      .map(m => Option(m.getMessage).getOrElse("")).mkString(" | ")
    assert(mm.contains("mixed-numbering"), s"got: $mm")
    // a transaction with more row events than its wrapper's byte
    // footprint can number collision-free refuses by name (identical
    // repeated rows compress far below their count)
    val dir4 = tmp()
    BinlogBinary.writeEvents(s"$dir4/b", "bin.000001", Seq(
      BinlogBinary.payloadEvent(100000L, 800000000L,
        cacheTxn(Seq.fill(4000)((60L, 1L, 1.5, "a")),
          xidCachePos = None))))
    val eo = intercept[Throwable] {
      BinlogBinary.parse(spark, s"$dir4/b", cols).collect() }
    val mo = Iterator.iterate(eo)(_.getCause).takeWhile(_ != null)
      .map(m => Option(m.getMessage).getOrElse("")).mkString(" | ")
    assert(mo.contains("renumber collision-free"), s"got: $mo")
  }

  test("MINIMAL wire images decode under changedCol: updates merge " +
      "identity from the PK-only before image, the present bitmaps " +
      "surface as the changed list, deletes are PK-only") {
    val schema = StructType(Seq(
      StructField("op", StringType), StructField("seq", LongType),
      StructField("tsSec", LongType), StructField("okey", LongType),
      StructField("price", DoubleType), StructField("status", StringType),
      StructField("_changed", ArrayType(StringType))))
    val rows = Seq(
      Row("I", 1L, 800000000L, 1L, 10.0, "new", null),
      Row("U", 2L, 800000001L, 1L, 11.5, null, Seq("price")),
      Row("U", 3L, 800000002L, 1L, null, "shipped", Seq("status")),
      Row("D", 4L, 800000003L, 1L, null, null, null))
    val env = spark.createDataFrame(
      java.util.Arrays.asList(rows: _*), schema)
      .withColumn("ts", timestamp_seconds(col("tsSec"))
        .cast(TimestampNTZType))
      .select("op", "seq", "ts", "okey", "price", "status", "_changed")
    val dir = tmp()
    BinlogBinary.renderMinimal(env, cols, s"$dir/b", files = 1)
    val back = BinlogBinary.parse(spark, s"$dir/b", cols,
      changedCol = Some("_changed"))
    val got = back.orderBy(col("seq")).collect().map(r =>
      (r.getString(0), r.getLong(1), r.getAs[Any]("okey"),
        r.getAs[Any]("price"), r.getAs[Any]("status"),
        Option(r.getAs[Seq[String]]("_changed")).orNull)).toSeq
    assert(got == Seq(
      ("I", 1L, 1L, 10.0, "new", null), // full image, complete marker
      // identity merged from the before image; unchanged -> NULL
      ("U", 2L, 1L, 11.5, null, Seq("price")),
      ("U", 3L, 1L, null, "shipped", Seq("status")),
      // MINIMAL delete: PK-only, visibly partial
      ("D", 4L, 1L, null, null, Seq("okey"))), s"got: $got")
    // WITHOUT changedCol the same dump refuses by name — no silent
    // NULLs for 'unchanged'
    val e = intercept[Throwable] {
      BinlogBinary.parse(spark, s"$dir/b", cols).collect()
    }
    assert(Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
      .map(m => Option(m.getMessage).getOrElse("")).mkString(" | ")
      .contains("declare changedCol"))
  }

  test("render refuses an append that would overwrite an existing " +
      "prefix's rotation files") {
    val dir = tmp()
    val env = envDf(Seq(("I", 1L, 800000000L, 1L, 1.0, "a")))
    BinlogBinary.render(env, cols, s"$dir/b", files = 1)
    val e = intercept[IllegalArgumentException] {
      BinlogBinary.render(env, cols, s"$dir/b", files = 1,
        table = "other", append = true) // same default prefix "bin"
    }
    assert(e.getMessage.contains("would overwrite"))
    // a distinct prefix composes fine
    BinlogBinary.render(env, cols, s"$dir/b", files = 1,
      table = "other", prefix = "other", append = true)
    // an append whose target EXISTS BUT IS A FILE refuses by name —
    // listFiles() returns null there, which used to escape as a bare
    // NullPointerException instead of the guard's refusal
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$dir/not_a_dir"), "plain file")
    val e2 = intercept[IllegalArgumentException] {
      BinlogBinary.render(env, cols, s"$dir/not_a_dir", files = 1,
        append = true)
    }
    assert(e2.getMessage.contains("not a directory"), e2.getMessage)
  }

  test("payload-inner numbering dialects: cache-relative positions " +
      "renumber into the wrapper's footprint (round 20 — previously " +
      "refused); a dump-global wrapper still refuses a regression") {
    val t0 = java.time.LocalDateTime.ofEpochSecond(
      800000000L, 0, java.time.ZoneOffset.UTC)
    // wrapper sealed at position 1000; inner row event at position 5 —
    // the shape a real server's transaction cache writes (end_log_pos
    // restarts low per transaction). As of round 20 this DECODES: the
    // row renumbers to wrapperStart + 1, strictly inside the
    // wrapper's byte footprint (the full behavior matrix is the
    // "authentic server compression" case below).
    val dir = tmp()
    BinlogBinary.writeEvents(s"$dir/b", "bin.000001", Seq(
      BinlogBinary.payloadEvent(1000L, 800000000L, Seq(
        BinlogBinary.withoutCrc(BinlogBinary.tableMapEvent("t", cols)),
        BinlogBinary.withoutCrc(BinlogBinary.rowsEvent(
          Row("I", 5L, t0, 1L, 1.0, "a"), cols))))))
    val got = BinlogBinary.parse(spark, s"$dir/b", cols).collect()
    assert(got.length == 1 && got.head.getLong(3) == 1L)
    assert(got.head.getLong(1) < 1000L && got.head.getLong(1) > 0L)
    // a REGRESSING inner position in a DUMP-GLOBAL wrapper (second
    // row below the first, both past the wrapper) refuses — mixed
    // numbering is corruption, not a dialect
    val dir2 = tmp()
    BinlogBinary.writeEvents(s"$dir2/b", "bin.000001", Seq(
      BinlogBinary.payloadEvent(10L, 800000000L, Seq(
        BinlogBinary.withoutCrc(BinlogBinary.tableMapEvent("t", cols)),
        BinlogBinary.withoutCrc(BinlogBinary.rowsEvent(
          Row("I", 30L, t0, 1L, 1.0, "a"), cols)),
        BinlogBinary.withoutCrc(BinlogBinary.rowsEvent(
          Row("I", 20L, t0, 2L, 2.0, "b"), cols))))))
    val e3 = intercept[Throwable] {
      BinlogBinary.parse(spark, s"$dir2/b", cols).collect()
    }
    assert(Iterator.iterate(e3)(_.getCause).takeWhile(_ != null)
      .map(m => Option(m.getMessage).getOrElse("")).mkString(" | ")
      .contains("mixed-numbering"))
  }

  test("the FULL MySQL type map round-trips the wire: small ints, " +
      "float, DATE/DATETIME2/TIMESTAMP2/TIME2, ENUM/SET/BIT/YEAR, " +
      "BLOB, CHAR, raw-charset text, JSON documents, zero dates") {
    import graft.sources.BinlogBinary.WireHint
    val wideCols: Seq[(String, DataType)] = Seq(
      "okey" -> LongType, "tny" -> ByteType, "sml" -> ShortType,
      "med" -> IntegerType, "flt" -> FloatType, "d" -> DateType,
      "dtl" -> TimestampNTZType, "tsu" -> TimestampType,
      "tsec" -> IntegerType, "tier" -> StringType,
      "flags" -> LongType, "bits" -> LongType, "yr" -> ShortType,
      "blob" -> BinaryType, "code" -> StringType,
      "rawtxt" -> BinaryType, "attrs" -> StringType,
      "draw" -> StringType, "dtraw" -> StringType)
    val hints = Map[String, WireHint](
      "med" -> WireHint.MediumInt, "tsec" -> WireHint.TimeSeconds,
      "tier" -> WireHint.Enum(Seq("gold", "silver", "bronze")),
      "flags" -> WireHint.SetBits(4), "bits" -> WireHint.Bit(20),
      "yr" -> WireHint.Year, "code" -> WireHint.Char(8),
      "rawtxt" -> WireHint.RawText, "attrs" -> WireHint.Json,
      "draw" -> WireHint.DateText, "dtraw" -> WireHint.DateTimeText)
    val schema = StructType(
      Seq(StructField("op", StringType), StructField("seq", LongType),
        StructField("tsSec", LongType)) ++
        wideCols.map { case (n, t) => StructField(n, t) })
    val t0 = java.time.LocalDateTime.of(1995, 3, 14, 7, 30, 15, 123456000)
    val i0 = java.sql.Timestamp.from(
      java.time.Instant.parse("1995-03-14T12:00:00.654321Z"))
    // already in the binary format's canonical key order (length,
    // bytes): k < src < deep at the top, f < arr inside
    val json =
      """{"k":3,"src":"mysql","deep":{"f":1.5,"arr":[1,true,null,"x"]}}"""
    val rows = Seq(
      Row("I", 1L, 800000000L, 1L, (-7).toByte, (-30000).toShort,
        -8000000, 2.25f, java.sql.Date.valueOf("1995-03-14"), t0, i0,
        83999, "silver", 5L, 1048575L, 2101.toShort,
        Array[Byte](0, 1, 127, -128), "c42",
        "Müller-7".getBytes("ISO-8859-1"), json,
        "1995-03-14", "1995-03-14 12:34:56"),
      // NULLs across every new type + zero dates in the raw-text slots
      Row("U", 2L, 800000001L, 2L, null, null, null, null, null, null,
        null, null, "", 0L, 0L, 0.toShort, null, null, null,
        """[{"a":-70000},2.0,"tail"]""", "0000-00-00",
        "0000-00-00 00:00:00"),
      Row("D", 3L, 800000002L, 1L, 127.toByte, 32767.toShort, 8388607,
        -0.5f, java.sql.Date.valueOf("1992-01-01"),
        java.time.LocalDateTime.of(1992, 1, 1, 0, 0, 0),
        java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(1L)),
        0, "gold", 15L, 0L, 1901.toShort, Array[Byte](),
        "", Array[Byte](), "null", "1992-01-01", "1992-01-01 00:00:00"))
    val env = spark.createDataFrame(
      java.util.Arrays.asList(rows: _*), schema)
      .withColumn("ts", timestamp_seconds(col("tsSec"))
        .cast(TimestampNTZType))
      .select((Seq(col("op"), col("seq"), col("ts")) ++
        wideCols.map(c => col(c._1))): _*)
    val dir = tmp()
    BinlogBinary.render(env, wideCols, s"$dir/b", files = 1,
      hints = hints)
    val back = BinlogBinary.parse(spark, s"$dir/b", wideCols,
      hints = hints)
    assert(back.schema.fields.map(f => (f.name, f.dataType)).toSeq ==
      env.schema.fields.map(f => (f.name, f.dataType)).toSeq)
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.orderBy(col("seq")).collect().map(_.toSeq.map {
        case a: Array[Byte] => a.toSeq
        case x => x
      }).toSeq
    assert(canon(back) == canon(env),
      s"wide round-trip diverged:\n got=${canon(back)}\n" +
        s"want=${canon(env)}")
  }

  test("the type surface threads the whole matrix: typed MULTI-TABLE " +
      "routing, typed MINIMAL images, typed COMPRESSED transactions") {
    import graft.sources.BinlogBinary.WireHint
    val t0 = java.time.LocalDateTime.ofEpochSecond(
      800000000L, 0, java.time.ZoneOffset.UTC)
    // ── multi-table: one dump, two tables with DIFFERENT typed plans
    val colsA: Seq[(String, DataType)] = Seq("okey" -> LongType,
      "tier" -> StringType, "d" -> DateType)
    val hintsA = Map[String, WireHint](
      "tier" -> WireHint.Enum(Seq("gold", "silver")))
    val colsB2: Seq[(String, DataType)] = Seq("okey" -> LongType,
      "attrs" -> StringType)
    val hintsB2 = Map[String, WireHint]("attrs" -> WireHint.Json)
    val dir = tmp()
    BinlogBinary.writeEvents(s"$dir/b", "bin.000001", Seq(
      BinlogBinary.tableMapEvent("ta", colsA, tableId = 7L,
        hints = hintsA),
      BinlogBinary.rowsEvent(Row("I", 1L, t0, 1L, "silver",
        java.sql.Date.valueOf("1995-03-14")), colsA, 7L, hintsA),
      BinlogBinary.tableMapEvent("tb", colsB2, tableId = 9L,
        hints = hintsB2),
      BinlogBinary.rowsEvent(Row("I", 2L, t0, 5L, """{"k":7}"""),
        colsB2, 9L, hintsB2)))
    val multi = BinlogBinary.parseMulti(spark, s"$dir/b",
      Map("ta" -> colsA, "tb" -> colsB2),
      hintsByTable = Map("ta" -> hintsA, "tb" -> hintsB2))
      .orderBy(col("seq")).collect()
    assert(multi.length == 2)
    assert(multi(0).getAs[String]("tier") == "silver" &&
      multi(0).getAs[java.sql.Date]("d").toString == "1995-03-14")
    assert(multi(1).getAs[String]("attrs") == """{"k":7}""")
    // an ENUM table WITHOUT its hint still decodes: the rendered dump
    // carries ENUM_STR_VALUE optional metadata (binlog_row_metadata=
    // FULL self-description), so the wire's own value list resolves
    // the index
    val noHint = BinlogBinary.parseMulti(spark, s"$dir/b",
      Map("ta" -> colsA, "tb" -> colsB2),
      hintsByTable = Map("tb" -> hintsB2))
      .orderBy(col("seq")).collect()
    assert(noHint(0).getAs[String]("tier") == "silver")
    // ── MINIMAL: a typed column rides the changed-only after image
    val colsM: Seq[(String, DataType)] = Seq("okey" -> LongType,
      "amount" -> DecimalType(10, 2), "tier" -> StringType)
    val hintsM = Map[String, WireHint](
      "tier" -> WireHint.Enum(Seq("gold", "silver")))
    val schemaM = StructType(Seq(
      StructField("op", StringType), StructField("seq", LongType),
      StructField("ts", TimestampNTZType),
      StructField("okey", LongType),
      StructField("amount", DecimalType(10, 2)),
      StructField("tier", StringType),
      StructField("_changed", ArrayType(StringType))))
    val envM = spark.createDataFrame(java.util.Arrays.asList(
      Row("I", 1L, t0, 1L, new java.math.BigDecimal("12.34"), "gold",
        null),
      Row("U", 2L, t0, 1L, null, "silver", Seq("tier")),
      Row("U", 3L, t0, 1L, new java.math.BigDecimal("99.99"), null,
        Seq("amount"))), schemaM)
    val dirM = tmp()
    BinlogBinary.renderMinimal(envM, colsM, s"$dirM/b", files = 1,
      hints = hintsM)
    val gotM = BinlogBinary.parse(spark, s"$dirM/b", colsM,
      changedCol = Some("_changed"), hints = hintsM)
      .orderBy(col("seq")).collect().map(r =>
        (r.getString(0), r.getAs[Any]("amount"),
          r.getAs[Any]("tier"))).toSeq
    assert(gotM == Seq(
      ("I", new java.math.BigDecimal("12.34"), "gold"),
      ("U", null, "silver"),
      ("U", new java.math.BigDecimal("99.99"), null)), s"got: $gotM")
    // ── compressed: typed rows inside genuine ZSTD payloads
    val schemaC = StructType(schemaM.fields.dropRight(1))
    val envC = spark.createDataFrame(java.util.Arrays.asList(
      Row("I", 1L, t0, 1L, new java.math.BigDecimal("1.50"), "gold"),
      Row("U", 2L, t0, 1L, new java.math.BigDecimal("2.50"), "silver")),
      schemaC)
    val dirC = tmp()
    BinlogBinary.renderCompressed(envC, colsM, s"$dirC/b", files = 1,
      rowsPerTxn = 1, hints = hintsM)
    val gotC = BinlogBinary.parse(spark, s"$dirC/b", colsM,
      hints = hintsM).orderBy(col("seq")).collect().map(r =>
        (r.getString(0), r.getAs[java.math.BigDecimal]("amount"),
          r.getString(r.fieldIndex("tier")))).toSeq
    assert(gotC == Seq(
      ("I", new java.math.BigDecimal("1.50"), "gold"),
      ("U", new java.math.BigDecimal("2.50"), "silver")), s"got: $gotC")
  }

  test("type-surface refusals: zero dates under DateType, stale ENUM " +
      "value lists, negative TIME, MEDIUMINT/BIT overflow, bad raw " +
      "date text — all by name") {
    import graft.sources.BinlogBinary.WireHint
    val t0 = java.time.LocalDateTime.ofEpochSecond(
      800000000L, 0, java.time.ZoneOffset.UTC)
    def one(colsW: Seq[(String, DataType)], hintsW: Map[String, WireHint],
        value: Any): String = {
      val schema = StructType(
        Seq(StructField("op", StringType), StructField("seq", LongType),
          StructField("ts", TimestampNTZType)) ++
          colsW.map { case (n, t) => StructField(n, t) })
      val env = spark.createDataFrame(java.util.Arrays.asList(
        Row(Seq("I", 1L, t0, value): _*)), schema)
      val dir = tmp()
      val e = intercept[Throwable] {
        BinlogBinary.render(env, colsW, s"$dir/b", files = 1,
          hints = hintsW)
        BinlogBinary.parse(spark, s"$dir/b", colsW, hints = hintsW)
          .collect()
        ()
      }
      Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
        .map(m => Option(m.getMessage).getOrElse("")).mkString(" | ")
    }
    // render refusals
    assert(one(Seq("t" -> IntegerType),
      Map("t" -> WireHint.TimeSeconds), -5).contains("838:59:59"))
    assert(one(Seq("m" -> IntegerType),
      Map("m" -> WireHint.MediumInt), 8388608).contains("MEDIUMINT"))
    assert(one(Seq("b" -> LongType),
      Map("b" -> WireHint.Bit(20)), 1048576L).contains("BIT(20)"))
    assert(one(Seq("e" -> StringType),
      Map("e" -> WireHint.Enum(Seq("a", "b"))), "zz")
      .contains("ENUM list"))
    assert(one(Seq("d" -> StringType),
      Map("d" -> WireHint.DateText), "14-03-1995")
      .contains("yyyy-MM-dd"))
    assert(one(Seq("y" -> ShortType),
      Map("y" -> WireHint.Year), 1899.toShort).contains("1901"))
    // decode refusals: a zero date rendered through the raw-text
    // surface refuses when decoded under DateType (no honest value)
    val dir = tmp()
    val schema0 = StructType(Seq(StructField("op", StringType),
      StructField("seq", LongType), StructField("ts", TimestampNTZType),
      StructField("d", StringType)))
    val env0 = spark.createDataFrame(java.util.Arrays.asList(
      Row("I", 1L, t0, "0000-00-00")), schema0)
    BinlogBinary.render(env0, Seq("d" -> StringType), s"$dir/b",
      files = 1, hints = Map("d" -> WireHint.DateText))
    val e0 = intercept[Throwable] {
      BinlogBinary.parse(spark, s"$dir/b", Seq("d" -> DateType))
        .collect()
    }
    assert(Iterator.iterate(e0)(_.getCause).takeWhile(_ != null)
      .map(m => Option(m.getMessage).getOrElse("")).mkString(" | ")
      .contains("zeroDateToNull"))
    // a stale ENUM value list: the wire index runs past it
    val dir2 = tmp()
    val schema2 = StructType(Seq(StructField("op", StringType),
      StructField("seq", LongType), StructField("ts", TimestampNTZType),
      StructField("e", StringType)))
    val env2 = spark.createDataFrame(java.util.Arrays.asList(
      Row("I", 1L, t0, "d")), schema2)
    BinlogBinary.render(env2, Seq("e" -> StringType), s"$dir2/b",
      files = 1, hints = Map("e" -> WireHint.Enum(Seq("a", "b", "c", "d"))))
    val e2 = intercept[Throwable] {
      BinlogBinary.parse(spark, s"$dir2/b", Seq("e" -> StringType),
        hints = Map("e" -> WireHint.Enum(Seq("a", "b")))).collect()
    }
    assert(Iterator.iterate(e2)(_.getCause).takeWhile(_ != null)
      .map(m => Option(m.getMessage).getOrElse("")).mkString(" | ")
      .contains("stale"))
    // an ENUM column with NO hint decodes from the dump's own
    // ENUM_STR_VALUE metadata — self-describing 8.0.1+ dumps need no
    // value-list declaration
    assert(BinlogBinary.parse(spark, s"$dir2/b", Seq("e" -> StringType))
      .collect().head.getString(3) == "d")
    // a COLUMN_NAME mismatch refuses by name, not by position: the
    // dump says the column is 'e', the declaration says 'f'
    val e3 = intercept[Throwable] {
      BinlogBinary.parse(spark, s"$dir2/b", Seq("f" -> StringType))
        .collect()
    }
    assert(Iterator.iterate(e3)(_.getCause).takeWhile(_ != null)
      .map(m => Option(m.getMessage).getOrElse("")).mkString(" | ")
      .contains("named 'e' on the wire"))
  }

  test("charset metadata drives the text decode: a latin1 column " +
      "transcodes with NO hint, binary collation refuses a StringType " +
      "reading, TEXT columns decode as charset-read bytes") {
    import graft.sources.BinlogBinary.WireHint
    val t0 = java.time.LocalDateTime.ofEpochSecond(
      800000000L, 0, java.time.ZoneOffset.UTC)
    // render a latin1 VARCHAR (raw bytes + collation 8 metadata) and a
    // TEXT column
    val renderCols: Seq[(String, DataType)] = Seq("okey" -> LongType,
      "nm" -> BinaryType, "body" -> StringType)
    val renderHints = Map[String, WireHint](
      "nm" -> WireHint.Charset(8), "body" -> WireHint.Text)
    val schema = StructType(Seq(
      StructField("op", StringType), StructField("seq", LongType),
      StructField("tsSec", LongType), StructField("okey", LongType),
      StructField("nm", BinaryType), StructField("body", StringType)))
    val env = spark.createDataFrame(java.util.Arrays.asList(
      Row("I", 1L, 800000000L, 1L,
        "Müller-Ångström".getBytes("ISO-8859-1"), "long text é")),
      schema)
      .withColumn("ts", timestamp_seconds(col("tsSec"))
        .cast(TimestampNTZType))
      .select("op", "seq", "ts", "okey", "nm", "body")
    val dir = tmp()
    BinlogBinary.render(env, renderCols, s"$dir/b", files = 1,
      hints = renderHints)
    // parse declaring plain StringType: the metadata transcodes
    val got = BinlogBinary.parse(spark, s"$dir/b", Seq(
      "okey" -> LongType, "nm" -> StringType, "body" -> StringType))
      .collect().head
    assert(got.getString(4) == "Müller-Ångström")
    assert(got.getString(5) == "long text é")
    // BinaryType still serves the raw latin1 bytes untranscoded
    val raw = BinlogBinary.parse(spark, s"$dir/b", Seq(
      "okey" -> LongType, "nm" -> BinaryType, "body" -> StringType))
      .collect().head
    assert(new String(raw.getAs[Array[Byte]](4), "ISO-8859-1") ==
      "Müller-Ångström")
    // a BINARY-collation column (VARBINARY) refuses a text reading
    val dir2 = tmp()
    BinlogBinary.render(env, renderCols, s"$dir2/b", files = 1,
      hints = Map("nm" -> WireHint.Charset(63), // binary
        "body" -> WireHint.Text))
    val e = intercept[Throwable] {
      BinlogBinary.parse(spark, s"$dir2/b", Seq(
        "okey" -> LongType, "nm" -> StringType, "body" -> StringType))
        .collect()
    }
    assert(Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
      .map(m => Option(m.getMessage).getOrElse("")).mkString(" | ")
      .contains("no text reading"))
    // an unknown collation id refuses by id at declaration time
    val e2 = intercept[IllegalArgumentException] {
      BinlogBinary.render(env, renderCols, s"${tmp()}/b", files = 1,
        hints = Map("nm" -> WireHint.Charset(9999)))
    }
    assert(e2.getMessage.contains("9999"))
  }

  test("UNSIGNED integers decode from the SIGNEDNESS metadata: " +
      "TINY/SHORT/INT/BIGINT UNSIGNED ride the next-wider Spark " +
      "type, BIGINT UNSIGNED lands on DecimalType(20,0) exactly") {
    import graft.sources.BinlogBinary.WireHint
    val colsU: Seq[(String, DataType)] = Seq(
      "okey" -> LongType, "ut" -> ShortType, "us" -> IntegerType,
      "ui" -> LongType, "ub" -> DecimalType(20, 0))
    val hintsU = Map[String, WireHint](
      "ut" -> WireHint.Unsigned, "us" -> WireHint.Unsigned,
      "ui" -> WireHint.Unsigned, "ub" -> WireHint.Unsigned)
    val schema = StructType(Seq(
      StructField("op", StringType), StructField("seq", LongType),
      StructField("tsSec", LongType), StructField("okey", LongType),
      StructField("ut", ShortType), StructField("us", IntegerType),
      StructField("ui", LongType),
      StructField("ub", DecimalType(20, 0))))
    val top = new java.math.BigDecimal("18446744073709551615") // 2^64-1
    val rows = Seq(
      Row("I", 1L, 800000000L, 1L, 255.toShort, 65535, 4294967295L,
        top),
      Row("I", 2L, 800000001L, 2L, 0.toShort, 0, 0L,
        java.math.BigDecimal.ZERO),
      Row("I", 3L, 800000002L, 3L, 128.toShort, 32768, 2147483648L,
        new java.math.BigDecimal("9223372036854775808"))) // 2^63
    val env = spark.createDataFrame(
      java.util.Arrays.asList(rows: _*), schema)
      .withColumn("ts", timestamp_seconds(col("tsSec"))
        .cast(TimestampNTZType))
      .select("op", "seq", "ts", "okey", "ut", "us", "ui", "ub")
    val dir = tmp()
    BinlogBinary.render(env, colsU, s"$dir/b", files = 1,
      hints = hintsU)
    val back = BinlogBinary.parse(spark, s"$dir/b", colsU,
      hints = hintsU).orderBy(col("seq")).collect()
    assert(back.map(r => (r.getShort(4), r.getInt(5), r.getLong(6),
      r.getDecimal(7).toBigInteger.toString)).toSeq == Seq(
      (255.toShort, 65535, 4294967295L, "18446744073709551615"),
      (0.toShort, 0, 0L, "0"),
      (128.toShort, 32768, 2147483648L, "9223372036854775808")))
    // the decode is METADATA-driven: parsing with the hints omitted
    // still decodes (signedness rides the dump), while declaring the
    // SIGNED Spark type against an unsigned wire column refuses
    val back2 = BinlogBinary.parse(spark, s"$dir/b", colsU)
      .orderBy(col("seq")).collect()
    assert(back2.head.getDecimal(7).toBigInteger.toString ==
      "18446744073709551615")
    val e = intercept[Throwable] {
      BinlogBinary.parse(spark, s"$dir/b", Seq(
        "okey" -> LongType, "ut" -> ShortType, "us" -> IntegerType,
        "ui" -> LongType, "ub" -> LongType)).collect()
    }
    assert(Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
      .map(m => Option(m.getMessage).getOrElse("")).mkString(" | ")
      .contains("UNSIGNED"))
    // render refusals: out-of-range unsigned values never truncate
    val eo = intercept[Throwable] {
      val bad = spark.createDataFrame(java.util.Arrays.asList(
        Row("I", 1L, 800000000L, 1L, 256.toShort, 0, 0L,
          java.math.BigDecimal.ZERO)), schema)
        .withColumn("ts", timestamp_seconds(col("tsSec"))
          .cast(TimestampNTZType))
        .select("op", "seq", "ts", "okey", "ut", "us", "ui", "ub")
      BinlogBinary.render(bad, colsU, s"${tmp()}/b", files = 1,
        hints = hintsU)
    }
    assert(Iterator.iterate(eo)(_.getCause).takeWhile(_ != null)
      .map(m => Option(m.getMessage).getOrElse("")).mkString(" | ")
      .contains("TINYINT UNSIGNED"))
  }

  test("binary JSON documents: canonical key order, every scalar " +
      "type, nesting — and opaque values refuse by name") {
    import graft.sources.MySqlJsonb
    def rt(text: String): String = {
      val doc = MySqlJsonb.encode(text, "spec")
      MySqlJsonb.decode(doc, 0, doc.length, "spec")
    }
    // already-canonical text round-trips identically
    assert(rt("""{"k":3,"src":"mysql"}""") == """{"k":3,"src":"mysql"}""")
    assert(rt("null") == "null")
    assert(rt("true") == "true")
    assert(rt("-12") == "-12")
    assert(rt("123456789012") == "123456789012")
    assert(rt("1.5") == "1.5")
    assert(rt(""""plain"""") == """"plain"""")
    assert(rt("[]") == "[]")
    assert(rt("{}") == "{}")
    assert(rt("""[1,"two",null,false,[3],{"a":1}]""") ==
      """[1,"two",null,false,[3],{"a":1}]""")
    // keys re-sort by (length, bytes) — the server's storage order
    assert(rt("""{"bb":1,"a":2,"ab":3}""") == """{"a":2,"ab":3,"bb":1}""")
    // whitespace normalizes away; escapes survive
    assert(rt("""{ "a" : [ 1 , 2 ] }""") == """{"a":[1,2]}""")
    assert(rt("""{"s":"line\nquote\" é"}""") ==
      "{\"s\":\"line\\nquote\\\" é\"}")
    // an integral double cannot masquerade as an int
    assert(rt("""{"d":2.0}""") == """{"d":2.0}""")
    // malformed text refuses at encode
    intercept[IllegalArgumentException] {
      MySqlJsonb.encode("""{"a":}""", "spec") }
    intercept[IllegalArgumentException] {
      MySqlJsonb.encode("""{"a":1} trailing""", "spec") }
    intercept[IllegalArgumentException] {
      MySqlJsonb.encode("""{"a":1,"a":2}""", "spec") } // dup key
    // an OPAQUE value (decimal/date inside a JSON doc) refuses by name
    val opaque = Array[Byte](0x0f, 0, 0)
    val e = intercept[IllegalArgumentException] {
      MySqlJsonb.decode(opaque, 0, opaque.length, "spec") }
    assert(e.getMessage.contains("opaque"))
    // negative zero keeps its sign through the text round trip (the
    // integral fast path's longValue() would drop it)
    assert(rt("""{"d":-0.0}""") == """{"d":-0.0}""")
    // a document truncated between an object key entry's offset and
    // its length hits the NAMED truncation refusal, not a bare
    // ArrayIndexOutOfBounds
    val tornKey = Array[Byte](0x00, 1, 0, 7, 0, 0, 0, 0)
    val ek = intercept[IllegalArgumentException] {
      MySqlJsonb.decode(tornKey, 0, tornKey.length, "spec") }
    assert(ek.getMessage.contains("truncated"))
    // a string varint past Int.MaxValue refuses by name instead of
    // narrowing negative and surfacing as a bare index error
    val hugeStr = Array[Byte](0x0c, 0xff.toByte, 0xff.toByte,
      0xff.toByte, 0xff.toByte, 0x7f)
    val ev = intercept[IllegalArgumentException] {
      MySqlJsonb.decode(hugeStr, 0, hugeStr.length, "spec") }
    assert(ev.getMessage.contains("2 GiB"))
  }

  test("MariaDB GTID events on the wire: type-162 stamps index, the " +
      "type-163 GTID_LIST head state gates continuity (a lost " +
      "rotation's transactions refuse by name), resume decodes " +
      "through the shared core") {
    val dir = tmp()
    // rotation head: domain 0 executed through seq 2 BEFORE this file
    BinlogBinary.writeEvents(s"$dir/b", "bin.000002", Seq(
      BinlogBinary.gtidListEventMaria(4L, 800000000L, Seq((0L, 1L, 2L))),
      BinlogBinary.gtidEventMaria(10L, 800000001L, 0L, 1L, 3L),
      BinlogBinary.gtidEventMaria(20L, 800000002L, 0L, 9L, 4L)))
    assert(BinlogBinary.parseGtidIndexMaria(spark, s"$dir/b") == Seq(
      (10L, 0L, 1L, 3L), (20L, 0L, 9L, 4L)))
    assert(BinlogBinary.gtidStartAfterMaria(spark, s"$dir/b",
      "0-1-3", Seq(0L -> 0L)) == 19L)
    // a flavor-mismatched token refuses by name
    val em = intercept[IllegalArgumentException] {
      BinlogBinary.gtidStartAfterMaria(spark, s"$dir/b",
        "3e11fa47-71ca-11e1-9e33-c80aa9429562:1", Seq(0L -> 0L))
    }
    assert(em.getMessage.contains("flavor mismatch"), em.getMessage)
    // a GAP against the head state — the list says executed-through-2
    // but the first stamp is seq 5: transactions 3..4 are a lost
    // rotation's; refuse naming them
    val dir2 = tmp()
    BinlogBinary.writeEvents(s"$dir2/b", "bin.000002", Seq(
      BinlogBinary.gtidListEventMaria(4L, 800000000L, Seq((0L, 1L, 2L))),
      BinlogBinary.gtidEventMaria(10L, 800000001L, 0L, 1L, 5L)))
    val e = intercept[Throwable] {
      BinlogBinary.parseGtidIndexMaria(spark, s"$dir2/b")
    }
    val msg = Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
      .map(m => Option(m.getMessage).getOrElse("")).mkString(" | ")
    assert(msg.contains("3..4") && msg.contains("MISSING"), s"got: $msg")
    // a domain the head state does not name must open at seq 1
    val dir3 = tmp()
    BinlogBinary.writeEvents(s"$dir3/b", "bin.000002", Seq(
      BinlogBinary.gtidListEventMaria(4L, 800000000L, Seq((0L, 1L, 2L))),
      BinlogBinary.gtidEventMaria(10L, 800000001L, 3L, 1L, 7L)))
    val e2 = intercept[Throwable] {
      BinlogBinary.parseGtidIndexMaria(spark, s"$dir3/b")
    }
    assert(Iterator.iterate(e2)(_.getCause).takeWhile(_ != null)
      .map(m => Option(m.getMessage).getOrElse("")).mkString(" | ")
      .contains("does not name it"))
  }

  test("encrypted binlogs refuse naming binlog_encryption, not as " +
      "generic magic/CRC garbage: the \\xFD magic and the MariaDB " +
      "START_ENCRYPTION announcement both name the real cause") {
    // MySQL 8 shape: the whole file is ciphertext behind a \xFD magic
    val dir = tmp()
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(s"$dir/b"))
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$dir/b/bin.000001"),
      Array[Byte](0xfd.toByte, 'b', 'i', 'n') ++
        Array.fill[Byte](64)(0x5a))
    val e = intercept[Throwable] {
      BinlogBinary.parse(spark, s"$dir/b", cols).collect()
    }
    val msg = Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
      .map(m => Option(m.getMessage).getOrElse("")).mkString(" | ")
    assert(msg.contains("binlog_encryption"), s"got: $msg")
    // MariaDB shape: plaintext head, then a START_ENCRYPTION event
    // (type 164) after which every byte is ciphertext — the refusal
    // fires AT the announcement instead of surfacing downstream CRC
    // garbage
    val dir2 = tmp()
    BinlogBinary.writeEvents(s"$dir2/b", "bin.000001", Seq(
      BinlogBinary.tableMapEvent("orders", cols),
      BinlogBinary.sealEvent(800000000L, 164, 50L,
        Array[Byte](1, 0, 0, 0) ++ Array.fill[Byte](16)(9))))
    val e2 = intercept[Throwable] {
      BinlogBinary.parse(spark, s"$dir2/b", cols).collect()
    }
    val msg2 = Iterator.iterate(e2)(_.getCause).takeWhile(_ != null)
      .map(m => Option(m.getMessage).getOrElse("")).mkString(" | ")
    assert(msg2.contains("START_ENCRYPTION") &&
      msg2.contains("binlog_encryption"), s"got: $msg2")
  }

  test("PARTIAL_JSON (binlog_row_value_options): type-39 updates " +
      "apply REPLACE/INSERT/REMOVE diffs against the before image's " +
      "own document; a diff that does not match the image refuses") {
    import graft.sources.BinlogBinary.WireHint
    val colsJ: Seq[(String, DataType)] = Seq("okey" -> LongType,
      "attrs" -> StringType)
    val hintsJ = Map[String, WireHint]("attrs" -> WireHint.Json)
    val t0 = java.time.LocalDateTime.ofEpochSecond(
      800000000L, 0, java.time.ZoneOffset.UTC)
    def pj(seq: Long, before: String, after: String,
        diffs: Seq[(Int, String, Option[String])]) =
      BinlogBinary.rowsEventPartialJson(
        Row("U", seq, t0, 1L, after), colsJ, jsonIdx = 1,
        beforeDoc = before, diffs = diffs, hints = hintsJ)
    val dir = tmp()
    BinlogBinary.writeEvents(s"$dir/b", "bin.000001", Seq(
      BinlogBinary.tableMapEvent("t", colsJ, hints = hintsJ),
      // REPLACE a member, nested path
      pj(1L, """{"k":3,"src":"mysql","deep":{"f":1,"arr":[1,2]}}""",
        "ignored",
        Seq((0, "$.src", Some("\"binlog\"")),
          (0, "$.deep.arr[1]", Some("9")))),
      // INSERT a new member + REMOVE an element in one event
      pj(2L, """{"k":3,"arr":[1,2,3]}""", "ignored",
        Seq((1, "$.note", Some("\"n\"")), (2, "$.arr[0]", None)))))
    val got = BinlogBinary.parse(spark, s"$dir/b", colsJ,
      hints = hintsJ).orderBy(col("seq")).collect()
      .map(_.getString(4)).toSeq
    assert(got == Seq(
      """{"k":3,"src":"binlog","deep":{"f":1,"arr":[1,9]}}""",
      """{"k":3,"arr":[2,3],"note":"n"}"""), s"got: $got")
    // a REPLACE whose path misses the before document refuses by name
    val dir2 = tmp()
    BinlogBinary.writeEvents(s"$dir2/b", "bin.000001", Seq(
      BinlogBinary.tableMapEvent("t", colsJ, hints = hintsJ),
      pj(1L, """{"k":3}""", "ignored",
        Seq((0, "$.missing", Some("1"))))))
    val e = intercept[Throwable] {
      BinlogBinary.parse(spark, s"$dir2/b", colsJ, hints = hintsJ)
        .collect()
    }
    assert(Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
      .map(m => Option(m.getMessage).getOrElse("")).mkString(" | ")
      .contains("does not resolve"))
    // a NULL before image (the MINIMAL + PARTIAL_JSON composition)
    // has nothing to patch — refuse naming the row-image setting
    val dir3 = tmp()
    BinlogBinary.writeEvents(s"$dir3/b", "bin.000001", Seq(
      BinlogBinary.tableMapEvent("t", colsJ, hints = hintsJ),
      BinlogBinary.rowsEventPartialJson(
        Row("U", 1L, t0, 1L, "ignored"), colsJ, jsonIdx = 1,
        beforeDoc = null, diffs = Seq((0, "$.k", Some("1"))),
        hints = hintsJ)))
    val e2 = intercept[Throwable] {
      BinlogBinary.parse(spark, s"$dir3/b", colsJ, hints = hintsJ)
        .collect()
    }
    assert(Iterator.iterate(e2)(_.getCause).takeWhile(_ != null)
      .map(m => Option(m.getMessage).getOrElse("")).mkString(" | ")
      .contains("no document to patch"))
  }

  test("verifyRotationChain ignores non-numeric suffixes: a stray " +
      "bin.index beside the rotations is not a chain member") {
    val dir = tmp()
    BinlogBinary.writeEvents(s"$dir/b", "bin.000001", Seq(
      BinlogBinary.tableMapEvent("orders", cols),
      BinlogBinary.rotateEvent("bin.000002")))
    BinlogBinary.writeEvents(s"$dir/b", "bin.000002", Seq(
      BinlogBinary.tableMapEvent("orders", cols),
      BinlogBinary.rotateEvent("bin.000003")))
    // sorted into the family this would claim to be 000002's successor
    // and falsely refuse a healthy directory
    BinlogBinary.writeEvents(s"$dir/b", "bin.index", Seq(
      BinlogBinary.tableMapEvent("orders", cols)))
    BinlogBinary.verifyRotationChain(spark, s"$dir/b") // must not throw
  }

  test("verifyRotationChain orders rotations NUMERICALLY: the " +
      "999999 -> 1000000 extension rollover is an intact chain") {
    val dir = tmp()
    BinlogBinary.writeEvents(s"$dir/b", "bin.999999", Seq(
      BinlogBinary.tableMapEvent("orders", cols),
      BinlogBinary.rotateEvent("bin.1000000")))
    BinlogBinary.writeEvents(s"$dir/b", "bin.1000000", Seq(
      BinlogBinary.tableMapEvent("orders", cols),
      BinlogBinary.rotateEvent("bin.1000001")))
    BinlogBinary.verifyRotationChain(spark, s"$dir/b") // must not throw
  }

  test("BinlogBinaryMultiCdcSource: one tailed raw dump feeds the " +
      "multi-table fan-out, rotations arriving across resumed passes") {
    import graft.streaming.StreamingOps
    import graft.sources.BinlogBinaryMultiCdcSource
    val colsB2: Seq[(String, DataType)] = Seq(
      "okey" -> LongType, "note" -> StringType)
    val t0 = java.time.LocalDateTime.ofEpochSecond(
      800000000L, 0, java.time.ZoneOffset.UTC)
    def aRow(seq: Long, okey: Long, price: Double) =
      BinlogBinary.rowsEvent(Row("I", seq, t0, okey, price, "s"), cols, 7L)
    def bRow(seq: Long, okey: Long, note: String) =
      BinlogBinary.rowsEvent(Row("I", seq, t0, okey, note), colsB2, 9L)
    val base = tmp()
    val dump = s"$base/dump"
    // rotation 1: both tables interleaved, finished with ROTATE
    BinlogBinary.writeEvents(dump, "bin.000001", Seq(
      BinlogBinary.tableMapEvent("ta", cols, tableId = 7L),
      aRow(1L, 1L, 10.0),
      BinlogBinary.tableMapEvent("tb", colsB2, tableId = 9L),
      bRow(2L, 1L, "m1"),
      BinlogBinary.rotateEvent("bin.000002")))
    val src = BinlogBinaryMultiCdcSource(dump,
      Map("ta" -> cols, "tb" -> colsB2))
    val dirs = Map("ta" -> s"$base/ta", "tb" -> s"$base/tb")
    StreamingOps.runCdcPassMulti(spark, src, s"$base/ckpt", dirs)
    assert(StreamingOps.readLatestState(spark, s"$base/ta").count() == 1)
    assert(StreamingOps.readLatestState(spark, s"$base/tb").count() == 1)
    // the next rotation lands; the resumed pass fans out only its rows
    BinlogBinary.writeEvents(dump, "bin.000002", Seq(
      BinlogBinary.tableMapEvent("ta", cols, tableId = 7L),
      aRow(3L, 2L, 20.0),
      BinlogBinary.tableMapEvent("tb", colsB2, tableId = 9L),
      bRow(4L, 1L, "m2"),
      BinlogBinary.rotateEvent("bin.000003")))
    StreamingOps.runCdcPassMulti(spark, src, s"$base/ckpt", dirs)
    assert(StreamingOps.readLatestState(spark, s"$base/ta")
      .select("okey").collect().map(_.getLong(0)).toSet == Set(1L, 2L))
    assert(StreamingOps.readLatestState(spark, s"$base/tb")
      .select("okey", "note").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toSeq == Seq(1L -> "m2"))
  }
}
