package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.sources.BinlogText
import graft.sources.FileCdcSource

/** The mysqlbinlog-verbose text transport: render/parse round-trip
  * fidelity and the loud-refusal edges (see BinlogText's dialect
  * scaladoc). The end-to-end collapse equivalence is the declared
  * `cdc_binlog_text` query's oracle row. */
class BinlogTextSpec extends SparkTestBase {

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
    java.nio.file.Files.createTempDirectory("graft_binlog").toString

  test("render/parse round-trips ops, NULLs, doubles, and escaped text") {
    val env = envDf(Seq(
      ("I", 1L, 800000000L, 1L, 10.5, "plain"),
      ("I", 2L, 800000001L, 2L, null, null), // explicit NULL payload
      ("U", 3L, 800000002L, 1L, -7.25, "it's a 'quote' \\ slash"),
      // embedded newlines: the parser is line-based, so these MUST
      // escape or the dump is unreadable (review finding r16)
      ("I", 5L, 800000003L, 3L, 1.0, "line1\nline2\rtail"),
      ("D", 4L, 900000000L, 2L, null, null)))
    val dir = tmp()
    BinlogText.render(env, cols, s"$dir/binlog", files = 2)
    val back = BinlogText.parse(spark, s"$dir/binlog", cols)
    assert(back.schema.fieldNames.toSeq ==
      Seq("op", "seq", "ts", "okey", "price", "status"))
    assert(back.schema("ts").dataType == TimestampNTZType)
    val got = back.collect().map(_.toSeq).toSet
    val want = env.collect().map(_.toSeq).toSet
    assert(got == want, s"round-trip diverged:\n got=$got\nwant=$want")
    // rotation = parallelism unit: the blocks really split across files
    val files = new java.io.File(s"$dir/binlog").listFiles()
      .filter(_.getName.endsWith(".txt")).map(_.getName).toSeq
    assert(files.size >= 1)
  }

  test("parse reads the side that replicates: UPDATE takes SET, " +
      "DELETE takes WHERE; unlisted columns surface NULL") {
    val dir = tmp()
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$dir/f.txt"),
      """# at 7
        |#920315  0:00:00 server id 1  end_log_pos 7 CRC32 0x00000000 	Update_rows: table id 108 flags: STMT_END_F
        |### UPDATE `db`.`orders`
        |### WHERE
        |###   @1=42
        |###   @2=1.0 /* old */
        |### SET
        |###   @1=42
        |###   @2=2.5 /* DOUBLE meta=8 nullable=1 is_null=0 */
        |# at 9
        |#920316 23:59:59 server id 1  end_log_pos 9 CRC32 0x00000000 	Delete_rows: table id 108 flags: STMT_END_F
        |### DELETE FROM `db`.`orders`
        |### WHERE
        |###   @1=43
        |###   @3='gone'
        |""".stripMargin)
    val rows = BinlogText.parse(spark, dir, cols)
      .orderBy(col("seq")).collect()
    assert(rows.length == 2)
    val u = rows(0)
    assert(u.getString(0) == "I" || u.getString(0) == "U")
    assert(u.getString(0) == "U" && u.getLong(1) == 7L)
    assert(u.getLong(3) == 42L && u.getDouble(4) == 2.5)
    assert(u.isNullAt(5), "column absent from the image surfaces NULL")
    val d = rows(1)
    assert(d.getString(0) == "D" && d.getLong(1) == 9L)
    assert(d.getLong(3) == 43L && d.isNullAt(4) && d.getString(5) == "gone")
    assert(d.getAs[java.time.LocalDateTime](2) ==
      java.time.LocalDateTime.of(1992, 3, 16, 23, 59, 59))
  }

  test("DECIMAL payloads round-trip exactly — the money type, scale " +
      "preserved, never through a double") {
    val dcols: Seq[(String, DataType)] = Seq(
      "okey" -> LongType, "amount" -> DecimalType(12, 2))
    val schema = StructType(Seq(
      StructField("op", StringType), StructField("seq", LongType),
      StructField("okey", LongType),
      StructField("amount", DecimalType(12, 2))))
    val env = spark.createDataFrame(
      java.util.Arrays.asList(
        Row("I", 1L, 1L, new java.math.BigDecimal("1234567890.05")),
        Row("I", 2L, 2L, new java.math.BigDecimal("-0.10")),
        Row("I", 3L, 3L, null)), schema)
      .withColumn("ts", timestamp_seconds(lit(800000000L) + col("seq"))
        .cast(TimestampNTZType))
      .select("op", "seq", "ts", "okey", "amount")
    val dir = tmp()
    BinlogText.render(env, dcols, s"$dir/binlog", files = 1)
    val back = BinlogText.parse(spark, s"$dir/binlog", dcols)
    assert(back.schema("amount").dataType == DecimalType(12, 2))
    assert(back.select("okey", "amount").collect()
      .map(r => r.getLong(0) -> Option(r.getDecimal(1)).map(_.toPlainString))
      .toSet == Set(1L -> Some("1234567890.05"), 2L -> Some("-0.10"),
        3L -> None))
    // a value exceeding the declared precision refuses, never truncates
    val tooBig = tmp()
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(tooBig))
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$tooBig/f.txt"),
      "# at 1\n#920315  0:00:00 server id 1  end_log_pos 1 CRC32 " +
        "0x00000000 \tWrite_rows: table id 108 flags: STMT_END_F\n" +
        "### INSERT INTO `db`.`t`\n### SET\n###   @1=1\n" +
        "###   @2=123456789012345.00\n")
    val e = intercept[Throwable] {
      BinlogText.parse(spark, tooBig, dcols).collect()
    }
    val msg = Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
      .map(_.getMessage).mkString(" | ")
    assert(msg.contains("malformed binlog value for column 'amount'"))
  }

  test("parseDdl extracts QueryEvent statements; row parse skips them; " +
      "transaction punctuation never surfaces") {
    val dir = tmp()
    val ddlBlock = BinlogText.renderQuery(5L, 800000000L,
      "ALTER TABLE orders RENAME COLUMN channel TO chan")
    val txnNoise = BinlogText.renderQuery(6L, 800000001L, "BEGIN")
    val rowEnv = envDf(Seq(("I", 7L, 800000002L, 1L, 10.0, "x")))
    BinlogText.render(rowEnv, cols, s"$dir/binlog", files = 1)
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$dir/binlog/ddl.txt"),
      s"$ddlBlock\n$txnNoise\n")
    // the statement side: the DDL comes back verbatim at its position;
    // BEGIN and the SET TIMESTAMP session line never surface
    val ddl = BinlogText.parseDdl(spark, s"$dir/binlog")
    assert(ddl == Seq(
      5L -> "ALTER TABLE orders RENAME COLUMN channel TO chan"))
    // the row side: query blocks are skipped, the row event decodes
    val rows = BinlogText.parse(spark, s"$dir/binlog", cols).collect()
    assert(rows.map(r => (r.getString(0), r.getLong(1))).toSeq ==
      Seq(("I", 7L)))
    // multi-line statements join; a second statement in one block
    // (mysqlbinlog prints each in its own /*!*/; wrapper) splits out
    val dir2 = tmp()
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir2))
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$dir2/f.txt"),
      BinlogText.renderQuery(9L, 800000003L,
        "ALTER TABLE orders\nADD COLUMN note VARCHAR(32)") + "\n")
    assert(BinlogText.parseDdl(spark, dir2) == Seq(
      9L -> "ALTER TABLE orders\nADD COLUMN note VARCHAR(32)"))
  }

  test("beforeCols surfaces the WHERE image, feeding the strict " +
      "before-image gate straight from the dump text") {
    import graft.streaming.StreamingOps
    val dir = tmp()
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
    def hdr(seq: Long, verb: String) =
      s"# at $seq\n#920315  0:00:00 server id 1  end_log_pos $seq " +
        s"CRC32 0x00000000 \t$verb: table id 108 flags: STMT_END_F"
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$dir/f.txt"),
      s"""${hdr(1, "Write_rows")}
         |### INSERT INTO `db`.`orders`
         |### SET
         |###   @1=1
         |###   @2=10.0
         |###   @3='a'
         |${hdr(2, "Update_rows")}
         |### UPDATE `db`.`orders`
         |### WHERE
         |###   @1=1
         |###   @2=10.0
         |###   @3='a'
         |### SET
         |###   @1=1
         |###   @2=20.0
         |###   @3='b'
         |${hdr(3, "Update_rows")}
         |### UPDATE `db`.`orders`
         |### WHERE
         |###   @1=1
         |###   @2=99.0
         |###   @3='b'
         |### SET
         |###   @1=1
         |###   @2=30.0
         |###   @3='c'
         |""".stripMargin)
    val env = BinlogText.parse(spark, dir, cols, beforeCols = Seq("price"))
    assert(env.schema.fieldNames.contains("before_price"))
    // inserts carry no before image; updates carry the WHERE value
    val bySeq = env.collect().map(r => r.getLong(1) -> r).toMap
    assert(bySeq(1L).isNullAt(bySeq(1L).fieldIndex("before_price")))
    assert(bySeq(2L).getDouble(bySeq(2L).fieldIndex("before_price")) == 10.0)
    assert(bySeq(3L).getDouble(bySeq(3L).fieldIndex("before_price")) == 99.0)
    // end to end: the truthful update applies, the lying one (declared
    // before 99.0 vs the actually-served 20.0) quarantines to the DLQ
    val base = tmp()
    StreamingOps.writeWave(env, s"$base/in", 0)
    StreamingOps.runCdcPass(spark, FileCdcSource(env.schema, s"$base/in"),
      s"$base/ckpt", s"$base/state",
      strictBefore = Some(("price", "before_price")),
      conflictDlq = Some(s"$base/dlq"))
    val served = StreamingOps.readLatestState(spark, s"$base/state")
      .select("okey", "price").collect()
    assert(served.map(r => r.getLong(0) -> r.getDouble(1)).toSeq ==
      Seq(1L -> 20.0))
    assert(spark.read.parquet(s"$base/dlq").count() == 1)
  }

  test("changedCol surfaces MINIMAL row images: SET lists the changed " +
      "columns, WHERE carries the PK, completion-at-apply fills the rest") {
    import graft.streaming.StreamingOps
    val dir = tmp()
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
    def hdr(seq: Long, verb: String) =
      s"# at $seq\n#920315  0:00:00 server id 1  end_log_pos $seq " +
        s"CRC32 0x00000000 \t$verb: table id 108 flags: STMT_END_F"
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$dir/f.txt"),
      s"""${hdr(1, "Write_rows")}
         |### INSERT INTO `db`.`orders`
         |### SET
         |###   @1=1
         |###   @2=10.0
         |###   @3='a'
         |${hdr(2, "Write_rows")}
         |### INSERT INTO `db`.`orders`
         |### SET
         |###   @1=2
         |###   @2=50.0
         |###   @3='b'
         |${hdr(3, "Update_rows")}
         |### UPDATE `db`.`orders`
         |### WHERE
         |###   @1=1
         |### SET
         |###   @2=20.0
         |${hdr(4, "Update_rows")}
         |### UPDATE `db`.`orders`
         |### WHERE
         |###   @1=2
         |### SET
         |###   @3='z'
         |""".stripMargin)
    val env = BinlogText.parse(spark, dir, cols,
      changedCol = Some("_changed"))
    val bySeq = env.collect().map(r => r.getLong(1) -> r).toMap
    // inserts: full image, null changed list
    assert(bySeq(1L).isNullAt(bySeq(1L).fieldIndex("_changed")))
    // MINIMAL update: PK merged from WHERE, unchanged payload NULL,
    // the changed list names exactly the SET positions
    assert(bySeq(3L).getLong(bySeq(3L).fieldIndex("okey")) == 1L)
    assert(bySeq(3L).isNullAt(bySeq(3L).fieldIndex("status")))
    assert(bySeq(3L).getSeq[String](bySeq(3L).fieldIndex("_changed")) ==
      Seq("price"))
    // end to end through completion-at-apply: each key serves its
    // changed value AND its carried unchanged value
    val base = tmp()
    StreamingOps.writeWave(env, s"$base/in", 0)
    StreamingOps.runCdcPass(spark, FileCdcSource(env.schema, s"$base/in"),
      s"$base/ckpt", s"$base/state", partialImageCol = Some("_changed"))
    val served = StreamingOps.readLatestState(spark, s"$base/state")
      .select("okey", "price", "status").collect()
      .map(r => r.getLong(0) -> ((r.getDouble(1), r.getString(2)))).toMap
    assert(served == Map(1L -> ((20.0, "a")), 2L -> ((50.0, "z"))),
      s"got $served")
    // beforeCols and changedCol refuse to compose (MINIMAL carries no
    // before images — the strictBefore/partialImageCol rule)
    intercept[IllegalArgumentException] {
      BinlogText.parse(spark, dir, cols, beforeCols = Seq("price"),
        changedCol = Some("_changed"))
    }
  }

  test("PROPERTY: random envelopes round-trip render→parse identically " +
      "(hostile strings, NULLs, decimals)") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    val pcols: Seq[(String, DataType)] = Seq(
      "okey" -> LongType, "price" -> DoubleType,
      "amount" -> DecimalType(10, 2), "status" -> StringType)
    // strings draw from the characters that break naive escaping:
    // quotes, backslashes, newlines, the marker text itself
    val hostile = Gen.listOf(Gen.oneOf(
      Gen.alphaNumChar, Gen.oneOf('\'', '\\', '\n', '\r', ' ', '@', '#',
        '=', ','))).map(_.mkString)
    val genRow: Gen[(String, Long, Long, Any, Any, Any, Any)] = for {
      op <- Gen.oneOf("I", "U", "D")
      seq <- Gen.choose(1L, 100000L)
      sec <- Gen.choose(0L, 3155759999L) // within the header pivot window
      k <- Gen.choose(0L, 50L)
      price <- Gen.option(Gen.choose(-1e6, 1e6))
      amt <- Gen.option(Gen.choose(-99999999L, 99999999L)
        .map(c => new java.math.BigDecimal(java.math.BigInteger.valueOf(c), 2)))
      st <- Gen.option(hostile)
    } yield (op, seq, sec, k, price.map(Double.box).orNull,
      amt.orNull, st.orNull)
    val genLog = Gen.choose(1, 30).flatMap(n => Gen.listOfN(n, genRow))
    (0 until 8).foreach { i =>
      val rows = genLog.apply(Gen.Parameters.default, Seed(900L + i)).get
      val schema = StructType(Seq(
        StructField("op", StringType), StructField("seq", LongType),
        StructField("sec", LongType), StructField("okey", LongType),
        StructField("price", DoubleType),
        StructField("amount", DecimalType(10, 2)),
        StructField("status", StringType)))
      val env = spark.createDataFrame(
        java.util.Arrays.asList(rows.map(r =>
          Row(r._1, r._2, r._3, r._4, r._5, r._6, r._7)): _*), schema)
        .withColumn("ts", timestamp_seconds(col("sec"))
          .cast(TimestampNTZType))
        .select("op", "seq", "ts", "okey", "price", "amount", "status")
      val dir = tmp()
      BinlogText.render(env, pcols, s"$dir/binlog", files = 3)
      val back = BinlogText.parse(spark, s"$dir/binlog", pcols)
      val a = env.collect().map(_.toSeq).toSeq
        .map(_.map(v => Option(v).map(_.toString).orNull)).sorted(
          Ordering.by((s: Seq[String]) => s.mkString("\u0000")))
      val b = back.collect().map(_.toSeq).toSeq
        .map(_.map(v => Option(v).map(_.toString).orNull)).sorted(
          Ordering.by((s: Seq[String]) => s.mkString("\u0000")))
      assert(a == b, s"sample $i diverged")
    }
  }

  test("parseDdl extracts DISTRIBUTED: the frame plans a lazy scan over " +
      "the dump files — heavyweight row-event text never collects") {
    val dir = tmp()
    // a dir whose OTHER files hold the heavy row-event text (the shape
    // that made the old driver-side collect O(data))
    val rowEnv = envDf((1 to 500).map(i =>
      ("I", 100L + i, 800000000L, i.toLong, i * 1.5, s"payload_$i")))
    BinlogText.render(rowEnv, cols, s"$dir/binlog", files = 3)
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$dir/binlog/ddl.txt"),
      BinlogText.renderQuery(50L, 800000000L,
        "ALTER TABLE orders DROP COLUMN note") + "\n" +
        BinlogText.renderQuery(60L, 800000001L,
          "TRUNCATE TABLE orders") + "\n")
    val frame = BinlogText.parseDdlFrame(spark, s"$dir/binlog")
    // the plan's leaves must be the text-file relation — a
    // LocalRelation leaf would mean the dump text was collected
    // driver-side and re-parallelized (the r16 scale-killer)
    val leaves = frame.queryExecution.optimizedPlan.collectLeaves()
    assert(leaves.nonEmpty)
    leaves.foreach { l =>
      val cls = l.getClass.getSimpleName
      assert(cls.contains("LogicalRelation") || cls.contains("Relation"),
        s"parseDdl plan leaf is $cls — expected a lazy file relation")
      assert(!cls.contains("LocalRelation"),
        "parseDdl collected dump text driver-side (LocalRelation leaf)")
    }
    // only the statements come back — position-sorted, row text skipped
    assert(BinlogText.parseDdl(spark, s"$dir/binlog") == Seq(
      50L -> "ALTER TABLE orders DROP COLUMN note",
      60L -> "TRUNCATE TABLE orders"))
  }

  test("double-verbose dumps: string values carry trailing /* meta */ " +
      "comments and still parse (mysqlbinlog -vv shape)") {
    val dir = tmp()
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$dir/f.txt"),
      "# at 5\n#920315  0:00:00 server id 1  end_log_pos 5 CRC32 " +
        "0x00000000 \tWrite_rows: table id 108 flags: STMT_END_F\n" +
        "### INSERT INTO `db`.`orders`\n### SET\n" +
        "###   @1=7 /* LONGINT meta=0 nullable=0 is_null=0 */\n" +
        "###   @2=1.5 /* DOUBLE meta=8 nullable=1 is_null=0 */\n" +
        "###   @3='O' /* STRING(3) meta=65027 nullable=1 is_null=0 */\n")
    val r = BinlogText.parse(spark, dir, cols).collect()
    assert(r.length == 1)
    assert(r(0).getLong(3) == 7L && r(0).getDouble(4) == 1.5 &&
      r(0).getString(5) == "O")
    // an escaped quote inside the string composes with the comment
    val dir2 = tmp()
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir2))
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$dir2/f.txt"),
      "# at 6\n#920315  0:00:00 server id 1  end_log_pos 6 CRC32 " +
        "0x00000000 \tWrite_rows: table id 108 flags: STMT_END_F\n" +
        "### INSERT INTO `db`.`orders`\n### SET\n###   @1=8\n" +
        "###   @2=2.0\n" +
        "###   @3='it\\'s' /* VARSTRING(40) meta=40 nullable=1 */\n")
    val r2 = BinlogText.parse(spark, dir2, cols).collect()
    assert(r2(0).getString(5) == "it's")
    // garbage after the closing quote that is NOT a comment still refuses
    val dir3 = tmp()
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir3))
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$dir3/f.txt"),
      "# at 7\n#920315  0:00:00 server id 1  end_log_pos 7 CRC32 " +
        "0x00000000 \tWrite_rows: table id 108 flags: STMT_END_F\n" +
        "### INSERT INTO `db`.`orders`\n### SET\n###   @1=9\n" +
        "###   @2=2.0\n###   @3='x' trailing junk\n")
    val e = intercept[Throwable] { BinlogText.parse(spark, dir3, cols).collect() }
    val msg = Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
      .map(_.getMessage).mkString(" | ")
    assert(msg.contains("malformed binlog value for column 'status'"))
  }

  test("MINIMAL deletes list their WHERE positions in the changed " +
      "column — a PK-only tombstone image is visibly partial") {
    val dir = tmp()
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
    def hdr(seq: Long, verb: String) =
      s"# at $seq\n#920315  0:00:00 server id 1  end_log_pos $seq " +
        s"CRC32 0x00000000 \t$verb: table id 108 flags: STMT_END_F"
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$dir/f.txt"),
      s"""${hdr(1, "Write_rows")}
         |### INSERT INTO `db`.`orders`
         |### SET
         |###   @1=1
         |###   @2=10.0
         |###   @3='a'
         |${hdr(2, "Delete_rows")}
         |### DELETE FROM `db`.`orders`
         |### WHERE
         |###   @1=1
         |""".stripMargin)
    val env = BinlogText.parse(spark, dir, cols,
      changedCol = Some("_changed"))
    val bySeq = env.collect().map(r => r.getLong(1) -> r).toMap
    // insert: full image by definition → null list
    assert(bySeq(1L).isNullAt(bySeq(1L).fieldIndex("_changed")))
    // MINIMAL delete: PK-only image → the list names exactly the WHERE
    // positions, so history consumers see the image is partial
    assert(bySeq(2L).getSeq[String](bySeq(2L).fieldIndex("_changed")) ==
      Seq("okey"))
    // the collapse is unaffected: the delete still wins and serves as
    // a tombstone through completion-at-apply
    import graft.streaming.StreamingOps
    val base = tmp()
    StreamingOps.writeWave(env, s"$base/in", 0)
    StreamingOps.runCdcPass(spark, FileCdcSource(env.schema, s"$base/in"),
      s"$base/ckpt", s"$base/state", partialImageCol = Some("_changed"))
    assert(StreamingOps.readLatestState(spark, s"$base/state").count() == 0)
  }

  test("GTID stamps: index extraction, resume-by-set equals " +
      "resume-by-seq, and codec refusals compose") {
    import graft.streaming.StreamingOps
    val uuid = "3e11fa47-71ca-11e1-9e33-c80aa9429562"
    val dir = tmp()
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(s"$dir/binlog"))
    def rowBlock(seq: Long, okey: Long, price: Double, st: String) =
      s"# at $seq\n#920315  0:00:00 server id 1  end_log_pos $seq CRC32 " +
        "0x00000000 \tWrite_rows: table id 108 flags: STMT_END_F\n" +
        s"### INSERT INTO `db`.`orders`\n### SET\n###   @1=$okey\n" +
        s"###   @2=$price\n###   @3='$st'\n"
    // two rotated files, three transactions: txn1 = pos 11-12,
    // txn2 = pos 21, txn3 = pos 31-32 (file 2)
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$dir/binlog/f1.txt"),
      BinlogText.renderGtid(10L, 800000000L, uuid, 1L) + "\n" +
        rowBlock(11L, 1L, 1.0, "a") + rowBlock(12L, 2L, 2.0, "b") +
        BinlogText.renderGtid(20L, 800000001L, uuid, 2L) + "\n" +
        rowBlock(21L, 1L, 3.0, "c"))
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$dir/binlog/f2.txt"),
      BinlogText.renderGtid(30L, 800000002L, uuid, 3L) + "\n" +
        rowBlock(31L, 3L, 4.0, "d") + rowBlock(32L, 2L, 5.0, "e"))
    // the index: one stamp per transaction, position-ordered
    assert(BinlogText.parseGtidIndex(spark, s"$dir/binlog") == Seq(
      (10L, uuid, 1L), (20L, uuid, 2L), (30L, uuid, 3L)))
    // row parse is undisturbed by the stamps
    val env = BinlogText.parse(spark, s"$dir/binlog", cols)
    assert(env.count() == 5)
    val chain = Seq(uuid -> 0L)
    // the executed-set token decodes onto the position boundary: txns
    // 1-2 covered → everything below txn 3's stamp skips
    val boundary = BinlogText.gtidStartAfter(spark, s"$dir/binlog",
      s"$uuid:1-2", chain)
    assert(boundary == 29L, s"got $boundary")
    // resume-by-GTID lands on the same state as resume-by-seq: seed a
    // replica with txns 1-2 applied, then resume over the FULL dump
    val a = tmp()
    StreamingOps.writeWave(env, s"$a/in", 0)
    StreamingOps.runCdcPass(spark, FileCdcSource(env.schema, s"$a/in"),
      s"$a/ckpt",
      s"$a/state")
    val b = tmp()
    StreamingOps.writeWave(env.filter(col("seq") <= 21), s"$b/in", 0)
    StreamingOps.runCdcPass(spark, FileCdcSource(env.schema, s"$b/in"),
      s"$b/ckpt",
      s"$b/state")
    StreamingOps.writeWave(env, s"$b/in", 1)
    StreamingOps.runCdcPass(spark, FileCdcSource(env.schema, s"$b/in"),
      s"$b/ckpt",
      s"$b/state", startAfterSeq = Some(boundary))
    def served(d: String) = StreamingOps.readLatestState(spark, s"$d/state")
      .select("okey", "price", "status").collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getString(2))).toSet
    assert(served(a) == served(b),
      s"GTID resume diverged: full=${served(a)} resumed=${served(b)}")
    // a fully-covered set skips the whole dump
    assert(BinlogText.gtidStartAfter(spark, s"$dir/binlog",
      s"$uuid:1-3", chain) == Long.MaxValue)
    // codec refusals surface unchanged: foreign UUID by name, gapped set
    val foreign = intercept[IllegalArgumentException] {
      BinlogText.gtidStartAfter(spark, s"$dir/binlog",
        "deadbeef-0000-0000-0000-000000000000:1-2", chain)
    }
    assert(foreign.getMessage.contains("deadbeef"))
    val gapped = intercept[IllegalArgumentException] {
      BinlogText.gtidStartAfter(spark, s"$dir/binlog", s"$uuid:1:3", chain)
    }
    assert(gapped.getMessage.contains("gap"))
    // a rotated dump that starts EXACTLY one past the token's horizon
    // still anchors (txn 2's stamp is the boundary — no history missing)
    val dir2 = tmp()
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(s"$dir2/binlog"))
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$dir2/binlog/f2.txt"),
      BinlogText.renderGtid(20L, 800000001L, uuid, 2L) + "\n" +
        rowBlock(21L, 1L, 3.0, "c") +
        BinlogText.renderGtid(30L, 800000002L, uuid, 3L) + "\n" +
        rowBlock(31L, 3L, 4.0, "d"))
    assert(BinlogText.gtidStartAfter(spark, s"$dir2/binlog",
      s"$uuid:1", Seq(uuid -> 0L)) == 19L)
    // but a token standing BELOW the dump's oldest stamp minus one
    // refuses — the history between them has rotated away
    val dir3 = tmp()
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(s"$dir3/binlog"))
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$dir3/binlog/f3.txt"),
      BinlogText.renderGtid(30L, 800000002L, uuid, 3L) + "\n" +
        rowBlock(31L, 3L, 4.0, "d") +
        BinlogText.renderGtid(40L, 800000003L, uuid, 4L) + "\n" +
        rowBlock(41L, 4L, 5.0, "e"))
    val rotated = intercept[IllegalArgumentException] {
      // horizon 1, oldest stamp 3: txn 2 is in neither the set nor
      // the dump — nothing may silently skip it
      BinlogText.gtidStartAfter(spark, s"$dir3/binlog",
        s"$uuid:1", Seq(uuid -> 0L))
    }
    assert(rotated.getMessage.contains("rotated away"))
  }

  test("MariaDB GTID dialect: D-S-N header index, resume boundary " +
      "through the shared core, seq continuity across a server " +
      "failover, and flavor-mismatch refusals both ways") {
    import graft.Replication.{GtidSetCodec, MariaGtidCodec}
    val dir = tmp()
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(s"$dir/binlog"))
    // three transactions; the third under a NEW server id in the SAME
    // domain (a MariaDB failover: seq_no keeps counting per domain)
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$dir/binlog/f1.txt"),
      BinlogText.renderGtidMaria(10L, 800000000L, 0L, 1L, 1L) + "\n" +
        BinlogText.renderGtidMaria(20L, 800000001L, 0L, 1L, 2L) + "\n" +
        BinlogText.renderGtidMaria(30L, 800000002L, 0L, 7L, 3L))
    assert(BinlogText.parseGtidIndexMaria(spark, s"$dir/binlog") == Seq(
      (10L, 0L, 1L, 1L), (20L, 0L, 1L, 2L), (30L, 0L, 7L, 3L)))
    // position 0-1-2 (executed through seq 2) anchors one below txn
    // 3's stamp — the server id names provenance, not position, so
    // the failover does not split the channel
    assert(BinlogText.gtidStartAfterMaria(spark, s"$dir/binlog",
      "0-1-2", Seq(0L -> 0L)) == 29L)
    // the NEW server's own position token decodes identically
    assert(BinlogText.gtidStartAfterMaria(spark, s"$dir/binlog",
      "0-7-3", Seq(0L -> 0L)) == Long.MaxValue)
    // a MySQL uuid-set token on a MariaDB channel refuses naming the
    // flavor, and vice versa
    val e1 = intercept[IllegalArgumentException] {
      BinlogText.gtidStartAfterMaria(spark, s"$dir/binlog",
        "3e11fa47-71ca-11e1-9e33-c80aa9429562:1-2", Seq(0L -> 0L))
    }
    assert(e1.getMessage.contains("flavor mismatch"), e1.getMessage)
    val e2 = intercept[IllegalArgumentException] {
      GtidSetCodec("3e11fa47-71ca-11e1-9e33-c80aa9429562").toSeq("0-1-2")
    }
    assert(e2.getMessage.contains("flavor mismatch"), e2.getMessage)
    // a foreign domain refuses by name through the shared codec
    val e3 = intercept[IllegalArgumentException] {
      MariaGtidCodec(Seq(0L -> 0L)).toSeq("5-1-2")
    }
    assert(e3.getMessage.contains("domain 5"), e3.getMessage)
    // a domain-SWITCH chain mirrors the MySQL failover chain: domain
    // 0 retired at 2 transactions, domain 1 active
    assert(MariaGtidCodec(Seq(0L -> 2L, 1L -> 0L))
      .toSeq("0-1-2,1-2-5") == 7L)
    val short = intercept[IllegalArgumentException] {
      MariaGtidCodec(Seq(0L -> 2L, 1L -> 0L)).toSeq("0-1-1,1-2-5")
    }
    assert(short.getMessage.contains("missing history"), short.getMessage)
  }

  test("MariaDB 'Gtid list' rotation heads gate seq continuity on " +
      "the TEXT transport — the binary GTID_LIST guard, one rule, " +
      "both framings") {
    val dir = tmp()
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(s"$dir/binlog"))
    // head state: domain 0 executed through 2; the stream continues
    // at 3 — intact
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$dir/binlog/f2.txt"),
      BinlogText.renderGtidListMaria(4L, 800000000L,
        Seq((0L, 1L, 2L))) + "\n" +
        BinlogText.renderGtidMaria(10L, 800000001L, 0L, 1L, 3L))
    assert(BinlogText.parseGtidIndexMaria(spark, s"$dir/binlog") ==
      Seq((10L, 0L, 1L, 3L)))
    // a jump past the head state names the missing transactions
    val dir2 = tmp()
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(s"$dir2/binlog"))
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$dir2/binlog/f2.txt"),
      BinlogText.renderGtidListMaria(4L, 800000000L,
        Seq((0L, 1L, 2L))) + "\n" +
        BinlogText.renderGtidMaria(10L, 800000001L, 0L, 1L, 6L))
    val e = intercept[Throwable] {
      BinlogText.parseGtidIndexMaria(spark, s"$dir2/binlog")
    }
    val msg = Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
      .map(m => Option(m.getMessage).getOrElse("")).mkString(" | ")
    assert(msg.contains("3..5") && msg.contains("MISSING"), s"got: $msg")
    // a domain absent from the head state must open at 1
    val dir3 = tmp()
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(s"$dir3/binlog"))
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$dir3/binlog/f2.txt"),
      BinlogText.renderGtidListMaria(4L, 800000000L,
        Seq((0L, 1L, 2L))) + "\n" +
        BinlogText.renderGtidMaria(10L, 800000001L, 7L, 1L, 5L))
    val e2 = intercept[Throwable] {
      BinlogText.parseGtidIndexMaria(spark, s"$dir3/binlog")
    }
    assert(Iterator.iterate(e2)(_.getCause).takeWhile(_ != null)
      .map(m => Option(m.getMessage).getOrElse("")).mkString(" | ")
      .contains("does not name it"))
  }

  test("GTID resume boundary under the txn-scenario stamp geometry: " +
      "the executed set through txn 2 anchors one position below " +
      "txn 3's stamp") {
    // the exact stamp layout the declared cdc_binlog_*_txn queries
    // render (stamps at n*1e8, Xids closing txns 1-2) — pinned HERE so
    // the benched queries stay render→parse→pass→collapse only (the
    // inline assert cost a second full dump scan per bench run)
    val uuid = "3e11fa47-71ca-11e1-9e33-c80aa9429562"
    val dir = tmp()
    val stamps = (1 to 3).map(n => BinlogText.renderGtid(
      n * 100000000L, 800000000L, uuid, n)) ++
      (1 to 2).map(n => BinlogText.renderXid(
        (n + 1) * 100000000L - 1, 800000000L, n))
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(s"$dir/binlog"))
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$dir/binlog/txn.txt"),
      stamps.mkString("\n"))
    val boundary = BinlogText.gtidStartAfter(spark, s"$dir/binlog",
      s"$uuid:1-2", Seq(uuid -> 0L))
    assert(boundary == 3L * 100000000L - 1,
      s"GTID resume boundary drifted: $boundary")
  }

  test("GTID failover chain: stamps under two server UUIDs decode onto " +
      "one seq axis; stale chains and out-of-chain stamps refuse") {
    val old = "aaaaaaaa-0000-0000-0000-000000000001"
    val neo = "bbbbbbbb-0000-0000-0000-000000000002"
    val dir = tmp()
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(s"$dir/binlog"))
    def rowBlock(seq: Long, okey: Long) =
      s"# at $seq\n#920315  0:00:00 server id 1  end_log_pos $seq CRC32 " +
        "0x00000000 \tWrite_rows: table id 108 flags: STMT_END_F\n" +
        s"### INSERT INTO `db`.`orders`\n### SET\n###   @1=$okey\n" +
        s"###   @2=1.0\n###   @3='x'\n"
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$dir/binlog/f.txt"),
      BinlogText.renderGtid(10L, 800000000L, old, 1L) + "\n" + rowBlock(11L, 1L) +
        BinlogText.renderGtid(20L, 800000001L, old, 2L) + "\n" + rowBlock(21L, 2L) +
        BinlogText.renderGtid(30L, 800000002L, neo, 1L) + "\n" + rowBlock(31L, 3L))
    val chain = Seq(old -> 2L, neo -> 0L)
    // covered through the failover: only the new primary's txn remains
    assert(BinlogText.gtidStartAfter(spark, s"$dir/binlog",
      s"$old:1-2", chain) == 29L)
    // covered past the failover: the whole dump skips
    assert(BinlogText.gtidStartAfter(spark, s"$dir/binlog",
      s"$old:1-2,$neo:1", chain) == Long.MaxValue)
    // a chain that retired the old primary EARLIER than the dump's
    // stamps is stale — refuse, the dump claims txns past the end
    val stale = intercept[IllegalArgumentException] {
      BinlogText.gtidStartAfter(spark, s"$dir/binlog",
        s"$old:1", Seq(old -> 1L, neo -> 0L))
    }
    assert(stale.getMessage.contains("past its declared count"))
    // a stamp outside the declared chain refuses by name
    val outside = intercept[IllegalArgumentException] {
      BinlogText.gtidStartAfter(spark, s"$dir/binlog",
        s"$old:1-2", Seq(old -> 2L))
    }
    assert(outside.getMessage.contains("outside this replica's channel"))
  }

  test("parseMulti: blocks dispatch on their verb line's table, decode " +
      "under that table's TABLE_MAP, and land in one union envelope") {
    val colsA: Seq[(String, DataType)] = Seq(
      "okey" -> LongType, "price" -> DoubleType, "status" -> StringType)
    val colsB: Seq[(String, DataType)] = Seq(
      "okey" -> LongType, "note" -> StringType)
    def hdr(seq: Long, verb: String) =
      s"# at $seq\n#920315  0:00:00 server id 1  end_log_pos $seq " +
        s"CRC32 0x00000000 \t$verb: table id 108 flags: STMT_END_F"
    val dir = tmp()
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$dir/f.txt"),
      s"""${hdr(1, "Write_rows")}
         |### INSERT INTO `db`.`ta`
         |### SET
         |###   @1=1
         |###   @2=10.0
         |###   @3='x'
         |${hdr(2, "Write_rows")}
         |### INSERT INTO `db`.`tb`
         |### SET
         |###   @1=1
         |###   @2='memo'
         |${hdr(3, "Delete_rows")}
         |### DELETE FROM `db`.`ta`
         |### WHERE
         |###   @1=1
         |###   @2=10.0
         |###   @3='x'
         |${hdr(4, "Write_rows")}
         |### INSERT INTO `db`.`skipme`
         |### SET
         |###   @1=9
         |""".stripMargin)
    val env = BinlogText.parseMulti(spark, dir,
      Map("ta" -> colsA, "tb" -> colsB), ignoreTables = Set("skipme"))
    // union envelope: sorted tables, first declaration wins the slot —
    // (okey, price, status) from ta, then tb's novel (note)
    assert(env.schema.fieldNames.toSeq ==
      Seq("op", "seq", "ts", "table", "okey", "price", "status", "note"))
    val rows = env.orderBy(col("seq")).collect()
    assert(rows.map(r => (r.getLong(1), r.getString(3))).toSeq ==
      Seq((1L, "ta"), (2L, "tb"), (3L, "ta")))
    // ta's row: its 3 columns decoded, tb's note NULL; tb's row: @2 is
    // NOTE under tb's TABLE_MAP (not price) — per-table positions
    val a = rows(0); val b = rows(1)
    assert(a.getDouble(a.fieldIndex("price")) == 10.0 &&
      a.isNullAt(a.fieldIndex("note")))
    assert(b.getString(b.fieldIndex("note")) == "memo" &&
      b.isNullAt(b.fieldIndex("price")) &&
      b.isNullAt(b.fieldIndex("status")))
    // an event for a table neither declared nor excluded refuses
    val e = intercept[Throwable] {
      BinlogText.parseMulti(spark, dir, Map("ta" -> colsA, "tb" -> colsB))
        .collect()
    }
    val msg = Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
      .map(m => Option(m.getMessage).getOrElse("")).mkString(" | ")
    assert(msg.contains("'skipme'") && msg.contains("declare or exclude"))
    // overlapping column names must agree on type — one envelope slot
    val e2 = intercept[IllegalArgumentException] {
      BinlogText.parseMulti(spark, dir, Map(
        "ta" -> colsA,
        "tb" -> Seq("okey" -> LongType, "price" -> StringType)))
    }
    assert(e2.getMessage.contains("'price'"))
    // round-trip through the renderer's table parameter: two tables
    // appended into one dump dir come back dispatched
    val dir2 = tmp()
    val envA = envDf(Seq(("I", 10L, 800000000L, 5L, 1.5, "s")))
    BinlogText.render(envA, cols, s"$dir2/binlog", files = 1, table = "ta")
    BinlogText.render(envDf(Seq(("I", 11L, 800000001L, 6L, 2.5, "t"))),
      cols, s"$dir2/binlog", files = 1, table = "tb", append = true)
    val back = BinlogText.parseMulti(spark, s"$dir2/binlog",
      Map("ta" -> cols, "tb" -> cols))
    assert(back.select("table", "okey").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toSet ==
      Set("ta" -> 5L, "tb" -> 6L))
  }

  test("parseTxn: GTID stamps delimit transactions, Xids become commit " +
      "markers, pre-stamp rows and stamp-less dumps refuse") {
    val uuid = "3e11fa47-71ca-11e1-9e33-c80aa9429562"
    def rowBlock(pos: Long, okey: Long) =
      s"# at $pos\n#920315  0:00:00 server id 1  end_log_pos $pos CRC32 " +
        "0x00000000 \tWrite_rows: table id 108 flags: STMT_END_F\n" +
        s"### INSERT INTO `db`.`orders`\n### SET\n###   @1=$okey\n" +
        s"###   @2=1.5\n###   @3='x'\n"
    val dir = tmp()
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(s"$dir/b"))
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$dir/b/f.txt"),
      BinlogText.renderGtid(10L, 800000000L, uuid, 1L) + "\n" +
        rowBlock(11L, 1L) + rowBlock(12L, 2L) +
        BinlogText.renderXid(19L, 800000000L, 7L) + "\n" +
        BinlogText.renderGtid(20L, 800000060L, uuid, 2L) + "\n" +
        rowBlock(21L, 3L))
    assert(BinlogText.parseXids(spark, s"$dir/b") ==
      Seq(19L -> 800000000L))
    val env = BinlogText.parseTxn(spark, s"$dir/b", cols)
    val rows = env.orderBy(col("seq")).collect()
    assert(rows.map(r => (r.getString(0), r.getLong(1),
      r.getString(r.fieldIndex("txn")))).toSeq == Seq(
      ("I", 11L, s"$uuid:1"), ("I", 12L, s"$uuid:1"),
      ("C", 19L, s"$uuid:1"), ("I", 21L, s"$uuid:2")))
    // the marker's payload is null; its ts is the Xid header's clock
    val marker = rows(2)
    assert(marker.isNullAt(marker.fieldIndex("okey")))
    assert(marker.getAs[java.time.LocalDateTime]("ts")
      .toEpochSecond(java.time.ZoneOffset.UTC) == 800000000L)
    // a row event BELOW the first stamp has no nameable transaction —
    // the refusal fires on the first ACTION (the stamping is lazy: an
    // eager probe would re-decode the whole dump just to fail earlier)
    val dir2 = tmp()
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(s"$dir2/b"))
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$dir2/b/f.txt"),
      rowBlock(5L, 1L) +
        BinlogText.renderGtid(10L, 800000000L, uuid, 1L) + "\n" +
        rowBlock(11L, 2L))
    val e = intercept[Throwable] {
      BinlogText.parseTxn(spark, s"$dir2/b", cols).collect()
    }
    val msg = Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
      .map(m => Option(m.getMessage).getOrElse("")).mkString(" | ")
    assert(msg.contains("precedes the dump's first GTID stamp"), s"got: $msg")
    // a dump with no stamps at all cannot delimit transactions
    val dir3 = tmp()
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(s"$dir3/b"))
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$dir3/b/f.txt"), rowBlock(5L, 1L))
    val e2 = intercept[IllegalArgumentException] {
      BinlogText.parseTxn(spark, s"$dir3/b", cols)
    }
    assert(e2.getMessage.contains("no GTID_NEXT stamps"))
  }

  test("PROPERTY: random TWO-TABLE envelopes round-trip " +
      "render→parseMulti identically, each table under its own map") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    val colsA: Seq[(String, DataType)] = Seq(
      "okey" -> LongType, "price" -> DoubleType, "status" -> StringType)
    val colsB: Seq[(String, DataType)] = Seq(
      "okey" -> LongType, "note" -> StringType)
    val hostile = Gen.listOf(Gen.oneOf(
      Gen.alphaNumChar, Gen.oneOf('\'', '\\', '\n', '\r', ' ', '@', '#',
        '=', ','))).map(_.mkString)
    val genRow = for {
      op <- Gen.oneOf("I", "U", "D")
      seq <- Gen.choose(1L, 100000L)
      sec <- Gen.choose(0L, 3155759999L)
      k <- Gen.choose(0L, 50L)
      price <- Gen.option(Gen.choose(-1e6, 1e6))
      st <- Gen.option(hostile)
    } yield (op, seq, sec, k, price.map(Double.box).orNull, st.orNull)
    (0 until 4).foreach { i =>
      val rowsA = Gen.choose(1, 20).flatMap(n => Gen.listOfN(n, genRow))
        .apply(Gen.Parameters.default, Seed(7100L + i)).get
      val rowsB = Gen.choose(1, 20).flatMap(n => Gen.listOfN(n, genRow))
        .apply(Gen.Parameters.default, Seed(7200L + i)).get
      val envA = envDf(rowsA.map(r =>
        (r._1, r._2, r._3, r._4: Any, r._5, r._6)))
      val schemaB = StructType(Seq(
        StructField("op", StringType), StructField("seq", LongType),
        StructField("sec", LongType), StructField("okey", LongType),
        StructField("note", StringType)))
      val envB = spark.createDataFrame(
        java.util.Arrays.asList(rowsB.map(r =>
          Row(r._1, r._2, r._3, r._4, r._6)): _*), schemaB)
        .withColumn("ts", timestamp_seconds(col("sec"))
          .cast(TimestampNTZType))
        .select("op", "seq", "ts", "okey", "note")
      val dir = tmp()
      BinlogText.render(envA, colsA, s"$dir/binlog", files = 2,
        table = "ta")
      BinlogText.render(envB, colsB, s"$dir/binlog", files = 2,
        table = "tb", append = true)
      val back = BinlogText.parseMulti(spark, s"$dir/binlog",
        Map("ta" -> colsA, "tb" -> colsB))
      def canon(df: org.apache.spark.sql.DataFrame,
          names: Seq[String]): Seq[Seq[String]] =
        df.select(names.map(col): _*).collect().map(_.toSeq
          .map(v => Option(v).map(_.toString).orNull)).toSeq
          .sorted(Ordering.by((s: Seq[String]) => s.mkString("")))
      // table A's slice carries its columns exactly; B's likewise,
      // with the other table's columns NULL throughout
      assert(canon(back.filter(col("table") === "ta"),
        Seq("op", "seq", "ts", "okey", "price", "status")) ==
        canon(envA, Seq("op", "seq", "ts", "okey", "price", "status")),
        s"sample $i: table A diverged")
      assert(canon(back.filter(col("table") === "tb"),
        Seq("op", "seq", "ts", "okey", "note")) ==
        canon(envB, Seq("op", "seq", "ts", "okey", "note")),
        s"sample $i: table B diverged")
      assert(back.filter(col("table") === "tb" &&
        (col("price").isNotNull || col("status").isNotNull)).count() == 0)
      assert(back.filter(col("table") === "ta" &&
        col("note").isNotNull).count() == 0)
    }
  }

  test("multi-path edges: MINIMAL images via changedCol, doubled " +
      "backticks in table names, truncated heads and duplicate " +
      "TABLE_MAP names refuse") {
    import graft.streaming.StreamingOps
    val colsA: Seq[(String, DataType)] = Seq(
      "okey" -> LongType, "price" -> DoubleType, "status" -> StringType)
    def hdr(seq: Long, verb: String) =
      s"# at $seq\n#920315  0:00:00 server id 1  end_log_pos $seq " +
        s"CRC32 0x00000000 \t$verb: table id 108 flags: STMT_END_F"
    // MINIMAL multi dump: the update's SET names only @2; without
    // changedCol that would decode status as a REAL NULL and the
    // collapse would apply it — with changedCol the completion fills
    // the unchanged column from the prior image
    val dir = tmp()
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$dir/f.txt"),
      s"""${hdr(1, "Write_rows")}
         |### INSERT INTO `db`.`ta`
         |### SET
         |###   @1=1
         |###   @2=10.0
         |###   @3='keepme'
         |${hdr(2, "Update_rows")}
         |### UPDATE `db`.`ta`
         |### WHERE
         |###   @1=1
         |### SET
         |###   @2=20.0
         |""".stripMargin)
    val env = BinlogText.parseMulti(spark, dir, Map("ta" -> colsA),
      changedCol = Some("_changed"))
    val u = env.filter(col("seq") === 2).collect()(0)
    assert(u.getSeq[String](u.fieldIndex("_changed")) == Seq("price"))
    assert(u.getLong(u.fieldIndex("okey")) == 1L) // PK merged from WHERE
    val base = tmp()
    StreamingOps.writeWave(env.drop("table"), s"$base/in", 0)
    StreamingOps.runCdcPass(spark,
      FileCdcSource(env.drop("table").schema, s"$base/in"),
      s"$base/ckpt", s"$base/state", partialImageCol = Some("_changed"))
    val served = StreamingOps.readLatestState(spark, s"$base/state")
      .select("okey", "price", "status").collect()(0)
    assert(served.getDouble(1) == 20.0 && served.getString(2) == "keepme",
      s"MINIMAL completion lost a column: $served")
    // a table named with an embedded backtick dispatches through the
    // doubled-backtick escape
    val dir2 = tmp()
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir2))
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$dir2/f.txt"),
      s"${hdr(1, "Write_rows")}\n### INSERT INTO `db`.`a``b`\n### SET\n" +
        "###   @1=1\n###   @2=1.0\n###   @3='x'\n")
    assert(BinlogText.parseMulti(spark, dir2, Map("a`b" -> colsA))
      .select("table").collect()(0).getString(0) == "a`b")
    // row-event text before any '# at' is a truncated head — refuse
    val dir3 = tmp()
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir3))
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$dir3/f.txt"),
      "###   @2=99.0\n### SET\n" + s"${hdr(1, "Write_rows")}\n" +
        "### INSERT INTO `db`.`ta`\n### SET\n###   @1=1\n###   @2=1.0\n" +
        "###   @3='x'\n")
    val e = intercept[Throwable] {
      BinlogText.parseMulti(spark, dir3, Map("ta" -> colsA)).collect()
    }
    val msg = Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
      .map(m => Option(m.getMessage).getOrElse("")).mkString(" | ")
    assert(msg.contains("before any '# at'"), s"got: $msg")
    // duplicate TABLE_MAP names refuse up front (two positions cannot
    // share one output column), and the renderer refuses a table name
    // that would corrupt its verb line
    intercept[IllegalArgumentException] {
      BinlogText.parseMulti(spark, dir, Map("ta" ->
        Seq("okey" -> LongType, "price" -> DoubleType,
          "price" -> DoubleType)))
    }
    intercept[IllegalArgumentException] {
      BinlogText.render(envDf(Seq(("I", 1L, 800000000L, 1L, 1.0, "x"))),
        cols, s"${tmp()}/b", table = "t\nx")
    }
  }

  test("parseMultiTxn: cross-table transactions from dump bytes — one " +
      "Xid closes a txn spanning tables, an uncommitted tail holds " +
      "back across the whole topology") {
    import graft.streaming.StreamingOps
    val uuid = "3e11fa47-71ca-11e1-9e33-c80aa9429562"
    val colsA: Seq[(String, DataType)] = Seq(
      "okey" -> LongType, "price" -> DoubleType, "status" -> StringType)
    val colsB: Seq[(String, DataType)] = Seq(
      "okey" -> LongType, "note" -> StringType)
    def hdr(seq: Long, verb: String) =
      s"# at $seq\n#920315  0:00:00 server id 1  end_log_pos $seq " +
        s"CRC32 0x00000000 \t$verb: table id 108 flags: STMT_END_F"
    def rowA(pos: Long, okey: Long, price: Double) =
      s"${hdr(pos, "Write_rows")}\n### INSERT INTO `db`.`ta`\n### SET\n" +
        s"###   @1=$okey\n###   @2=$price\n###   @3='s'\n"
    def rowB(pos: Long, okey: Long, note: String) =
      s"${hdr(pos, "Write_rows")}\n### INSERT INTO `db`.`tb`\n### SET\n" +
        s"###   @1=$okey\n###   @2='$note'\n"
    val dir = tmp()
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(s"$dir/b"))
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$dir/b/f.txt"),
      BinlogText.renderGtid(10L, 800000000L, uuid, 1L) + "\n" +
        rowA(11L, 1L, 1.0) + rowB(12L, 1L, "m1") +
        BinlogText.renderXid(19L, 800000000L, 1L) + "\n" +
        BinlogText.renderGtid(20L, 800000060L, uuid, 2L) + "\n" +
        rowA(21L, 2L, 2.0) + rowB(22L, 2L, "m2"))
    val env = BinlogText.parseMultiTxn(spark, s"$dir/b",
      Map("ta" -> colsA, "tb" -> colsB))
    // the marker is topology-level: table = the _ctl placeholder
    val m = env.filter(col("op") === "C").collect()
    assert(m.map(r => (r.getLong(r.fieldIndex("seq")),
      r.getString(r.fieldIndex("table")),
      r.getString(r.fieldIndex("txn")))).toSeq ==
      Seq((19L, "_ctl", s"$uuid:1")))
    // through the multi pass: txn 1's slices apply to BOTH tables
    // atomically; txn 2 (no Xid) holds back across the whole topology
    val base = tmp()
    StreamingOps.writeWave(env, s"$base/in", 0)
    StreamingOps.runCdcPassMulti(spark, FileCdcSource(env.schema, s"$base/in"),
      s"$base/ckpt",
      Map("ta" -> s"$base/ta", "tb" -> s"$base/tb"),
      txnCol = Some("txn"))
    assert(StreamingOps.readLatestState(spark, s"$base/ta")
      .select("okey").collect().map(_.getLong(0)).toSeq == Seq(1L))
    assert(StreamingOps.readLatestState(spark, s"$base/tb")
      .select("okey", "note").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toSeq == Seq(1L -> "m1"))
  }

  test("BinlogTextCdcSource: the pass TAILS a dump dir — each rotation " +
      "decodes as it lands, resume picks up only new rotations") {
    import graft.streaming.StreamingOps
    import graft.sources.BinlogTextCdcSource
    val base = tmp()
    val dump = s"$base/dump"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dump))
    def rotation(name: String, blocks: String): Unit =
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(s"$dump/$name"), blocks)
    def rowBlock(pos: Long, op: String, okey: Long, price: Double) = {
      val verb = op match {
        case "I" => "Write_rows"; case "U" => "Update_rows"
        case _ => "Delete_rows"
      }
      val body = op match {
        case "D" => s"### DELETE FROM `db`.`orders`\n### WHERE\n" +
          s"###   @1=$okey\n###   @2=$price\n###   @3='x'\n"
        case "U" => s"### UPDATE `db`.`orders`\n### WHERE\n" +
          s"###   @1=$okey\n### SET\n###   @1=$okey\n###   @2=$price\n" +
          s"###   @3='x'\n"
        case _ => s"### INSERT INTO `db`.`orders`\n### SET\n" +
          s"###   @1=$okey\n###   @2=$price\n###   @3='x'\n"
      }
      s"# at $pos\n#920315  0:00:00 server id 1  end_log_pos $pos " +
        s"CRC32 0x00000000 \t$verb: table id 108 flags: STMT_END_F\n$body"
    }
    val src = BinlogTextCdcSource(dump, cols)
    assert(src.schema.fieldNames.toSeq ==
      Seq("op", "seq", "ts", "okey", "price", "status"))
    val fin = "\n" + BinlogText.DumpTerminator + "\n"
    // rotation 1 lands COMPLETE, as real mysqlbinlog writes it: the
    // terminator line followed by session-reset FOOTER statements —
    // the torn-rotation gate must accept the marker as a LINE, not
    // demand it as the final bytes (an ends-with check would reject
    // every genuine complete dump)
    rotation("bin.000001",
      rowBlock(1, "I", 1L, 10.0) + rowBlock(2, "I", 2L, 20.0) + fin +
        "/*!50003 SET COMPLETION_TYPE=@OLD_COMPLETION_TYPE*/;\n" +
        "DELIMITER ;\nROLLBACK /* added by mysqlbinlog */;\n" +
        "/*!50530 SET @@SESSION.PSEUDO_SLAVE_MODE=0*/;\n")
    StreamingOps.runCdcPass(spark, src, s"$base/ckpt", s"$base/state")
    def served: Map[Long, Double] =
      StreamingOps.readLatestState(spark, s"$base/state")
        .select("okey", "price").collect()
        .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(served == Map(1L -> 10.0, 2L -> 20.0))
    // rotations 2 and 3 land; the RESUMED pass (same checkpoint)
    // consumes only the new files
    rotation("bin.000002",
      rowBlock(3, "U", 1L, 11.0) + fin)
    rotation("bin.000003",
      rowBlock(4, "D", 2L, 20.0) + fin)
    StreamingOps.runCdcPass(spark, src, s"$base/ckpt", s"$base/state")
    assert(served == Map(1L -> 11.0))
    // an IN-FLIGHT rotation (no terminator yet) refuses the batch —
    // partial bytes must never decode as final, because the file
    // source would never re-read the remainder
    val base2 = tmp()
    val dump2 = s"$base2/dump"
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(dump2))
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$dump2/bin.000001"),
      rowBlock(1, "I", 1L, 10.0)) // torn: writer still appending
    val src2 = BinlogTextCdcSource(dump2, cols)
    val e = intercept[Throwable] {
      StreamingOps.runCdcPass(spark, src2, s"$base2/ckpt",
        s"$base2/state")
    }
    val msg = Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
      .map(m => Option(m.getMessage).getOrElse("")).mkString(" | ")
    assert(msg.contains("in-flight or torn rotation"), s"got: $msg")
  }

  test("BinlogTextMultiCdcSource: one tailed dump feeds the multi-table " +
      "fan-out, rotations arriving across resumed passes") {
    import graft.streaming.StreamingOps
    import graft.sources.BinlogTextMultiCdcSource
    val colsA: Seq[(String, DataType)] = Seq(
      "okey" -> LongType, "price" -> DoubleType, "status" -> StringType)
    val colsB: Seq[(String, DataType)] = Seq(
      "okey" -> LongType, "note" -> StringType)
    def hdr(seq: Long) =
      s"# at $seq\n#920315  0:00:00 server id 1  end_log_pos $seq " +
        "CRC32 0x00000000 \tWrite_rows: table id 108 flags: STMT_END_F"
    def rowA(pos: Long, okey: Long, price: Double) =
      s"${hdr(pos)}\n### INSERT INTO `db`.`ta`\n### SET\n" +
        s"###   @1=$okey\n###   @2=$price\n###   @3='s'\n"
    def rowB(pos: Long, okey: Long, note: String) =
      s"${hdr(pos)}\n### INSERT INTO `db`.`tb`\n### SET\n" +
        s"###   @1=$okey\n###   @2='$note'\n"
    val base = tmp()
    val dump = s"$base/dump"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dump))
    val fin = "\n" + BinlogText.DumpTerminator + "\n"
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$dump/bin.000001"),
      rowA(1L, 1L, 10.0) + rowB(2L, 1L, "m1") + fin)
    val src = BinlogTextMultiCdcSource(dump,
      Map("ta" -> colsA, "tb" -> colsB))
    val dirs = Map("ta" -> s"$base/ta", "tb" -> s"$base/tb")
    StreamingOps.runCdcPassMulti(spark, src, s"$base/ckpt", dirs)
    assert(StreamingOps.readLatestState(spark, s"$base/ta").count() == 1)
    assert(StreamingOps.readLatestState(spark, s"$base/tb").count() == 1)
    // the next rotation lands; the resumed pass fans out only its rows
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$dump/bin.000002"),
      rowA(3L, 2L, 20.0) + rowB(4L, 1L, "m2") + fin)
    StreamingOps.runCdcPassMulti(spark, src, s"$base/ckpt", dirs)
    assert(StreamingOps.readLatestState(spark, s"$base/ta")
      .select("okey").collect().map(_.getLong(0)).toSet == Set(1L, 2L))
    assert(StreamingOps.readLatestState(spark, s"$base/tb")
      .select("okey", "note").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toSeq == Seq(1L -> "m2"))
  }

  test("malformed input and lossy renders refuse loudly") {
    def parseText(text: String): Unit = {
      val dir = tmp()
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(s"$dir/f.txt"), text)
      BinlogText.parse(spark, dir, cols).collect()
      ()
    }
    def refuses(text: String, naming: String): Unit = {
      val e = intercept[Throwable] { parseText(text) }
      val msg = Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
        .map(_.getMessage).mkString(" | ")
      assert(msg.contains(naming), s"got: $msg")
    }
    val hdr = "#920315  0:00:00 server id 1  end_log_pos 1 CRC32 " +
      "0x00000000 \tWrite_rows: table id 108 flags: STMT_END_F"
    // a position with no row image is a truncated dump, not data
    refuses(s"# at 5\n$hdr\n### INSERT INTO `db`.`t`\n### SET\n",
      "carries no row image")
    // an image column beyond the TABLE_MAP is a schema mismatch
    refuses(s"# at 5\n$hdr\n### INSERT INTO `db`.`t`\n### SET\n" +
      "###   @1=1\n###   @9=2\n", "beyond the 3-column TABLE_MAP")
    // garbage pseudo-SQL refuses with the line text
    refuses(s"# at 5\n$hdr\n### FROB `db`.`t`\n", "unrecognized")
    // type mismatch refuses naming the column
    refuses(s"# at 5\n$hdr\n### INSERT INTO `db`.`t`\n### SET\n" +
      "###   @1='not a long'\n", "malformed binlog value for column 'okey'")
    // a dated header is required before values can stamp an event
    refuses("# at 5\n### INSERT INTO `db`.`t`\n### SET\n###   @1=1\n",
      "no dated header")
    // the renderer refuses sub-second event times instead of flooring
    val sub = envDf(Seq(("I", 1L, 800000000L, 1L, 1.0, "x")))
      .withColumn("ts", (col("ts").cast(TimestampType) +
        expr("INTERVAL 0.5 SECOND")).cast(TimestampNTZType))
    val e = intercept[Throwable] {
      BinlogText.render(sub, cols, s"${tmp()}/binlog")
    }
    val msg = Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
      .map(_.getMessage).mkString(" | ")
    assert(msg.contains("second-granular"))
    // a year the two-digit header cannot name refuses instead of
    // round-tripping a century wrong (pivot window [1970, 2069])
    val y2070 = envDf(Seq(("I", 1L, 3155760000L, 1L, 1.0, "x"))) // 2070-01-01
    val ey = intercept[Throwable] {
      BinlogText.render(y2070, cols, s"${tmp()}/binlog")
    }
    val msgY = Iterator.iterate(ey)(_.getCause).takeWhile(_ != null)
      .map(_.getMessage).mkString(" | ")
    assert(msgY.contains("cannot represent year 2070"))
    intercept[IllegalArgumentException] {
      BinlogText.renderQuery(1L, 3155760000L, "ALTER TABLE t DROP COLUMN c")
    }
  }

  test("torn-rotation gate refused: a non-verbose dump's BINLOG base64 " +
      "row event refuses naming --verbose, not a missing table") {
    val dir = tmp()
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(s"$dir/b"))
    // what `mysqlbinlog` WITHOUT -v prints for a row event: the dated
    // comment header names the verb, but the row images arrive only as
    // an executable base64 BINLOG statement — nothing pseudo-SQL to
    // decode
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$dir/b/f.txt"),
      "# at 120\n#920315  0:00:00 server id 1  end_log_pos 190 CRC32 " +
        "0x00000000 \tWrite_rows: table id 108 flags: STMT_END_F\n" +
        "BINLOG '\nwlZbVRMBAAAAKwAAAL8AAAAAAHEAAAAAAAEABHRlc3QAAWEAAQ==\n" +
        "'/*!*/;\n")
    val e = intercept[Throwable] {
      BinlogText.parse(spark, s"$dir/b", cols).collect()
    }
    val msg = Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
      .map(m => Option(m.getMessage).getOrElse("")).mkString(" | ")
    assert(msg.contains("--verbose"), s"got: $msg")
    // …and points at the decoder that CAN read it
    assert(msg.contains("parseNonVerbose"), s"got: $msg")
    assert(!msg.contains("names no table"), s"got: $msg")
  }

  test("a DELETE's stray SET image is range-checked like every other " +
      "image — @i beyond the TABLE_MAP refuses for every op") {
    val dir = tmp()
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(s"$dir/b"))
    // malformed: a DELETE block carrying a SET section whose position
    // exceeds the 3-column TABLE_MAP — the delete's replicating image
    // is WHERE, but the stray @9 must still refuse loudly
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$dir/b/f.txt"),
      "# at 7\n#920315  0:00:00 server id 1  end_log_pos 7 CRC32 " +
        "0x00000000 \tDelete_rows: table id 108 flags: STMT_END_F\n" +
        "### DELETE FROM `db`.`orders`\n### WHERE\n###   @1=1\n" +
        "### SET\n###   @9=1\n")
    val e = intercept[Throwable] {
      BinlogText.parse(spark, s"$dir/b", cols).collect()
    }
    val msg = Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
      .map(m => Option(m.getMessage).getOrElse("")).mkString(" | ")
    assert(msg.contains("@9 beyond"), s"got: $msg")
  }

  test("parseTxn plans ONE scan of the dump relation — commit markers " +
      "ride the distributed decode, not a driver-built union branch") {
    val uuid = "3e11fa47-71ca-11e1-9e33-c80aa9429562"
    val dir = tmp()
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(s"$dir/b"))
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$dir/b/f.txt"),
      BinlogText.renderGtid(10L, 800000000L, uuid, 1L) + "\n" +
        "# at 11\n#920315  0:00:00 server id 1  end_log_pos 11 CRC32 " +
        "0x00000000 \tWrite_rows: table id 108 flags: STMT_END_F\n" +
        "### INSERT INTO `db`.`orders`\n### SET\n###   @1=1\n" +
        "###   @2=1.5\n###   @3='x'\n" +
        BinlogText.renderXid(19L, 800000000L, 7L) + "\n")
    val env = BinlogText.parseTxn(spark, s"$dir/b", cols)
    val leaves = env.queryExecution.optimizedPlan.collectLeaves()
    assert(leaves.size == 1,
      s"expected ONE dump relation in the txn envelope's plan, got " +
        s"${leaves.map(_.getClass.getSimpleName)}")
    assert(!leaves.head.getClass.getSimpleName.contains("LocalRelation"),
      "txn envelope planned a driver-built LocalRelation leaf")
    // and the folded plan still yields the stamped rows + marker
    val got = env.orderBy(col("seq")).collect()
      .map(r => (r.getString(0), r.getLong(1),
        r.getString(r.fieldIndex("txn")))).toSeq
    assert(got == Seq(("I", 11L, s"$uuid:1"), ("C", 19L, s"$uuid:1")))
  }

  test("parseNonVerbose: a no-verbose dump's BINLOG base64 statements " +
      "decode through the binary wire path — full round trip") {
    val env = envDf(Seq(
      ("I", 1L, 800000000L, 1L, 10.5, "plain"),
      ("I", 2L, 800000001L, 2L, null, null),
      ("U", 3L, 800000002L, 1L, -7.25, "it's a 'quote' \\ slash"),
      ("I", 5L, 800000003L, 3L, 1.0, "ünïcodé ⚡"),
      ("D", 4L, 900000000L, 2L, null, null)))
    val dir = tmp()
    BinlogText.renderBase64(env, cols, s"$dir/binlog", files = 2)
    val back = BinlogText.parseNonVerbose(spark, s"$dir/binlog", cols)
    // same envelope schema as every other transport
    val dirEmpty = tmp()
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(s"$dirEmpty/e"))
    assert(back.schema ==
      BinlogText.parse(spark, s"$dirEmpty/e", cols).schema)
    val got = back.collect().map(_.toSeq).toSet
    val want = env.collect().map(_.toSeq).toSet
    assert(got == want, s"round-trip diverged:\n got=$got\nwant=$want")
    // the rendered files really carry mysqlbinlog's non-verbose
    // framing and NO pseudo-SQL images
    val texts = new java.io.File(s"$dir/binlog").listFiles()
      .filter(_.getName.startsWith("part-")).map(f =>
        java.nio.file.Files.readString(f.toPath))
    assert(texts.forall(_.contains("BINLOG '")))
    assert(texts.forall(!_.contains("### ")))
    // the verbose parser refuses this dump pointing HERE; the stale-
    // declaration refusal is the binary decoder's own (wire-validated)
    val e = intercept[Throwable] {
      BinlogText.parseNonVerbose(spark, s"$dir/binlog",
        Seq[(String, DataType)]("okey" -> LongType,
          "price" -> DoubleType)).collect()
    }
    assert(Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
      .map(m => Option(m.getMessage).getOrElse("")).mkString(" | ")
      .contains("declares 3 columns but the caller declared 2"))
  }

  test("parseNonVerbose refusals: a verbose dump (no BINLOG blocks) " +
      "points at parse; a torn base64 statement refuses; corrupt " +
      "base64 payload fails the binary CRC") {
    // a verbose dump carries no BINLOG statements: name the right path
    val env = envDf(Seq(("I", 1L, 800000000L, 1L, 1.0, "x")))
    val dirV = tmp()
    BinlogText.render(env, cols, s"$dirV/b", files = 1)
    val e1 = intercept[Throwable] {
      BinlogText.parseNonVerbose(spark, s"$dirV/b", cols).collect()
    }
    assert(Iterator.iterate(e1)(_.getCause).takeWhile(_ != null)
      .map(m => Option(m.getMessage).getOrElse("")).mkString(" | ")
      .contains("decode it with parse"))
    // an unterminated BINLOG statement is a torn write
    val dirT = tmp()
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(s"$dirT/b"))
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$dirT/b/f.txt"),
      "# at 4\nBINLOG '\nwlZbVRMBAAAAKwAAAL8AAAAAAHEAAAAAAAEABHRlc3Q=\n")
    val e2 = intercept[Throwable] {
      BinlogText.parseNonVerbose(spark, s"$dirT/b", cols).collect()
    }
    assert(Iterator.iterate(e2)(_.getCause).takeWhile(_ != null)
      .map(m => Option(m.getMessage).getOrElse("")).mkString(" | ")
      .contains("unterminated BINLOG base64"))
    // flip one byte inside a valid dump's base64: the BINARY decoder's
    // CRC32 check refuses through the text transport too
    val dirC = tmp()
    BinlogText.renderBase64(env, cols, s"$dirC/b", files = 1)
    val f = new java.io.File(s"$dirC/b").listFiles()
      .filter(_.getName.startsWith("part-")).head
    val txt = java.nio.file.Files.readString(f.toPath)
    val i = txt.lastIndexOf("BINLOG '") + 20
    val corrupted = txt.substring(0, i) +
      (if (txt.charAt(i) == 'A') 'B' else 'A') + txt.substring(i + 1)
    java.nio.file.Files.writeString(f.toPath, corrupted)
    // drop Hadoop's local-FS .crc sidecars: the in-place edit must hit
    // OUR wire CRC, not the filesystem's
    new java.io.File(s"$dirC/b").listFiles()
      .filter(_.getName.endsWith(".crc")).foreach(_.delete())
    val e3 = intercept[Throwable] {
      BinlogText.parseNonVerbose(spark, s"$dirC/b", cols).collect()
    }
    val msg3 = Iterator.iterate(e3)(_.getCause).takeWhile(_ != null)
      .map(m => Option(m.getMessage).getOrElse("")).mkString(" | ")
    assert(msg3.contains("CRC32 mismatch") || msg3.contains("corrupt") ||
      msg3.contains("truncated"), s"got: $msg3")
  }

  test("parseMultiNonVerbose: base64 TABLE_MAPs dispatch per table; " +
      "an eventless text file (pure punctuation) decodes to nothing") {
    val colsOdd: Seq[(String, DataType)] = Seq(
      "okey" -> LongType, "price" -> DoubleType, "note" -> StringType)
    val dir = tmp()
    BinlogText.renderBase64(envDf(Seq(
      ("I", 1L, 800000000L, 2L, 20.0, "s2"))),
      cols, s"$dir/b", files = 1, table = "t_even")
    BinlogText.renderBase64(envDf(Seq(
      ("I", 2L, 800000001L, 1L, 10.0, "n1")))
      .withColumnRenamed("status", "note"),
      colsOdd, s"$dir/b", files = 1, table = "t_odd", append = true)
    BinlogText.renderBase64(envDf(Seq(
      ("I", 9L, 800000009L, 7L, 7.0, "x"))),
      cols, s"$dir/b", files = 1, table = "audit", append = true)
    // an eventless rotation slice: GTID/Xid punctuation only, no
    // BINLOG blocks — legitimate, decodes to nothing
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$dir/b/txn.txt"),
      BinlogText.renderGtid(100L, 800000000L,
        "3e11fa47-71ca-11e1-9e33-c80aa9429562", 1L))
    val env = BinlogText.parseMultiNonVerbose(spark, s"$dir/b",
      Map("t_even" -> cols, "t_odd" -> colsOdd),
      ignoreTables = Set("audit"))
    val got = env.orderBy(col("seq")).collect().map(r =>
      (r.getString(0), r.getLong(1), r.getString(3),
        r.getAs[Any]("okey"), r.getAs[Any]("status"),
        r.getAs[Any]("note"))).toSeq
    assert(got == Seq(
      ("I", 1L, "t_even", 2L, "s2", null),
      ("I", 2L, "t_odd", 1L, null, "n1")), s"got: $got")
  }

  test("parseTxnNonVerbose: rows from base64 bytes, GTID/Xid from " +
      "text — the realistic non-verbose split; uncommitted tail " +
      "stays marker-less; one dump relation in the plan") {
    val uuid = "3e11fa47-71ca-11e1-9e33-c80aa9429562"
    val dir = tmp()
    BinlogText.renderBase64(envDf(Seq(
      ("I", 11L, 800000000L, 1L, 1.5, "a"),
      ("I", 21L, 800000060L, 3L, 3.5, "c"))),
      cols, s"$dir/b", files = 1)
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$dir/b/txn.txt"),
      Seq(
        BinlogText.renderGtid(10L, 800000000L, uuid, 1L),
        BinlogText.renderGtid(20L, 800000060L, uuid, 2L),
        BinlogText.renderXid(19L, 800000000L, 7L)).mkString("\n"))
    val txn = BinlogText.parseTxnNonVerbose(spark, s"$dir/b", cols)
    val leaves = txn.queryExecution.optimizedPlan.collectLeaves()
    assert(leaves.size == 1,
      s"expected ONE dump relation, got ${leaves.map(_.getClass.getSimpleName)}")
    val got = txn.orderBy(col("seq")).collect().map(r =>
      (r.getString(0), r.getLong(1),
        r.getString(r.fieldIndex("txn")))).toSeq
    assert(got == Seq(
      ("I", 11L, s"$uuid:1"), ("C", 19L, s"$uuid:1"),
      ("I", 21L, s"$uuid:2")), s"got: $got")
  }

  test("verifyRotationChain (text framing): 'Rotate to' headers must " +
      "name the next file present — a missing rotation refuses") {
    val dir = tmp()
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(s"$dir/b"))
    def dumpFile(name: String, next: String): Unit = {
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(s"$dir/b/$name"),
        BinlogText.renderRotate(100L, 800000000L, next) + "\n" +
          BinlogText.DumpTerminator + "\n")
      ()
    }
    dumpFile("bin.000001", "bin.000002")
    dumpFile("bin.000002", "bin.000003") // last announcement: beyond ok
    BinlogText.verifyRotationChain(spark, s"$dir/b") // intact
    assert(new java.io.File(s"$dir/b/bin.000002").delete())
    dumpFile("bin.000003", "bin.000004")
    val e = intercept[Throwable] {
      BinlogText.verifyRotationChain(spark, s"$dir/b")
    }
    val msg = Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
      .map(m => Option(m.getMessage).getOrElse("")).mkString(" | ")
    assert(msg.contains("announces successor 'bin.000002'"), s"got: $msg")
  }

  test("BinlogBase64CdcSource: the pass TAILS non-verbose dumps, " +
      "rotations arriving across resumed passes; a rotation without " +
      "the terminator line refuses") {
    import graft.streaming.StreamingOps
    import graft.sources.BinlogBase64CdcSource
    val base = tmp()
    val dump = s"$base/dump"
    BinlogText.renderBase64(envDf(Seq(
      ("I", 1L, 800000000L, 1L, 10.0, "a"),
      ("I", 2L, 800000000L, 2L, 20.0, "b"))),
      cols, dump, files = 1)
    val src = BinlogBase64CdcSource(dump, cols)
    StreamingOps.runCdcPass(spark, src, s"$base/ckpt",
      s"$base/state")
    assert(StreamingOps.readLatestState(spark, s"$base/state")
      .count() == 2)
    // the next rotation lands (append mode = a new part file); the
    // resumed pass consumes only it
    BinlogText.renderBase64(envDf(Seq(
      ("D", 3L, 800000001L, 2L, null, null))),
      cols, dump, files = 1, append = true)
    StreamingOps.runCdcPass(spark, src, s"$base/ckpt",
      s"$base/state")
    assert(StreamingOps.readLatestState(spark, s"$base/state")
      .select("okey").collect().map(_.getLong(0)).toSeq == Seq(1L))
    // a TORN rotation (no terminator line) refuses the batch
    val base2 = tmp()
    val dump2 = s"$base2/dump"
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(dump2))
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$dump2/f.txt"),
      "# at 4\nBINLOG '\nwlZbVRMBAAAAKwAAAL8AAAAAAHEAAAAAAAEABHRlc3Q=\n" +
        "'/*!*/;\n")
    val src2 = BinlogBase64CdcSource(dump2, cols)
    val e = intercept[Throwable] {
      StreamingOps.runCdcPass(spark, src2, s"$base2/ckpt",
        s"$base2/state")
    }
    assert(Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
      .map(m => Option(m.getMessage).getOrElse("")).mkString(" | ")
      .contains("in-flight or torn rotation"))
  }

  test("parseMultiTxnNonVerbose: one topology-level Xid closes a " +
      "cross-table transaction decoded from base64 payloads") {
    val colsOdd: Seq[(String, DataType)] = Seq(
      "okey" -> LongType, "price" -> DoubleType, "note" -> StringType)
    val uuid = "3e11fa47-71ca-11e1-9e33-c80aa9429562"
    val dir = tmp()
    BinlogText.renderBase64(envDf(Seq(
      ("I", 11L, 800000000L, 1L, 1.5, "a"),
      ("I", 21L, 800000060L, 3L, 3.5, "c"))),
      cols, s"$dir/b", files = 1, table = "t_even")
    BinlogText.renderBase64(envDf(Seq(
      ("I", 12L, 800000000L, 2L, 2.5, "n2")))
      .withColumnRenamed("status", "note"),
      colsOdd, s"$dir/b", files = 1, table = "t_odd", append = true)
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$dir/b/txn.txt"),
      Seq(
        BinlogText.renderGtid(10L, 800000000L, uuid, 1L),
        BinlogText.renderGtid(20L, 800000060L, uuid, 2L),
        BinlogText.renderXid(19L, 800000000L, 7L)).mkString("\n"))
    val txn = BinlogText.parseMultiTxnNonVerbose(spark, s"$dir/b",
      Map("t_even" -> cols, "t_odd" -> colsOdd))
    val got = txn.orderBy(col("seq")).collect().map(r =>
      (r.getString(0), r.getLong(1), r.getString(3),
        r.getString(r.fieldIndex("txn")))).toSeq
    assert(got == Seq(
      ("I", 11L, "t_even", s"$uuid:1"),
      ("I", 12L, "t_odd", s"$uuid:1"),
      ("C", 19L, "_ctl", s"$uuid:1"),
      ("I", 21L, "t_even", s"$uuid:2")), s"got: $got")
  }
}
