package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import graft.streaming.StreamingOps
import graft.sources.FileCdcSource

/** Incremental materialized views over the CDC stream (ST30/ST31):
  * retraction-delta maintenance for count/sum, dirty-group recompute for
  * min/max. Every case asserts the INCREMENTALLY maintained MV equals a
  * from-scratch aggregate over the final latest state — the invariant the
  * whole pattern rests on — plus the regime-specific properties:
  * bounded work (untouched partitions never rewritten) and replay safety.
  */
class MvSpec extends SparkTestBase {

  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("graft_mv").toString

  case class MvEv(op: String, seq: Long, okey: Long, price: Double,
    status: String)

  private def evDf(evs: Seq[MvEv]): org.apache.spark.sql.DataFrame =
    spark.createDataFrame(evs)
      .withColumn("ts", timestamp_seconds(lit(1700000000L) + col("seq")))
      .select(col("op"), col("seq"), col("ts"), col("okey"), col("price"),
        col("status"))

  /** Reference semantics, folded sequentially: latest event per key,
    * tombstones dropped. */
  private def refLatest(evs: Seq[MvEv]): Map[Long, MvEv] =
    evs.sortBy(_.seq)
      .foldLeft(Map.empty[Long, MvEv])((m, e) => m.updated(e.okey, e))
      .filter(_._2.op != "D")

  private def refSum(evs: Seq[MvEv]): Map[String, (Long, BigDecimal)] =
    refLatest(evs).values.groupBy(_.status).map { case (g, rows) =>
      g -> (rows.size.toLong,
        rows.map(r => BigDecimal(r.price).setScale(2)).sum)
    }

  private def refMinMax(evs: Seq[MvEv]): Map[String, (Long, Double, Double)] =
    refLatest(evs).values.groupBy(_.status).map { case (g, rows) =>
      g -> (rows.size.toLong, rows.map(_.price).min, rows.map(_.price).max)
    }

  private def servedSum(mv: String): Map[String, (Long, BigDecimal)] =
    StreamingOps.readMv(spark, mv)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), BigDecimal(r.getDecimal(2)))).toMap

  private def servedMinMax(mv: String): Map[String, (Long, Double, Double)] =
    StreamingOps.readMv(spark, mv)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getDouble(2), r.getDouble(3))).toMap

  /** Write each epoch's events as one wave file. */
  private def writeEpochs(base: String, epochs: Seq[Seq[MvEv]]): Unit =
    epochs.zipWithIndex.foreach { case (evs, i) =>
      StreamingOps.writeWave(evDf(evs), s"$base/in", i)
    }

  private def runSum(base: String, epochs: Seq[Seq[MvEv]]): Unit = {
    writeEpochs(base, epochs)
    StreamingOps.runMvSumPass(spark,
      FileCdcSource(evDf(Seq.empty).schema, s"$base/in"),
      s"$base/ckpt", s"$base/state", s"$base/mv")
  }

  private def runMinMax(base: String, epochs: Seq[Seq[MvEv]]): Unit = {
    writeEpochs(base, epochs)
    StreamingOps.runMvMinMaxPass(spark,
      FileCdcSource(evDf(Seq.empty).schema, s"$base/in"),
      s"$base/ckpt", s"$base/state", s"$base/snap", s"$base/mv")
  }

  test("sum MV: inserts, group-moving update, delete — equals recompute") {
    val e1 = Seq(MvEv("I", 1, 1, 10.00, "A"), MvEv("I", 2, 2, 20.00, "A"),
      MvEv("I", 3, 3, 5.00, "B"))
    val e2 = Seq(MvEv("U", 4, 1, 11.00, "B"), // key 1 migrates A -> B
      MvEv("D", 5, 3, 0.00, null))            // B loses key 3
    val all = e1 ++ e2
    val base = tmp()
    runSum(base, Seq(e1, e2))
    assert(servedSum(s"$base/mv") == refSum(all))
    // the A->B migration retracted from A and added to B in one batch
    assert(refSum(all)("A") == ((1L, BigDecimal("20.00"))))
    assert(refSum(all)("B") == ((1L, BigDecimal("11.00"))))
  }

  test("sum MV: a group emptied by deletes leaves the MV") {
    val e1 = Seq(MvEv("I", 1, 1, 10.00, "A"), MvEv("I", 2, 2, 7.00, "B"))
    val e2 = Seq(MvEv("D", 3, 2, 0.00, null))
    val base = tmp()
    runSum(base, Seq(e1, e2))
    val served = servedSum(s"$base/mv")
    assert(!served.contains("B"))
    assert(served == refSum(e1 ++ e2))
  }

  test("sum MV: replayed final wave is a no-op (at-least-once delivery)") {
    val e1 = Seq(MvEv("I", 1, 1, 10.00, "A"), MvEv("I", 2, 2, 20.00, "B"))
    val e2 = Seq(MvEv("U", 3, 1, 12.00, "A"), MvEv("D", 4, 2, 0.00, null))
    val base = tmp()
    writeEpochs(base, Seq(e1, e2))
    StreamingOps.writeWave(evDf(e2), s"$base/in", 2) // duplicate delivery
    StreamingOps.runMvSumPass(spark,
      FileCdcSource(evDf(Seq.empty).schema, s"$base/in"),
      s"$base/ckpt", s"$base/state", s"$base/mv")
    assert(servedSum(s"$base/mv") == refSum(e1 ++ e2))
  }

  test("minmax MV: deleting the group's current min recomputes correctly") {
    val e1 = Seq(MvEv("I", 1, 1, 1.00, "A"), MvEv("I", 2, 2, 5.00, "A"),
      MvEv("I", 3, 3, 9.00, "A"))
    val e2 = Seq(MvEv("D", 4, 1, 0.00, null)) // key 1 held the min
    val base = tmp()
    runMinMax(base, Seq(e1, e2))
    assert(servedMinMax(s"$base/mv") == Map("A" -> ((2L, 5.00, 9.00))))
  }

  test("minmax MV: updating the max downward recomputes the dirty group") {
    val e1 = Seq(MvEv("I", 1, 1, 1.00, "A"), MvEv("I", 2, 2, 9.00, "A"))
    val e2 = Seq(MvEv("U", 3, 2, 0.50, "A")) // old max becomes the new min
    val base = tmp()
    runMinMax(base, Seq(e1, e2))
    assert(servedMinMax(s"$base/mv") == Map("A" -> ((2L, 0.50, 1.00))))
  }

  test("minmax MV: each dirty group's snapshot partition is one parquet file") {
    val groups = Seq("A", "B", "C")
    val e1 = (1 to 12).map(k => MvEv("I", k, k, k.toDouble, groups(k % 2)))
    val e2 = (13 to 24).map(k => MvEv("I", k, k, k.toDouble, groups(k % 3))) :+
      MvEv("U", 25, 1, 0.50, "A")
    val base = tmp()
    runMinMax(base, Seq(e1, e2))
    val newest = s"$base/snap/epoch=${graft.streaming.StateFs.epochIds(s"$base/snap").max}"
    val parts = graft.streaming.StateFs.childDirNames(newest, "status=")
    assert(parts.sorted == groups.map("status=" + _))
    parts.foreach { d =>
      val files = new java.io.File(s"$newest/$d").list()
        .filter(n => n.startsWith("part-") && n.endsWith(".parquet"))
      assert(files.length == 1, s"$d holds ${files.mkString(", ")}")
    }
  }

  test("minmax MV: untouched group's snapshot partition is never rewritten") {
    val e1 = Seq(MvEv("I", 1, 1, 1.00, "A"), MvEv("I", 2, 2, 2.00, "B"))
    val e2 = Seq(MvEv("U", 3, 1, 3.00, "A")) // touches only A
    val base = tmp()
    runMinMax(base, Seq(e1, e2))
    val ptr = StreamingOps.readSnapPtr(s"$base/snap", Long.MaxValue)
    assert(ptr("A") == 1L, "dirty group re-pointed to the new epoch")
    assert(ptr("B") == 0L, "untouched group must keep its old partition")
    // and B's rows still serve from the old partition through the MV
    assert(servedMinMax(s"$base/mv") ==
      Map("A" -> ((1L, 3.00, 3.00)), "B" -> ((1L, 2.00, 2.00))))
  }

  test("topk MV: deleting a top row promotes the runner-up from the snapshot") {
    import org.apache.spark.sql.expressions.Window
    val mvSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("status",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("rnk",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("okey",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("price",
        org.apache.spark.sql.types.DoubleType)))
    def top2(rows: org.apache.spark.sql.DataFrame) =
      rows.withColumn("rnk", row_number().over(
          Window.partitionBy(col("status"))
            .orderBy(desc("price"), col("okey")))
          .cast(org.apache.spark.sql.types.LongType))
        .filter(col("rnk") <= 2)
        .select(col("status"), col("rnk"), col("okey"), col("price"))
    // 4 keys in A: top2 = {9, 7}; the delete of key 4 (price 9) must
    // promote key 3 (price 5) into the view — a row the K-row MV no
    // longer held, recoverable only from the snapshot
    val e1 = Seq(MvEv("I", 1, 1, 7.00, "A"), MvEv("I", 2, 2, 3.00, "A"),
      MvEv("I", 3, 3, 5.00, "A"), MvEv("I", 4, 4, 9.00, "A"),
      MvEv("I", 5, 9, 1.00, "B"))
    val e2 = Seq(MvEv("D", 6, 4, 0.00, null))
    val base = tmp()
    writeEpochs(base, Seq(e1, e2))
    StreamingOps.runMvRecomputePass(spark,
      FileCdcSource(evDf(Seq.empty).schema, s"$base/in"), s"$base/ckpt",
      s"$base/state", s"$base/snap", s"$base/mv",
      Seq("okey"), "status", mvSchema, top2)
    val got = StreamingOps.readMv(spark, s"$base/mv").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toSet
    assert(got == Set(("A", 1L, 1L, 7.00), ("A", 2L, 3L, 5.00),
      ("B", 1L, 9L, 1.00)))
  }

  test("join MV: group key lives in a static dim; migration and delete") {
    import spark.implicits._
    val dim = Seq((1L, "X"), (2L, "Y")).toDF("custkey", "grp")
    def ev(rows: Seq[(String, Long, Long, Double, String, java.lang.Long)]) =
      rows.toDF("op", "seq", "okey", "price", "status", "custkey")
        .withColumn("ts", timestamp_seconds(lit(1700000000L) + col("seq")))
        .select(col("op"), col("seq"), col("ts"), col("okey"), col("price"),
          col("status"), col("custkey"))
    val e1 = ev(Seq(("I", 1L, 1L, 10.00, "A", 1L), ("I", 2L, 2L, 20.00, "A", 2L)))
    // key 1 re-parented to customer 2 (dim group X -> Y); key 2 deleted
    val e2 = ev(Seq(("U", 3L, 1L, 11.00, "A", 2L),
      ("D", 4L, 2L, 0.0, null, null)))
    val base = tmp()
    StreamingOps.writeWave(e1, s"$base/in", 0)
    StreamingOps.writeWave(e2, s"$base/in", 1)
    StreamingOps.runMvSumPass(spark, FileCdcSource(e1.schema, s"$base/in"),
      s"$base/ckpt",
      s"$base/state", s"$base/mv", groupCol = "grp",
      enrich = img => img.join(broadcast(dim), Seq("custkey")))
    val served = StreamingOps.readMv(spark, s"$base/mv").collect()
      .map(r => r.getString(0) -> ((r.getLong(1), BigDecimal(r.getDecimal(2)))))
      .toMap
    // X emptied by the migration, Y holds only key 1's updated image
    assert(served == Map("Y" -> ((1L, BigDecimal("11.00")))))
  }

  test("seeded MVs: snapshot baseline + incremental ingest == full recompute") {
    import org.apache.spark.sql.expressions.Window
    // snapshot = the state after e1; the stream then delivers e2, e3
    val e1 = Seq(MvEv("I", 1, 1, 7.00, "A"), MvEv("I", 2, 2, 3.00, "A"),
      MvEv("I", 3, 3, 5.00, "B"), MvEv("I", 4, 4, 9.00, "B"))
    val e2 = Seq(MvEv("U", 5, 2, 8.00, "B"), MvEv("D", 6, 4, 0.00, null))
    val e3 = Seq(MvEv("I", 7, 5, 2.00, "A"), MvEv("D", 8, 1, 0.00, null))
    val all = e1 ++ e2 ++ e3
    val snapshot = evDf(e1).drop("op", "seq") // one alive row per key
    // SUM regime
    val b1 = tmp()
    StreamingOps.mvSeedSum(spark, snapshot, s"$b1/state", s"$b1/mv")
    writeEpochs(b1, Seq(e2, e3))
    StreamingOps.runMvSumPass(spark,
      FileCdcSource(evDf(Seq.empty).schema, s"$b1/in"),
      s"$b1/ckpt", s"$b1/state", s"$b1/mv")
    assert(servedSum(s"$b1/mv") == refSum(all))
    // DIRTY-GROUP regime (top-2)
    val mvSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("status",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("rnk",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("okey",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("price",
        org.apache.spark.sql.types.DoubleType)))
    def top2(rows: org.apache.spark.sql.DataFrame) =
      rows.withColumn("rnk", row_number().over(
          Window.partitionBy(col("status"))
            .orderBy(desc("price"), col("okey")))
          .cast(org.apache.spark.sql.types.LongType))
        .filter(col("rnk") <= 2)
        .select(col("status"), col("rnk"), col("okey"), col("price"))
    val b2 = tmp()
    StreamingOps.mvSeedRecompute(spark, snapshot, s"$b2/state", s"$b2/snap",
      s"$b2/mv", Seq("okey"), "status", top2)
    writeEpochs(b2, Seq(e2, e3))
    StreamingOps.runMvRecomputePass(spark,
      FileCdcSource(evDf(Seq.empty).schema, s"$b2/in"), s"$b2/ckpt",
      s"$b2/state", s"$b2/snap", s"$b2/mv",
      Seq("okey"), "status", mvSchema, top2)
    val got = StreamingOps.readMv(spark, s"$b2/mv").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toSet
    // final alive: 1 gone, 2 -> B 8.00, 3 B 5.00, 4 gone, 5 A 2.00
    assert(got == Set(("A", 1L, 5L, 2.00),
      ("B", 1L, 2L, 8.00), ("B", 2L, 3L, 5.00)))
  }

  test("property: both MVs equal recompute over random logs and splits") {
    val statuses = Seq("A", "B", "C")
    val gen = for {
      n <- Gen.choose(4, 14)
      keys <- Gen.listOfN(n, Gen.choose(0L, 5L))
      ops <- Gen.listOfN(n, Gen.frequency(3 -> "I", 3 -> "U", 2 -> "D"))
      prices <- Gen.listOfN(n, Gen.choose(1, 9999).map(_ / 100.0))
      grp <- Gen.listOfN(n, Gen.oneOf(statuses))
      nCuts <- Gen.choose(1, 3)
      cuts <- Gen.listOfN(nCuts, Gen.choose(1, math.max(1, n - 1)))
    } yield {
      val evs = (0 until n).map { i =>
        if (ops(i) == "D") MvEv("D", i + 1L, keys(i), 0.0, null)
        else MvEv(ops(i), i + 1L, keys(i), prices(i), grp(i))
      }
      val bounds = (cuts.distinct.sorted :+ n).prepended(0)
      val epochs = bounds.sliding(2).map { case Seq(a, b) =>
        evs.slice(a, b)
      }.filter(_.nonEmpty).toSeq
      (evs, epochs)
    }
    (0 until 8).foreach { s =>
      val (evs, epochs) =
        gen(Gen.Parameters.default, Seed(9090L + s)).getOrElse(fail("gen"))
      val b1 = tmp()
      runSum(b1, epochs)
      assert(servedSum(s"$b1/mv") == refSum(evs),
        s"sum MV diverged from recompute (seed $s, ${epochs.size} epochs)")
      val b2 = tmp()
      runMinMax(b2, epochs)
      assert(servedMinMax(s"$b2/mv") == refMinMax(evs),
        s"minmax MV diverged from recompute (seed $s)")
    }
  }

  test("shard-local MV partials merge at read time into the global view") {
    // the distributed-MV claim: sum/count states are mergeable, so each
    // shard maintains its OWN view over its slice and a logical read is
    // one O(shards × groups) re-aggregation — no cross-shard data motion
    val nShards = 4
    val log = Tables.cdcLog(spark, sf).withColumn("table",
      concat(lit("shard_"), pmod(xxhash64(col("okey")), lit(nShards.toLong))))
    val base = tmp()
    (1 to 3).foreach(w => graft.streaming.StreamingOps.writeWave(
      log.filter(col("seq") === w), s"$base/in", w - 1))
    val dirs = (0 until nShards).map(i => s"shard_$i" -> s"$base/s_$i").toMap
    StreamingOps.runCdcPassMulti(spark, FileCdcSource(log.schema, s"$base/in"),
      s"$base/ckpt", dirs)
    // per-shard views seeded from each shard's served slice
    dirs.values.foreach { d =>
      StreamingOps.mvSeedSum(spark,
        StreamingOps.readLatestState(spark, d).drop("op"), s"$d-st", s"$d-mv")
    }
    val merged = dirs.values.toSeq.sorted
      .map(d => StreamingOps.readMv(spark, s"$d-mv"))
      .reduce(_.unionByName(_))
      .groupBy(col("status"))
      .agg(sum(col("n_rows")).as("n"), sum(col("total")).cast(Tables.D2).as("t"))
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), BigDecimal(r.getDecimal(2))))).toMap
    val global = q("agg_latest_by_version").groupBy(col("status"))
      .agg(count(lit(1)).as("n"),
        sum(Tables.dec2(col("price"))).cast(Tables.D2).as("t"))
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), BigDecimal(r.getDecimal(2))))).toMap
    assert(merged == global,
      "merged shard-local view partials must equal the global group-by")
  }

  test("property: txn-gated MV equals committed-replay group-by over random txn logs") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    case class TEv(op: String, seq: Long, okey: Long, price: Double,
      status: String, txn: Long)
    def df(evs: Seq[TEv]) =
      spark.createDataFrame(evs.map(e => (e.op, e.seq, e.okey,
          Option(e.price).filterNot(_ => e.op == "D" || e.op == "C"),
          Option(e.status), e.txn)))
        .toDF("op", "seq", "okey", "price", "status", "txn")
        .withColumn("ts", timestamp_seconds(lit(1700000000L) + col("seq")))
        .select(col("op"), col("seq"), col("ts"), col("okey"), col("price"),
          col("status"), col("txn"))
    val gen: Gen[Seq[TEv]] = for {
      nTxn <- Gen.choose(2, 5)
      sizes <- Gen.listOfN(nTxn, Gen.choose(1, 3))
      keys <- Gen.listOfN(sizes.sum, Gen.choose(0L, 5L))
      ops <- Gen.listOfN(sizes.sum, Gen.frequency(3 -> "I", 3 -> "U", 2 -> "D"))
      grps <- Gen.listOfN(sizes.sum, Gen.oneOf("A", "B"))
      nCommit <- Gen.choose(1, nTxn) // a suffix of txns never commits
    } yield {
      var seq = 0L; var i = 0
      sizes.zipWithIndex.flatMap { case (sz, t) =>
        val evs = (0 until sz).map { _ =>
          seq += 1; i += 1
          TEv(ops(i - 1), seq, keys(i - 1),
            (seq * 100 % 997) / 100.0, grps(i - 1), t.toLong)
        }
        if (t < nCommit) { seq += 1; evs :+ TEv("C", seq, -1, 0.0, null, t.toLong) }
        else evs
      }
    }
    def committedMv(evs: Seq[TEv]): Map[String, (Long, BigDecimal)] = {
      val committed = evs.filter(_.op == "C").map(_.txn).toSet
      evs.filter(e => e.op != "C" && committed(e.txn)).sortBy(_.seq)
        .foldLeft(Map.empty[Long, TEv])((m, e) => m.updated(e.okey, e))
        .values.filter(_.op != "D").groupBy(_.status)
        .map { case (g, rows) => g -> (rows.size.toLong,
          rows.map(r => BigDecimal(r.price).setScale(2)).sum) }
    }
    (0 until 5).foreach { s =>
      val events = gen(Gen.Parameters.default, Seed(5151L + s))
        .getOrElse(fail("gen"))
      val (c1, c2) = (events.length / 3, 2 * events.length / 3)
      val waves = Seq(events.take(c1), events.slice(c1, c2), events.drop(c2))
        .filter(_.nonEmpty)
      val base = tmp()
      waves.zipWithIndex.foreach { case (w, i) =>
        StreamingOps.writeWave(df(w), s"$base/in", i)
      }
      StreamingOps.runMvSumPass(spark,
        graft.sources.FileCdcSource(df(events).schema, s"$base/in"),
        s"$base/ckpt", s"$base/state", s"$base/mv", txnCol = Some("txn"))
      assert(servedSum(s"$base/mv") == committedMv(events),
        s"seed ${5151L + s}: gated MV diverged from committed replay")
    }
  }

  test("sharded destination: shards compact independently, the union read is unchanged") {
    val nShards = 4
    val log = Tables.cdcLog(spark, sf).withColumn("table",
      concat(lit("shard_"), pmod(xxhash64(col("okey")), lit(nShards.toLong))))
    val base = tmp()
    (1 to 3).foreach(w => graft.streaming.StreamingOps.writeWave(
      log.filter(col("seq") === w), s"$base/in", w - 1))
    val dirs = (0 until nShards).map(i => s"shard_$i" -> s"$base/s_$i").toMap
    StreamingOps.runCdcPassMulti(spark, FileCdcSource(log.schema, s"$base/in"),
      s"$base/ckpt", dirs)
    def union() = dirs.values.toSeq.sorted
      .map(d => StreamingOps.readLatestState(spark, d))
      .reduce(_.unionByName(_)).orderBy(col("okey"))
      .collect().map(_.toSeq).toSeq
    val before = union()
    // each shard is an ordinary state dir: compact TWO of them (one
    // with tombstone GC) and leave the others as raw epoch deltas —
    // maintenance is per-shard local, the logical table must not move
    StreamingOps.compactState(spark, s"$base/s_0")
    StreamingOps.compactState(spark, s"$base/s_2", tombstoneHorizon = Some(0))
    assert(union() == before,
      "shard-local compaction must be invisible to the union read")
    // and it equals the unsharded collapse (the declared oracle's claim)
    assert(before == q("agg_latest_by_version")
      .orderBy(col("okey")).collect().map(_.toSeq).toSeq)
  }

  test("repair drifts the view; viewConsistencyCheck flags it; viewRebuild heals") {
    val base = tmp()
    val log = Tables.cdcLog(spark, sf)
    (1 to 3).foreach(w => graft.streaming.StreamingOps.writeWave(
      log.filter(col("seq") === w), s"$base/in", w - 1))
    Replication.incrementalSyncWithView(spark, log.schema, s"$base/in",
      s"$base/ckpt", s"$base/state", s"$base/mv")
    assert(Replication.viewConsistencyCheck(spark, s"$base/state",
      s"$base/mv").consistent)
    // a row-level repair writes a correction epoch the MV never saw
    val served = Replication.appliedState(spark, s"$base/state").drop("op")
    val k = served.orderBy(col("okey")).limit(1).collect()(0).getLong(0)
    val src = served.withColumn("price",
        when(col("okey") === k, col("price") + 500.0).otherwise(col("price")))
      .localCheckpoint()
    assert(Replication.repairSync(spark, src, s"$base/state").repaired == 1L)
    val report = Replication.viewConsistencyCheck(spark, s"$base/state",
      s"$base/mv")
    assert(!report.consistent && report.groupsDiverged >= 1,
      s"the repair delta must surface: $report")
    Replication.viewRebuild(spark, s"$base/state", s"$base/mv")
    assert(Replication.viewConsistencyCheck(spark, s"$base/state",
      s"$base/mv").consistent)
    // incremental maintenance RESUMES on top of the rebuilt snapshot:
    // MV epochs are checkpoint batch ids, so a rebuild parked at a NEW
    // epoch id would collide with the next batch's own id — the batch's
    // strictly-below prior lookup would read the stale pre-rebuild view
    // and silently discard the repair delta. Deliver another wave and
    // prove the served view still carries both the repair and the wave.
    val k2 = served.filter(col("okey") =!= k)
      .orderBy(col("okey")).limit(1).collect()(0).getLong(0)
    val wave4 = log.filter(col("seq") === 1 && col("okey") === k2)
      .select(lit("U").as("op"), lit(4L).as("seq"), col("ts"),
        col("okey"), (col("price") + lit(7.0d)).as("price"),
        lit("P").as("status"))
    graft.streaming.StreamingOps.writeWave(wave4, s"$base/in", 3)
    val (progress, _) = Replication.incrementalSyncWithView(spark,
      log.schema, s"$base/in", s"$base/ckpt", s"$base/state", s"$base/mv")
    assert(progress.lastSeq.contains(4L) && progress.lag == 0L,
      s"the facade must report the applied position: $progress")
    assert(Replication.viewConsistencyCheck(spark, s"$base/state",
      s"$base/mv").consistent,
      "post-rebuild maintenance must not resurrect the pre-rebuild view")
  }

  test("viewRebuild heals both crash windows of a previous rebuild") {
    import graft.streaming.StateFs
    def build(): String = {
      val base = tmp()
      val log = Tables.cdcLog(spark, sf)
      (1 to 2).foreach(w => graft.streaming.StreamingOps.writeWave(
        log.filter(col("seq") === w), s"$base/in", w - 1))
      Replication.incrementalSyncWithView(spark, log.schema, s"$base/in",
        s"$base/ckpt", s"$base/state", s"$base/mv")
      base
    }
    // window 1: crash BETWEEN the two swap moves — live epoch sits in
    // _rebuild_old, the marker names its original id. The next rebuild
    // must restore it to THAT id (not its predecessor's) before
    // choosing its own target, then run to a consistent view.
    val b1 = build()
    val at1 = StateFs.epochIds(s"$b1/mv").max
    StateFs.moveDir(s"$b1/mv/epoch=$at1", s"$b1/mv/_rebuild_old")
    StateFs.writeAtomic(s"$b1/mv/_rebuild_at", at1.toString)
    Replication.viewRebuild(spark, s"$b1/state", s"$b1/mv")
    assert(StateFs.epochIds(s"$b1/mv").max == at1,
      "the crashed epoch must return to its original id")
    assert(Replication.viewConsistencyCheck(spark, s"$b1/state",
      s"$b1/mv").consistent)
    assert(!StateFs.exists(s"$b1/mv/_rebuild_old") &&
      !StateFs.exists(s"$b1/mv/_rebuild_at"))
    // window 2: crash AFTER the rebuilt epoch went live but BEFORE the
    // stale trash dropped — the heal must DROP the trash (restoring it
    // would resurrect the pre-rebuild view under a colliding id).
    val b2 = build()
    val at2 = StateFs.epochIds(s"$b2/mv").max
    // stale copy standing in for the pre-rebuild snapshot
    spark.createDataFrame(Seq(("STALE", 1L, BigDecimal("1.00"))))
      .toDF("status", "n_rows", "total")
      .select(col("status"), col("n_rows"),
        col("total").cast(Tables.D2).as("total"))
      .write.parquet(s"$b2/mv/_rebuild_old")
    StateFs.writeAtomic(s"$b2/mv/_rebuild_at", at2.toString)
    Replication.viewRebuild(spark, s"$b2/state", s"$b2/mv")
    assert(Replication.viewConsistencyCheck(spark, s"$b2/state",
      s"$b2/mv").consistent)
    assert(!servedSum(s"$b2/mv").contains("STALE"),
      "the stale trash must never re-enter the view")
  }

  test("view check/rebuild refuse a minMax-mode MV dir by name") {
    val base = tmp()
    val log = Tables.cdcLog(spark, sf)
    (1 to 2).foreach(w => graft.streaming.StreamingOps.writeWave(
      log.filter(col("seq") === w), s"$base/in", w - 1))
    Replication.incrementalSyncWithView(spark, log.schema, s"$base/in",
      s"$base/ckpt", s"$base/state", s"$base/mv", minMax = true)
    val e = intercept[IllegalArgumentException] {
      Replication.viewConsistencyCheck(spark, s"$base/state", s"$base/mv")
    }
    assert(e.getMessage.contains("minMax") || e.getMessage.contains("mn"),
      s"the refusal must name the shape mismatch: ${e.getMessage}")
    val e2 = intercept[IllegalArgumentException] {
      Replication.viewRebuild(spark, s"$base/state", s"$base/mv")
    }
    assert(e2.getMessage.contains("n_rows"), e2.getMessage)
  }

  test("MV passes publish the state dir's key columns (composite keys)") {
    val base = tmp()
    // envelope with a second key column riding as an extra column
    val ev = spark.createDataFrame(Seq(
        ("I", 1L, 1L, 10.0, "A", 1L), ("I", 2L, 1L, 20.0, "A", 2L),
        ("U", 3L, 1L, 30.0, "B", 1L)))
      .toDF("op", "seq", "okey", "price", "status", "line_no")
      .withColumn("ts", timestamp_seconds(lit(1700000000L) + col("seq")))
      .select(col("op"), col("seq"), col("ts"), col("okey"), col("price"),
        col("status"), col("line_no"))
    StreamingOps.writeWave(ev, s"$base/in", 0)
    StreamingOps.runMvSumPass(spark, FileCdcSource(ev.schema, s"$base/in"),
      s"$base/ckpt",
      s"$base/state", s"$base/mv", keyCols = Seq("okey", "line_no"))
    assert(StreamingOps.readKeyCols(s"$base/state") == Seq("okey", "line_no"),
      "an MV-built state dir must publish its key like runCdcPass does — " +
        "compaction/repair would otherwise collapse on the wrong key")
    // and the published key actually governs: both (1,1) and (1,2) rows
    // survive the latest-wins collapse
    assert(Replication.appliedState(spark, s"$base/state").count() == 2L)
  }

  test("txn-gated MV: straddling txn lands atomically, uncommitted txn never shows") {
    def ev(rows: Seq[(String, Long, Long, Double, String, Long)]) =
      spark.createDataFrame(rows.map(r =>
          (r._1, r._2, r._3, Option(r._4).filterNot(_ => r._1 == "D"),
            Option(r._5), r._6)))
        .toDF("op", "seq", "okey", "price", "status", "txn")
        .withColumn("ts", timestamp_seconds(lit(1700000000L) + col("seq")))
        .select(col("op"), col("seq"), col("ts"), col("okey"), col("price"),
          col("status"), col("txn"))
    // wave 0: txn 1 (2 inserts) + its commit + HALF of txn 2 (no marker)
    val w0 = ev(Seq(("I", 1, 1, 10.00, "A", 1L), ("I", 2, 2, 20.00, "B", 1L),
      ("C", 3, -1, 0.0, null, 1L), ("U", 4, 1, 11.00, "B", 2L)))
    // wave 1: rest of txn 2 + its commit, and txn 3 with NO commit ever
    val w1 = ev(Seq(("D", 5, 2, 0.0, null, 2L), ("C", 6, -1, 0.0, null, 2L),
      ("I", 7, 3, 5.00, "A", 3L)))
    val base = tmp()
    StreamingOps.writeWave(w0, s"$base/in", 0)
    StreamingOps.writeWave(w1, s"$base/in", 1)
    StreamingOps.runMvSumPass(spark,
      graft.sources.FileCdcSource(w0.schema, s"$base/in"),
      s"$base/ckpt", s"$base/state", s"$base/mv", txnCol = Some("txn"))
    // committed view: txn1 ∪ txn2 = k1 moved A→B at 11.00, k2 deleted;
    // txn3's k3 must be INVISIBLE (no commit marker ever arrived)
    assert(servedSum(s"$base/mv") == Map("B" -> ((1L, BigDecimal("11.00")))))
    // same contract through the dirty-group pass
    val mvSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("status",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("n_rows",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("mn",
        org.apache.spark.sql.types.DoubleType),
      org.apache.spark.sql.types.StructField("mx",
        org.apache.spark.sql.types.DoubleType)))
    val b2 = tmp()
    StreamingOps.writeWave(w0, s"$b2/in", 0)
    StreamingOps.writeWave(w1, s"$b2/in", 1)
    StreamingOps.runMvRecomputePass(spark,
      graft.sources.FileCdcSource(w0.schema, s"$b2/in"),
      s"$b2/ckpt", s"$b2/state", s"$b2/snap", s"$b2/mv",
      Seq("okey"), "status", mvSchema,
      rows => rows.groupBy(col("status")).agg(count(lit(1)).as("n_rows"),
        min(col("price")).as("mn"), max(col("price")).as("mx")),
      txnCol = Some("txn"))
    assert(servedMinMax(s"$b2/mv") == Map("B" -> ((1L, 11.00, 11.00))))
    // and the FACADE exposes the gate: same waves through
    // incrementalSyncWithView(txnCol), same committed view, and the
    // uncommitted tail is visible as pendingRows with positive lag
    val b3 = tmp()
    StreamingOps.writeWave(w0, s"$b3/in", 0)
    StreamingOps.writeWave(w1, s"$b3/in", 1)
    val (progress, served) = Replication.incrementalSyncWithView(spark,
      w0.schema, s"$b3/in", s"$b3/ckpt", s"$b3/state", s"$b3/mv",
      txnCol = Some("txn"))
    assert(served.collect().map(r => r.getString(0) ->
      ((r.getLong(1), BigDecimal(r.getDecimal(2))))).toMap ==
      Map("B" -> ((1L, BigDecimal("11.00")))))
    assert(progress.pendingRows == 1L && progress.lag > 0L,
      s"the abandoned txn must surface in progress: $progress")
  }

  test("MV ingest continues across a state compaction (the bounded-lookup claim)") {
    // the old-image lookup's cost contract is "compacted baseline +
    // recent deltas"; prove the pass keeps maintaining correctly after
    // compactState folds its state dir mid-stream
    val e1 = Seq(MvEv("I", 1, 1, 10.00, "A"), MvEv("I", 2, 2, 20.00, "A"),
      MvEv("I", 3, 3, 5.00, "B"))
    val e2 = Seq(MvEv("U", 4, 1, 11.00, "B"), MvEv("D", 5, 3, 0.00, null))
    val e3 = Seq(MvEv("I", 6, 4, 2.00, "B"), MvEv("D", 7, 2, 0.00, null))
    val base = tmp()
    writeEpochs(base, Seq(e1, e2))
    StreamingOps.runMvSumPass(spark,
      FileCdcSource(evDf(Seq.empty).schema, s"$base/in"),
      s"$base/ckpt", s"$base/state", s"$base/mv")
    // fold the state's epochs into a baseline (tombstone GC on)
    StreamingOps.compactState(spark, s"$base/state",
      tombstoneHorizon = Some(0))
    // deliver one more wave through the SAME checkpoint — the pass
    // resumes, and the old-image lookup now reads baseline + new delta
    StreamingOps.writeWave(evDf(e3), s"$base/in", 2)
    StreamingOps.runMvSumPass(spark,
      FileCdcSource(evDf(Seq.empty).schema, s"$base/in"),
      s"$base/ckpt", s"$base/state", s"$base/mv")
    assert(servedSum(s"$base/mv") == refSum(e1 ++ e2 ++ e3))
  }

  test("daisy-chained MV: maintained from the upstream replica's changelog re-export") {
    // MySQL → replica (state dir) → changesSince export → downstream MV:
    // the MV never touches the binlog, only the replica's re-exported
    // per-key changes — tombstones included — polled per position window
    val log = Tables.cdcLog(spark, sf)
    val up = tmp()
    val dn = tmp()
    var lastPos = 0L
    (1 to 3).foreach { w =>
      graft.streaming.StreamingOps.writeWave(
        log.filter(col("seq") === w), s"$up/in", w - 1)
      val prog = Replication.incrementalSync(spark, log.schema, s"$up/in",
        s"$up/ckpt", s"$up/state")
      val export = Replication.changesSince(spark, s"$up/state", lastPos)
        .select(col("op"), col("seq"), col("ts"), col("okey"),
          col("price"), col("status"))
      graft.streaming.StreamingOps.writeWave(export, s"$dn/in", w - 1)
      lastPos = prog.lastSeq.get
    }
    StreamingOps.runMvSumPass(spark,
      FileCdcSource(Tables.cdcLog(spark, sf).schema, s"$dn/in"), s"$dn/ckpt",
      s"$dn/state", s"$dn/mv")
    // the chained MV equals the group-by over the UPSTREAM final state
    val expect = Replication.appliedState(spark, s"$up/state")
      .groupBy(col("status"))
      .agg(count(lit(1)).as("n"),
        sum(Tables.dec2(col("price"))).cast(Tables.D2).as("t"))
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), BigDecimal(r.getDecimal(2))))).toMap
    assert(servedSum(s"$dn/mv") == expect)
  }

  test("MV over a composite-key table collapses per full key tuple") {
    val log = Tables.cdcLogComposite(spark, sf)
    val base = tmp()
    (1 to 3).foreach(w => graft.streaming.StreamingOps.writeWave(
      log.filter(col("seq") === w), s"$base/in", w - 1))
    StreamingOps.runMvSumPass(spark, FileCdcSource(log.schema, s"$base/in"),
      s"$base/ckpt",
      s"$base/state", s"$base/mv", keyCols = Seq("okey", "line_no"))
    import org.apache.spark.sql.expressions.Window
    val expect = log.withColumn("rn", row_number().over(
        Window.partitionBy(col("okey"), col("line_no"))
          .orderBy(desc("seq"))))
      .filter(col("rn") === 1 && col("op") =!= "D")
      .groupBy(col("status"))
      .agg(count(lit(1)).as("n"),
        sum(Tables.dec2(col("price"))).cast(Tables.D2).as("t"))
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), BigDecimal(r.getDecimal(2))))).toMap
    assert(servedSum(s"$base/mv") == expect)
  }

  test("MV over a MemoryStream transport equals the file-driven result") {
    val sp = spark
    import sp.implicits._
    implicit val sql: org.apache.spark.sql.SQLContext = sp.sqlContext
    val e1 = Seq(MvEv("I", 1, 1, 10.00, "A"), MvEv("I", 2, 2, 20.00, "B"))
    val e2 = Seq(MvEv("U", 3, 1, 11.00, "B"), MvEv("D", 4, 2, 0.00, null))
    val mem = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(String, Long, Long, Double, Option[String])]
    def tup(evs: Seq[MvEv]) =
      evs.map(e => (e.op, e.seq, e.okey, e.price, Option(e.status)))
    mem.addData(tup(e1)) // one addData per wave → one micro-batch each
    mem.addData(tup(e2))
    val src = new graft.sources.WrappedCdcSource(
      mem.toDF().toDF("op", "seq", "okey", "price", "status")
        .withColumn("ts", timestamp_seconds(lit(1700000000L) + col("seq")))
        .select(col("op"), col("seq"), col("ts"), col("okey"),
          col("price"), col("status")))
    val base = tmp()
    StreamingOps.runMvSumPass(spark, src, s"$base/ckpt",
      s"$base/state", s"$base/mv")
    assert(servedSum(s"$base/mv") == refSum(e1 ++ e2),
      "the MV must maintain identically over a memory transport")
  }

  test("declared MV queries run green and agree with the batch collapse") {
    val sumRows = q("cdc_mv_sum").collect()
    assert(sumRows.nonEmpty)
    // cross-check against the already-oracle-green latest-state query
    val latest = q("agg_latest_by_version")
      .groupBy(col("status"))
      .agg(count(lit(1)).as("n_rows"),
        sum(Tables.dec2(col("price"))).cast(Tables.D2)
          .cast(org.apache.spark.sql.types.DoubleType).as("total"))
      .orderBy(col("status")).collect()
    assert(sumRows.map(_.toSeq).toSeq == latest.map(_.toSeq).toSeq)
    val mm = q("cdc_mv_minmax").collect()
    assert(mm.map(r => (r.getString(0), r.getLong(1))).toSeq ==
      latest.map(r => (r.getString(0), r.getLong(1))).toSeq)
  }

  test("attach a minmax MV to an existing replica; dirty-group maintenance continues") {
    // the recompute-family POPULATE flow: two plain sync passes build the
    // replica, mvAttachMinMax seeds snapshot+pointer+view from the served
    // state, then a delete of a group's current MAX arrives — the dirty
    // group must recompute from the attached snapshot (the carried rows
    // were never written by an MV pass), untouched groups carry forward
    val e1 = Seq(MvEv("I", 1, 1, 10.00, "A"), MvEv("I", 2, 2, 30.00, "A"),
      MvEv("I", 3, 3, 5.00, "B"))
    val e2 = Seq(MvEv("U", 4, 2, 40.00, "A"))
    val base = tmp()
    writeEpochs(base, Seq(e1))
    StreamingOps.runCdcPass(spark,
      FileCdcSource(evDf(Seq.empty).schema, s"$base/in"),
      s"$base/ckpt", s"$base/state")
    StreamingOps.writeWave(evDf(e2), s"$base/in", 1)
    StreamingOps.runCdcPass(spark,
      FileCdcSource(evDf(Seq.empty).schema, s"$base/in"),
      s"$base/ckpt", s"$base/state")
    StreamingOps.mvAttachMinMax(spark, s"$base/state", s"$base/snap",
      s"$base/mv")
    assert(servedMinMax(s"$base/mv") == refMinMax(e1 ++ e2),
      s"attach view: ${servedMinMax(s"$base/mv")}")
    // wave 3: delete A's max (k2@40) and insert into B — A recomputes
    // from the attached snapshot minus k2, B from snapshot plus k4
    val e3 = Seq(MvEv("D", 5, 2, 0.00, null), MvEv("I", 6, 4, 7.00, "B"))
    StreamingOps.writeWave(evDf(e3), s"$base/in", 2)
    StreamingOps.runMvMinMaxPass(spark,
      FileCdcSource(evDf(Seq.empty).schema, s"$base/in"),
      s"$base/ckpt", s"$base/state", s"$base/snap", s"$base/mv")
    val all = e1 ++ e2 ++ e3
    assert(servedMinMax(s"$base/mv") == refMinMax(all),
      s"post-attach maintenance: ${servedMinMax(s"$base/mv")} vs ${refMinMax(all)}")
    assert(refMinMax(all)("A") == ((1L, 10.00, 10.00)),
      "the deleted max must demote A to its remaining row")
  }

  test("MV rename heal reclaims a COMMITTED swap's trash by ownership — " +
      "the NEXT rename must never roll back onto it") {
    // the crash window: a pass renames grp→seg and dies BETWEEN the
    // _schema publish (the commit point) and the trash drop. The
    // operator resumes LATER, with the next DDL (seg→zone) already in
    // renameCols. Healing by the CURRENT rename map would see a hit and
    // "roll back" onto the stale grp-named trash — serving the
    // pre-rename copy, which reads all-NULL under the published seg
    // schema and then bakes into the seg→zone swap. Ownership (the
    // _rename_claim staged with the trash) must reclaim instead.
    import graft.streaming.StateFs
    val base = tmp()
    def frame(rows: Seq[(String, Long, Long, Double, String)],
        gname: String) =
      spark.createDataFrame(rows).toDF("op", "seq", "okey", "price", gname)
        .withColumn("ts", timestamp_seconds(lit(1700000000L) + col("seq")))
        .withColumn("status", lit("X"))
        .select(col("op"), col("seq"), col("ts"), col("okey"), col("price"),
          col("status"), col(gname))
    val w0 = frame(Seq(("I", 1L, 1L, 10.0, "g1"), ("I", 2L, 2L, 5.0, "g2")),
      "grp")
    StreamingOps.writeWave(w0, s"$base/in", 0)
    StreamingOps.runMvSumPass(spark, FileCdcSource(w0.schema, s"$base/in"),
      s"$base/ckpt",
      s"$base/state", s"$base/mv", groupCol = "grp")
    // the pre-rename MV content — what the crashed swap's trash held
    val preRows = StreamingOps.readMv(spark, s"$base/mv").collect().toSeq
    val preCols = StreamingOps.readMv(spark, s"$base/mv").schema
    // committed rename grp→seg (k1's price moves to 12 in the same pass)
    val w1 = frame(Seq(("U", 3L, 1L, 12.0, "g1")), "seg")
    StreamingOps.writeWave(w1, s"$base/in", 1)
    StreamingOps.runMvSumPass(spark, FileCdcSource(w1.schema, s"$base/in"),
      s"$base/ckpt",
      s"$base/state", s"$base/mv", groupCol = "seg",
      renameCols = Map("grp" -> "seg"))
    assert(servedSum(s"$base/mv") == Map(
      "g1" -> ((1L, BigDecimal("12.00"))),
      "g2" -> ((1L, BigDecimal("5.00")))))
    // reconstruct the crash leftovers of that committed swap: the
    // grp-named trash copy plus the claim that staged it
    val trashEpoch = StateFs.epochIds(s"$base/mv").max
    spark.createDataFrame(
        new java.util.ArrayList(java.util.Arrays.asList(preRows: _*)),
        preCols)
      .write.parquet(s"$base/mv/_rename_old/epoch=$trashEpoch")
    StateFs.writeAtomic(s"$base/mv/_rename_claim", "grp")
    // the NEXT rename (seg→zone) heals first: it must RECLAIM the
    // committed trash (claim's old name 'grp' is no longer published),
    // then swap seg→zone over the LIVE data — never the stale copy
    val w2 = frame(Seq(("I", 4L, 3L, 2.0, "g2")), "zone")
    StreamingOps.writeWave(w2, s"$base/in", 2)
    StreamingOps.runMvSumPass(spark, FileCdcSource(w2.schema, s"$base/in"),
      s"$base/ckpt",
      s"$base/state", s"$base/mv", groupCol = "zone",
      renameCols = Map("seg" -> "zone"))
    assert(StreamingOps.readMv(spark, s"$base/mv").columns.head == "zone")
    assert(servedSum(s"$base/mv") == Map(
      "g1" -> ((1L, BigDecimal("12.00"))),
      "g2" -> ((2L, BigDecimal("7.00")))),
      s"the live data must survive the heal: ${servedSum(s"$base/mv")}")
    assert(!StateFs.exists(s"$base/mv/_rename_old") &&
      !StateFs.exists(s"$base/mv/_rename_claim"), "leftovers reclaimed")
    // a trash dir with NO claim is unadjudicable (pre-claim-era crash:
    // rollback source or committed debris?) — the pass refuses loudly
    // instead of guessing either way
    StateFs.mkdirs(s"$base/mv/_rename_old/epoch=0")
    val w3 = frame(Seq(("I", 5L, 4L, 1.0, "g1")), "zone")
    StreamingOps.writeWave(w3, s"$base/in", 3)
    val e = intercept[IllegalArgumentException] {
      StreamingOps.runMvSumPass(spark, FileCdcSource(w3.schema, s"$base/in"),
        s"$base/ckpt", s"$base/state", s"$base/mv", groupCol = "zone",
        renameCols = Map("zone" -> "region"))
    }
    assert(e.getMessage.contains("pre-claim-protocol"))
  }

  test("minmax MV across DDL: group rename migrates view + snapshot dirs, maintenance continues") {
    // the recompute-family half of the MV × DDL composition: the
    // snapshot is group-PARTITIONED, so a rename of the group column
    // must migrate the partition DIRECTORY names (no data rewrite) and
    // the dirty-group machinery must keep resolving prior rows through
    // the pointer map afterwards
    val base = tmp()
    def frame(rows: Seq[(String, Long, Long, Double, String)],
        gname: String) =
      spark.createDataFrame(rows).toDF("op", "seq", "okey", "price", gname)
        .withColumn("ts", timestamp_seconds(lit(1700000000L) + col("seq")))
        .withColumn("status", lit("X"))
        .select(col("op"), col("seq"), col("ts"), col("okey"), col("price"),
          col("status"), col(gname))
    // pass 1: k1/k2 in g1 (10, 30), k3 in g2 (5)
    val w0 = frame(Seq(("I", 1L, 1L, 10.0, "g1"), ("I", 2L, 2L, 30.0, "g1"),
      ("I", 3L, 3L, 5.0, "g2")), "grp")
    StreamingOps.writeWave(w0, s"$base/in", 0)
    StreamingOps.runMvMinMaxPass(spark, FileCdcSource(w0.schema, s"$base/in"),
      s"$base/ckpt", s"$base/state", s"$base/snap", s"$base/mv",
      groupCol = "grp")
    // pass 2: RENAME grp→seg; delete g1's max (k2) — g1 recomputes from
    // the MIGRATED snapshot partition, g2 carries untouched
    val w1 = frame(Seq(("D", 4L, 2L, 0.0, null)), "seg")
    StreamingOps.writeWave(w1, s"$base/in", 1)
    StreamingOps.runMvMinMaxPass(spark, FileCdcSource(w1.schema, s"$base/in"),
      s"$base/ckpt", s"$base/state", s"$base/snap", s"$base/mv",
      groupCol = "seg", renameCols = Map("grp" -> "seg"))
    assert(StreamingOps.readMv(spark, s"$base/mv").columns.head == "seg",
      "the view's group column must migrate with the rename")
    assert(servedMinMax(s"$base/mv") == Map(
      "g1" -> ((1L, 10.0, 10.0)), "g2" -> ((1L, 5.0, 5.0))),
      s"post-rename delete must demote g1's max: ${servedMinMax(s"$base/mv")}")
    // pass 3: ordinary maintenance under the NEW name — k4 into g2, k1
    // migrates g1→g2 across the rename boundary; g1 goes extinct
    val w2 = frame(Seq(("I", 5L, 4L, 7.0, "g2"), ("U", 6L, 1L, 12.0, "g2")),
      "seg")
    StreamingOps.writeWave(w2, s"$base/in", 2)
    StreamingOps.runMvMinMaxPass(spark, FileCdcSource(w2.schema, s"$base/in"),
      s"$base/ckpt", s"$base/state", s"$base/snap", s"$base/mv",
      groupCol = "seg")
    assert(servedMinMax(s"$base/mv") == Map("g2" -> ((3L, 5.0, 12.0))),
      s"post-rename maintenance: ${servedMinMax(s"$base/mv")}")
  }

  test("recompute MV across ADD DEFAULT: pre-DDL snapshot partitions fill at read") {
    // the piece unique to the dirty-group family: snapshot epochs
    // written BEFORE the DDL physically lack the column; a later dirty
    // group's recompute reads them pinned (NULL) and must serve the
    // declared default for rows whose seq predates the DDL — while a
    // post-DDL explicit NULL stays NULL
    import org.apache.spark.sql.types.{StructType, StructField, StringType,
      LongType, DoubleType}
    val base = tmp()
    def frame(rows: Seq[(String, Long, Long, String, java.lang.Double)],
        withAmt: Boolean) = {
      val df = spark.createDataFrame(rows)
        .toDF("op", "seq", "okey", "grp", "amt")
        .withColumn("ts", timestamp_seconds(lit(1700000000L) + col("seq")))
        .withColumn("price", lit(1.0d)).withColumn("status", lit("X"))
      val cols = Seq("op", "seq", "ts", "okey", "price", "status", "grp") ++
        (if (withAmt) Seq("amt") else Nil)
      df.select(cols.map(col): _*)
    }
    val mvSchema = StructType(Seq(StructField("grp", StringType),
      StructField("n_rows", LongType), StructField("mx_amt", DoubleType)))
    def rec(rows: org.apache.spark.sql.DataFrame) =
      rows.groupBy(col("grp")).agg(count(lit(1)).as("n_rows"),
        (if (rows.columns.contains("amt")) max(col("amt"))
         else lit(null).cast("double")).as("mx_amt"))
    // pass 1: no amt yet — k1/k2 in g1, k3 in g2
    val w0 = frame(Seq(("I", 1L, 1L, "g1", null), ("I", 2L, 2L, "g1", null),
      ("I", 3L, 3L, "g2", null)), withAmt = false)
    StreamingOps.writeWave(w0, s"$base/in", 0)
    StreamingOps.runMvRecomputePass(spark,
      FileCdcSource(w0.schema, s"$base/in"),
      s"$base/ckpt", s"$base/state", s"$base/snap", s"$base/mv",
      Seq("okey"), "grp", mvSchema, rec)
    // pass 2: ADD COLUMN amt DEFAULT 7.50 at position 3; k2 writes 2.00,
    // k3 writes an explicit NULL. g1's recompute reads k1 from the
    // PRE-DDL snapshot partition — the fill must serve 7.50, so
    // mx_amt(g1) = 7.50, not k2's 2.00; g2's explicit NULL stays NULL
    val w1 = frame(Seq(("U", 4L, 2L, "g1", 2.0), ("U", 5L, 3L, "g2", null)),
      withAmt = true)
    StreamingOps.writeWave(w1, s"$base/in", 1)
    StreamingOps.runMvRecomputePass(spark,
      FileCdcSource(w1.schema, s"$base/in"),
      s"$base/ckpt", s"$base/state", s"$base/snap", s"$base/mv",
      Seq("okey"), "grp", mvSchema, rec,
      defaultCols = Map("amt" -> StreamingOps.ColumnDefault(3L, "7.50")))
    val served = StreamingOps.readMv(spark, s"$base/mv").collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), Option(r.get(2)).map(_.asInstanceOf[Double]))))
      .toMap
    assert(served == Map("g1" -> ((2L, Some(7.5))), "g2" -> ((1L, None))),
      s"default must fill pre-DDL snapshot rows, explicit NULL stays: $served")
  }

  test("recompute MV across DROP + RE-ADD: stale pre-drop snapshot values never leak") {
    // ST24's resurrection hazard at the snapshot layer: pass-1 snapshot
    // partitions physically hold the pre-drop values; after DROP at P
    // and RE-ADD with DEFAULT at P+1, a dirty group's recompute must
    // serve the re-add default for rows untouched since before the drop
    // — never the stale bytes still on disk. (Untouched groups carry
    // their pre-DDL view forward — the recompute family's documented
    // contract; a value-rewriting DDL needs mvAttachRecompute to
    // rebuild, the POPULATE path.)
    import org.apache.spark.sql.types.{StructType, StructField, StringType,
      LongType, DoubleType}
    val base = tmp()
    def frame(rows: Seq[(String, Long, Long, String, java.lang.Double)]) = {
      val df = spark.createDataFrame(rows)
        .toDF("op", "seq", "okey", "grp", "amt")
        .withColumn("ts", timestamp_seconds(lit(1700000000L) + col("seq")))
        .withColumn("price", lit(1.0d)).withColumn("status", lit("X"))
      df.select(Seq("op", "seq", "ts", "okey", "price", "status", "grp",
        "amt").map(col): _*)
    }
    val mvSchema = StructType(Seq(StructField("grp", StringType),
      StructField("n_rows", LongType), StructField("mx_amt", DoubleType)))
    def rec(rows: org.apache.spark.sql.DataFrame) =
      rows.groupBy(col("grp")).agg(count(lit(1)).as("n_rows"),
        max(col("amt")).as("mx_amt"))
    // pass 1: amt carries OLD values — g1 mx 200, g2 mx 300
    val w0 = frame(Seq(("I", 1L, 1L, "g1", 100.0), ("I", 2L, 2L, "g1", 200.0),
      ("I", 3L, 3L, "g2", 300.0)))
    StreamingOps.writeWave(w0, s"$base/in", 0)
    StreamingOps.runMvRecomputePass(spark,
      FileCdcSource(w0.schema, s"$base/in"),
      s"$base/ckpt", s"$base/state", s"$base/snap", s"$base/mv",
      Seq("okey"), "grp", mvSchema, rec)
    // pass 2: DROP amt at position 3, RE-ADD DEFAULT 7.50 at position 4;
    // k2 rewrites amt=2.00 (seq 5), dirtying g1 — whose recompute reads
    // k1's snapshot row (physically 100.0): gate to NULL, fill 7.50
    val w1 = frame(Seq(("U", 5L, 2L, "g1", 2.0)))
    StreamingOps.writeWave(w1, s"$base/in", 1)
    StreamingOps.runMvRecomputePass(spark,
      FileCdcSource(w1.schema, s"$base/in"),
      s"$base/ckpt", s"$base/state", s"$base/snap", s"$base/mv",
      Seq("okey"), "grp", mvSchema, rec,
      dropCols = Map("amt" -> 3L),
      defaultCols = Map("amt" -> StreamingOps.ColumnDefault(4L, "7.50")))
    val served = StreamingOps.readMv(spark, s"$base/mv").collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(served == Map("g1" -> ((2L, 7.5)), "g2" -> ((1L, 300.0))),
      s"drop gate + re-add fill on the dirty group, untouched carries: $served")
  }

  test("MV across DDL: attach after ADD DEFAULT, maintain through a group rename") {
    // the cdc_mv_ddl composition at unit scale, plus the piece the query
    // cannot show: maintenance CONTINUES on the migrated view after the
    // rename pass (a later ordinary pass under the new name)
    val base = tmp()
    def ev(op: String, seq: Long, okey: Long, grp: String,
        amt: java.lang.Double) =
      (op, seq, okey, grp, amt)
    def frame(rows: Seq[(String, Long, Long, String, java.lang.Double)],
        gname: String, withAmt: Boolean) = {
      val df = spark.createDataFrame(rows)
        .toDF("op", "seq", "okey", gname, "amt")
        .withColumn("ts", timestamp_seconds(lit(1700000000L) + col("seq")))
        .withColumn("price", lit(1.0d))
        .withColumn("status", lit("X"))
      val cols = Seq("op", "seq", "ts", "okey", "price", "status", gname) ++
        (if (withAmt) Seq("amt") else Nil)
      df.select(cols.map(col): _*)
    }
    // pass 1: inserts, no amt column yet — k1/k2 in g1, k3/k5 in g2
    val w0 = frame(Seq(ev("I", 1, 1, "g1", null), ev("I", 2, 2, "g1", null),
      ev("I", 3, 3, "g2", null), ev("I", 4, 5, "g2", null)),
      "grp", withAmt = false)
    StreamingOps.writeWave(w0, s"$base/in", 0)
    StreamingOps.runCdcPass(spark, FileCdcSource(w0.schema, s"$base/in"),
      s"$base/ckpt",
      s"$base/state")
    // pass 2: ADD COLUMN amt DEFAULT 7.50 at position 4; k2 writes 2.00,
    // k3 writes an explicit NULL (stays NULL — MySQL backfill, not a
    // blanket coalesce); k1/k5 untouched → serve the default
    val w1 = frame(Seq(ev("U", 5, 2, "g1", 2.0), ev("U", 6, 3, "g2", null)),
      "grp", withAmt = true)
    StreamingOps.writeWave(w1, s"$base/in", 1)
    StreamingOps.runCdcPass(spark, FileCdcSource(w1.schema, s"$base/in"),
      s"$base/ckpt",
      s"$base/state",
      defaultCols = Map("amt" -> StreamingOps.ColumnDefault(4L, "7.50")))
    // attach: g1 = (2, 7.50 + 2.00); g2 = (2, NULL + 7.50)
    StreamingOps.mvAttachSum(spark, s"$base/state", s"$base/mv",
      groupCol = "grp", measureCol = "amt")
    def served(): Map[String, (Long, BigDecimal)] = servedSum(s"$base/mv")
    assert(served() == Map(
      "g1" -> (2L, BigDecimal("9.50")), "g2" -> (2L, BigDecimal("7.50"))),
      s"attach over the defaulted state: ${served()}")
    // pass 3: rename grp→seg; delete k1 (pre-DDL — its retraction must
    // subtract the DEFAULT it served, 7.50, not 0)
    val w2 = frame(Seq(ev("D", 7, 1, null, null)), "seg", withAmt = true)
    StreamingOps.writeWave(w2, s"$base/in", 2)
    StreamingOps.runMvSumPass(spark, FileCdcSource(w2.schema, s"$base/in"),
      s"$base/ckpt",
      s"$base/state", s"$base/mv", groupCol = "seg", measureCol = "amt",
      renameCols = Map("grp" -> "seg"))
    assert(StreamingOps.readMv(spark, s"$base/mv").columns.head == "seg",
      "the view's group column must migrate with the rename")
    assert(served() == Map(
      "g1" -> (1L, BigDecimal("2.00")), "g2" -> (2L, BigDecimal("7.50"))),
      s"post-rename delete must retract the served default: ${served()}")
    // pass 4: ordinary maintenance under the NEW name — k4 inserts into
    // g2, k2 moves g1→g2 (group migration across the rename boundary)
    val w3 = frame(Seq(ev("I", 8, 4, "g2", 1.25), ev("U", 9, 2, "g2", 2.0)),
      "seg", withAmt = true)
    StreamingOps.writeWave(w3, s"$base/in", 3)
    StreamingOps.runMvSumPass(spark, FileCdcSource(w3.schema, s"$base/in"),
      s"$base/ckpt",
      s"$base/state", s"$base/mv", groupCol = "seg", measureCol = "amt")
    assert(served() == Map(
      "g2" -> (4L, BigDecimal("10.75"))),
      s"maintenance must continue on the migrated view: ${served()}")
    // and the state side serves the full evolved history under seg —
    // the untouched pre-DDL key (k5) serves the default at read time
    val st = Replication.appliedState(spark, s"$base/state")
      .select(col("okey"), col("seg"), col("amt")).collect()
      .map(r => (r.getLong(0), r.getString(1),
        if (r.isNullAt(2)) null else r.getDouble(2))).toSet
    assert(st == Set((2L, "g2", 2.0), (3L, "g2", null), (4L, "g2", 1.25),
      (5L, "g2", 7.5)),
      s"state across rename+default: $st")
  }

  test("an MV pass over a keepHistory state dir refuses by name") {
    // a view pass lands each batch's per-key WINNERS, so running one over
    // a retaining (_history) dir would silently break its as-of reads
    val base = tmp()
    val e1 = Seq(MvEv("I", 1, 1, 10.00, "A"), MvEv("U", 2, 1, 12.00, "A"))
    val schema = evDf(Seq.empty).schema
    StreamingOps.writeWave(evDf(e1), s"$base/in", 0)
    StreamingOps.runCdcPass(spark, FileCdcSource(schema, s"$base/in"),
      s"$base/ckpt", s"$base/state", keepHistory = true)
    StreamingOps.writeWave(evDf(Seq(MvEv("D", 3, 1, 0.00, null))),
      s"$base/in", 1)
    val passes = Seq[() => Unit](
      () => StreamingOps.runMvSumPass(spark, FileCdcSource(schema,
        s"$base/in"), s"$base/ckpt", s"$base/state", s"$base/mv"),
      () => StreamingOps.runMvMinMaxPass(spark, FileCdcSource(schema,
        s"$base/in"), s"$base/ckpt", s"$base/state", s"$base/snap",
        s"$base/mm"))
    passes.foreach { pass =>
      val e = intercept[IllegalArgumentException](pass())
      assert(e.getMessage.contains("_history"), e.getMessage)
    }
    // nothing applied: the dir still answers as-of reads of every event
    assert(graft.streaming.StateFs.epochIds(s"$base/state") == Seq(0L))
    assert(StreamingOps.readLatestState(spark, s"$base/state",
      asOfSeq = Some(1L)).select(col("price")).collect()
      .map(_.getDouble(0)).toSeq == Seq(10.00))
  }
}
