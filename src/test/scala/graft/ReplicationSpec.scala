package graft

import org.apache.spark.sql.functions._
import graft.sources.FileCdcSource

/** End-to-end lifecycle of the [[Replication]] facade — the reference's
  * `--full` / `--increment` / consistency-check surface (SURVEY.md §3.1).
  */
class ReplicationSpec extends SparkTestBase {

  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("graft_repl").toString

  /** Envelope row for the txn-boundary tests (`ts` derived from seq). */
  case class TxnEv(op: String, seq: Long, okey: Long, price: Double,
    status: String, txn: Long)

  private def txnDf(evs: Seq[TxnEv]): org.apache.spark.sql.DataFrame =
    spark.createDataFrame(evs)
      .withColumn("ts", timestamp_seconds(lit(1700000000L) + col("seq")))
      .select(col("op"), col("seq"), col("ts"), col("okey"), col("price"),
        col("status"), col("txn"))

  /** Reference semantics: latest-wins replay over ONLY the events of
    * transactions whose commit marker has been delivered. */
  private def committedReplay(delivered: Seq[TxnEv]): Map[Long, (String, Double)] = {
    val committed = delivered.filter(_.op == "C").map(_.txn).toSet
    delivered.filter(e => e.op != "C" && committed(e.txn))
      .sortBy(_.seq)
      .foldLeft(Map.empty[Long, (String, Double)]) { (m, e) =>
        m.updated(e.okey, (e.op, e.price))
      }
      .filter(_._2._1 != "D")
  }

  private def servedTxnState(stateDir: String): Map[Long, (String, Double)] = {
    val hasDelta = Option(new java.io.File(stateDir).listFiles())
      .getOrElse(Array.empty)
      .exists(f => f.isDirectory && f.getName.startsWith("epoch="))
    if (!hasDelta) Map.empty
    else Replication.appliedState(spark, stateDir)
      .select(col("okey"), col("op"), col("price")).collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getDouble(2))).toMap
  }

  test("full sync snapshots admitted tables; include/exclude filters apply") {
    val dest = tmp()
    val src = new graft.sources.ParquetSource(sf)
    val counts = Replication.fullSync(spark, src,
      Seq("nation", "region", "customer"), dest,
      Replication.TableFilter(exclude = Set("customer")))
    assert(counts.keySet == Set("nation", "region"))
    assert(counts("nation") == Tables.t(spark, sf, "nation").count())
    assert(!new java.io.File(s"$dest/customer").exists())
    // parallel submission is a pure scheduling change: same tables, same
    // counts, same landed rows as the sequential pass
    val dest2 = tmp()
    val counts2 = Replication.fullSync(spark, src,
      Seq("nation", "region", "customer"), dest2,
      Replication.TableFilter(exclude = Set("customer")), parallelism = 3)
    assert(counts2 == counts)
    assert(spark.read.parquet(s"$dest2/nation").collect().map(_.toSeq).toSet
      == spark.read.parquet(s"$dest/nation").collect().map(_.toSeq).toSet)
  }

  test("sync with view: table and MV advance together through the facade") {
    val base = tmp()
    val log = Tables.cdcLog(spark, sf)
    (1 to 3).foreach(w => graft.streaming.StreamingOps.writeWave(
      log.filter(col("seq") === w), s"$base/in", w - 1))
    val (prog, view) = Replication.incrementalSyncWithView(spark, log.schema,
      s"$base/in", s"$base/ckpt", s"$base/state", s"$base/mv")
    assert(prog.rowsApplied == log.count() && prog.epochs == 3)
    // the destination table advanced exactly like a plain sync…
    val applied = Replication.appliedState(spark, s"$base/state")
      .collect().map(_.toSeq).toSet
    assert(applied == q("agg_latest_by_version").collect().map(_.toSeq).toSet)
    // …and the served view equals the group-by over that state
    val expect = q("agg_latest_by_version").groupBy(col("status"))
      .agg(count(org.apache.spark.sql.functions.lit(1)).as("n_rows"),
        sum(Tables.dec2(col("price"))).cast(Tables.D2).as("total"))
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), BigDecimal(r.getDecimal(2))))).toMap
    val got = view.collect().map(r => r.getString(0) ->
      ((r.getLong(1), BigDecimal(r.getDecimal(2))))).toMap
    assert(got == expect)
    // min/max mode over the same log, fresh dirs
    val b2 = tmp()
    (1 to 3).foreach(w => graft.streaming.StreamingOps.writeWave(
      log.filter(col("seq") === w), s"$b2/in", w - 1))
    val (_, mm) = Replication.incrementalSyncWithView(spark, log.schema,
      s"$b2/in", s"$b2/ckpt", s"$b2/state", s"$b2/mv", minMax = true)
    val mmExpect = q("agg_latest_by_version").groupBy(col("status"))
      .agg(count(org.apache.spark.sql.functions.lit(1)).as("n_rows"),
        min(col("price")).as("mn"), max(col("price")).as("mx"))
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getDouble(2), r.getDouble(3)))).toMap
    val mmGot = mm.collect().map(r => r.getString(0) ->
      ((r.getLong(1), r.getDouble(2), r.getDouble(3)))).toMap
    assert(mmGot == mmExpect)
  }

  test("sync with view: minMax mode carries the view across a group rename") {
    // the facade face of the recompute-family MV × DDL composition:
    // one sync-with-view pass under the old group name, a resume that
    // declares the rename — view, snapshot, and state all migrate and
    // the dirty group recomputes from the moved snapshot partitions
    val base = tmp()
    def frame(rows: Seq[(String, Long, Long, Double, String)],
        gname: String) =
      spark.createDataFrame(rows).toDF("op", "seq", "okey", "price", gname)
        .withColumn("ts", org.apache.spark.sql.functions.timestamp_seconds(
          org.apache.spark.sql.functions.lit(1700000000L) + col("seq")))
        .withColumn("status", org.apache.spark.sql.functions.lit("X"))
        .select(Seq("op", "seq", "ts", "okey", "price", "status", gname)
          .map(col): _*)
    val w0 = frame(Seq(("I", 1L, 1L, 10.0, "g1"), ("I", 2L, 2L, 30.0, "g1"),
      ("I", 3L, 3L, 5.0, "g2")), "grp")
    graft.streaming.StreamingOps.writeWave(w0, s"$base/in", 0)
    Replication.incrementalSyncWithView(spark, w0.schema, s"$base/in",
      s"$base/ckpt", s"$base/state", s"$base/mv", groupCol = "grp",
      minMax = true)
    val w1 = frame(Seq(("D", 4L, 2L, 0.0, null)), "seg")
    graft.streaming.StreamingOps.writeWave(w1, s"$base/in", 1)
    val (_, view) = Replication.incrementalSyncWithView(spark, w1.schema,
      s"$base/in", s"$base/ckpt", s"$base/state", s"$base/mv",
      groupCol = "seg", minMax = true, renameCols = Map("grp" -> "seg"))
    assert(view.columns.head == "seg",
      "the served view's group column must migrate with the rename")
    val got = view.collect().map(r => r.getString(0) ->
      ((r.getLong(1), r.getDouble(2), r.getDouble(3)))).toMap
    assert(got == Map("g1" -> ((1L, 10.0, 10.0)), "g2" -> ((1L, 5.0, 5.0))),
      s"post-rename delete must demote g1's max through the facade: $got")
  }

  test("incremental sync applies waves; applied state == batch collapse") {
    val base = tmp()
    val log = Tables.cdcLog(spark, sf)
    (1 to 3).foreach(w => graft.streaming.StreamingOps.writeWave(
      log.filter(col("seq") === w), s"$base/in", w - 1))
    val prog = Replication.incrementalSync(spark, log.schema, s"$base/in",
      s"$base/ckpt", s"$base/state")
    val applied = Replication.appliedState(spark, s"$base/state")
      .collect().map(_.toSeq).toSet
    val batch = q("agg_latest_by_version").collect().map(_.toSeq).toSet
    assert(applied == batch)
    // progress metrics match the applied pass: every log row flowed
    // through, one epoch per wave, position = the log's newest seq
    assert(prog.rowsApplied == log.count())
    assert(prog.epochs == 3)
    assert(prog.lastSeq.contains(3L))
  }

  test("multi-table sync: one stream fans out to per-table state dirs") {
    val base = tmp()
    // one binlog carrying two tables' events, interleaved in every wave
    val log = Tables.cdcLog(spark, sf).withColumn("table",
      when(col("okey") % 2 === 0, "orders_eu").otherwise("orders_us"))
    (1 to 3).foreach(w => graft.streaming.StreamingOps.writeWave(
      log.filter(col("seq") === w), s"$base/in", w - 1))
    val dirs = Map("orders_eu" -> s"$base/state_eu",
      "orders_us" -> s"$base/state_us")
    val prog = Replication.incrementalSyncMulti(spark, log.schema,
      s"$base/in", s"$base/ckpt", dirs)
    // per-table applied state == the batch collapse restricted to that
    // table's keys, via the same consistencyCheck a user would run
    val batch = q("agg_latest_by_version")
    for ((t, dir) <- dirs) {
      val expect = batch.filter(
        if (t == "orders_eu") col("okey") % 2 === 0 else col("okey") % 2 =!= 0)
      val rep = Replication.consistencyCheck(
        expect, Replication.appliedState(spark, dir), "okey")
      assert(rep.consistent, s"$t: $rep")
    }
    // both tables were present in all 3 waves; counts partition the log
    assert(prog.values.map(_.rowsApplied).sum == log.count())
    prog.values.foreach { p =>
      assert(p.epochs == 3)
      assert(p.lastSeq.contains(3L))
    }
    // a table not in the map is skipped, not synced
    assert(!new java.io.File(s"$base/state_other").exists())
  }

  test("configured sync applies include/exclude and rename mapping in one pass") {
    val base = tmp()
    val log = Tables.cdcLog(spark, sf).withColumn("table",
      when(col("okey") % 2 === 0, "orders_eu").otherwise("orders_us"))
    (1 to 3).foreach(w => graft.streaming.StreamingOps.writeWave(
      log.filter(col("seq") === w), s"$base/in", w - 1))
    // the reference's config block: skip orders_us, publish orders_eu
    // under its destination-side name
    val cfg = Replication.SyncConfig(
      filter = Replication.TableFilter(exclude = Set("orders_us")),
      remap = Map("orders_eu" -> "orders_eu_replica"))
    val prog = Replication.incrementalSyncConfigured(spark, log.schema,
      s"$base/in", s"$base/ckpt", s"$base/dest",
      Seq("orders_eu", "orders_us"), cfg)
    // progress is keyed by destination name; the excluded table never syncs
    assert(prog.keySet == Set("orders_eu_replica"))
    assert(new java.io.File(s"$base/dest/orders_eu_replica").exists())
    assert(!new java.io.File(s"$base/dest/orders_us").exists())
    assert(!new java.io.File(s"$base/dest/orders_eu").exists())
    val expect = q("agg_latest_by_version").filter(col("okey") % 2 === 0)
    assert(Replication.consistencyCheck(expect,
      Replication.appliedState(spark, s"$base/dest/orders_eu_replica"),
      "okey").consistent)
    assert(prog("orders_eu_replica").lastSeq.contains(3L))
  }

  test("configured sync carries row filters and masks; source-name keyed, dest-name served") {
    val base = tmp()
    val log = Tables.cdcLog(spark, sf).withColumn("table",
      when(col("okey") % 2 === 0, "orders_eu").otherwise("orders_us"))
    (1 to 3).foreach(w => graft.streaming.StreamingOps.writeWave(
      log.filter(col("seq") === w), s"$base/in", w - 1))
    // config file: rename orders_eu, replicate only its okey%4==0 shard,
    // mask orders_us's status column — all keyed by SOURCE name
    val cfg = Replication.SyncConfig(
      remap = Map("orders_eu" -> "eu_replica"),
      rowFilters = Map("orders_eu" -> "okey % 4 = 0"),
      maskCols = Map("orders_us" -> Seq("status")))
    Replication.incrementalSyncConfigured(spark, log.schema,
      s"$base/in", s"$base/ckpt", s"$base/dest",
      Seq("orders_eu", "orders_us"), cfg)
    val eu = Replication.appliedState(spark, s"$base/dest/eu_replica")
    assert(eu.filter(col("okey") % 4 =!= 0).count() == 0,
      "the row filter must gate what replicates")
    assert(eu.count() > 0)
    val us = Replication.appliedState(spark, s"$base/dest/orders_us")
    assert(us.filter(col("status").isNotNull).count() == 0,
      "the masked column must serve NULL")
    assert(us.count() > 0)
  }

  test("incremental sync from an explicit position skips already-applied events") {
    val base = tmp()
    val log = Tables.cdcLog(spark, sf)
    (1 to 3).foreach(w => graft.streaming.StreamingOps.writeWave(
      log.filter(col("seq") === w), s"$base/in", w - 1))
    // the reference's --position: the seq-1 snapshot inserts are already
    // in the destination elsewhere; apply only the tail (seq > 1)
    val prog = Replication.incrementalSync(spark, log.schema, s"$base/in",
      s"$base/ckpt", s"$base/state", fromSeq = Some(1L))
    val applied = Replication.appliedState(spark, s"$base/state")
      .collect().map(_.toSeq).toSet
    // expected: latest-wins over ONLY the tail events, tombstones dropped
    val expect = log.filter(col("seq") > 1)
      .groupBy(col("okey"))
      .agg(max_by(struct(col("op"), col("price"), col("status"), col("ts"),
        col("seq")), col("seq")).as("l"))
      .filter(col("l.op") =!= "D")
      .select(col("okey"), col("l.op"), col("l.price"), col("l.status"),
        col("l.ts"))
      .collect().map(_.toSeq).toSet
    assert(applied == expect)
    assert(applied.nonEmpty, "tail-only state should not be empty")
    // consumption metrics still cover the whole log; position only gates state
    assert(prog.rowsApplied == log.count())
    assert(prog.lastSeq.contains(3L))
    // the wave at or below the position wrote NO delta: epochs counts
    // deltas written, not batches consumed
    assert(prog.epochs == 2, s"epochs=${prog.epochs}")
  }

  test("opaque position tokens: a codec-decoded resume equals the explicit fromSeq") {
    val log = Tables.cdcLog(spark, sf)
    // a binlog-file+offset dialect: the source serialized seqs 1..3 into
    // one file, one event per 100 bytes — the codec owns that mapping
    val fileOffset = new Replication.PositionCodec {
      override def toSeq(token: String): Long = token.split(":") match {
        case Array("binlog.000001", off) => off.toLong / 100L
        case _ => throw new IllegalArgumentException(s"undecodable: $token")
      }
    }
    def run(start: (String, String) => Replication.SyncProgress) = {
      val base = tmp()
      (1 to 3).foreach(w => graft.streaming.StreamingOps.writeWave(
        log.filter(col("seq") === w), s"$base/in", w - 1))
      start(s"$base/in", base)
      Replication.appliedState(spark, s"$base/state").collect()
        .map(_.toSeq).toSet
    }
    val viaToken = run((in, base) => Replication.incrementalSyncFromPosition(
      spark, log.schema, in, s"$base/ckpt", s"$base/state",
      "binlog.000001:100", fileOffset))
    val viaSeq = run((in, base) => Replication.incrementalSync(
      spark, log.schema, in, s"$base/ckpt", s"$base/state",
      fromSeq = Some(1L)))
    assert(viaToken == viaSeq && viaToken.nonEmpty)
    // the trivial seq dialect round-trips, and garbage fails loudly
    assert(Replication.SeqPositionCodec.toSeq(" 42 ") == 42L)
    intercept[IllegalArgumentException] {
      Replication.SeqPositionCodec.toSeq("binlog.000001:100")
    }
    intercept[IllegalArgumentException] { fileOffset.toSeq("gtid:1-77") }
  }

  test("position catalog: a recorded token resumes exactly like the explicit seq") {
    // the self-contained `--position` surface: pass 1 reports the
    // connector's native token alongside its applied horizon, the
    // catalog persists token→seq under the checkpoint, and a LATER
    // resume decodes the token with no connector present — property:
    // resume-by-token == resume-by-seq, over several wave splits
    val log = Tables.cdcLog(spark, sf)
    Seq(1L, 2L).foreach { splitAt =>
      val base = tmp()
      (1 to 3).foreach(w => graft.streaming.StreamingOps.writeWave(
        log.filter(col("seq") === w), s"$base/in_a", w - 1))
      // phase 1: apply waves up to splitAt, reporting the native token
      val token = s"binlog.000042:${splitAt * 100}"
      val p1 = Replication.incrementalSync(spark, log.schema,
        s"$base/in_a", s"$base/ckpt_a", s"$base/state_a",
        positionToken = Some(token))
      assert(p1.lastSeq.contains(3L))
      // the pass recorded ITS final horizon; re-record the split point
      // the way a connector checkpointing mid-stream would have
      Replication.PositionCatalog.record(s"$base/ckpt_a", token, splitAt)
      assert(Replication.PositionCatalog.read(s"$base/ckpt_a")(token)
        == splitAt)
      // phase 2: two FRESH destinations replay the full log — one
      // resumed by the cataloged token, one by the explicit seq
      def replay(from: Option[Long], codecToken: Option[String])
          : Set[Seq[Any]] = {
        val b2 = tmp()
        (1 to 3).foreach(w => graft.streaming.StreamingOps.writeWave(
          log.filter(col("seq") === w), s"$b2/in", w - 1))
        codecToken match {
          case Some(t) => Replication.incrementalSyncFromPosition(
            spark, log.schema, s"$b2/in", s"$b2/ckpt", s"$b2/state", t,
            Replication.PositionCatalog.codec(s"$base/ckpt_a"))
          case None => Replication.incrementalSync(spark, log.schema,
            s"$b2/in", s"$b2/ckpt", s"$b2/state", fromSeq = from)
        }
        Replication.appliedState(spark, s"$b2/state").collect()
          .map(_.toSeq).toSet
      }
      assert(replay(None, Some(token)) == replay(Some(splitAt), None),
        s"token resume must equal seq resume at split $splitAt")
    }
    // an unrecorded token fails loudly — never a guessed position
    val e = intercept[IllegalArgumentException] {
      Replication.PositionCatalog.codec("/nonexistent_ckpt")
        .toSeq("binlog.000099:1")
    }
    assert(e.getMessage.contains("never recorded"))
    // the multi-table topology records ONE topology-level entry (one
    // binlog, one position) under its shared checkpoint
    val mlog = Tables.cdcLog(spark, sf).withColumn("table",
      when(col("okey") % 2 === 0, "t_even").otherwise("t_odd"))
    val bm = tmp()
    (1 to 2).foreach(w => graft.streaming.StreamingOps.writeWave(
      mlog.filter(col("seq") === w), s"$bm/in", w - 1))
    Replication.incrementalSyncMulti(spark, mlog.schema, s"$bm/in",
      s"$bm/ckpt", Map("t_even" -> s"$bm/se", "t_odd" -> s"$bm/so"),
      positionToken = Some("binlog.000007:200"))
    assert(Replication.PositionCatalog.read(s"$bm/ckpt")
      .get("binlog.000007:200").contains(2L))
  }

  test("binlog heartbeats: keep-alive rows advance the position but " +
      "never reach state, and a heartbeat-only batch writes no delta") {
    // the long-quiet-source shape: the connector emits position-only
    // keep-alive rows (op = "H") so the replica's applied position keeps
    // advancing while no DML arrives — without them a caught-up replica
    // on a quiet source reads a permanent phantom lag
    import graft.streaming.StreamingOps
    val log = Tables.cdcLog(spark, sf)
    val base = tmp()
    val w0 = log.filter(col("seq") <= 2)
    val hb = log.limit(1).select(lit("H").as("op"), lit(100L).as("seq"),
      col("ts"),
      lit(null).cast(log.schema("okey").dataType).as("okey"),
      lit(null).cast(log.schema("price").dataType).as("price"),
      lit(null).cast(log.schema("status").dataType).as("status"))
    StreamingOps.writeWave(w0, s"$base/in", 0)
    StreamingOps.writeWave(hb, s"$base/in", 1)
    val prog = Replication.incrementalSync(spark, log.schema, s"$base/in",
      s"$base/ckpt", s"$base/state", heartbeats = true)
    // state == the collapse over the REAL events alone; in particular no
    // NULL-key phantom row from the heartbeat
    val applied = Replication.appliedState(spark, s"$base/state")
      .collect().map(_.toSeq).toSet
    assert(!applied.exists(r => r.head == null),
      "a heartbeat must never materialize as a state row")
    val expect = w0.groupBy(col("okey"))
      .agg(max_by(struct(col("op"), col("price"), col("status"), col("ts"),
        col("seq")), col("seq")).as("l"))
      .filter(col("l.op") =!= "D")
      .select(col("okey"), col("l.op"), col("l.price"), col("l.status"),
        col("l.ts"))
      .collect().map(_.toSeq).toSet
    assert(applied == expect)
    // the applied position advanced THROUGH the heartbeat (the
    // caught-up signal), so lag reads 0
    assert(prog.lastSeq.contains(100L), s"lastSeq=${prog.lastSeq}")
    assert(prog.lag == 0L)
    // …and so does the time horizon: applied and seen marks coincide
    val (appliedTs, seenTs) = StreamingOps.readLagMarks(s"$base/state")
    assert(appliedTs.isDefined && appliedTs == seenTs)
    // the heartbeat-only batch wrote NO delta epoch
    assert(prog.epochs == 1, s"epochs=${prog.epochs}")
  }

  test("position catalog across a binlog ROTATION: file roll keeps seq " +
      "continuity, a reused filename takes the newest recording") {
    // the rotate event mid-stream: the source rolls binlog.000001 →
    // binlog.000002 (offsets restart per file, the engine's seq keeps
    // climbing), and later REUSES a purged filename (RESET MASTER /
    // log-index recycle — the classic position landmine). The catalog
    // must serve each token's NEWEST recorded horizon so that
    // resume-by-token stays equal to resume-by-seq on both sides of the
    // roll AND after the recycle.
    val log = Tables.cdcLog(spark, sf)
    val base = tmp()
    val ckpt = s"$base/ckpt"
    // a connector checkpointing through the roll reports (token,
    // horizon) pairs exactly like these
    Replication.PositionCatalog.record(ckpt, "binlog.000001:400", 1L)
    Replication.PositionCatalog.record(ckpt, "binlog.000002:120", 2L)
    def replay(from: Option[Long], token: Option[String]): Set[Seq[Any]] = {
      val b2 = tmp()
      (1 to 3).foreach(w => graft.streaming.StreamingOps.writeWave(
        log.filter(col("seq") === w), s"$b2/in", w - 1))
      token match {
        case Some(t) => Replication.incrementalSyncFromPosition(
          spark, log.schema, s"$b2/in", s"$b2/ckpt", s"$b2/state", t,
          Replication.PositionCatalog.codec(ckpt))
        case None => Replication.incrementalSync(spark, log.schema,
          s"$b2/in", s"$b2/ckpt", s"$b2/state", fromSeq = from)
      }
      Replication.appliedState(spark, s"$b2/state").collect()
        .map(_.toSeq).toSet
    }
    assert(replay(None, Some("binlog.000001:400")) == replay(Some(1L), None),
      "pre-roll token must resume like its recorded seq")
    assert(replay(None, Some("binlog.000002:120")) == replay(Some(2L), None),
      "post-roll token must resume like its recorded seq")
    // recycle: the reused filename re-records at the NEW horizon —
    // newest wins (Replication.record's documented contract), and
    // resume follows the new meaning, never the purged file's
    Replication.PositionCatalog.record(ckpt, "binlog.000001:400", 2L)
    assert(Replication.PositionCatalog.read(ckpt)("binlog.000001:400") == 2L)
    assert(replay(None, Some("binlog.000001:400")) == replay(Some(2L), None),
      "a recycled filename must resume at its newest recording")
  }

  test("GTID-set codec: gap-free sets resume like their horizon seq, " +
      "gapped or foreign sets refuse loudly") {
    // the position dialect every gtid_mode=ON deployment hands back:
    // an executed GTID set maps onto the engine's total seq order ONLY
    // when the declared source's intervals are gap-free from 1
    val uuid = "3e11fa47-71ca-11e1-9e33-c80aa9429562"
    val codec = Replication.GtidSetCodec(uuid)
    assert(codec.toSeq(s"$uuid:1-2") == 2L)
    assert(codec.toSeq(s"$uuid:1") == 1L)
    // adjacent intervals cover gap-free; a multi-source set picks the
    // declared source's intervals (case-insensitive, as MySQL compares)
    assert(codec.toSeq(s"${uuid.toUpperCase}:1-40:41-77") == 77L)
    assert(codec.toSeq(
      s"otheruuid-0000-0000-0000-000000000000:1-9,$uuid:1-3") == 3L)
    // a HOLE refuses: resuming at the max would silently skip txn 41's
    // history — the corruption GTID auto-positioning exists to prevent
    val gap = intercept[IllegalArgumentException] {
      codec.toSeq(s"$uuid:1-40:42-77")
    }
    assert(gap.getMessage.contains("gap before txn 42"))
    intercept[IllegalArgumentException] {
      codec.toSeq(s"$uuid:2-77") // missing txn 1
    }
    // a set with none of this source's transactions refuses by name
    val foreign = intercept[IllegalArgumentException] {
      codec.toSeq("otheruuid-0000-0000-0000-000000000000:1-9")
    }
    assert(foreign.getMessage.contains(uuid))
    // a FOREIGN channel's gaps are another replica's business: only the
    // declared source's intervals must be gap-free (a multi-source set
    // legitimately carries holes for channels this codec never maps)
    assert(codec.toSeq(
      s"otheruuid-0000-0000-0000-000000000000:3-9,$uuid:1-5") == 5L)
    // end to end: resume-by-GTID == resume-by-seq on a real pass
    val log = Tables.cdcLog(spark, sf)
    def replay(from: Option[Long], gtid: Option[String]): Set[Seq[Any]] = {
      val b = tmp()
      (1 to 3).foreach(w => graft.streaming.StreamingOps.writeWave(
        log.filter(col("seq") === w), s"$b/in", w - 1))
      gtid match {
        case Some(g) => Replication.incrementalSyncFromPosition(
          spark, log.schema, s"$b/in", s"$b/ckpt", s"$b/state", g, codec)
        case None => Replication.incrementalSync(spark, log.schema,
          s"$b/in", s"$b/ckpt", s"$b/state", fromSeq = from)
      }
      Replication.appliedState(spark, s"$b/state").collect()
        .map(_.toSeq).toSet
    }
    assert(replay(None, Some(s"$uuid:1-2")) == replay(Some(2L), None),
      "GTID resume must equal seq resume at the same horizon")
  }

  test("multi-channel GTID codec: a failover chain maps multi-UUID sets " +
      "onto the one seq axis; unknown or gapped sets refuse loudly") {
    val a = "aaaaaaaa-0000-0000-0000-000000000001"
    val b = "bbbbbbbb-0000-0000-0000-000000000002"
    // chain: primary A served 1 transaction (seq 1), then failed over to
    // B — B's txn k continues the stream at seq 1 + k
    val codec = Replication.GtidChannelCodec(Seq(a -> 1L, b -> 0L))
    // a pre-failover set decodes on A's axis alone
    assert(codec.toSeq(s"$a:1") == 1L)
    // post-failover: A fully covered + B's horizon, order-insensitive,
    // case-insensitive (MySQL compares UUIDs case-blind)
    assert(codec.toSeq(s"$a:1,$b:1-2") == 3L)
    assert(codec.toSeq(s"${b.toUpperCase}:1-2,$a:1") == 3L)
    // B named while A is absent: history below the failover is missing
    intercept[IllegalArgumentException] { codec.toSeq(s"$b:1") }
    // A claiming transactions past its retirement point
    val over = intercept[IllegalArgumentException] {
      Replication.GtidChannelCodec(Seq(a -> 1L, b -> 0L))
        .toSeq(s"$a:1-2,$b:1")
    }
    assert(over.getMessage.contains("past the channel's end"))
    // …including when the overshooting RETIRED channel is itself the
    // anchor (no later channel named): A:1-2 would decode onto seq 2,
    // which the chain says belongs to B's first transaction
    val overAnchor = intercept[IllegalArgumentException] {
      codec.toSeq(s"$a:1-2")
    }
    assert(overAnchor.getMessage.contains("past the channel's end"))
    // the ACTIVE tail channel is open-ended: any horizon decodes
    assert(codec.toSeq(s"$a:1,$b:1-40") == 41L)
    // a UUID outside the chain refuses by name
    val unk = intercept[IllegalArgumentException] {
      codec.toSeq(s"cccccccc-0000-0000-0000-000000000003:1")
    }
    assert(unk.getMessage.contains("cccccccc"))
    // per-channel gap-freedom still holds inside a multi-UUID set
    intercept[IllegalArgumentException] { codec.toSeq(s"$a:1,$b:2-3") }
    // malformed interval bounds refuse as the codec's OWN loud refusal
    // (ADVICE r15: never a bare NumberFormatException) — both dialects
    val bad = intercept[IllegalArgumentException] { codec.toSeq(s"$a:1-abc") }
    assert(bad.getMessage.contains("malformed GTID interval"))
    val bad2 = intercept[IllegalArgumentException] {
      Replication.GtidSetCodec(a).toSeq(s"$a:1e3")
    }
    assert(bad2.getMessage.contains("malformed GTID interval"))
    // end to end: resume from a set naming BOTH UUIDs lands on the same
    // state as resume-by-seq at the decoded horizon
    val log = Tables.cdcLog(spark, sf)
    def replay(from: Option[Long], gtid: Option[String]): Set[Seq[Any]] = {
      val base = tmp()
      (1 to 3).foreach(w => graft.streaming.StreamingOps.writeWave(
        log.filter(col("seq") === w), s"$base/in", w - 1))
      gtid match {
        case Some(g) => Replication.incrementalSyncFromPosition(
          spark, log.schema, s"$base/in", s"$base/ckpt", s"$base/state",
          g, codec)
        case None => Replication.incrementalSync(spark, log.schema,
          s"$base/in", s"$base/ckpt", s"$base/state", fromSeq = from)
      }
      Replication.appliedState(spark, s"$base/state").collect()
        .map(_.toSeq).toSet
    }
    assert(replay(None, Some(s"$a:1,$b:1")) == replay(Some(2L), None),
      "failover-chain GTID resume must equal seq resume at the horizon")
  }

  test("RENAME TABLE: one statement swaps table dirs with MySQL's " +
      "left-to-right semantics and refuses invalid plans up front") {
    import graft.streaming.StateFs
    val root = tmp()
    def mk(t: String, tag: String): Unit =
      StateFs.writeAtomic(s"$root/$t/_schema", tag)
    def tag(t: String): Option[String] = StateFs.readSmall(s"$root/$t/_schema")
    mk("orders", "live"); mk("_orders_gho", "shadow")
    // the gh-ost cutover statement: works ONLY because the list runs
    // left-to-right (orders is moved away before the shadow lands on it)
    Replication.renameTables(root,
      Seq("orders" -> "_orders_del", "_orders_gho" -> "orders"))
    assert(tag("orders").contains("shadow"))
    assert(tag("_orders_del").contains("live"))
    assert(!StateFs.exists(s"$root/_orders_gho"))
    assert(!StateFs.exists(s"$root/_rename_tables"), "journal retired")
    // occupied target with no rename-away refuses — and refuses BEFORE
    // any move (all-or-nothing): both dirs intact after
    val e1 = intercept[IllegalArgumentException] {
      Replication.renameTables(root, Seq("orders" -> "_orders_del"))
    }
    assert(e1.getMessage.contains("already exists at its turn"))
    assert(tag("orders").contains("shadow") &&
      tag("_orders_del").contains("live"))
    // missing source refuses by name
    val e2 = intercept[IllegalArgumentException] {
      Replication.renameTables(root, Seq("nope" -> "other"))
    }
    assert(e2.getMessage.contains("does not exist at its turn"))
    // `a TO b, b TO c` with b occupied refuses at a's turn (b is only
    // freed AFTER a's move in MySQL's ordering — same here)
    val e3 = intercept[IllegalArgumentException] {
      Replication.renameTables(root,
        Seq("_orders_del" -> "orders", "orders" -> "archive"))
    }
    assert(e3.getMessage.contains("'orders' already exists at its turn"))
    // a three-step rotation (swap via temp) — every intermediate slot
    // free at its turn
    Replication.renameTables(root, Seq("orders" -> "_tmp_swap",
      "_orders_del" -> "orders", "_tmp_swap" -> "_orders_del"))
    assert(tag("orders").contains("live"))
    assert(tag("_orders_del").contains("shadow"))
    // the journal's namespace is reserved — including writeAtomic's
    // '.tmp' sibling, which a table move would occupy and wedge
    Seq("_rename_tables", "_rename_tables.tmp").foreach { bad =>
      val e = intercept[IllegalArgumentException] {
        Replication.renameTables(root, Seq("orders" -> bad))
      }
      assert(e.getMessage.contains("journal"))
    }
  }

  test("RENAME TABLE crash mid-plan: the cursored journal completes the " +
      "statement from any interruption point, including the move/cursor " +
      "window") {
    import graft.streaming.StateFs
    val root = tmp()
    StateFs.writeAtomic(s"$root/a/_schema", "A")
    StateFs.writeAtomic(s"$root/b/_schema", "B")
    val plan = "a\t_tmp\nb\ta\n_tmp\tb"
    // crash after step 0's move AND its cursor publish: journal says
    // done=1, steps 1..2 pending
    StateFs.writeAtomic(s"$root/_rename_tables", s"done=1\n$plan")
    StateFs.moveDir(s"$root/a", s"$root/_tmp")
    Replication.healTableRenames(root)
    assert(StateFs.readSmall(s"$root/a/_schema").contains("B"))
    assert(StateFs.readSmall(s"$root/b/_schema").contains("A"))
    assert(!StateFs.exists(s"$root/_tmp"))
    assert(!StateFs.exists(s"$root/_rename_tables"))
    // crash INSIDE the window — step 1's move ran but its cursor did
    // not publish: heal recognizes the step done (source gone under a
    // validated plan means the move ran) and continues, never double-
    // moving
    StateFs.writeAtomic(s"$root/_rename_tables", s"done=1\n$plan")
    StateFs.moveDir(s"$root/a", s"$root/_tmp") // step 0 (done per cursor)
    StateFs.moveDir(s"$root/b", s"$root/a")    // step 1 moved, cursor stale
    Replication.healTableRenames(root)
    assert(StateFs.readSmall(s"$root/a/_schema").contains("A"))
    assert(StateFs.readSmall(s"$root/b/_schema").contains("B"))
    assert(!StateFs.exists(s"$root/_rename_tables"))
    // heal with no journal is a no-op; a fresh statement heals leftovers
    // first by contract (renameTables entry) — already exercised above
    Replication.healTableRenames(root)
    assert(StateFs.readSmall(s"$root/a/_schema").contains("A"))
  }

  test("OSC cutover re-keys: the swapped-in table serves under its OWN " +
      "key declaration with no migration") {
    // the re-key a gh-ost migration exists to deliver (ALTER ... ADD
    // PRIMARY KEY via shadow copy): live `orders` is keyed okey, the
    // shadow is keyed (okey, line_no) — after the atomic rename the
    // served `orders` collapses per composite tuple, because _keycols
    // moved with the directory; nothing was rewritten or re-declared
    import graft.streaming.StreamingOps
    val base = tmp()
    val root = s"$base/tables"
    def frame(rows: Seq[(String, Long, Long, java.lang.Long,
        java.lang.Double, String)]) =
      spark.createDataFrame(rows)
        .toDF("op", "seq", "okey", "line_no", "price", "status")
        .withColumn("ts", timestamp_seconds(lit(1700000000L) + col("seq")))
        .select(col("op"), col("seq"), col("ts"), col("okey"),
          col("line_no"), col("price"), col("status"))
    // live replica: single-column key — two events of okey=1 COLLAPSE
    val live = frame(Seq(("I", 1L, 1L, 0L, 10.0, "A"),
      ("U", 2L, 1L, 0L, 11.0, "B")))
    StreamingOps.writeWave(live, s"$base/in_live", 0)
    StreamingOps.runCdcPass(spark, FileCdcSource(live.schema, s"$base/in_live"),
      s"$base/ckpt_live", s"$root/orders")
    // shadow fill: COMPOSITE key — same okey, two lines, both live
    val shadow = frame(Seq(("I", 1L, 1L, 1L, 5.0, "X"),
      ("I", 2L, 1L, 2L, 6.0, "Y")))
    StreamingOps.writeWave(shadow, s"$base/in_gho", 0)
    StreamingOps.runCdcPass(spark,
      FileCdcSource(shadow.schema, s"$base/in_gho"),
      s"$base/ckpt_gho", s"$root/_orders_gho",
      keyCols = Seq("okey", "line_no"))
    Replication.renameTables(root,
      Seq("orders" -> "_orders_del", "_orders_gho" -> "orders"))
    // the swapped-in `orders` collapses per (okey, line_no): two rows
    // survive where the old key declaration would have merged them
    val served = StreamingOps.readLatestState(spark, s"$root/orders")
      .select(col("okey"), col("line_no"), col("price")).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(served == Map((1L, 1L) -> 5.0, (1L, 2L) -> 6.0),
      s"composite _keycols must travel with the dir: $served")
    // the retired copy still collapses per its own single-column key
    val retired = StreamingOps.readLatestState(spark, s"$root/_orders_del")
      .select(col("okey"), col("price")).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(retired == Map(1L -> 11.0))
  }

  test("moveDir invalidates the clean-dir memo: a swapped-in dir's DDL " +
      "gate files are honored at the destination path") {
    import graft.streaming.StateFs
    val root = tmp()
    // destination path probed clean first (memoized)
    StateFs.writeAtomic(s"$root/dst/_keycols", "okey")
    assert(StateFs.dirHasNoDdl(s"$root/dst"), "clean before the swap")
    // a dir carrying a serving floor lands there via the rename verb
    StateFs.writeAtomic(s"$root/src/_purge_floor", "7")
    StateFs.deleteRecursive(s"$root/dst")
    StateFs.moveDir(s"$root/src", s"$root/dst")
    assert(!StateFs.dirHasNoDdl(s"$root/dst"),
      "the arriving dir's gate files must defeat the stale clean memo")
  }

  test("replicaStatus reads every published control surface") {
    val log = Tables.cdcLog(spark, sf)
    val base = tmp()
    (1 to 3).foreach(w => graft.streaming.StreamingOps.writeWave(
      log.filter(col("seq") === w), s"$base/in", w - 1))
    Replication.incrementalSync(spark, log.schema, s"$base/in",
      s"$base/ckpt", s"$base/state")
    // every epoch dir records its applied position (`_maxseq`), so the
    // status of a replica without txn accounting or a DLQ starts no
    // Spark job; an epoch whose record is gone is scanned, alone, and
    // the answer does not change
    def scanFree(state: String, applied: Long): Unit = {
      val (l, st) = listened(Replication.replicaStatus(spark, state))
      assert(l.jobCount == 0 && st.appliedSeq.contains(applied),
        s"$state: ${l.jobCount} jobs, $st")
      val newest = graft.streaming.StateFs.epochIds(state).max
      graft.streaming.StateFs.deleteRecursive(s"$state/epoch=$newest/_maxseq")
      val (ls, scanned) = listened(Replication.replicaStatus(spark, state))
      assert(ls.jobCount > 0 && scanned.appliedSeq.contains(applied),
        s"$state without epoch=$newest's record: ${ls.jobCount} jobs, " +
          s"$scanned")
    }
    scanFree(s"$base/state", 3L)
    val bv = tmp()
    (1 to 3).foreach(w => graft.streaming.StreamingOps.writeWave(
      log.filter(col("seq") === w), s"$bv/in", w - 1))
    Replication.incrementalSyncWithView(spark, log.schema, s"$bv/in",
      s"$bv/ckpt", s"$bv/state", s"$bv/mv")
    scanFree(s"$bv/state", 3L)
    val s1 = Replication.replicaStatus(spark, s"$base/state")
    assert(s1.appliedSeq.contains(3L) && s1.deltaEpochs == 3 &&
      s1.baselineEpochs == 0 && s1.keyCols == Seq("okey") &&
      s1.columns.contains("price") && s1.pendingRows == 0L &&
      s1.purgeFloor.isEmpty && !s1.historyRetained, s"fresh sync: $s1")
    // a GC'ing compaction folds the deltas and publishes the floor
    graft.streaming.StreamingOps.compactState(spark, s"$base/state",
      tombstoneHorizon = Some(0))
    val s2 = Replication.replicaStatus(spark, s"$base/state")
    // the purged tombstones' rows are gone (the baseline's own max seq
    // is 2) but their APPLICATION is fact — the floor records seq 3 and
    // the status folds it into the applied position
    assert(s2.deltaEpochs == 0 && s2.baselineEpochs == 1 &&
      s2.purgeFloor.contains(3L) && s2.compactHorizon.isDefined &&
      s2.appliedSeq.contains(3L), s"post-GC: $s2")
    // a keepHistory dir reports its retention mode
    val b2 = tmp()
    (1 to 2).foreach(w => graft.streaming.StreamingOps.writeWave(
      log.filter(col("seq") === w), s"$b2/in", w - 1))
    Replication.incrementalSync(spark, log.schema, s"$b2/in",
      s"$b2/ckpt", s"$b2/state", keepHistory = true)
    assert(Replication.replicaStatus(spark, s"$b2/state").historyRetained)
    // a declared truncate surfaces as the truncate floor (and folds into
    // the applied position like the purge floor does)
    val b3 = tmp()
    (1 to 3).foreach(w => graft.streaming.StreamingOps.writeWave(
      log.filter(col("seq") === w), s"$b3/in", w - 1))
    Replication.incrementalSync(spark, log.schema, s"$b3/in",
      s"$b3/ckpt", s"$b3/state", truncateAtSeq = Some(1L))
    val s3 = Replication.replicaStatus(spark, s"$b3/state")
    assert(s3.truncateFloor.contains(1L) && s3.appliedSeq.contains(3L),
      s"truncate floor: $s3")
  }

  test("replicaStatus: txn accounting reads the right pending root, loudly") {
    // single-table txn sync roots _pending under the STATE dir — the
    // default root reports the abandoned tail
    val base = tmp()
    graft.streaming.StreamingOps.writeWave(txnDf(Seq(
      TxnEv("I", 1, 1, 10.0, "O", 10), TxnEv("C", 2, -1, 0.0, null, 10),
      TxnEv("U", 3, 1, 11.0, "P", 99))), s"$base/in", 0)
    val schema = txnDf(Seq(TxnEv("I", 1, 1, 1.0, "O", 1))).schema
    Replication.incrementalSync(spark, schema, s"$base/in", s"$base/ckpt",
      s"$base/state", txnCol = Some("txn"))
    val st = Replication.replicaStatus(spark, s"$base/state",
      txnCol = Some("txn"))
    assert(st.pendingRows == 1L, s"single-table txn tail: $st")
    // a multi-table topology roots _pending under the sync's ckptDir:
    // the default root has no _pending at all — asking for txn
    // accounting there must fail loudly (a silent 0 would mask an
    // abandoned-transaction backlog), and the correct pendingRoot
    // reports the topology-level tail
    val bm = tmp()
    graft.streaming.StreamingOps.writeWave(txnDf(Seq(
      TxnEv("I", 1, 1, 10.0, "O", 10), TxnEv("C", 2, -1, 0.0, null, 10),
      TxnEv("U", 3, 1, 11.0, "P", 99)))
      .withColumn("table", lit("t_a")), s"$bm/in", 0)
    Replication.incrementalSyncMulti(spark,
      txnDf(Seq(TxnEv("I", 1, 1, 1.0, "O", 1)))
        .withColumn("table", lit("t_a")).schema,
      s"$bm/in", s"$bm/ckpt", Map("t_a" -> s"$bm/sa"),
      txnCol = Some("txn"))
    val e = intercept[IllegalArgumentException] {
      Replication.replicaStatus(spark, s"$bm/sa", txnCol = Some("txn"))
    }
    assert(e.getMessage.contains("pendingRoot"), e.getMessage)
    val stm = Replication.replicaStatus(spark, s"$bm/sa",
      txnCol = Some("txn"), pendingRoot = Some(s"$bm/ckpt"))
    assert(stm.pendingRows == 1L, s"topology txn tail: $stm")
  }

  test("the MySQL type surface survives checksum and repair hash-exact") {
    // DECIMAL money, unsigned-range DECIMAL(20,0) ids, enum strings and
    // JSON text through the OPERATIONAL flows: the order-independent
    // checksum must flag a 1-cent-class decimal drift, and the row
    // repair must heal it back to hash-exact equality — the two flows a
    // replication operator actually runs against typed tables
    import org.apache.spark.sql.expressions.Window
    val base = tmp()
    val log = Tables.cdcLogTyped(spark, sf)
    graft.streaming.StreamingOps.writeWave(log, s"$base/in", 0)
    Replication.incrementalSync(spark, log.schema, s"$base/in",
      s"$base/ckpt", s"$base/state")
    val w = Window.partitionBy(col("okey")).orderBy(col("seq").desc)
    val truth = log.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1 && col("op") =!= "D")
      .select(col("okey"), col("price"), col("status"), col("ts"),
        col("amount"), col("big_id"), col("tier"), col("attrs"))
      .localCheckpoint()
    def served() = Replication.appliedState(spark, s"$base/state").drop("op")
    assert(Replication.consistencyCheck(truth, served(), "okey").consistent)
    // drift: a stray UPDATE bumps amount by exactly 1.00 on a key slice
    truth.filter(col("okey") % 11 === 0)
      .select(lit("U").as("op"), lit(1000L).as("seq"), col("ts"),
        col("okey"), col("price"), col("status"),
        (col("amount") + expr("CAST(1.00 AS DECIMAL(3,2))"))
          .cast(org.apache.spark.sql.types.DecimalType(12, 2)).as("amount"),
        col("big_id"), col("tier"), col("attrs"))
      .write.mode("overwrite").parquet(s"$base/state/epoch=99")
    val drifted = Replication.consistencyCheck(truth, served(), "okey")
    assert(!drifted.consistent && !drifted.checksumsMatch,
      s"a decimal drift must fail the checksum: $drifted")
    val rep = Replication.repairSync(spark, truth, s"$base/state")
    assert(rep.updated > 0 && rep.inserted == 0 && rep.deleted == 0,
      s"the drift is updates-only: $rep")
    assert(Replication.consistencyCheck(truth, served(), "okey").consistent,
      "repair must restore hash-exact typed equality")
  }

  test("configured sync rejects rename mappings that collide on a destination") {
    val log = Tables.cdcLog(spark, sf).withColumn("table", lit("a"))
    val cfg = Replication.SyncConfig(
      remap = Map("shard_a" -> "t", "shard_b" -> "t"))
    val e = intercept[IllegalArgumentException] {
      Replication.incrementalSyncConfigured(spark, log.schema, tmp(), tmp(),
        tmp(), Seq("shard_a", "shard_b"), cfg)
    }
    assert(e.getMessage.contains("collides"))
  }

  test("multi-table sync: duplicate wave delivery is a no-op per table") {
    val base = tmp()
    val log = Tables.cdcLog(spark, sf).withColumn("table",
      when(col("okey") % 2 === 0, "d_a").otherwise("d_b"))
    (1 to 3).foreach(w => graft.streaming.StreamingOps.writeWave(
      log.filter(col("seq") === w), s"$base/in", w - 1))
    val dirs = Map("d_a" -> s"$base/sa", "d_b" -> s"$base/sb")
    Replication.incrementalSyncMulti(spark, log.schema, s"$base/in",
      s"$base/ckpt", dirs)
    val before = dirs.map { case (t, d) =>
      t -> Replication.appliedState(spark, d).collect().map(_.toSeq).toSet }
    // the last wave arrives AGAIN (at-least-once delivery): the staged
    // partitioned write + delete-then-rename must absorb the replay
    graft.streaming.StreamingOps.writeWave(
      log.filter(col("seq") === 3), s"$base/in", 3)
    val p2 = Replication.incrementalSyncMulti(spark, log.schema, s"$base/in",
      s"$base/ckpt", dirs)
    for ((t, d) <- dirs) {
      assert(Replication.appliedState(spark, d).collect().map(_.toSeq).toSet
        == before(t), s"$t state changed under duplicate delivery")
      assert(p2(t).lastSeq.contains(3L))
    }
  }

  test("idle incremental pass applies nothing and reports zero progress") {
    val base = tmp()
    val log = Tables.cdcLog(spark, sf)
    (1 to 3).foreach(w => graft.streaming.StreamingOps.writeWave(
      log.filter(col("seq") === w), s"$base/in", w - 1))
    Replication.incrementalSync(spark, log.schema, s"$base/in",
      s"$base/ckpt", s"$base/state")
    val before = Replication.appliedState(spark, s"$base/state").count()
    // the cron-idle case: no new binlog since the last pass
    val p2 = Replication.incrementalSync(spark, log.schema, s"$base/in",
      s"$base/ckpt", s"$base/state")
    assert(p2.rowsApplied == 0 && p2.epochs == 0 && p2.lastSeq.isEmpty)
    assert(Replication.appliedState(spark, s"$base/state").count() == before)
  }

  test("multi-table sync handles a table absent from some waves") {
    val base = tmp()
    val log = Tables.cdcLog(spark, sf).withColumn("table",
      when(col("okey") % 2 === 0, "t_a").otherwise("t_b"))
    // t_b's inserts arrive a wave late: wave 0 is t_a-only
    graft.streaming.StreamingOps.writeWave(
      log.filter(col("seq") === 1 && col("table") === "t_a"), s"$base/in", 0)
    graft.streaming.StreamingOps.writeWave(
      log.filter(col("seq") === 1 && col("table") === "t_b" ||
        col("seq") === 2), s"$base/in", 1)
    graft.streaming.StreamingOps.writeWave(
      log.filter(col("seq") === 3), s"$base/in", 2)
    val dirs = Map("t_a" -> s"$base/sa", "t_b" -> s"$base/sb")
    val prog = Replication.incrementalSyncMulti(spark, log.schema,
      s"$base/in", s"$base/ckpt", dirs)
    assert(prog("t_a").epochs == 3 && prog("t_b").epochs == 2)
    val batch = q("agg_latest_by_version")
    for ((t, dir) <- dirs) {
      val expect = batch.filter(
        if (t == "t_a") col("okey") % 2 === 0 else col("okey") % 2 =!= 0)
      assert(Replication.consistencyCheck(
        expect, Replication.appliedState(spark, dir), "okey").consistent)
    }
  }

  test("incremental sync compacts once epochs exceed the threshold") {
    val base = tmp()
    val log = Tables.cdcLog(spark, sf)
    (1 to 3).foreach(w => graft.streaming.StreamingOps.writeWave(
      log.filter(col("seq") === w), s"$base/in", w - 1))
    Replication.incrementalSync(spark, log.schema, s"$base/in",
      s"$base/ckpt", s"$base/state", compactEvery = 1)
    val epochs = new java.io.File(s"$base/state").listFiles()
      .count(f => f.isDirectory && f.getName.startsWith("epoch="))
    assert(epochs == 1, s"expected compaction to one epoch, got $epochs")
    val applied = Replication.appliedState(spark, s"$base/state")
      .collect().map(_.toSeq).toSet
    val batch = q("agg_latest_by_version").collect().map(_.toSeq).toSet
    assert(applied == batch)
  }

  test("mid-stream DDL: envelope gains a column between waves; resumed pass applies it") {
    val base = tmp()
    val log = Tables.cdcLog(spark, sf)
    // pre-DDL pass: the v1 envelope only (wave 0 = the seq-1 inserts)
    graft.streaming.StreamingOps.writeWave(
      log.filter(col("seq") === 1), s"$base/in", 0)
    val p1 = Replication.incrementalSync(spark, log.schema, s"$base/in",
      s"$base/ckpt", s"$base/state")
    assert(p1.epochs == 1 && p1.lastSeq.contains(1L))
    // DDL: the envelope gains `channel` (same shape as A12's batch
    // fixture); the stream stops and RESUMES from the same checkpoint
    // with the evolved schema — the weak spot of the reference tool
    // class, exercised live
    val v2 = log.filter(col("seq") >= 2).withColumn("channel",
      when(col("op") === "D", lit(null).cast("string"))
        .otherwise(concat(lit("ch"), (col("okey") % 4).cast("string"))))
    graft.streaming.StreamingOps.writeWave(
      v2.filter(col("seq") === 2), s"$base/in", 1)
    graft.streaming.StreamingOps.writeWave(
      v2.filter(col("seq") === 3), s"$base/in", 2)
    val p2 = Replication.incrementalSync(spark, v2.schema, s"$base/in",
      s"$base/ckpt", s"$base/state")
    // exactly-once across the DDL: every log event consumed exactly once
    assert(p1.rowsApplied + p2.rowsApplied == log.count())
    assert(p2.epochs == 2 && p2.lastSeq.contains(3L))
    // post-DDL served state == A12's batch answer over the same evolved
    // log: keys last touched pre-DDL carry NULL, post-DDL keys the value
    val applied = Replication.appliedState(spark, s"$base/state")
      .collect().map(_.toSeq).toSet
    val batch = q("cdc_schema_evolution").collect().map(_.toSeq).toSet
    assert(applied == batch)
  }

  test("facade ddlSql: raw QueryEvent text drives the resumed pass; " +
      "ambiguous or dir-level statements refuse loudly") {
    import graft.streaming.StreamingOps
    val log = Tables.cdcLog(spark, sf)
    val base = tmp()
    val v1 = log.filter(col("seq") === 1).withColumn("channel",
      concat(lit("old"), (col("okey") % 4).cast("string")))
    StreamingOps.writeWave(v1, s"$base/in", 0)
    Replication.incrementalSync(spark, v1.schema, s"$base/in",
      s"$base/ckpt", s"$base/state")
    val v2 = log.filter(col("seq") === 2).withColumn("chan",
      concat(lit("new"), (col("okey") % 4).cast("string")))
    StreamingOps.writeWave(v2, s"$base/in", 1)
    Replication.incrementalSync(spark, v2.schema, s"$base/in",
      s"$base/ckpt", s"$base/state",
      ddlSql = Seq(1L -> "ALTER TABLE orders RENAME COLUMN channel TO chan"))
    val served = Replication.appliedState(spark, s"$base/state")
    assert(!served.columns.contains("channel"))
    // a key only touched pre-DDL serves its old value under the new name
    val preOnly = served.filter(col("okey") % 3 =!= 0)
      .filter(!col("chan").startsWith("old")).count()
    assert(preOnly == 0, "pre-DDL history lost under the renamed column")
    // both DDL vocabularies at once is ambiguous — refuse
    val both = intercept[IllegalArgumentException] {
      Replication.incrementalSync(spark, v2.schema, s"$base/in",
        s"$base/ckpt", s"$base/state",
        renameCols = Map("a" -> "b"),
        ddlSql = Seq(1L -> "ALTER TABLE orders DROP COLUMN x"))
    }
    assert(both.getMessage.contains("mutually exclusive"))
    // RENAME TABLE rebinds dirs, not columns — directed to renameTables
    val rt = intercept[IllegalArgumentException] {
      Replication.incrementalSync(spark, v2.schema, s"$base/in",
        s"$base/ckpt", s"$base/state",
        ddlSql = Seq(1L -> "RENAME TABLE orders TO archive"))
    }
    assert(rt.getMessage.contains("renameTables"))
  }

  test("ddlSql gap fold == applying the statements one pass each " +
      "(rename chain; gap-born add+rename)") {
    import graft.streaming.StreamingOps
    val log = Tables.cdcLog(spark, sf).filter(col("okey") <= 2000)
    def withCol(seqSel: Long => Boolean, name: String, tag: String) = {
      val base = if (seqSel(1L)) log.filter(col("seq") === 1)
        else log.filter(col("seq") >= 2)
      base.withColumn(name,
        when(col("op") === "D", lit(null).cast("string"))
          .otherwise(concat(lit(tag), (col("okey") % 3).cast("string"))))
    }
    def served(dir: String): (Set[String], Set[Seq[Any]]) = {
      val df = Replication.appliedState(spark, s"$dir/state")
      (df.columns.toSet, df.collect().map(_.toSeq).toSet)
    }
    // rename CHAIN a→b→c inside one gap: the fold collapses to a→c;
    // the sequential reference renames one pass at a time (a no-row
    // pass still settles DDL metadata before streaming)
    val v1 = withCol(_ == 1L, "a", "old")
    val v2 = withCol(_ != 1L, "c", "new")
    val one = tmp()
    StreamingOps.writeWave(v1, s"$one/in", 0)
    Replication.incrementalSync(spark, v1.schema, s"$one/in",
      s"$one/ckpt", s"$one/state")
    StreamingOps.writeWave(v2, s"$one/in", 1)
    Replication.incrementalSync(spark, v2.schema, s"$one/in",
      s"$one/ckpt", s"$one/state",
      ddlSql = Seq(1L -> "ALTER TABLE orders RENAME COLUMN a TO b",
        1L -> "ALTER TABLE orders RENAME COLUMN b TO c"),
      ddlTable = Some("orders"))
    val many = tmp()
    val v1mid = withCol(_ == 1L, "b", "old") // the intermediate envelope
    StreamingOps.writeWave(v1, s"$many/in", 0)
    Replication.incrementalSync(spark, v1.schema, s"$many/in",
      s"$many/ckpt", s"$many/state")
    Replication.incrementalSync(spark, v1mid.schema, s"$many/in",
      s"$many/ckpt", s"$many/state", renameCols = Map("a" -> "b"))
    StreamingOps.writeWave(v2, s"$many/in", 1)
    Replication.incrementalSync(spark, v2.schema, s"$many/in",
      s"$many/ckpt", s"$many/state", renameCols = Map("b" -> "c"))
    assert(served(one) == served(many),
      "folded rename chain diverged from the sequential replay")
    // gap-born ADD…DEFAULT then RENAME: the fold re-keys the default
    // onto the final name (no state-side rename — the state never saw
    // the birth name); sequential adds then renames
    val w2add = withCol(_ != 1L, "memo", "m")
    val oneB = tmp()
    StreamingOps.writeWave(log.filter(col("seq") === 1), s"$oneB/in", 0)
    Replication.incrementalSync(spark,
      log.filter(col("seq") === 1).schema, s"$oneB/in",
      s"$oneB/ckpt", s"$oneB/state")
    StreamingOps.writeWave(w2add, s"$oneB/in", 1)
    Replication.incrementalSync(spark, w2add.schema, s"$oneB/in",
      s"$oneB/ckpt", s"$oneB/state",
      ddlSql = Seq(
        1L -> "ALTER TABLE orders ADD COLUMN note VARCHAR(8) DEFAULT 'x'",
        1L -> "ALTER TABLE orders RENAME COLUMN note TO memo"),
      ddlTable = Some("orders"))
    val manyB = tmp()
    val w2noteSchema = withCol(_ != 1L, "note", "m").schema
    StreamingOps.writeWave(log.filter(col("seq") === 1), s"$manyB/in", 0)
    Replication.incrementalSync(spark,
      log.filter(col("seq") === 1).schema, s"$manyB/in",
      s"$manyB/ckpt", s"$manyB/state")
    Replication.incrementalSync(spark, w2noteSchema, s"$manyB/in",
      s"$manyB/ckpt", s"$manyB/state",
      defaultCols = Map("note" ->
        graft.streaming.StreamingOps.ColumnDefault(1L, "'x'")))
    StreamingOps.writeWave(w2add, s"$manyB/in", 1)
    Replication.incrementalSync(spark, w2add.schema, s"$manyB/in",
      s"$manyB/ckpt", s"$manyB/state", renameCols = Map("note" -> "memo"))
    assert(served(oneB) == served(manyB),
      "folded add+rename diverged from the sequential replay")
    // the backfill really happened: a pre-DDL-only key serves 'x'
    val preOnly = Replication.appliedState(spark, s"$oneB/state")
      .filter(col("okey") % 3 =!= 0 && col("okey") % 7 =!= 0)
    assert(preOnly.filter(col("memo") =!= "x").count() == 0)
  }

  test("secondsBehindSource: a held transaction tail reads as its " +
      "event-time gap; a caught-up replica with trailing heartbeats reads 0") {
    // txnDf stamps ts = base + seq seconds, so seq gaps ARE second gaps
    val base = tmp()
    // wave 0: txn 10 commits (seqs 1-3); txn 20's update sits at seq 300
    // with NO commit marker — 297 wall-clock seconds of source history
    // the destination cannot apply yet
    graft.streaming.StreamingOps.writeWave(txnDf(Seq(
      TxnEv("I", 1, 1, 10.0, "O", 10), TxnEv("I", 2, 2, 20.0, "O", 10),
      TxnEv("C", 3, -1, 0.0, null, 10), TxnEv("U", 300, 1, 11.0, "P", 20))),
      s"$base/in", 0)
    Replication.incrementalSync(spark, txnDf(Seq(TxnEv("I", 1, 1, 1.0, "O", 1))).schema,
      s"$base/in", s"$base/ckpt", s"$base/state", txnCol = Some("txn"))
    val behind = Replication.replicaStatus(spark, s"$base/state",
      txnCol = Some("txn"))
    assert(behind.secondsBehindSource.contains(297.0),
      s"expected 297s behind, got ${behind.secondsBehindSource}")
    // the commit arrives: the tail applies, the replica is current
    graft.streaming.StreamingOps.writeWave(txnDf(Seq(
      TxnEv("C", 301, -1, 0.0, null, 20))), s"$base/in", 1)
    Replication.incrementalSync(spark, txnDf(Seq(TxnEv("I", 1, 1, 1.0, "O", 1))).schema,
      s"$base/in", s"$base/ckpt", s"$base/state", txnCol = Some("txn"))
    val caught = Replication.replicaStatus(spark, s"$base/state",
      txnCol = Some("txn"))
    assert(caught.secondsBehindSource.contains(0.0))
    // heartbeats on a QUIET source: op='H' rows resolve the source's
    // wall-clock without touching state — a caught-up replica whose only
    // traffic is keep-alives must read 0, never a phantom lag
    val hb = tmp()
    graft.streaming.StreamingOps.writeWave(txnDf(Seq(
      TxnEv("I", 1, 1, 10.0, "O", 0), TxnEv("I", 2, 2, 20.0, "O", 0))),
      s"$hb/in", 0)
    Replication.incrementalSync(spark, txnDf(Seq(TxnEv("I", 1, 1, 1.0, "O", 0))).schema,
      s"$hb/in", s"$hb/ckpt", s"$hb/state", heartbeats = true)
    graft.streaming.StreamingOps.writeWave(txnDf(Seq(
      TxnEv("H", 500, -1, 0.0, null, 0))), s"$hb/in", 1)
    Replication.incrementalSync(spark, txnDf(Seq(TxnEv("I", 1, 1, 1.0, "O", 0))).schema,
      s"$hb/in", s"$hb/ckpt", s"$hb/state", heartbeats = true)
    val idle = Replication.replicaStatus(spark, s"$hb/state")
    assert(idle.secondsBehindSource.contains(0.0),
      s"trailing heartbeats must read caught-up, got ${idle.secondsBehindSource}")
    // a heartbeat INTERLEAVED ahead of a held transaction must not
    // advance the applied position past the held events — a fresh
    // resume from that position would skip them (ADVICE r15)
    val mix = tmp()
    graft.streaming.StreamingOps.writeWave(txnDf(Seq(
      TxnEv("I", 1, 1, 10.0, "O", 1), TxnEv("C", 2, -1, 0.0, null, 1),
      TxnEv("U", 3, 1, 11.0, "P", 2), TxnEv("H", 10, -1, 0.0, null, 0))),
      s"$mix/in", 0)
    val held = Replication.incrementalSync(spark,
      txnDf(Seq(TxnEv("I", 1, 1, 1.0, "O", 0))).schema,
      s"$mix/in", s"$mix/ckpt", s"$mix/state",
      txnCol = Some("txn"), heartbeats = true)
    assert(held.lastSeq.contains(2L),
      s"heartbeat past a held txn must not advance position: ${held.lastSeq}")
    assert(Replication.replicaStatus(spark, s"$mix/state",
      txnCol = Some("txn")).secondsBehindSource.contains(8.0))
    // the commit arrives: position and clock both catch up
    graft.streaming.StreamingOps.writeWave(txnDf(Seq(
      TxnEv("C", 11, -1, 0.0, null, 2))), s"$mix/in", 1)
    val freed = Replication.incrementalSync(spark,
      txnDf(Seq(TxnEv("I", 1, 1, 1.0, "O", 0))).schema,
      s"$mix/in", s"$mix/ckpt", s"$mix/state",
      txnCol = Some("txn"), heartbeats = true)
    assert(freed.lastSeq.contains(11L))
    assert(Replication.replicaStatus(spark, s"$mix/state",
      txnCol = Some("txn")).secondsBehindSource.contains(0.0))
    // a dir no tracked pass ever wrote reports None, not a guess
    val cold = tmp()
    graft.streaming.StreamingOps.writeWave(txnDf(Seq(
      TxnEv("I", 1, 1, 10.0, "O", 0))), s"$cold/in", 0)
    graft.streaming.StreamingOps.runCdcPass(spark,
      FileCdcSource(txnDf(Seq(TxnEv("I", 1, 1, 1.0, "O", 0))).schema, s"$cold/in"),
      s"$cold/ckpt", s"$cold/state")
    assert(Replication.replicaStatus(spark, s"$cold/state")
      .secondsBehindSource.isEmpty)
  }

  test("txn-boundary apply: no epoch ever exposes a half-applied transaction") {
    val base = tmp()
    // txn 10 commits in wave 0; txn 20 STRADDLES waves 0/1 (its update to
    // okey=1 is in wave 0, commit in wave 1); txn 30's delete is in wave 1,
    // commit in wave 2 — the classic multi-row transaction across batch
    // boundaries
    val waves = Seq(
      Seq(TxnEv("I", 1, 1, 10.0, "O", 10), TxnEv("I", 2, 2, 20.0, "O", 10),
        TxnEv("C", 3, -1, 0.0, null, 10), TxnEv("U", 4, 1, 11.0, "P", 20)),
      Seq(TxnEv("I", 5, 3, 30.0, "O", 20), TxnEv("C", 6, -1, 0.0, null, 20),
        TxnEv("D", 7, 2, 0.0, null, 30)),
      Seq(TxnEv("C", 8, -1, 0.0, null, 30)))
    val progress = waves.zipWithIndex.map { case (wave, w) =>
      graft.streaming.StreamingOps.writeWave(txnDf(wave), s"$base/in", w)
      val p = Replication.incrementalSync(spark, txnDf(waves.head).schema,
        s"$base/in", s"$base/ckpt", s"$base/state", txnCol = Some("txn"))
      // the INVARIANT: after every single epoch, served state equals the
      // committed-transactions-only replay — never a partial transaction
      val delivered = waves.take(w + 1).flatten
      assert(servedTxnState(s"$base/state") == committedReplay(delivered),
        s"partial transaction exposed after wave $w")
      p
    }
    // lastSeq reports the applied POSITION: it advances through each
    // wave's commit markers too (a marker is resolved the batch it
    // arrives — real replicators move their position past the XID
    // event), so a caught-up destination reads position == horizon
    // instead of a phantom one-marker lag
    assert(progress.map(_.lastSeq) == Seq(Some(3L), Some(6L), Some(8L)))
    assert(progress.map(_.epochs) == Seq(1L, 1L, 1L))
    assert(progress.map(_.lag) == Seq(1L, 1L, 0L),
      "lag must read exactly the straddling txn's held tail")
  }

  test("DDL guardrail: an envelope type change is rejected by name at pass start") {
    val base = tmp()
    // pass 1 publishes the state schema with channel: STRING
    val v1 = txnDf(Seq(TxnEv("I", 1, 1, 10.0, "O", 0))).drop("txn")
      .withColumn("channel", lit("a"))
    graft.streaming.StreamingOps.writeWave(v1, s"$base/in", 0)
    Replication.incrementalSync(spark, v1.schema, s"$base/in",
      s"$base/ckpt", s"$base/state")
    // the resumed stream declares channel: INT — the one DDL class the
    // open envelope cannot absorb; it must fail before any batch applies
    val v2 = txnDf(Seq(TxnEv("U", 2, 1, 11.0, "P", 0))).drop("txn")
      .withColumn("channel", lit(7))
    graft.streaming.StreamingOps.writeWave(v2, s"$base/in", 1)
    val e = intercept[graft.streaming.StreamingOps.EnvelopeTypeChangeException] {
      Replication.incrementalSync(spark, v2.schema, s"$base/in",
        s"$base/ckpt", s"$base/state")
    }
    assert(e.column == "channel" && e.getMessage.contains("channel"))
    // nothing applied: the guardrail fired before the stream started
    assert(servedTxnState(s"$base/state") == Map(1L -> ("I", 10.0)))
  }

  test("DDL DROP COLUMN: dropped column serves NULL forward, old values for untouched keys") {
    val base = tmp()
    val v1 = txnDf(Seq(TxnEv("I", 1, 1, 10.0, "O", 0),
      TxnEv("I", 2, 2, 20.0, "O", 0))).drop("txn")
      .withColumn("channel", concat(lit("ch"), col("okey")))
    graft.streaming.StreamingOps.writeWave(v1, s"$base/in", 0)
    Replication.incrementalSync(spark, v1.schema, s"$base/in",
      s"$base/ckpt", s"$base/state")
    // DDL drops channel; the resumed pass rewrites okey=2 only
    val v2 = txnDf(Seq(TxnEv("U", 3, 2, 21.0, "P", 0))).drop("txn")
    graft.streaming.StreamingOps.writeWave(v2, s"$base/in", 1)
    Replication.incrementalSync(spark, v2.schema, s"$base/in",
      s"$base/ckpt", s"$base/state")
    // the published schema RETAINS the dropped column (it still has
    // history to serve), so reads need no footer sweep
    val published = graft.streaming.StreamingOps.readStateSchema(s"$base/state")
    assert(published.exists(_.fieldNames.contains("channel")))
    val served = Replication.appliedState(spark, s"$base/state")
      .select(col("okey"), col("price"), col("channel")).collect()
      .map(r => (r.getLong(0), r.getDouble(1),
        if (r.isNullAt(2)) null else r.getString(2))).toSet
    assert(served == Set((1L, 10.0, "ch1"), (2L, 21.0, null)),
      "post-drop rewrite must serve NULL; untouched keys keep their value")
  }

  test("abandoned transaction: the pending tail is visible in SyncProgress") {
    val base = tmp()
    // txn 10 commits; txn 99's client died mid-transaction — its two
    // events can never commit and sit in the pending tail forever
    graft.streaming.StreamingOps.writeWave(txnDf(Seq(
      TxnEv("I", 1, 1, 10.0, "O", 10), TxnEv("C", 2, -1, 0.0, null, 10),
      TxnEv("U", 3, 1, 11.0, "P", 99), TxnEv("I", 4, 2, 20.0, "O", 99))),
      s"$base/in", 0)
    val p1 = Replication.incrementalSync(spark, txnDf(Seq(
      TxnEv("I", 1, 1, 1.0, "O", 1))).schema, s"$base/in", s"$base/ckpt",
      s"$base/state", txnCol = Some("txn"))
    assert(p1.pendingRows == 2L, "held txn rows must surface in progress")
    // a later healthy pass: txn 11 commits, the abandoned tail persists —
    // a pendingRows that never drains is the operator's abandoned-txn
    // signal
    graft.streaming.StreamingOps.writeWave(txnDf(Seq(
      TxnEv("I", 5, 3, 30.0, "O", 11), TxnEv("C", 6, -1, 0.0, null, 11))),
      s"$base/in", 1)
    val p2 = Replication.incrementalSync(spark, txnDf(Seq(
      TxnEv("I", 1, 1, 1.0, "O", 1))).schema, s"$base/in", s"$base/ckpt",
      s"$base/state", txnCol = Some("txn"))
    assert(p2.pendingRows == 2L)
    assert(servedTxnState(s"$base/state") ==
      Map(1L -> ("I", 10.0), 3L -> ("I", 30.0)))
  }

  test("replication lag: sourceMaxSeq tracks the seen horizon; lag drains on commit") {
    val base = tmp()
    val schema = txnDf(Seq(TxnEv("I", 1, 1, 1.0, "O", 1))).schema
    // wave 0: txn 10 commits (applied through seq 2); txn 99's trailing
    // events (seq 3-4) are consumed but PENDING — the destination's
    // applied position stalls at 2 while the seen horizon reads 4
    graft.streaming.StreamingOps.writeWave(txnDf(Seq(
      TxnEv("I", 1, 1, 10.0, "O", 10), TxnEv("C", 2, -1, 0.0, null, 10),
      TxnEv("U", 3, 1, 11.0, "P", 99), TxnEv("I", 4, 2, 20.0, "O", 99))),
      s"$base/in", 0)
    val p1 = Replication.incrementalSync(spark, schema, s"$base/in",
      s"$base/ckpt", s"$base/state", txnCol = Some("txn"))
    assert(p1.sourceMaxSeq.contains(4L), s"seen horizon: $p1")
    assert(p1.lastSeq.contains(2L) && p1.lag == 2L,
      s"an uncommitted tail must read as positive lag: $p1")
    // the time-lag marks carry the same two horizons as event times
    def us(sq: Long) = Some((1700000000L + sq) * 1000000L)
    assert(graft.streaming.StreamingOps.readLagMarks(s"$base/state") ==
      ((us(2), us(4))))
    // wave 1: txn 99 finally commits — the held events apply, the
    // applied position catches the horizon, lag drains to 0
    graft.streaming.StreamingOps.writeWave(txnDf(Seq(
      TxnEv("C", 5, -1, 0.0, null, 99))), s"$base/in", 1)
    val p2 = Replication.incrementalSync(spark, schema, s"$base/in",
      s"$base/ckpt", s"$base/state", txnCol = Some("txn"))
    assert(p2.lag == 0L && p2.pendingRows == 0L, s"lag must drain: $p2")
    assert(graft.streaming.StreamingOps.readLagMarks(s"$base/state") ==
      ((us(5), us(5))))
    // caught-up idle pass: nothing seen, nothing applied, lag 0
    val p3 = Replication.incrementalSync(spark, schema, s"$base/in",
      s"$base/ckpt", s"$base/state", txnCol = Some("txn"))
    assert(p3.sourceMaxSeq.isEmpty && p3.lag == 0L)
  }

  /** SQL executions a streaming micro-batch runs INSIDE its foreachBatch
    * body, grouped by the micro-batch's root execution id (an action
    * nested in the batch carries the batch's id as its root). Listener
    * events arrive asynchronously: [[drain]] runs a marked action and
    * waits until the listener has seen it, so everything before it has
    * been delivered. */
  private final class BatchActions
      extends org.apache.spark.scheduler.SparkListener {
    // (execution id, root execution id, description, plan root node)
    private val starts = new java.util.concurrent
      .ConcurrentLinkedQueue[(Long, Long, String, String)]()
    // descriptions of the Spark jobs started
    private val jobs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    override def onJobStart(
        e: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
      jobs.add(String.valueOf(Option(e.properties)
        .map(_.getProperty("spark.job.description")).orNull)); ()
    }
    override def onOtherEvent(
        e: org.apache.spark.scheduler.SparkListenerEvent): Unit = e match {
      case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
        // an adaptive plan's root says nothing; name its first child
        val p = s.sparkPlanInfo
        val node = p.children.headOption.filter(_ =>
          p.nodeName == "AdaptiveSparkPlan").fold(p.nodeName)(_.nodeName)
        starts.add((s.executionId, s.rootExecutionId.getOrElse(s.executionId),
          s.description, node))
      case _ =>
    }
    def drain(): Unit = {
      val mark = s"drain-${java.util.UUID.randomUUID()}"
      spark.sparkContext.setJobDescription(mark)
      try spark.range(1).collect() finally spark.sparkContext.setJobDescription(null)
      val deadline = System.nanoTime() + 60L * 1000000000L
      import scala.jdk.CollectionConverters._
      while (!starts.asScala.exists(_._3 == mark)) {
        assert(System.nanoTime() < deadline, "listener bus did not drain")
        Thread.sleep(20)
      }
    }
    def clear(): Unit = { starts.clear(); jobs.clear() }
    /** Spark jobs started since [[clear]], the drain marks excluded */
    def jobCount: Int = {
      import scala.jdk.CollectionConverters._
      jobs.asScala.count(!_.startsWith("drain-"))
    }
    /** plan root nodes of the ROOT executions since [[clear]], the drain
      * marks excluded */
    def roots: Seq[String] = {
      import scala.jdk.CollectionConverters._
      starts.asScala.toSeq.filter { case (id, root, d, _) =>
        id == root && !String.valueOf(d).startsWith("drain-") }.map(_._4)
    }
    /** root execution → plan root nodes of the executions nested in it */
    def nested: Map[Long, Seq[String]] = {
      import scala.jdk.CollectionConverters._
      starts.asScala.toSeq.filter { case (id, root, _, _) => id != root }
        .groupBy(_._2).map { case (r, es) => r -> es.map(_._4) }
    }
  }

  /** Actions inside the ONE micro-batch of `sync`: the sync must run
    * exactly one micro-batch with nested actions. */
  private def batchActions(sync: => Unit): Seq[String] = {
    val batches = listened(sync)._1.nested
    assert(batches.size == 1, s"expected one micro-batch: $batches")
    batches.head._2
  }

  /** `body`'s result, with the drained listener that saw it run. */
  private def listened[T](body: => T): (BatchActions, T) = {
    val l = new BatchActions
    spark.sparkContext.addSparkListener(l)
    try {
      l.drain(); l.clear()
      val r = body
      l.drain()
      (l, r)
    } finally spark.sparkContext.removeSparkListener(l)
  }

  test("action-count guard: a txn-gated trackSeq micro-batch runs at most " +
      "carry write + delta write + 1 action; the view sync adds only its " +
      "view write and touched-bucket probe") {
    // position and lag bookkeeping ride on the writes each batch already
    // makes (observations), so a future fold that quietly adds an action
    // per batch back fails here
    val schema = txnDf(Seq(TxnEv("I", 1, 1, 1.0, "O", 1))).schema
    val seed = txnDf(Seq(
      TxnEv("I", 1, 1, 10.0, "O", 10), TxnEv("I", 2, 2, 20.0, "O", 10),
      TxnEv("C", 3, -1, 0.0, null, 10), TxnEv("I", 4, 3, 30.0, "O", 99)))
    // the measured batch reads a pending snapshot, commits the held txn,
    // updates an applied key and leaves a new txn pending
    val wave = txnDf(Seq(
      TxnEv("U", 5, 1, 11.0, "P", 11), TxnEv("C", 6, -1, 0.0, null, 99),
      TxnEv("C", 7, -1, 0.0, null, 11), TxnEv("I", 8, 4, 40.0, "O", 12)))
    val carryWrite = 1; val deltaWrite = 1
    val base = tmp()
    graft.streaming.StreamingOps.writeWave(seed, s"$base/in", 0)
    Replication.incrementalSync(spark, schema, s"$base/in", s"$base/ckpt",
      s"$base/state", txnCol = Some("txn"))
    graft.streaming.StreamingOps.writeWave(wave, s"$base/in", 1)
    var prog = Option.empty[Replication.SyncProgress]
    val cdc = batchActions {
      prog = Some(Replication.incrementalSync(spark, schema, s"$base/in",
        s"$base/ckpt", s"$base/state", txnCol = Some("txn")))
    }
    info(s"tracked txn micro-batch: ${cdc.size} actions $cdc")
    assert(cdc.size <= carryWrite + deltaWrite + 1,
      s"${cdc.size} actions in one tracked txn micro-batch: $cdc")
    assert(prog.contains(Replication.SyncProgress(4L, 1L, Some(7L), 1L,
      Some(8L))), s"bookkeeping: $prog")
    // the view sync: the same gate and delta, plus the view's own write
    // and the old-image lookup's touched-bucket probe
    val viewWrite = 1; val touchedProbe = 1
    val vb = tmp()
    graft.streaming.StreamingOps.writeWave(seed, s"$vb/in", 0)
    Replication.incrementalSyncWithView(spark, schema, s"$vb/in",
      s"$vb/ckpt", s"$vb/state", s"$vb/mv", txnCol = Some("txn"))
    graft.streaming.StreamingOps.writeWave(wave, s"$vb/in", 1)
    var vprog = Option.empty[Replication.SyncProgress]
    val mv = batchActions {
      vprog = Some(Replication.incrementalSyncWithView(spark, schema,
        s"$vb/in", s"$vb/ckpt", s"$vb/state", s"$vb/mv",
        txnCol = Some("txn"))._1)
    }
    info(s"tracked view micro-batch: ${mv.size} actions $mv")
    assert(mv.size <= carryWrite + deltaWrite + viewWrite + touchedProbe + 1,
      s"${mv.size} actions in one tracked view micro-batch: $mv")
    assert(vprog == prog, s"view bookkeeping: $vprog")
    // the topology: the same gate over the same fixture tagged with two
    // tables. Which tables a batch touched is observed on the staged
    // write, so the fan-out adds no action of its own
    val stagedWrite = 1
    def twoTables(df: org.apache.spark.sql.DataFrame) = df.withColumn("table",
      when(col("okey") % 2 === 0, "t_even").otherwise("t_odd"))
    val mb = tmp()
    val dirs = Map("t_even" -> s"$mb/even", "t_odd" -> s"$mb/odd")
    def multiSync() = Replication.incrementalSyncMulti(spark,
      twoTables(seed).schema, s"$mb/in", s"$mb/ckpt", dirs, txnCol = Some("txn"))
    graft.streaming.StreamingOps.writeWave(twoTables(seed), s"$mb/in", 0)
    multiSync()
    graft.streaming.StreamingOps.writeWave(twoTables(wave), s"$mb/in", 1)
    var mprog = Map.empty[String, Replication.SyncProgress]
    val multi = batchActions { mprog = multiSync() }
    info(s"tracked topology micro-batch: ${multi.size} actions $multi")
    assert(multi.size <= carryWrite + stagedWrite,
      s"${multi.size} actions in one tracked topology micro-batch: $multi")
    // txn 99 (key 3) and txn 11 (key 1) commit onto t_odd; txn 12 pends
    assert(mprog == Map(
      "t_odd" -> Replication.SyncProgress(2L, 1L, Some(5L), 1L, Some(8L)),
      "t_even" -> Replication.SyncProgress(0L, 0L, None, 1L, Some(8L))),
      s"topology bookkeeping: $mprog")
    // partial-image completion and the strict before-image gate: the
    // measured batch updates keys with prior state (touched-bucket
    // probe + prior read), inserts a fresh key, and — under the strict
    // gate — quarantines one conflict (DLQ write + its count). Bounds
    // are the per-batch action counts of the single-table code before
    // it became the one-table topology (3 and 6), so the merge adds
    // none: the raw-batch horizon aggregate, the touched-bucket probe
    // and the delta write; the strict gate adds the DLQ emptiness
    // probe, its write and its count
    val rawAgg = 1; val dlqProbe = 1; val dlqWrite = 1; val dlqCount = 1
    val seedEvs = Seq(TxnEv("I", 1, 1, 10.0, "O", 0),
      TxnEv("I", 2, 2, 20.0, "O", 0))
    val waveEvs = Seq(TxnEv("U", 5, 1, 11.0, "P", 0),
      TxnEv("U", 6, 2, 21.0, "P", 0), TxnEv("I", 8, 4, 40.0, "O", 0))
    def imaged(evs: Seq[TxnEv], c: String, v: org.apache.spark.sql.Column) =
      txnDf(evs).drop("txn").withColumn(c, v)
    def measured(frame: Seq[TxnEv] => org.apache.spark.sql.DataFrame)(
        sync: (org.apache.spark.sql.types.StructType, String) => Unit) = {
      val b = tmp()
      graft.streaming.StreamingOps.writeWave(frame(seedEvs), s"$b/in", 0)
      sync(frame(seedEvs).schema, b)
      graft.streaming.StreamingOps.writeWave(frame(waveEvs), s"$b/in", 1)
      batchActions(sync(frame(seedEvs).schema, b))
    }
    // MINIMAL images: updates carry price only; status rides from state
    val partial = measured(evs => imaged(evs, "changed",
      when(col("op") === "U", array(lit("price")))
        .otherwise(array(lit("price"), lit("status"))))
      .withColumn("status", when(col("op") =!= "U", col("status")))) {
      (sch, b) => Replication.incrementalSync(spark, sch, s"$b/in",
        s"$b/ckpt", s"$b/state", partialImageCol = Some("changed")); ()
    }
    info(s"partial-image micro-batch: ${partial.size} actions $partial")
    assert(partial.size <= rawAgg + touchedProbe + deltaWrite,
      s"${partial.size} actions in one partial-image micro-batch: $partial")
    // FULL images with before images: seq 6 declares a stale before
    val strict = measured(evs => imaged(evs, "before",
      when(col("seq") === 5, lit(10.0)).when(col("seq") === 6, lit(99.0)))) {
      (sch, b) => Replication.incrementalSync(spark, sch, s"$b/in",
        s"$b/ckpt", s"$b/state", strictBefore = Some(("price", "before")),
        conflictDlq = Some(s"$b/dlq")); ()
    }
    info(s"strict-before micro-batch: ${strict.size} actions $strict")
    assert(strict.size <= rawAgg + touchedProbe + dlqProbe + dlqWrite +
      dlqCount + deltaWrite,
      s"${strict.size} actions in one strict-before micro-batch: $strict")
  }

  test("compactState's SQL executions: the time-travel horizon is observed " +
      "on the baseline write, not re-read from it") {
    // the code before the horizon became an observation ran, per
    // compaction, the baseline write plus a max(seq) scan of the published
    // baseline — 2 root executions plain, 3 with tombstone GC (its purge
    // floor aggregate); each bound is that count minus the dropped scan
    // (the GC'd baseline keeps only key 3's insert, so its horizon is 3)
    val plainBefore = 2; val gcBefore = 3
    Seq((None, plainBefore, 13L), (Some(0), gcBefore, 3L)).foreach {
        case (gc, before, horizon) =>
      val base = tmp()
      (1 to 3).foreach(w => graft.streaming.StreamingOps.writeWave(
        txnDf(Seq(TxnEv("I", w, w, w.toDouble, "O", 0),
          TxnEv("D", 10L + w, w - 1L, 0.0, null, 0))).drop("txn"),
        s"$base/in", w - 1))
      Replication.incrementalSync(spark,
        txnDf(Seq(TxnEv("I", 1, 1, 1.0, "O", 1))).drop("txn").schema,
        s"$base/in", s"$base/ckpt", s"$base/state")
      val roots = listened(graft.streaming.StreamingOps.compactState(spark,
        s"$base/state", tombstoneHorizon = gc))._1.roots
      info(s"compactState(tombstoneHorizon = $gc): ${roots.size} root " +
        s"executions $roots")
      assert(roots.size <= before - 1,
        s"${roots.size} root executions in compactState($gc): $roots")
      // with GC the purge floor's newest folded seq comes from the epoch
      // records too (the code before that ran its own max(seq) scan of
      // the gated state: 2 root executions), leaving the baseline write
      if (gc.isDefined) assert(roots.size <= 1,
        s"${roots.size} root executions in a GC'ing compactState: $roots")
      val st = Replication.replicaStatus(spark, s"$base/state")
      assert(st.baselineEpochs == 1 && st.deltaEpochs == 0 &&
        st.compactHorizon.contains(horizon) && st.appliedSeq.contains(13L),
        s"compacted ($gc): $st")
    }
  }

  test("repairSync's SQL executions: the topology seq ceiling comes from " +
      "the epoch records, not a max(seq) scan of every state") {
    // the code before the ceiling came from the records ran, per repair
    // of this fixture, 4 root executions: the source key uniqueness
    // aggregate, the max(seq) scan over the union of every table's
    // state, the diff's counts and the staged correction write
    val before = 4
    val base = tmp()
    val log = txnDf(Seq(TxnEv("I", 1, 1, 10.0, "O", 0),
      TxnEv("I", 2, 2, 20.0, "O", 0), TxnEv("I", 3, 3, 30.0, "O", 0),
      TxnEv("U", 4, 2, 21.0, "P", 0), TxnEv("D", 5, 3, 30.0, "O", 0)))
      .drop("txn")
    (0 to 1).foreach { w =>
      graft.streaming.StreamingOps.writeWave(
        log.filter(col("seq") > w * 3 && col("seq") <= w * 3 + 3),
        s"$base/in", w)
      Replication.incrementalSync(spark, log.schema, s"$base/in",
        s"$base/ckpt", s"$base/state")
    }
    // the truth lost key 1, moved key 2's price and still has key 3
    val truth = txnDf(Seq(TxnEv("I", 4, 2, 22.0, "P", 0),
      TxnEv("I", 3, 3, 30.0, "O", 0))).drop("txn").drop("op").drop("seq")
    val (l, report) = listened(
      Replication.repairSync(spark, truth, s"$base/state"))
    info(s"repairSync: ${l.roots.size} root executions ${l.roots}")
    assert(report == Replication.RepairReport(1L, 1L, 1L), s"report: $report")
    assert(l.roots.size <= before - 1,
      s"${l.roots.size} root executions in repairSync: ${l.roots}")
    // the corrections land one above the newest applied seq
    assert(Replication.replicaStatus(spark, s"$base/state").appliedSeq
      .contains(6L))
  }

  test("rowsApplied counts every micro-batch of a catch-up longer than the " +
      "recent-progress buffer") {
    // a query keeps only its last numRecentProgressUpdates progress
    // entries; a backlog of more wave files than that is still one pass
    val conf = "spark.sql.streaming.numRecentProgressUpdates"
    val prior = spark.conf.getOption(conf)
    spark.conf.set(conf, "2")
    try {
      val base = tmp()
      val waves = (0 until 4).map(w => txnDf((1 to 3).map { i =>
        val sq = w * 3L + i
        TxnEv("I", sq, sq, 1.0, "O", 0)
      }).drop("txn"))
      waves.zipWithIndex.foreach { case (df, w) =>
        graft.streaming.StreamingOps.writeWave(df, s"$base/in", w) }
      val p = Replication.incrementalSync(spark, waves.head.schema,
        s"$base/in", s"$base/ckpt", s"$base/state")
      assert(p.rowsApplied == 12L && p.epochs == 4L && p.lastSeq.contains(12L),
        s"4 waves of 3 rows: $p")
    } finally prior.fold(spark.conf.unset(conf))(spark.conf.set(conf, _))
  }

  test("position bookkeeping per branch: SyncProgress and lag marks equal " +
      "hand-computed values, all-held batches keep no delta, a replay " +
      "re-derives them") {
    import graft.streaming.{StateFs, StreamingOps}
    // every fixture stamps ts = t0 + seq seconds, so a seq horizon's lag
    // mark is that seq's ts in epoch micros
    def us(sq: Long): Long = (1700000000L + sq) * 1000000L
    def ev(op: String, sq: Long, k: Long, price: Double, txn: Long) =
      TxnEv(op, sq, k, price, if (op == "C" || op == "H") null else "O", txn)
    def marker(sq: Long, txn: Long) = ev("C", sq, -1, 0.0, txn)
    def hb(sq: Long) = ev("H", sq, -1, 0.0, 0)
    def check(base: String, p: Replication.SyncProgress, rows: Long,
        epochs: Long, lastSeq: Option[Long], pending: Long,
        seen: Option[Long], deltas: Seq[Long], lag: (Option[Long], Option[Long])) = {
      assert(p == Replication.SyncProgress(rows, epochs, lastSeq, pending, seen),
        s"progress under $base")
      assert(StreamingOps.readLagMarks(s"$base/state") ==
        ((lag._1.map(us), lag._2.map(us))), s"lag marks under $base")
      assert(StateFs.epochIds(s"$base/state").sorted == deltas,
        s"delta epochs under $base")
    }
    def waves(base: String, from: Int, ws: org.apache.spark.sql.DataFrame*) =
      ws.zipWithIndex.foreach { case (w, i) =>
        StreamingOps.writeWave(w, s"$base/in", from + i) }
    val txnSchema = txnDf(Seq(ev("I", 1, 1, 1.0, 1))).schema
    def plain(evs: TxnEv*) = txnDf(evs).drop("txn")

    // COMMIT MARKERS + an ALL-HELD batch + its REPLAY: txn 1's events
    // arrive without their marker — nothing applies, no delta survives,
    // the seen horizon still moves
    val cm = tmp()
    def cmSync() = Replication.incrementalSync(spark, txnSchema,
      s"$cm/in", s"$cm/ckpt", s"$cm/state", txnCol = Some("txn"))
    waves(cm, 0, txnDf(Seq(ev("I", 1, 1, 10.0, 1), ev("I", 2, 2, 20.0, 1))))
    check(cm, cmSync(), 2, 0, None, 2, Some(2), Nil, (None, Some(2L)))
    // at-least-once replay of that epoch: drop its commit record, so the
    // restarted query re-runs batch 0 against the same pending input
    Seq("0", ".0.crc").foreach(f => StateFs.deleteRecursive(s"$cm/ckpt/commits/$f"))
    check(cm, cmSync(), 2, 0, None, 2, Some(2), Nil, (None, Some(2L)))
    // the marker arrives with a new txn that stays pending: the applied
    // position advances THROUGH the marker (seq 3), not to the held 4
    waves(cm, 1, txnDf(Seq(marker(3, 1), ev("I", 4, 3, 30.0, 2))))
    check(cm, cmSync(), 2, 1, Some(3), 1, Some(4), Seq(1L), (Some(3L), Some(4L)))

    // HEARTBEATS CAPPED under a pending txn: a keep-alive at or above the
    // oldest held event (seq 3) must not advance the applied position;
    // a heartbeat-only batch keeps no delta
    val hbb = tmp()
    def hbSync() = Replication.incrementalSync(spark, txnSchema,
      s"$hbb/in", s"$hbb/ckpt", s"$hbb/state", txnCol = Some("txn"),
      heartbeats = true)
    waves(hbb, 0,
      txnDf(Seq(ev("I", 1, 1, 10.0, 1), marker(2, 1), ev("I", 3, 2, 20.0, 2),
        hb(4))),
      txnDf(Seq(hb(5))))
    check(hbb, hbSync(), 5, 1, Some(2), 1, Some(5), Seq(0L), (Some(2L), Some(5L)))
    // the held txn commits: nothing is pending, the trailing heartbeat
    // resolves uncapped
    waves(hbb, 2, txnDf(Seq(marker(6, 2), hb(7))))
    check(hbb, hbSync(), 2, 1, Some(7), 0, Some(7), Seq(0L, 2L),
      (Some(7L), Some(7L)))

    // START POSITION: a batch wholly at or below it keeps no delta yet
    // resolves through it; the next batch applies past it
    val sa = tmp()
    def saSync() = Replication.incrementalSync(spark, plain(ev("I", 1, 1, 1.0, 0)).schema,
      s"$sa/in", s"$sa/ckpt", s"$sa/state", fromSeq = Some(2L))
    waves(sa, 0, plain(ev("I", 1, 1, 10.0, 0), ev("I", 2, 2, 20.0, 0)))
    check(sa, saSync(), 2, 0, Some(2), 0, Some(2), Nil, (Some(2L), Some(2L)))
    waves(sa, 1, plain(ev("I", 3, 3, 30.0, 0), ev("U", 4, 1, 11.0, 0)))
    check(sa, saSync(), 2, 1, Some(4), 0, Some(4), Seq(1L), (Some(4L), Some(4L)))

    // ROW FILTER: excluded events resolve (configuration, not lag); a
    // batch the filter excludes entirely keeps no delta
    val rf = tmp()
    waves(rf, 0,
      plain(ev("I", 1, 1, 5.0, 0), ev("I", 2, 2, 20.0, 0)),
      plain(ev("I", 3, 3, 1.0, 0)))
    check(rf, Replication.incrementalSync(spark, plain(ev("I", 1, 1, 1.0, 0)).schema,
      s"$rf/in", s"$rf/ckpt", s"$rf/state", rowFilter = Some("price > 10")),
      3, 1, Some(3), 0, Some(3), Seq(0L), (Some(3L), Some(3L)))
    // row filter under the txn gate: only COMMITTED events resolve; the
    // one committed event is excluded, so no delta survives
    val rft = tmp()
    waves(rft, 0, txnDf(Seq(ev("I", 1, 1, 5.0, 1), ev("I", 2, 2, 20.0, 2),
      marker(3, 1))))
    check(rft, Replication.incrementalSync(spark, txnSchema, s"$rft/in",
      s"$rft/ckpt", s"$rft/state", txnCol = Some("txn"),
      rowFilter = Some("price > 10")),
      3, 0, Some(3), 1, Some(3), Nil, (Some(3L), Some(3L)))

    // STRICT BEFORE-IMAGE gate: a quarantined conflict resolves the batch
    // it verdicts; an all-conflict batch keeps no delta
    val sb = tmp()
    def strictFrame(rows: Seq[(String, Long, Long, java.lang.Double,
        java.lang.Double)]) =
      spark.createDataFrame(rows.map { case (op, sq, k, p, b) =>
        (op, sq, k, p, "O", b) })
        .toDF("op", "seq", "okey", "price", "status", "before_price")
        .withColumn("ts", timestamp_seconds(lit(1700000000L) + col("seq")))
        .select(col("op"), col("seq"), col("ts"), col("okey"), col("price"),
          col("status"), col("before_price"))
    waves(sb, 0,
      strictFrame(Seq(("I", 1L, 1L, 10.0, null), ("I", 2L, 2L, 20.0, null))),
      strictFrame(Seq(("U", 3L, 1L, 11.0, 99.0))))
    check(sb, Replication.incrementalSync(spark, strictFrame(Nil).schema,
      s"$sb/in", s"$sb/ckpt", s"$sb/state",
      strictBefore = Some(("price", "before_price")),
      conflictDlq = Some(s"$sb/dlq")),
      3, 1, Some(3), 0, Some(3), Seq(0L), (Some(3L), Some(3L)))
    assert(spark.read.parquet(s"$sb/dlq").select("seq").collect()
      .map(_.getLong(0)).toSeq == Seq(3L))
  }

  test("multi-table lag: the topology seen horizon reads against each table's applied position") {
    val base = tmp()
    def mt(evs: Seq[TxnEv]) = txnDf(evs).withColumn("table",
      when(col("okey") % 2 === 0, "t_even").otherwise("t_odd"))
    val schema = mt(Seq(TxnEv("I", 1, 2, 1.0, "O", 1))).schema
    val dirs = Map("t_even" -> s"$base/se", "t_odd" -> s"$base/so")
    // txn 20 (t_odd, seq 1-2) commits; txn 30's t_even event at seq 3
    // is pending — t_odd is caught up short of the horizon, t_even has
    // applied nothing
    graft.streaming.StreamingOps.writeWave(mt(Seq(
      TxnEv("I", 1, 1, 10.0, "O", 20), TxnEv("C", 2, -1, 0.0, null, 20),
      TxnEv("I", 3, 2, 30.0, "O", 30))), s"$base/in", 0)
    val p1 = Replication.incrementalSyncMulti(spark, schema, s"$base/in",
      s"$base/ckpt", dirs, txnCol = Some("txn"))
    assert(p1("t_odd").sourceMaxSeq.contains(3L))
    assert(p1("t_odd").lastSeq.contains(1L) && p1("t_odd").lag == 2L)
    assert(p1("t_even").lastSeq.isEmpty && p1("t_even").lag == 3L,
      s"a table that applied nothing lags by the full horizon: ${p1("t_even")}")
    // txn 30 commits: t_even applies its held slice and the topology
    // pending tail drains to zero
    graft.streaming.StreamingOps.writeWave(mt(Seq(
      TxnEv("C", 4, -2, 0.0, null, 30))), s"$base/in", 1)
    val p2 = Replication.incrementalSyncMulti(spark, schema, s"$base/in",
      s"$base/ckpt", dirs, txnCol = Some("txn"))
    assert(p2("t_even").lastSeq.contains(3L) && p2("t_even").pendingRows == 0L)
  }

  test("cross-table txn: no table ever serves a slice of an uncommitted transaction") {
    val base = tmp()
    // okey parity routes rows to two destination tables; one binlog
    // transaction (txn 20) SPANS both tables and STRADDLES the waves:
    // its t_even slice arrives a full wave before its commit, its t_odd
    // slice arrives with the commit. Txn 30 (a delete on t_even) never
    // commits until wave 2.
    def mt(evs: Seq[TxnEv]) = txnDf(evs).withColumn("table",
      when(col("okey") % 2 === 0, "t_even").otherwise("t_odd"))
    val waves = Seq(
      Seq(TxnEv("I", 1, 2, 20.0, "O", 10), TxnEv("I", 2, 3, 30.0, "O", 10),
        TxnEv("C", 3, -1, 0.0, null, 10), TxnEv("U", 4, 2, 21.0, "P", 20)),
      Seq(TxnEv("U", 5, 3, 31.0, "P", 20), TxnEv("C", 6, -1, 0.0, null, 20),
        TxnEv("D", 7, 2, 0.0, null, 30)),
      Seq(TxnEv("C", 8, -1, 0.0, null, 30)))
    val dirs = Map("t_even" -> s"$base/even", "t_odd" -> s"$base/odd")
    val schema = mt(waves.head).schema
    def served() = dirs.transform((_, d) => servedTxnState(d))
    // the INVARIANT, per wave: each table's served state equals the
    // committed-only replay restricted to that table's keys — an
    // uncommitted txn's slice is invisible on EVERY table, even the one
    // that already physically received it
    def expect(w: Int) = {
      val replay = committedReplay(waves.take(w + 1).flatten)
      dirs.transform((t, _) => replay.filter { case (k, _) =>
        (if (t == "t_even") k % 2 == 0 else k % 2 != 0) })
    }
    val progress = waves.zipWithIndex.map { case (wave, w) =>
      graft.streaming.StreamingOps.writeWave(mt(wave), s"$base/in", w)
      val p = Replication.incrementalSyncMulti(spark, schema, s"$base/in",
        s"$base/ckpt", dirs, txnCol = Some("txn"))
      assert(served() == expect(w), s"cross-table partial txn after wave $w")
      p
    }
    // wave 0: only txn 10 applies (one row per table; txn 20's t_even
    // slice is held). wave 1: txn 20 lands on BOTH tables in the same
    // epoch. wave 2: txn 30's late commit flushes the delete to t_even.
    assert(progress(0).map { case (t, p) => t -> (p.rowsApplied, p.lastSeq) } ==
      Map("t_even" -> (1L, Some(1L)), "t_odd" -> (1L, Some(2L))))
    assert(progress(1).map { case (t, p) => t -> (p.rowsApplied, p.lastSeq) } ==
      Map("t_even" -> (1L, Some(4L)), "t_odd" -> (1L, Some(5L))))
    assert(progress(2).map { case (t, p) => t -> (p.rowsApplied, p.lastSeq) } ==
      Map("t_even" -> (1L, Some(7L)), "t_odd" -> (0L, None)))
    // the topology-level pending tail drains as commits arrive: txn 20's
    // held slice after wave 0, txn 30's delete after wave 1, empty at end
    assert(progress.map(_("t_even").pendingRows) == Seq(1L, 1L, 0L))
  }

  test("multi-table sync + mid-stream DDL: evolved column fans out; both schemas widen") {
    val base = tmp()
    def mt(evs: Seq[TxnEv]) = txnDf(evs).drop("txn").withColumn("table",
      when(col("okey") % 2 === 0, "t_even").otherwise("t_odd"))
    val dirs = Map("t_even" -> s"$base/even", "t_odd" -> s"$base/odd")
    // pass 1: v1 envelope, one key per table
    val w0 = mt(Seq(TxnEv("I", 1, 2, 20.0, "O", 0), TxnEv("I", 2, 3, 30.0, "O", 0)))
    graft.streaming.StreamingOps.writeWave(w0, s"$base/in", 0)
    Replication.incrementalSyncMulti(spark, w0.schema, s"$base/in",
      s"$base/ckpt", dirs)
    // DDL: envelope gains `channel`; the resumed pass touches t_odd only
    val w1 = mt(Seq(TxnEv("U", 3, 3, 31.0, "P", 0)))
      .withColumn("channel", lit("c3"))
    graft.streaming.StreamingOps.writeWave(w1, s"$base/in", 1)
    Replication.incrementalSyncMulti(spark, w1.schema, s"$base/in",
      s"$base/ckpt", dirs)
    // BOTH state dirs published the widened schema (one binlog, one
    // envelope — even the table the evolved wave never touched)
    dirs.values.foreach { d =>
      assert(graft.streaming.StreamingOps.readStateSchema(d)
        .exists(_.fieldNames.contains("channel")), s"schema not widened: $d")
    }
    val even = Replication.appliedState(spark, dirs("t_even"))
      .select(col("okey"), col("channel")).collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) null else r.getString(1))).toSet
    val odd = Replication.appliedState(spark, dirs("t_odd"))
      .select(col("okey"), col("channel")).collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) null else r.getString(1))).toSet
    assert(even == Set((2L, null)), "pre-DDL key must serve NULL evolved column")
    assert(odd == Set((3L, "c3")), "post-DDL update must serve the typed value")
  }

  test("multi-table txn + tombstone GC: topology pending holds each table's purge floor") {
    val base = tmp()
    // txn 10's event (seq 3, t_even) sits PENDING while t_even compacts
    // with GC: the per-table floor must consult the TOPOLOGY-level
    // pending tail (ckpt/_pending) and stop below seq 3 — a floor read
    // from the (empty) per-table pending would rise to the folded max
    // and permanently gate the late-committing event out
    def mt(evs: Seq[TxnEv]) = txnDf(evs).withColumn("table",
      when(col("okey") % 2 === 0, "t_even").otherwise("t_odd"))
    val dirs = Map("t_even" -> s"$base/even", "t_odd" -> s"$base/odd")
    val schema = mt(Seq(TxnEv("I", 1, 2, 1.0, "O", 1))).schema
    def pass(): Unit = { Replication.incrementalSyncMulti(spark, schema,
      s"$base/in", s"$base/ckpt", dirs, compactEvery = 1,
      txnCol = Some("txn"), tombstoneGc = Some(0)); () }
    graft.streaming.StreamingOps.writeWave(mt(Seq(
      TxnEv("I", 1, 2, 20.0, "O", 20), TxnEv("C", 2, -1, 0.0, null, 20),
      TxnEv("I", 3, 4, 40.0, "O", 10))), s"$base/in", 0)
    graft.streaming.StreamingOps.writeWave(mt(Seq(
      TxnEv("D", 4, 2, 0.0, null, 30), TxnEv("C", 5, -1, 0.0, null, 30))),
      s"$base/in", 1)
    pass() // two t_even deltas -> GC compaction fires, floor published
    assert(servedTxnState(s"$base/even") == Map.empty)
    graft.streaming.StreamingOps.writeWave(mt(Seq(
      TxnEv("C", 6, -1, 0.0, null, 10))), s"$base/in", 2)
    pass() // txn 10's late commit flushes the pending seq-3 insert
    assert(servedTxnState(s"$base/even") == Map(4L -> ("I", 40.0)),
      "late-committing event below the folded max was gated out by a floor " +
        "computed without the topology pending tail")
  }

  test("txn apply under random wave splits never serves a partial transaction") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    val gen: Gen[Seq[TxnEv]] = for {
      nTxn <- Gen.choose(2, 5)
      sizes <- Gen.listOfN(nTxn, Gen.choose(1, 3))
      keys <- Gen.listOfN(sizes.sum, Gen.choose(0L, 5L))
      ops <- Gen.listOfN(sizes.sum, Gen.oneOf("I", "U", "D"))
    } yield {
      var seq = 0L
      var i = 0
      sizes.zipWithIndex.flatMap { case (sz, t) =>
        val evs = (0 until sz).map { _ =>
          seq += 1; i += 1
          TxnEv(ops(i - 1), seq, keys(i - 1), seq * 1.0, "S", t.toLong)
        }
        seq += 1
        evs :+ TxnEv("C", seq, -1, 0.0, null, t.toLong)
      }
    }
    (0 until 3).foreach { s =>
      val events = gen(Gen.Parameters.default, Seed(4242L + s))
        .getOrElse(sys.error("gen failed"))
      // three contiguous waves with the cuts landing wherever they land —
      // commits straddle wave boundaries by construction
      val (c1, c2) = (events.length / 3, 2 * events.length / 3)
      val waves = Seq(events.take(c1), events.slice(c1, c2), events.drop(c2))
      val base = tmp()
      waves.zipWithIndex.foldLeft(Seq.empty[TxnEv]) { case (prev, (wave, w)) =>
        graft.streaming.StreamingOps.writeWave(txnDf(wave), s"$base/in", w)
        Replication.incrementalSync(spark, txnDf(events).schema, s"$base/in",
          s"$base/ckpt", s"$base/state", txnCol = Some("txn"))
        val delivered = prev ++ wave
        assert(servedTxnState(s"$base/state") == committedReplay(delivered),
          s"seed ${4242L + s}: partial txn after wave $w of $events")
        delivered
      }
      ()
    }
  }

  test("multi-table txn under random wave splits: per-table states never expose a partial txn") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    // same generator family as the single-table property test, but the
    // key ROUTES the row (parity) — transactions span tables whenever
    // their keys mix parities, and wave cuts land wherever they land
    val gen: Gen[Seq[TxnEv]] = for {
      nTxn <- Gen.choose(2, 5)
      sizes <- Gen.listOfN(nTxn, Gen.choose(1, 3))
      keys <- Gen.listOfN(sizes.sum, Gen.choose(0L, 5L))
      ops <- Gen.listOfN(sizes.sum, Gen.oneOf("I", "U", "D"))
    } yield {
      var seq = 0L
      var i = 0
      sizes.zipWithIndex.flatMap { case (sz, t) =>
        val evs = (0 until sz).map { _ =>
          seq += 1; i += 1
          TxnEv(ops(i - 1), seq, keys(i - 1), seq * 1.0, "S", t.toLong)
        }
        seq += 1
        evs :+ TxnEv("C", seq, -1, 0.0, null, t.toLong)
      }
    }
    def mt(evs: Seq[TxnEv]) = txnDf(evs).withColumn("table",
      when(col("okey") % 2 === 0, "t_even").otherwise("t_odd"))
    (0 until 3).foreach { s =>
      val events = gen(Gen.Parameters.default, Seed(7171L + s))
        .getOrElse(sys.error("gen failed"))
      val (c1, c2) = (events.length / 3, 2 * events.length / 3)
      val waves = Seq(events.take(c1), events.slice(c1, c2), events.drop(c2))
      val base = tmp()
      val dirs = Map("t_even" -> s"$base/even", "t_odd" -> s"$base/odd")
      waves.zipWithIndex.foldLeft(Seq.empty[TxnEv]) { case (prev, (wave, w)) =>
        graft.streaming.StreamingOps.writeWave(mt(wave), s"$base/in", w)
        Replication.incrementalSyncMulti(spark, mt(events).schema, s"$base/in",
          s"$base/ckpt", dirs, txnCol = Some("txn"))
        val delivered = prev ++ wave
        val replay = committedReplay(delivered)
        dirs.foreach { case (t, d) =>
          val want = replay.filter { case (k, _) =>
            (if (t == "t_even") k % 2 == 0 else k % 2 != 0) }
          assert(servedTxnState(d) == want,
            s"seed ${7171L + s}: $t partial txn after wave $w of $events")
        }
        delivered
      }
      ()
    }
  }

  test("mid-stream DDL composes with txn gating: evolved column rides, atomicity holds") {
    val base = tmp()
    // pass 1, v1 envelope: txn 10 commits
    val w0 = txnDf(Seq(TxnEv("I", 1, 1, 10.0, "O", 10),
      TxnEv("I", 2, 2, 20.0, "O", 10), TxnEv("C", 3, -1, 0.0, null, 10)))
    graft.streaming.StreamingOps.writeWave(w0, s"$base/in", 0)
    Replication.incrementalSync(spark, w0.schema, s"$base/in",
      s"$base/ckpt", s"$base/state", txnCol = Some("txn"))
    val served1 = Replication.appliedState(spark, s"$base/state")
    assert(!served1.columns.contains("channel"))
    assert(served1.count() == 2)
    // DDL: envelope gains `channel`; the resumed pass carries txn 20
    // (committed, post-DDL) and txn 30 (its delete never commits)
    def v2(evs: Seq[(TxnEv, String)]) = {
      val rows = evs.map(_._1)
      val chans = evs.map(_._2)
      txnDf(rows).withColumn("channel",
        element_at(typedLit(chans), col("seq").cast("int") - 3))
    }
    val w1 = v2(Seq((TxnEv("U", 4, 1, 11.0, "P", 20), "a"),
      (TxnEv("C", 5, -1, 0.0, null, 20), null),
      (TxnEv("D", 6, 2, 0.0, null, 30), null)))
    graft.streaming.StreamingOps.writeWave(w1, s"$base/in", 1)
    Replication.incrementalSync(spark, w1.schema, s"$base/in",
      s"$base/ckpt", s"$base/state", txnCol = Some("txn"))
    val served2 = Replication.appliedState(spark, s"$base/state")
      .select(col("okey"), col("op"), col("price"), col("channel")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2),
        if (r.isNullAt(3)) null else r.getString(3))).toSet
    // txn 20's evolved value serves; txn 30's delete is withheld, so the
    // pre-DDL okey=2 row still serves with a NULL evolved column
    assert(served2 == Set((1L, "U", 11.0, "a"), (2L, "I", 20.0, null)))
  }

  test("txn gating composes with tombstone GC: a late commit still applies after a purge") {
    val base = tmp()
    // txn 20 commits immediately; txn 30 delivers k2's delete a wave
    // later (two deltas -> the GC compaction fires); txn 10's event has
    // a LOW seq but its commit arrives only after the purge — the floor
    // must stop below it or the late apply would be gated out forever
    graft.streaming.StreamingOps.writeWave(txnDf(Seq(
      TxnEv("I", 1, 2, 20.0, "O", 20), TxnEv("C", 2, -1, 0.0, null, 20),
      TxnEv("I", 3, 1, 10.0, "O", 10))), s"$base/in", 0)
    graft.streaming.StreamingOps.writeWave(txnDf(Seq(
      TxnEv("D", 4, 2, 0.0, null, 30), TxnEv("C", 5, -1, 0.0, null, 30))),
      s"$base/in", 1)
    val schema = txnDf(Seq(TxnEv("I", 1, 1, 1.0, "O", 1))).schema
    Replication.incrementalSync(spark, schema, s"$base/in", s"$base/ckpt",
      s"$base/state", compactEvery = 1, txnCol = Some("txn"),
      tombstoneGc = Some(0))
    // the floor stopped below the pending event's seq, so k2's tombstone
    // (above the floor) is conservatively RETAINED — purging it would be
    // unsafe while the gate cannot silence replays in its range
    assert(spark.read.parquet(s"$base/state").filter(col("op") === "D")
      .count() == 1)
    assert(servedTxnState(s"$base/state") == Map.empty)
    // the straddling commit arrives a pass later: its event's seq is
    // below the folded maximum, and must still serve
    graft.streaming.StreamingOps.writeWave(txnDf(Seq(
      TxnEv("C", 6, -1, 0.0, null, 10))), s"$base/in", 2)
    Replication.incrementalSync(spark, schema, s"$base/in", s"$base/ckpt",
      s"$base/state", compactEvery = 1, txnCol = Some("txn"),
      tombstoneGc = Some(0))
    assert(servedTxnState(s"$base/state") == Map(1L -> ("I", 10.0)),
      "late-committing transaction was gated out by the purge floor")
  }

  test("incremental sync with tombstone GC: baseline sheds deletes, state unchanged") {
    val base = tmp()
    val log = Tables.cdcLog(spark, sf)
    (1 to 3).foreach(w => graft.streaming.StreamingOps.writeWave(
      log.filter(col("seq") === w), s"$base/in", w - 1))
    Replication.incrementalSync(spark, log.schema, s"$base/in",
      s"$base/ckpt", s"$base/state", compactEvery = 1, tombstoneGc = Some(0))
    // compaction ran (threshold 1 < 3 deltas) and the GC horizon purged
    // every tombstone from the surviving baseline
    val dirs = new java.io.File(s"$base/state").listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("epoch="))
    assert(dirs.length == 1 && dirs.head.getName.startsWith("epoch=-"))
    assert(spark.read.parquet(s"$base/state").filter(col("op") === "D")
      .count() == 0)
    val applied = Replication.appliedState(spark, s"$base/state")
      .collect().map(_.toSeq).toSet
    val batch = q("agg_latest_by_version").collect().map(_.toSeq).toSet
    assert(applied == batch)
  }

  test("repair sync: one correction epoch heals loss, drift, and extra keys") {
    val base = tmp()
    val log = Tables.cdcLog(spark, sf)
    (1 to 3).foreach(w => graft.streaming.StreamingOps.writeWave(
      log.filter(col("seq") === w), s"$base/in", w - 1))
    Replication.incrementalSync(spark, log.schema, s"$base/in",
      s"$base/ckpt", s"$base/state")
    val served = Replication.appliedState(spark, s"$base/state")
    // source of truth DIVERGES from the destination three ways: one key
    // the destination must drop (absent from src), one whose price
    // drifted, one brand-new key the destination never saw
    val keys = served.orderBy(col("okey")).limit(2).collect().map(_.getLong(0))
    val (dropKey, driftKey) = (keys(0), keys(1))
    val newKey = -777L
    // pinned: src derives from the state dir the repair mutates — left
    // lazy it would re-read the post-repair state and chase its own tail
    val src = served.drop("op")
      .filter(col("okey") =!= dropKey)
      .withColumn("price",
        when(col("okey") === driftKey, col("price") + 1000.0).otherwise(col("price")))
      .unionByName(served.drop("op").limit(1).select(lit(newKey).as("okey"),
        lit(9.99).as("price"), lit("R").as("status"), col("ts")))
      .localCheckpoint()
    val report = Replication.repairSync(spark, src, s"$base/state")
    assert(report == Replication.RepairReport(1, 1, 1), s"got $report")
    // healed: the served state now equals the source of truth exactly
    val check = Replication.consistencyCheck(
      src, Replication.appliedState(spark, s"$base/state").drop("op"), "okey")
    assert(check.consistent, s"still inconsistent after repair: $check")
    // idempotent: a second repair finds nothing to fix
    assert(Replication.repairSync(spark, src, s"$base/state").repaired == 0L)
    // and the correction survives compaction
    graft.streaming.StreamingOps.compactState(spark, s"$base/state")
    assert(Replication.consistencyCheck(
      src, Replication.appliedState(spark, s"$base/state").drop("op"), "okey")
      .consistent)
  }

  test("chunked checksum localizes divergence; chunk-bounded repair heals only dirty chunks") {
    val base = tmp()
    val log = Tables.cdcLog(spark, sf)
    (1 to 3).foreach(w => graft.streaming.StreamingOps.writeWave(
      log.filter(col("seq") === w), s"$base/in", w - 1))
    Replication.incrementalSync(spark, log.schema, s"$base/in",
      s"$base/ckpt", s"$base/state")
    val served = Replication.appliedState(spark, s"$base/state").drop("op")
    val nChunks = 16
    // a clean run: every chunk consistent
    val clean = Replication.consistencyCheckChunked(served, served,
      Seq("okey"), nChunks)
    assert(clean.forall(_.consistent))
    // drift TWO keys in the source of truth; note their chunks
    val keys = served.orderBy(col("okey")).limit(2).collect().map(_.getLong(0))
    val expectDirty = served.filter(col("okey").isin(keys.toSeq: _*))
      .select(pmod(xxhash64(col("okey")), lit(nChunks.toLong)))
      .collect().map(_.getLong(0)).toSet
    val src = served.withColumn("price",
        when(col("okey").isin(keys.toSeq: _*), col("price") + 500.0)
          .otherwise(col("price")))
      .localCheckpoint()
    val reports = Replication.consistencyCheckChunked(src, served,
      Seq("okey"), nChunks)
    val dirty = reports.filterNot(_.consistent).map(_.chunk)
    // exactly the drifted keys' chunks flag — no false positives
    assert(dirty.toSet == expectDirty, s"dirty=$dirty expect=$expectDirty")
    // counts still match chunk-by-chunk (pure value drift), checksums don't
    assert(reports.filterNot(_.consistent).forall(r => r.nSrc == r.nDst))
    // bounded repair: only the dirty chunks' keys are diffed and healed
    val rep = Replication.repairSyncChunked(spark, src, s"$base/state",
      dirty, nChunks)
    assert(rep == Replication.RepairReport(0, keys.length, 0), s"got $rep")
    val after = Replication.appliedState(spark, s"$base/state").drop("op")
    assert(Replication.consistencyCheck(src, after, "okey").consistent)
    // empty dirty list is a no-op
    assert(Replication.repairSyncChunked(spark, src, s"$base/state",
      Seq.empty, nChunks).repaired == 0L)
  }

  test("repair converges arbitrary random divergence to the source of truth") {
    val base = tmp()
    val log = Tables.cdcLog(spark, sf)
    (1 to 3).foreach(w => graft.streaming.StreamingOps.writeWave(
      log.filter(col("seq") === w), s"$base/in", w - 1))
    Replication.incrementalSync(spark, log.schema, s"$base/in",
      s"$base/ckpt", s"$base/state")
    // three successive random divergences against the SAME state dir —
    // each repair must converge the (already once-repaired) destination
    // to the new truth exactly, with the report matching the planted
    // divergence class counts
    (0 until 3).foreach { seed =>
      val rng = new scala.util.Random(31337 + seed)
      val served = Replication.appliedState(spark, s"$base/state")
      val keys = served.select(col("okey")).collect().map(_.getLong(0))
      val drop = keys.filter(_ => rng.nextDouble() < 0.05).toSet
      val drift = keys.filter(_ => rng.nextDouble() < 0.10).toSet
      val nPhantom = 1 + rng.nextInt(3)
      // phantom keys: unique per seed and disjoint from every real and
      // prior-phantom key (1M-spaced negative ranges)
      val src = served.drop("op")
        .filter(!col("okey").isInCollection(drop.toSeq :+ Long.MinValue))
        .withColumn("price", when(col("okey").isInCollection(drift.toSeq :+ Long.MinValue),
          col("price") + 7.0).otherwise(col("price")))
        .unionByName(served.drop("op").filter(col("okey") > 0).limit(nPhantom)
          .select((lit(-(seed + 1) * 1000000L) - col("okey")).as("okey"),
            col("price"), lit("PH").as("status"), col("ts")))
        .localCheckpoint()
      val rep = Replication.repairSync(spark, src, s"$base/state")
      assert(rep.inserted == nPhantom && rep.deleted == drop.size &&
        rep.updated == (drift -- drop).size,
        s"seed $seed: $rep vs drop=${drop.size} drift=${(drift -- drop).size} " +
          s"phantom=$nPhantom")
      assert(Replication.consistencyCheck(src,
        Replication.appliedState(spark, s"$base/state").drop("op"), "okey")
        .consistent, s"seed $seed: repair did not converge")
    }
  }

  test("repair under an open transaction: the correction outranks the pending tail") {
    val base = tmp()
    // txn 20 commits k=1 at 10.0; txn 10's update to 77.0 is PENDING
    // (no commit yet) — its seq (2) is above the applied max (1)
    graft.streaming.StreamingOps.writeWave(txnDf(Seq(
      TxnEv("I", 1, 1, 10.0, "O", 20), TxnEv("C", 2, -1, 0.0, null, 20),
      TxnEv("U", 3, 1, 77.0, "P", 10))), s"$base/in", 0)
    val schema = txnDf(Seq(TxnEv("I", 1, 1, 1.0, "O", 1))).schema
    Replication.incrementalSync(spark, schema, s"$base/in", s"$base/ckpt",
      s"$base/state", txnCol = Some("txn"))
    // operator repairs the served value to 50.0 while the txn is open;
    // the correction seq must clear the PENDING seq 3, not just the
    // applied max 1 — at applied-max+1 it would tie or lose when the
    // held update later commits
    val src = Replication.appliedState(spark, s"$base/state").drop("op")
      .withColumn("price", lit(50.0)).localCheckpoint()
    val rep = Replication.repairSync(spark, src, s"$base/state")
    assert(rep == Replication.RepairReport(0, 1, 0))
    // the abandoned-turned-committed txn finally lands — and must LOSE
    // to the correction written after the engine had already seen it
    graft.streaming.StreamingOps.writeWave(txnDf(Seq(
      TxnEv("C", 4, -1, 0.0, null, 10))), s"$base/in", 1)
    Replication.incrementalSync(spark, schema, s"$base/in", s"$base/ckpt",
      s"$base/state", txnCol = Some("txn"))
    assert(servedTxnState(s"$base/state") == Map(1L -> ("U", 50.0)),
      "a pending event outranked the repair correction")
  }

  test("composite PK: sync, compaction, repair, and consistency run per full key tuple") {
    val base = tmp()
    val log = Tables.cdcLogComposite(spark, sf)
    // two waves (seq 1-2, then 3), synced with the declared composite key
    graft.streaming.StreamingOps.writeWave(
      log.filter(col("seq") <= 2), s"$base/in", 0)
    graft.streaming.StreamingOps.writeWave(
      log.filter(col("seq") === 3), s"$base/in", 1)
    val keys = Seq("okey", "line_no")
    Replication.incrementalSync(spark, log.schema, s"$base/in",
      s"$base/ckpt", s"$base/state", keyCols = keys)
    // expected: the batch latest-wins collapse over the FULL key tuple
    def expect() = log
      .groupBy(col("okey"), col("line_no"))
      .agg(max_by(struct(col("op"), col("price"), col("status"), col("ts")),
        col("seq")).as("l"))
      .select(col("okey"), col("line_no"), col("l.op").as("op"),
        col("l.price").as("price"), col("l.status").as("status"),
        col("l.ts").as("ts"))
      .filter(col("op") =!= "D")
    def served() = Replication.appliedState(spark, s"$base/state")
      .select(col("okey"), col("line_no"), col("op"), col("price"),
        col("status"), col("ts"))
    assert(served().collect().map(_.toSeq).toSet ==
      expect().collect().map(_.toSeq).toSet)
    // the tuple is load-bearing: orders with several surviving lines must
    // serve one row PER LINE — a single-column collapse would merge them
    assert(expect().groupBy(col("okey")).count().filter(col("count") > 1)
      .count() > 0, "test data has no multi-line orders — tuple not exercised")
    // compaction folds the deltas per full tuple; the served state is
    // unchanged (the `_keycols` publication is what compaction reads)
    graft.streaming.StreamingOps.compactState(spark, s"$base/state")
    assert(served().collect().map(_.toSeq).toSet ==
      expect().collect().map(_.toSeq).toSet)
    // diverge two tuples of the SAME order — repair must heal at line
    // granularity: drop one line, drift its sibling, add a phantom line
    val multi = expect().groupBy(col("okey")).agg(count(lit(1)).as("n"),
        min(col("line_no")).as("lo"), max(col("line_no")).as("hi"))
      .filter(col("n") > 1).orderBy(col("okey")).limit(1).collect()(0)
    val (k, dropLine, driftLine) =
      (multi.getLong(0), multi.getLong(2), multi.getLong(3))
    val truth = served().drop("op")
      .filter(!(col("okey") === k && col("line_no") === dropLine))
      .withColumn("price",
        when(col("okey") === k && col("line_no") === driftLine,
          col("price") + 1000.0).otherwise(col("price")))
      .unionByName(served().drop("op").limit(1)
        .select(lit(k).as("okey"), lit(-42L).as("line_no"),
          lit(9.99).as("price"), lit("R").as("status"), col("ts")))
      .localCheckpoint()
    val rep = Replication.repairSync(spark, truth, s"$base/state", keys)
    assert(rep == Replication.RepairReport(1, 1, 1), s"got $rep")
    assert(Replication.consistencyCheck(truth, served().drop("op"), keys)
      .consistent)
    // untouched sibling lines of the repaired order still serve
    assert(served().filter(col("okey") === k).count() == multi.getLong(1))
    // the key is the STATE DIR's property: a repair (or a later pass)
    // declaring a different key fails loudly instead of merging tuples
    val e = intercept[IllegalArgumentException] {
      Replication.repairSync(spark, truth, s"$base/state")
    }
    assert(e.getMessage.contains("keyed by"))
    val e2 = intercept[IllegalArgumentException] {
      Replication.incrementalSync(spark, log.schema, s"$base/in",
        s"$base/ckpt2", s"$base/state")
    }
    assert(e2.getMessage.contains("keyed by"))
  }

  test("multi-table sync and topology repair run over a composite key") {
    val base = tmp()
    val keys = Seq("okey", "line_no")
    // route by LINE parity: lines of the SAME order land in different
    // tables, so any single-column collapse or diff would cross tables
    val log = Tables.cdcLogComposite(spark, sf).withColumn("table",
      when(col("line_no") % 2 === 0, "t_even").otherwise("t_odd"))
    graft.streaming.StreamingOps.writeWave(
      log.filter(col("seq") <= 2), s"$base/in", 0)
    graft.streaming.StreamingOps.writeWave(
      log.filter(col("seq") === 3), s"$base/in", 1)
    val dirs = Map("t_even" -> s"$base/se", "t_odd" -> s"$base/so")
    Replication.incrementalSyncMulti(spark, log.schema, s"$base/in",
      s"$base/ckpt", dirs, keyCols = keys)
    def truth(parity: Int) = Tables.cdcLogComposite(spark, sf)
      .filter(col("line_no") % 2 === parity)
      .groupBy(col("okey"), col("line_no"))
      .agg(max_by(struct(col("price"), col("status"), col("ts"), col("op")),
        col("seq")).as("l"))
      .filter(col("l.op") =!= "D")
      .select(col("okey"), col("line_no"), col("l.price").as("price"),
        col("l.status").as("status"), col("l.ts").as("ts"))
    def served(dir: String) = Replication.appliedState(spark, dir).drop("op")
    assert(Replication.consistencyCheck(truth(0), served(s"$base/se"), keys)
      .consistent)
    assert(Replication.consistencyCheck(truth(1), served(s"$base/so"), keys)
      .consistent)
    // diverge ONE line of t_odd; the topology repair must heal exactly
    // that tuple and leave t_even untouched
    val t1 = truth(1).localCheckpoint()
    val victim = t1.orderBy(col("okey"), col("line_no")).limit(1).collect()(0)
    val (vk, vl) = (victim.getLong(0), victim.getLong(1))
    val drifted = t1.withColumn("price",
      when(col("okey") === vk && col("line_no") === vl, col("price") + 5000.0)
        .otherwise(col("price"))).localCheckpoint()
    val reports = Replication.repairSyncMulti(spark,
      Map("t_even" -> truth(0).localCheckpoint(), "t_odd" -> drifted),
      dirs, keyCols = keys)
    assert(reports("t_odd") == Replication.RepairReport(0, 1, 0))
    assert(reports("t_even") == Replication.RepairReport(0, 0, 0))
    assert(Replication.consistencyCheck(drifted, served(s"$base/so"), keys)
      .consistent)
  }

  test("per-table primary keys: one topology syncs and repairs a header table and a lines table") {
    val base = tmp()
    // one binlog: t_ord is the header-style slice (line_no=1, okey
    // unique there), t_line the lines-style rest keyed by the full tuple
    val log = Tables.cdcLogComposite(spark, sf).withColumn("table",
      when(col("line_no") === 1, "t_ord").otherwise("t_line"))
    graft.streaming.StreamingOps.writeWave(
      log.filter(col("seq") <= 2), s"$base/in", 0)
    graft.streaming.StreamingOps.writeWave(
      log.filter(col("seq") === 3), s"$base/in", 1)
    val dirs = Map("t_ord" -> s"$base/sord", "t_line" -> s"$base/sline")
    val byTable = Map("t_ord" -> Seq("okey"),
      "t_line" -> Seq("okey", "line_no"))
    Replication.incrementalSyncMulti(spark, log.schema, s"$base/in",
      s"$base/ckpt", dirs, keyColsByTable = byTable)
    // each state dir published ITS OWN key
    assert(graft.streaming.StreamingOps.readKeyCols(s"$base/sord") ==
      Seq("okey"))
    assert(graft.streaming.StreamingOps.readKeyCols(s"$base/sline") ==
      Seq("okey", "line_no"))
    def truthFor(table: String) = Tables.cdcLogComposite(spark, sf)
      .filter(if (table == "t_ord") col("line_no") === 1
              else col("line_no") =!= 1)
      .groupBy(col("okey"), col("line_no"))
      .agg(max_by(struct(col("price"), col("status"), col("ts"), col("op")),
        col("seq")).as("l"))
      .filter(col("l.op") =!= "D")
      .select(col("okey"), col("line_no"), col("l.price").as("price"),
        col("l.status").as("status"), col("l.ts").as("ts"))
    def served(dir: String) = Replication.appliedState(spark, dir).drop("op")
    assert(Replication.consistencyCheck(truthFor("t_ord"),
      served(s"$base/sord"), Seq("okey")).consistent)
    assert(Replication.consistencyCheck(truthFor("t_line"),
      served(s"$base/sline"), Seq("okey", "line_no")).consistent)
    // diverge BOTH tables — a header price and one line of some order —
    // then ONE heterogeneous repair call heals both at their own key
    // granularity
    val tOrd = truthFor("t_ord").localCheckpoint()
    val tLine = truthFor("t_line").localCheckpoint()
    val ordVictim = tOrd.orderBy(col("okey")).limit(1).collect()(0).getLong(0)
    val lineVictim = tLine.orderBy(col("okey"), col("line_no")).limit(1)
      .collect()(0)
    val (lk, ll) = (lineVictim.getLong(0), lineVictim.getLong(1))
    val ordTruth = tOrd.withColumn("price",
      when(col("okey") === ordVictim, col("price") + 111.0)
        .otherwise(col("price"))).localCheckpoint()
    val lineTruth = tLine
      .filter(!(col("okey") === lk && col("line_no") === ll))
      .localCheckpoint()
    val reports = Replication.repairSyncMulti(spark,
      Map("t_ord" -> ordTruth, "t_line" -> lineTruth), dirs,
      keyColsByTable = byTable)
    assert(reports("t_ord") == Replication.RepairReport(0, 1, 0),
      s"t_ord: ${reports("t_ord")}")
    assert(reports("t_line") == Replication.RepairReport(0, 0, 1),
      s"t_line: ${reports("t_line")}")
    assert(Replication.consistencyCheck(ordTruth, served(s"$base/sord"),
      Seq("okey")).consistent)
    assert(Replication.consistencyCheck(lineTruth, served(s"$base/sline"),
      Seq("okey", "line_no")).consistent)
    // sibling lines of the tombstoned line's order still serve
    assert(served(s"$base/sline").filter(col("okey") === lk).count() ==
      lineTruth.filter(col("okey") === lk).count())
    // a mismatched per-table key declaration fails loudly
    val e = intercept[IllegalArgumentException] {
      Replication.repairSyncMulti(spark,
        Map("t_ord" -> ordTruth, "t_line" -> lineTruth), dirs)
    }
    assert(e.getMessage.contains("keyed by"))
  }

  test("composite PK consistency check: a tuple-level mismatch is caught") {
    // two rows sharing okey, distinct line_no: a single-column key diff
    // would see both sides as {okey=1}; the tuple diff must not
    val src = spark.createDataFrame(Seq((1L, 1L, 10.0), (1L, 2L, 20.0)))
      .toDF("okey", "line_no", "price")
    val dst = spark.createDataFrame(Seq((1L, 1L, 10.0), (1L, 3L, 20.0)))
      .toDF("okey", "line_no", "price")
    val rep = Replication.consistencyCheck(src, dst, Seq("okey", "line_no"))
    assert(rep.missingInDst == 1 && rep.extraInDst == 1 && !rep.consistent)
    assert(Replication.consistencyCheck(src, src, Seq("okey", "line_no"))
      .consistent)
  }

  test("repair rejects a source that gained a column the state never saw") {
    val base = tmp()
    val log = Tables.cdcLog(spark, sf)
    graft.streaming.StreamingOps.writeWave(log.filter(col("seq") === 1),
      s"$base/in", 0)
    Replication.incrementalSync(spark, log.schema, s"$base/in",
      s"$base/ckpt", s"$base/state")
    val src = Replication.appliedState(spark, s"$base/state").drop("op")
      .withColumn("channel", lit("c"))
    val e = intercept[IllegalArgumentException] {
      Replication.repairSync(spark, src, s"$base/state")
    }
    assert(e.getMessage.contains("channel"),
      "schema drift must fail loudly, not no-op into an endless check/repair loop")
  }

  test("DDL RENAME COLUMN: history carries under the new name; renaming onto a different type fails") {
    val base = tmp()
    // pass 1: v1 envelope carries `channel`; okey 1 and 2 both written
    val v1 = txnDf(Seq(TxnEv("I", 1, 1, 10.0, "O", 0),
      TxnEv("I", 2, 2, 20.0, "O", 0))).drop("txn")
      .withColumn("channel", concat(lit("ch"), col("okey")))
    graft.streaming.StreamingOps.writeWave(v1, s"$base/in", 0)
    Replication.incrementalSync(spark, v1.schema, s"$base/in",
      s"$base/ckpt", s"$base/state")
    // DDL: channel RENAMED to chan; the resumed pass rewrites okey=2 only
    val v2 = txnDf(Seq(TxnEv("U", 3, 2, 21.0, "P", 0))).drop("txn")
      .withColumn("chan", lit("new2"))
    graft.streaming.StreamingOps.writeWave(v2, s"$base/in", 1)
    Replication.incrementalSync(spark, v2.schema, s"$base/in",
      s"$base/ckpt", s"$base/state",
      renameCols = Map("channel" -> "chan"))
    def served() = Replication.appliedState(spark, s"$base/state")
      .select(col("okey"), col("price"), col("chan")).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getString(2))).toSet
    // the fork the rename semantics prevent: okey=1 (last touched BEFORE
    // the rename) serves its old value under the NEW name, not NULL
    assert(served() == Set((1L, 10.0, "ch1"), (2L, 21.0, "new2")))
    // the published schema carries only the new name
    val published = graft.streaming.StreamingOps.readStateSchema(s"$base/state").get
    assert(published.fieldNames.contains("chan") &&
      !published.fieldNames.contains("channel"))
    // compaction rewrites through the rename-aware read, then the
    // coalesce over the old physical column becomes a no-op
    graft.streaming.StreamingOps.compactState(spark, s"$base/state")
    assert(served() == Set((1L, 10.0, "ch1"), (2L, 21.0, "new2")),
      "rename history lost across compaction")
    // composes with the type-change guardrail: a rename whose target
    // column arrives as a DIFFERENT type is still the type-change class
    val v3 = txnDf(Seq(TxnEv("U", 4, 1, 12.0, "P", 0))).drop("txn")
      .withColumn("kanal", lit(7))
    graft.streaming.StreamingOps.writeWave(v3, s"$base/in", 2)
    val e = intercept[graft.streaming.StreamingOps.EnvelopeTypeChangeException] {
      Replication.incrementalSync(spark, v3.schema, s"$base/in",
        s"$base/ckpt", s"$base/state", renameCols = Map("chan" -> "kanal"))
    }
    assert(e.column == "kanal")
    // the failed rename left no metadata behind: chan still serves
    assert(served() == Set((1L, 10.0, "ch1"), (2L, 21.0, "new2")))
    // renaming a column that was never published fails loudly too
    val e2 = intercept[IllegalArgumentException] {
      Replication.incrementalSync(spark, v2.schema, s"$base/in",
        s"$base/ckpt", s"$base/state", renameCols = Map("ghost" -> "chan2"))
    }
    assert(e2.getMessage.contains("ghost"))
  }

  test("multi-table rename: one rename DDL carries every table's history through the fan-out") {
    val base = tmp()
    // one binlog, two tables, both with `channel` in the v1 envelope
    def mt(evs: Seq[TxnEv]) = txnDf(evs).drop("txn")
      .withColumn("table",
        when(col("okey") % 2 === 0, "t_even").otherwise("t_odd"))
    val v1 = mt(Seq(TxnEv("I", 1, 1, 10.0, "O", 0), TxnEv("I", 2, 2, 20.0, "O", 0)))
      .withColumn("channel", concat(lit("ch"), col("okey")))
    graft.streaming.StreamingOps.writeWave(v1, s"$base/in", 0)
    val dirs = Map("t_even" -> s"$base/se", "t_odd" -> s"$base/so")
    Replication.incrementalSyncMulti(spark, v1.schema, s"$base/in",
      s"$base/ckpt", dirs)
    // the rename DDL arrives once for the whole topology; only t_even's
    // key is rewritten after it — t_odd's history must still carry
    val v2 = mt(Seq(TxnEv("U", 3, 2, 21.0, "P", 0)))
      .withColumn("chan", lit("new2"))
    graft.streaming.StreamingOps.writeWave(v2, s"$base/in", 1)
    Replication.incrementalSyncMulti(spark, v2.schema, s"$base/in",
      s"$base/ckpt", dirs, renameCols = Map("channel" -> "chan"))
    def servedChan(dir: String) = Replication.appliedState(spark, dir)
      .select(col("okey"), col("chan")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(servedChan(s"$base/se") == Map(2L -> "new2"))
    assert(servedChan(s"$base/so") == Map(1L -> "ch1"),
      "the untouched table's pre-rename history must serve under the new name")
  }

  test("multi-table DEFAULT + widening: one topology-wide DDL position, per-table backfills") {
    val base = tmp()
    // one binlog, two tables by okey parity; v1 envelope carries qty INT
    def mt(evs: Seq[TxnEv]) = txnDf(evs).drop("txn")
      .withColumn("table",
        when(col("okey") % 2 === 0, "t_even").otherwise("t_odd"))
    val v1 = mt(Seq(TxnEv("I", 1, 1, 10.0, "O", 0), TxnEv("I", 2, 2, 20.0, "O", 0),
      TxnEv("I", 3, 3, 30.0, "O", 0), TxnEv("I", 4, 4, 40.0, "O", 0)))
      .withColumn("qty", (col("okey") * 3).cast("int"))
    graft.streaming.StreamingOps.writeWave(v1, s"$base/in", 0)
    val dirs = Map("t_even" -> s"$base/se", "t_odd" -> s"$base/so")
    Replication.incrementalSyncMulti(spark, v1.schema, s"$base/in",
      s"$base/ckpt", dirs)
    // ONE DDL at topology position 4: ADD COLUMN channel DEFAULT 'bulk'
    // AND qty widens INT→BIGINT — the shared envelope means both tables
    // take both changes in the same resumed pass. Post-DDL rewrites:
    // okey=2 (t_even) writes a channel and a >2^31 qty; okey=3 (t_odd)
    // writes an EXPLICIT NULL channel.
    val v2 = mt(Seq(TxnEv("U", 5, 2, 21.0, "P", 0), TxnEv("U", 6, 3, 31.0, "P", 0)))
      .withColumn("qty", when(col("okey") === 2, lit(5000000000L))
        .otherwise(lit(9L)))
      .withColumn("channel", when(col("okey") === 2, lit("w2"))
        .otherwise(lit(null).cast("string")))
    graft.streaming.StreamingOps.writeWave(v2, s"$base/in", 1)
    Replication.incrementalSyncMulti(spark, v2.schema, s"$base/in",
      s"$base/ckpt", dirs,
      defaultCols = Map("channel" ->
        graft.streaming.StreamingOps.ColumnDefault(4L, "'bulk'")))
    def served(dir: String) = Replication.appliedState(spark, dir)
      .select(col("okey"), col("channel"), col("qty")).collect()
      .map(r => (r.getLong(0),
        if (r.isNullAt(1)) null else r.getString(1), r.getLong(2))).toSet
    // t_even: the rewritten key serves what it wrote (wide qty included);
    // the untouched pre-DDL key serves the DEFAULT and its narrow qty
    // read natively under the widened type
    assert(served(s"$base/se") ==
      Set((2L, "w2", 5000000000L), (4L, "bulk", 12L)))
    // t_odd: pre-DDL key backfills the default; the post-DDL rewrite's
    // EXPLICIT NULL stays NULL — per-table states, one DDL position
    assert(served(s"$base/so") == Set((1L, "bulk", 3L), (3L, null, 9L)))
    // both published schemas took the widening and the added column
    for (dir <- dirs.values) {
      val p = graft.streaming.StreamingOps.readStateSchema(dir).get
      assert(p("qty").dataType == org.apache.spark.sql.types.LongType,
        s"$dir: qty not widened")
      assert(p.fieldNames.contains("channel"), s"$dir: channel not published")
    }
    // compaction materializes the lazy backfill without changing service
    graft.streaming.StreamingOps.compactState(spark, s"$base/so")
    assert(served(s"$base/so") == Set((1L, "bulk", 3L), (3L, null, 9L)),
      "default backfill lost across compaction")
  }

  test("rename composes with widening: a renamed INT column arriving as BIGINT promotes") {
    val base = tmp()
    val v1 = txnDf(Seq(TxnEv("I", 1, 1, 10.0, "O", 0),
      TxnEv("I", 2, 2, 20.0, "O", 0))).drop("txn")
      .withColumn("qty", (col("okey") * 3).cast("int"))
    graft.streaming.StreamingOps.writeWave(v1, s"$base/in", 0)
    Replication.incrementalSync(spark, v1.schema, s"$base/in",
      s"$base/ckpt", s"$base/state")
    // one DDL both renames qty→amount AND widens it to BIGINT — the
    // allowlisted promotion rides the rename instead of failing
    val v2 = txnDf(Seq(TxnEv("U", 3, 2, 21.0, "P", 0))).drop("txn")
      .withColumn("amount", lit(5000000000L))
    graft.streaming.StreamingOps.writeWave(v2, s"$base/in", 1)
    Replication.incrementalSync(spark, v2.schema, s"$base/in",
      s"$base/ckpt", s"$base/state", renameCols = Map("qty" -> "amount"))
    val published = graft.streaming.StreamingOps.readStateSchema(s"$base/state").get
    assert(published("amount").dataType == org.apache.spark.sql.types.LongType)
    val served = Replication.appliedState(spark, s"$base/state")
      .select(col("okey"), col("amount")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(served == Map(1L -> 3L, 2L -> 5000000000L),
      "pre-rename INT history must serve as BIGINT under the new name")
  }

  test("row filters: deletes bypass the predicate; masks NULL the value; config typos fail loudly") {
    val base = tmp()
    def mt(evs: Seq[TxnEv]) = txnDf(evs).drop("txn")
      .withColumn("table",
        when(col("okey") % 2 === 0, "t_even").otherwise("t_odd"))
    // keys 2 and 4 are t_even; the filter admits only okey >= 4 — but
    // key 2's DELETE must still replicate (imagine it was admitted once)
    val v1 = mt(Seq(TxnEv("I", 1, 1, 10.0, "O", 0),
      TxnEv("I", 2, 2, 20.0, "O", 0), TxnEv("I", 3, 4, 40.0, "O", 0),
      TxnEv("D", 4, 2, 0.0, "X", 0)))
    graft.streaming.StreamingOps.writeWave(v1, s"$base/in", 0)
    val dirs = Map("t_even" -> s"$base/se", "t_odd" -> s"$base/so")
    Replication.incrementalSyncMulti(spark, v1.schema, s"$base/in",
      s"$base/ckpt", dirs,
      rowFilters = Map("t_even" -> "okey >= 4"),
      maskCols = Map("t_odd" -> Seq("status")))
    // t_even: key 4 admitted; key 2's insert filtered, its delete
    // replicated — the tombstone wins the collapse, so key 2 is absent
    assert(servedTxnState(s"$base/se") == Map(4L -> ("I", 40.0)))
    val odd = Replication.appliedState(spark, s"$base/so")
      .select(col("okey"), col("status")).collect()
      .map(r => r.getLong(0) -> Option(r.getString(1))).toMap
    assert(odd == Map(1L -> None), "masked status must serve NULL")
    // config typos: unknown table, bookkeeping mask, absent column
    val e1 = intercept[IllegalArgumentException] {
      Replication.incrementalSyncMulti(spark, v1.schema, s"$base/in",
        s"$base/ckpt", dirs, rowFilters = Map("t_ghost" -> "okey > 0"))
    }
    assert(e1.getMessage.contains("t_ghost"))
    val e2 = intercept[IllegalArgumentException] {
      Replication.incrementalSyncMulti(spark, v1.schema, s"$base/in",
        s"$base/ckpt", dirs, maskCols = Map("t_even" -> Seq("okey")))
    }
    assert(e2.getMessage.contains("okey"))
  }

  test("row filters compose with transaction gating: filter applies only to committed events") {
    val base = tmp()
    def mt(evs: Seq[TxnEv]) = txnDf(evs)
      .withColumn("table",
        when(col("okey") % 2 === 0, "t_even").otherwise("t_odd"))
    // txn 1 (committed): keys 2 and 4 on t_even, key 1 on t_odd;
    // txn 2 (no commit marker): an update to key 4 — held back entirely
    val events = mt(Seq(TxnEv("I", 1, 2, 20.0, "O", 1),
      TxnEv("I", 2, 4, 40.0, "O", 1), TxnEv("I", 3, 1, 10.0, "O", 1),
      TxnEv("U", 5, 4, 99.0, "P", 2)))
    val marker = txnDf(Seq(TxnEv("C", 4, -1, 0.0, null, 1)))
      .withColumn("table", lit("_ctl"))
    graft.streaming.StreamingOps.writeWave(
      events.unionByName(marker), s"$base/in", 0)
    val dirs = Map("t_even" -> s"$base/se", "t_odd" -> s"$base/so")
    Replication.incrementalSyncMulti(spark, events.schema, s"$base/in",
      s"$base/ckpt", dirs, txnCol = Some("txn"),
      rowFilters = Map("t_even" -> "okey >= 4"))
    // committed txn 1: key 2 filtered out, key 4 admitted; txn 2's
    // update never applies (no commit) — key 4 serves txn 1's insert
    assert(servedTxnState(s"$base/se") == Map(4L -> ("I", 40.0)),
      "filter must gate committed events; uncommitted txns stay held")
    assert(servedTxnState(s"$base/so") == Map(1L -> ("I", 10.0)))
  }

  test("single-table row filter and mask mirror the multi-table semantics") {
    val base = tmp()
    val v1 = txnDf(Seq(TxnEv("I", 1, 1, 10.0, "O", 0),
      TxnEv("I", 2, 4, 40.0, "O", 0), TxnEv("D", 3, 1, 0.0, "X", 0)))
      .drop("txn")
    graft.streaming.StreamingOps.writeWave(v1, s"$base/in", 0)
    // filter admits okey >= 4; key 1's delete still replicates; status masked
    Replication.incrementalSync(spark, v1.schema, s"$base/in",
      s"$base/ckpt", s"$base/state",
      rowFilter = Some("okey >= 4"), maskCols = Seq("status"))
    val served = Replication.appliedState(spark, s"$base/state")
      .select(col("okey"), col("price"), col("status")).collect()
      .map(r => (r.getLong(0), r.getDouble(1), Option(r.getString(2))))
    assert(served.toSeq == Seq((4L, 40.0, None)),
      s"filter/mask semantics violated: ${served.toSeq}")
  }

  test("ADD COLUMN DEFAULT: pre-DDL keys serve the default; explicit NULL stays NULL") {
    val base = tmp()
    val v1 = txnDf(Seq(TxnEv("I", 1, 1, 10.0, "O", 0),
      TxnEv("I", 2, 2, 20.0, "O", 0), TxnEv("I", 3, 3, 30.0, "O", 0)))
      .drop("txn")
    graft.streaming.StreamingOps.writeWave(v1, s"$base/in", 0)
    Replication.incrementalSync(spark, v1.schema, s"$base/in",
      s"$base/ckpt", s"$base/state")
    // the ADD COLUMN channel DEFAULT 'none' DDL lands at position 3;
    // key 2 then writes a value, key 3 writes an EXPLICIT NULL
    val v2 = txnDf(Seq(TxnEv("U", 4, 2, 21.0, "P", 0),
      TxnEv("U", 5, 3, 31.0, "P", 0))).drop("txn")
      .withColumn("channel",
        when(col("okey") === 2, "live").otherwise(lit(null).cast("string")))
    graft.streaming.StreamingOps.writeWave(v2, s"$base/in", 1)
    Replication.incrementalSync(spark, v2.schema, s"$base/in",
      s"$base/ckpt", s"$base/state",
      defaultCols = Map("channel" ->
        graft.streaming.StreamingOps.ColumnDefault(3L, "'none'")))
    val served = Replication.appliedState(spark, s"$base/state")
      .select(col("okey"), col("channel")).collect()
      .map(r => r.getLong(0) -> Option(r.getString(1))).toMap
    assert(served == Map(
      1L -> Some("none"), // pre-DDL: backfilled default
      2L -> Some("live"), // post-DDL write
      3L -> None),        // post-DDL EXPLICIT NULL — a coalesce would say 'none'
      s"backfill semantics violated: $served")
  }

  test("DEFAULT composes with rename and materializes at compaction") {
    val base = tmp()
    val v1 = txnDf(Seq(TxnEv("I", 1, 1, 10.0, "O", 0),
      TxnEv("I", 2, 2, 20.0, "O", 0))).drop("txn")
    graft.streaming.StreamingOps.writeWave(v1, s"$base/in", 0)
    Replication.incrementalSync(spark, v1.schema, s"$base/in",
      s"$base/ckpt", s"$base/state")
    val v2 = txnDf(Seq(TxnEv("U", 3, 2, 21.0, "P", 0))).drop("txn")
      .withColumn("channel", lit("live"))
    graft.streaming.StreamingOps.writeWave(v2, s"$base/in", 1)
    Replication.incrementalSync(spark, v2.schema, s"$base/in",
      s"$base/ckpt", s"$base/state",
      defaultCols = Map("channel" ->
        graft.streaming.StreamingOps.ColumnDefault(2L, "'none'")))
    // the rename DDL follows: channel → chan; the default must follow
    // the name, and compaction must materialize the backfill
    val v3 = txnDf(Seq(TxnEv("U", 4, 2, 22.0, "Q", 0))).drop("txn")
      .withColumn("chan", lit("live2"))
    graft.streaming.StreamingOps.writeWave(v3, s"$base/in", 2)
    Replication.incrementalSync(spark, v3.schema, s"$base/in",
      s"$base/ckpt", s"$base/state", compactEvery = 1,
      renameCols = Map("channel" -> "chan"))
    val served = Replication.appliedState(spark, s"$base/state")
      .select(col("okey"), col("chan")).collect()
      .map(r => r.getLong(0) -> Option(r.getString(1))).toMap
    assert(served == Map(1L -> Some("none"), 2L -> Some("live2")),
      "the default must serve under the renamed name")
    // compaction ran (3 deltas > compactEvery=1): the baseline must hold
    // the MATERIALIZED backfill — key 1's row carries 'none' physically
    val baseline = spark.read.option("mergeSchema", "true")
      .parquet(s"$base/state")
      .filter(col("epoch") < 0 && col("okey") === 1).select(col("chan"))
      .collect()
    assert(baseline.nonEmpty && baseline(0).getString(0) == "none",
      "compaction must materialize the lazy backfill into the baseline")
  }

  test("TRUNCATE: pre-truncate keys vanish; keys rewritten after it rebuild") {
    val base = tmp()
    val v1 = txnDf(Seq(TxnEv("I", 1, 1, 10.0, "O", 0),
      TxnEv("I", 2, 2, 20.0, "O", 0))).drop("txn")
    graft.streaming.StreamingOps.writeWave(v1, s"$base/in", 0)
    Replication.incrementalSync(spark, v1.schema, s"$base/in",
      s"$base/ckpt", s"$base/state")
    // the TRUNCATE TABLE QueryEvent arrives at position 2; only key 2 is
    // rewritten afterwards — key 1's history fully predates the truncate
    val v2 = txnDf(Seq(TxnEv("U", 3, 2, 21.0, "P", 0))).drop("txn")
    graft.streaming.StreamingOps.writeWave(v2, s"$base/in", 1)
    Replication.incrementalSync(spark, v2.schema, s"$base/in",
      s"$base/ckpt", s"$base/state", truncateAtSeq = Some(2L))
    assert(servedTxnState(s"$base/state") == Map(2L -> ("U", 21.0)),
      "only the post-truncate image may serve; pre-truncate keys must vanish")
  }

  test("TRUNCATE floor is monotone; compaction physically reclaims dead rows") {
    val base = tmp()
    val v1 = txnDf(Seq(TxnEv("I", 1, 1, 10.0, "O", 0),
      TxnEv("I", 2, 2, 20.0, "O", 0))).drop("txn")
    graft.streaming.StreamingOps.writeWave(v1, s"$base/in", 0)
    val v2 = txnDf(Seq(TxnEv("U", 3, 2, 21.0, "P", 0))).drop("txn")
    graft.streaming.StreamingOps.writeWave(v2, s"$base/in", 1)
    // two delta epochs + compactEvery=1 → the pass compacts; the baseline
    // must hold ONLY live rows (seq > floor) — the space reclaim
    Replication.incrementalSync(spark, v1.schema, s"$base/in",
      s"$base/ckpt", s"$base/state", compactEvery = 1,
      truncateAtSeq = Some(2L))
    val raw = spark.read.option("mergeSchema", "true")
      .parquet(s"$base/state")
    assert(raw.filter(col("seq") <= 2).count() == 0,
      "compaction must drop rows the truncate killed")
    assert(servedTxnState(s"$base/state") == Map(2L -> ("U", 21.0)))
    // a later pass declaring an OLDER truncate cannot lower the floor
    val v3 = txnDf(Seq(TxnEv("U", 4, 2, 22.0, "Q", 0))).drop("txn")
    graft.streaming.StreamingOps.writeWave(v3, s"$base/in", 2)
    Replication.incrementalSync(spark, v3.schema, s"$base/in",
      s"$base/ckpt", s"$base/state", truncateAtSeq = Some(1L))
    assert(graft.streaming.StreamingOps.readTruncFloor(s"$base/state")
      .contains(2L), "the truncate floor must be monotone")
    assert(servedTxnState(s"$base/state") == Map(2L -> ("U", 22.0)))
  }

  test("multi-table TRUNCATE targets one table; the other's history is untouched") {
    val base = tmp()
    def mt(evs: Seq[TxnEv]) = txnDf(evs).drop("txn")
      .withColumn("table",
        when(col("okey") % 2 === 0, "t_even").otherwise("t_odd"))
    val v1 = mt(Seq(TxnEv("I", 1, 1, 10.0, "O", 0), TxnEv("I", 2, 2, 20.0, "O", 0)))
    graft.streaming.StreamingOps.writeWave(v1, s"$base/in", 0)
    val dirs = Map("t_even" -> s"$base/se", "t_odd" -> s"$base/so")
    Replication.incrementalSyncMulti(spark, v1.schema, s"$base/in",
      s"$base/ckpt", dirs)
    // TRUNCATE t_even at position 2; only key 2 (even) is rewritten after
    val v2 = mt(Seq(TxnEv("U", 3, 2, 21.0, "P", 0)))
    graft.streaming.StreamingOps.writeWave(v2, s"$base/in", 1)
    Replication.incrementalSyncMulti(spark, v2.schema, s"$base/in",
      s"$base/ckpt", dirs, truncateAt = Map("t_even" -> 2L))
    assert(servedTxnState(s"$base/se") == Map(2L -> ("U", 21.0)))
    assert(servedTxnState(s"$base/so") == Map(1L -> ("I", 10.0)),
      "a truncate on one table must not touch the other's history")
    // declaring a truncate for a table the topology does not replicate
    // fails loudly instead of silently dropping the DDL
    val e = intercept[IllegalArgumentException] {
      Replication.incrementalSyncMulti(spark, v2.schema, s"$base/in",
        s"$base/ckpt", dirs, truncateAt = Map("t_ghost" -> 2L))
    }
    assert(e.getMessage.contains("t_ghost"))
  }

  test("DDL verbs compose: default, rename, truncate in one table's lifetime") {
    val base = tmp()
    // era 1: plain envelope
    val v1 = txnDf(Seq(TxnEv("I", 1, 1, 10.0, "O", 0),
      TxnEv("I", 2, 2, 20.0, "O", 0))).drop("txn")
    graft.streaming.StreamingOps.writeWave(v1, s"$base/in", 0)
    Replication.incrementalSync(spark, v1.schema, s"$base/in",
      s"$base/ckpt", s"$base/state")
    // era 2: ADD COLUMN channel DEFAULT 'none' at position 2
    val v2 = txnDf(Seq(TxnEv("U", 3, 2, 21.0, "P", 0))).drop("txn")
      .withColumn("channel", lit("live"))
    graft.streaming.StreamingOps.writeWave(v2, s"$base/in", 1)
    Replication.incrementalSync(spark, v2.schema, s"$base/in",
      s"$base/ckpt", s"$base/state",
      defaultCols = Map("channel" ->
        graft.streaming.StreamingOps.ColumnDefault(2L, "'none'")))
    // era 3: RENAME channel→chan, then TRUNCATE at position 3 — only
    // key 1 is rewritten after the truncate
    val v3 = txnDf(Seq(TxnEv("I", 4, 1, 11.0, "Q", 0))).drop("txn")
      .withColumn("chan", lit("reborn"))
    graft.streaming.StreamingOps.writeWave(v3, s"$base/in", 2)
    Replication.incrementalSync(spark, v3.schema, s"$base/in",
      s"$base/ckpt", s"$base/state",
      renameCols = Map("channel" -> "chan"), truncateAtSeq = Some(3L))
    val served = Replication.appliedState(spark, s"$base/state")
      .select(col("okey"), col("chan")).collect()
      .map(r => r.getLong(0) -> Option(r.getString(1))).toMap
    // key 2's whole history (incl. its post-default write) predates the
    // truncate — gone; key 1 rebuilt with the renamed column's value
    assert(served == Map(1L -> Some("reborn")),
      s"composed DDL semantics violated: $served")
    // and the default-under-rename still applies to any LATER row that
    // predates... no row can now predate the default; the defaults log
    // must still be keyed under the NEW name
    assert(graft.streaming.StreamingOps.readDefaults(s"$base/state")
      .exists(_._1 == "chan"))
  }

  test("DDL safe widening: INT→BIGINT and FLOAT→DOUBLE promote; a real type change still fails") {
    val base = tmp()
    // v1 envelope: qty INT, ratio FLOAT
    val v1 = txnDf(Seq(TxnEv("I", 1, 1, 10.0, "O", 0),
      TxnEv("I", 2, 2, 20.0, "O", 0))).drop("txn")
      .withColumn("qty", (col("okey") * 2).cast("int"))
      .withColumn("ratio", (col("okey") / 2.0).cast("float"))
    graft.streaming.StreamingOps.writeWave(v1, s"$base/in", 0)
    Replication.incrementalSync(spark, v1.schema, s"$base/in",
      s"$base/ckpt", s"$base/state")
    // DDL: ALTER TABLE … MODIFY qty BIGINT, ratio DOUBLE — the routine
    // safe promotions; only okey=2 is rewritten after the widening
    val v2 = txnDf(Seq(TxnEv("U", 3, 2, 21.0, "P", 0))).drop("txn")
      .withColumn("qty", col("okey") * 200L)
      .withColumn("ratio", col("okey") * 0.25)
    graft.streaming.StreamingOps.writeWave(v2, s"$base/in", 1)
    Replication.incrementalSync(spark, v2.schema, s"$base/in",
      s"$base/ckpt", s"$base/state")
    // published schema promoted to the WIDE types
    val published = graft.streaming.StreamingOps.readStateSchema(s"$base/state").get
    assert(published("qty").dataType == org.apache.spark.sql.types.LongType)
    assert(published("ratio").dataType == org.apache.spark.sql.types.DoubleType)
    // both eras serve correctly under the wide type: the pre-widening
    // epoch's INT32/FLOAT pages read natively as LONG/DOUBLE
    val served = Replication.appliedState(spark, s"$base/state")
      .select(col("okey"), col("qty"), col("ratio")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(served == Set((1L, 2L, 0.5), (2L, 400L, 0.5)))
    // a narrow envelope arriving AFTER the widening published is fine —
    // its epochs serve under the published wide type
    val v3 = txnDf(Seq(TxnEv("U", 4, 1, 11.0, "P", 0))).drop("txn")
      .withColumn("qty", lit(7).cast("int"))
      .withColumn("ratio", lit(0.5f))
    graft.streaming.StreamingOps.writeWave(v3, s"$base/in", 2)
    Replication.incrementalSync(spark, v3.schema, s"$base/in",
      s"$base/ckpt", s"$base/state")
    assert(Replication.appliedState(spark, s"$base/state")
      .filter(col("okey") === 1).select(col("qty")).collect()(0).getLong(0) == 7L)
    // a genuine type CHANGE (qty: BIGINT → STRING) is still rejected
    val v4 = txnDf(Seq(TxnEv("U", 5, 1, 12.0, "P", 0))).drop("txn")
      .withColumn("qty", lit("many"))
      .withColumn("ratio", lit(0.5))
    graft.streaming.StreamingOps.writeWave(v4, s"$base/in", 3)
    val e = intercept[graft.streaming.StreamingOps.EnvelopeTypeChangeException] {
      Replication.incrementalSync(spark, v4.schema, s"$base/in",
        s"$base/ckpt", s"$base/state")
    }
    assert(e.column == "qty")
  }

  test("table lifecycle: CREATE bootstraps + opens a dir, DROP retires " +
      "via the journal, neighbors untouched, refusals by name") {
    val base = tmp()
    val root = s"$base/tables"
    val log = Tables.cdcLog(spark, sf).withColumn("table",
      when(col("okey") % 2 === 0, "t_even").otherwise("t_odd"))
    graft.streaming.StreamingOps.writeWave(
      log.filter(col("seq") === 1), s"$base/in", 0)
    val dirs = Map("t_even" -> s"$root/t_even", "t_odd" -> s"$root/t_odd")
    Replication.incrementalSyncMulti(spark, log.schema, s"$base/in",
      s"$base/ckpt", dirs)
    val evenBefore = Replication.appliedState(spark, s"$root/t_even")
      .count()
    val oddBefore = Replication.appliedState(spark, s"$root/t_odd").count()
    val report = Replication.applyTableLifecycle(spark, root, Seq(
      1L -> ("CREATE TABLE t_new (okey BIGINT NOT NULL PRIMARY KEY, " +
        "price DOUBLE, note VARCHAR(40))"),
      2L -> "DROP TABLE t_odd",
      // foreign noise and column verbs are NOT this layer's business
      3L -> "CREATE TABLE audit (x INT)",
      4L -> "ALTER TABLE t_even ADD COLUMN extra INT"),
      dirs, inScope = Set("t_even", "t_odd", "t_new"))
    // CREATE: bootstrap DDL generated from the parsed source schema,
    // dir joined the topology (no data yet — the next pass writes it)
    assert(report.created.map(_._1) == Seq("t_new"))
    val ddl = report.created.head._2
    assert(ddl.contains("`okey` Int64") && ddl.contains("ORDER BY (`okey`)")
      && ddl.contains("`note` Nullable(String)"))
    assert(report.stateDirs == Map("t_even" -> s"$root/t_even",
      "t_new" -> s"$root/t_new"))
    // DROP: the journaled retire moved the dir; the frozen state still
    // serves under the retired name; the neighbor never moved
    assert(report.retired == Seq("t_odd" -> "_t_odd_dropped_2"))
    assert(!graft.streaming.StateFs.exists(s"$root/t_odd"))
    assert(Replication.appliedState(spark,
      s"$root/_t_odd_dropped_2").count() == oddBefore)
    assert(Replication.appliedState(spark, s"$root/t_even").count()
      == evenBefore)
    // refusals by name: re-create of a live table, keyless create,
    // drop of an unknown table, non-root-relative layout
    def refuses(events: Seq[(Long, String)], naming: String,
        dd: Map[String, String] = report.stateDirs): Unit = {
      val e = intercept[IllegalArgumentException] {
        Replication.applyTableLifecycle(spark, root, events, dd)
      }
      assert(e.getMessage.contains(naming), s"got: ${e.getMessage}")
    }
    refuses(Seq(1L -> "CREATE TABLE t_even (a INT PRIMARY KEY)"),
      "already replicated")
    refuses(Seq(1L -> "CREATE TABLE t_x (a INT)"), "no PRIMARY KEY")
    refuses(Seq(1L -> "DROP TABLE ghost"), "not replicated")
    refuses(Seq(1L -> "DROP TABLE t_even"), "not root-relative",
      Map("t_even" -> "/elsewhere/t_even"))
    // a leftover dir under the root must not be silently adopted
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(s"$root/t_stale"))
    refuses(Seq(1L -> "CREATE TABLE t_stale (a INT PRIMARY KEY)"),
      "already holds a dir")
    // a table born and dropped inside one gap never existed: nothing
    // bootstraps (its DDL leaves the report too — an orphan bootstrap
    // invitation), nothing retires, the map is unchanged
    val ephemeral = Replication.applyTableLifecycle(spark, root, Seq(
      1L -> "CREATE TABLE t_tmp (a BIGINT PRIMARY KEY)",
      2L -> "DROP TABLE t_tmp"), report.stateDirs)
    assert(ephemeral.created.isEmpty)
    assert(ephemeral.retired.isEmpty)
    assert(ephemeral.stateDirs == report.stateDirs)
    // an in-scope CREATE whose body degrades (LIKE/AS SELECT) refuses
    // HERE — silently skipping it would strand the new table's row
    // events outside the topology
    refuses(Seq(1L -> "CREATE TABLE t_ghost LIKE t_even"),
      "outside the parseable dialect")
    // …while the same statement for an out-of-scope table stays noise
    val noisy = Replication.applyTableLifecycle(spark, root,
      Seq(1L -> "CREATE TABLE neighbor LIKE other"),
      report.stateDirs, inScope = Set("t_even", "t_new"))
    assert(noisy.stateDirs == report.stateDirs)
    // a single-table pass handed lifecycle verbs refuses, directing to
    // this API (the tableRenames contract, extended)
    val in2 = s"$base/in2"
    val slog = Tables.cdcLog(spark, sf)
    graft.streaming.StreamingOps.writeWave(
      slog.filter(col("seq") === 1), in2, 0)
    val e = intercept[IllegalArgumentException] {
      Replication.incrementalSync(spark, slog.schema, in2,
        s"$base/ckpt2", s"$base/state2",
        ddlSql = Seq(1L -> "DROP TABLE orders"),
        ddlTable = Some("orders"))
    }
    assert(e.getMessage.contains("applyTableLifecycle"))
  }

  test("a text-fed replica answers Seconds_Behind_Master end to end: " +
      "held txn tail reads its header-time gap, caught-up reads 0") {
    import graft.sources.BinlogText
    val uuid = "3e11fa47-71ca-11e1-9e33-c80aa9429562"
    val cols: Seq[(String, org.apache.spark.sql.types.DataType)] = Seq(
      "okey" -> org.apache.spark.sql.types.LongType,
      "price" -> org.apache.spark.sql.types.DoubleType,
      "status" -> org.apache.spark.sql.types.StringType)
    val t0 = 800000000L
    def rowBlock(pos: Long, sec: Long, okey: Long, price: Double) = {
      val ldt = java.time.LocalDateTime.ofEpochSecond(sec, 0,
        java.time.ZoneOffset.UTC)
      f"# at $pos\n#${ldt.getYear % 100}%02d${ldt.getMonthValue}%02d" +
        f"${ldt.getDayOfMonth}%02d ${ldt.getHour}%2d:" +
        f"${ldt.getMinute}%02d:${ldt.getSecond}%02d server id 1  " +
        s"end_log_pos $pos CRC32 0x00000000 \tWrite_rows: table id 108 " +
        "flags: STMT_END_F\n### INSERT INTO `db`.`orders`\n### SET\n" +
        s"###   @1=$okey\n###   @2=$price\n###   @3='x'\n"
    }
    // the fixture clock: txn 1 commits at t0, txn 2 at t0+120; txn 3's
    // stamp and rows (t0+300) are in the dump with NO Xid — the
    // uncommitted tail, 180 s of event time past the applied horizon
    def writeDump(dir: String, commitTxn3: Boolean): Unit = {
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
      val blocks = Seq(
        BinlogText.renderGtid(100L, t0, uuid, 1L),
        rowBlock(101L, t0, 1L, 1.0), rowBlock(102L, t0, 2L, 2.0),
        BinlogText.renderXid(109L, t0, 1L),
        BinlogText.renderGtid(200L, t0 + 120, uuid, 2L),
        rowBlock(201L, t0 + 120, 1L, 3.0),
        BinlogText.renderXid(209L, t0 + 120, 2L),
        BinlogText.renderGtid(300L, t0 + 300, uuid, 3L),
        rowBlock(301L, t0 + 300, 3L, 4.0),
        rowBlock(302L, t0 + 300, 1L, 5.0)) ++
        (if (commitTxn3) Seq(BinlogText.renderXid(309L, t0 + 300, 3L))
         else Seq.empty)
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(s"$dir/f.txt"), blocks.mkString("\n"))
    }
    val base = tmp()
    writeDump(s"$base/dump", commitTxn3 = false)
    val env = BinlogText.parseTxn(spark, s"$base/dump", cols)
    graft.streaming.StreamingOps.writeWave(env, s"$base/in", 0)
    Replication.incrementalSync(spark, env.schema, s"$base/in",
      s"$base/ckpt", s"$base/state", txnCol = Some("txn"))
    val st = Replication.replicaStatus(spark, s"$base/state",
      txnCol = Some("txn"))
    // behind by exactly the held tail's event-time gap, from header
    // seconds alone; the tail's two rows are pending
    assert(st.secondsBehindSource.contains(180.0),
      s"expected 180 s behind, got ${st.secondsBehindSource}")
    assert(st.pendingRows == 2L)
    // the served state is txns 1-2 only (okey 3 unseen, okey 1 at 3.0)
    assert(Replication.appliedState(spark, s"$base/state")
      .select(col("okey"), col("price")).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap ==
      Map(1L -> 3.0, 2L -> 2.0))
    // caught up: the same dump WITH txn 3's Xid reports 0 behind even
    // though events trail the last commit in file order
    val base2 = tmp()
    writeDump(s"$base2/dump", commitTxn3 = true)
    val env2 = BinlogText.parseTxn(spark, s"$base2/dump", cols)
    graft.streaming.StreamingOps.writeWave(env2, s"$base2/in", 0)
    Replication.incrementalSync(spark, env2.schema, s"$base2/in",
      s"$base2/ckpt", s"$base2/state", txnCol = Some("txn"))
    val st2 = Replication.replicaStatus(spark, s"$base2/state",
      txnCol = Some("txn"))
    assert(st2.secondsBehindSource.contains(0.0),
      s"expected caught-up 0, got ${st2.secondsBehindSource}")
    assert(st2.pendingRows == 0L)
    assert(Replication.appliedState(spark, s"$base2/state")
      .select(col("okey"), col("price")).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap ==
      Map(1L -> 5.0, 2L -> 2.0, 3L -> 4.0))
  }

  test("full dump feed: lifecycle + column DDL from ONE QueryEvent " +
      "stream drive the multi-table topology end to end") {
    import graft.sources.BinlogText
    val base = tmp()
    val root = s"$base/tables"
    val log0 = Tables.cdcLog(spark, sf).withColumn("table",
      when(col("okey") % 2 === 0, "t_even").otherwise("t_odd"))
    // the shared envelope carries an extra `channel` column — the one
    // the gap's RENAME COLUMN targets (core envelope columns are the
    // harness's fixed vocabulary; real DDL renames payload columns)
    val log = log0.withColumn("channel",
      when(col("op") === "D", lit(null).cast("string"))
        .otherwise(concat(lit("c"), (col("okey") % 4).cast("string"))))
    // pass 1: the parity fan-out applies wave 1
    graft.streaming.StreamingOps.writeWave(
      log.filter(col("seq") === 1), s"$base/in", 0)
    val dirs = Map("t_even" -> s"$root/t_even", "t_odd" -> s"$root/t_odd")
    Replication.incrementalSyncMulti(spark, log.schema, s"$base/in",
      s"$base/ckpt", dirs)
    // the GAP, as dump text: a lifecycle verb AND a column verb in one
    // QueryEvent stream — extracted once, split by layer
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(s"$base/gap"))
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$base/gap/ddl.txt"),
      Seq(
        BinlogText.renderQuery(10L, 800000000L,
          "DROP TABLE `t_odd`"),
        BinlogText.renderQuery(11L, 800000001L,
          "ALTER TABLE t_even RENAME COLUMN channel TO chan"),
        BinlogText.renderQuery(12L, 800000002L,
          "ALTER TABLE neighbors_audit ADD COLUMN junk INT")) // noise
        .mkString("\n"))
    val gap = BinlogText.parseDdl(spark, s"$base/gap")
    // layer 1: lifecycle (DROP retires t_odd, topology shrinks)
    val report = Replication.applyTableLifecycle(spark, root, gap, dirs)
    assert(report.stateDirs.keySet == Set("t_even"))
    // layer 2: the SAME gap feeds the resumed pass — lifecycle verbs
    // are out of the (shrunk) scope now, the rename folds, the
    // neighbor's ALTER skips
    val w2 = log.filter(col("seq") >= 2 && col("okey") % 2 === 0)
      .withColumnRenamed("channel", "chan")
      .withColumn("chan", when(col("op") === "D",
        lit(null).cast("string")).otherwise(concat(lit("n"),
        (col("okey") % 4).cast("string"))))
    graft.streaming.StreamingOps.writeWave(w2, s"$base/in", 1)
    Replication.incrementalSyncMulti(spark, w2.schema, s"$base/in",
      s"$base/ckpt", report.stateDirs, ddlSql = gap)
    val served = Replication.appliedState(spark, s"$root/t_even")
    assert(served.columns.contains("chan") &&
      !served.columns.contains("channel"))
    // pre-rename winners serve their old 'c…' values under the NEW
    // name; post-rename winners serve their 'n…' values
    val byKey = served.select(col("okey"), col("chan")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val pre = byKey.filter { case (k, _) => k % 3 != 0 && k % 7 != 0 }
    val post = byKey.filter { case (k, _) => k % 3 == 0 && k % 7 != 0 }
    assert(pre.nonEmpty && pre.values.forall(_.startsWith("c")))
    assert(post.nonEmpty && post.values.forall(_.startsWith("n")))
    // the UNSHRUNK scope refuses the same gap loudly: DROP TABLE of a
    // still-declared table cannot fold into a column-level pass
    val e = intercept[IllegalArgumentException] {
      Replication.incrementalSyncMulti(spark, w2.schema, s"$base/in",
        s"$base/ckpt2", dirs, ddlSql = gap)
    }
    assert(e.getMessage.contains("applyTableLifecycle"))
    // the CREATE composition is deadlock-free: a gap carrying CREATE +
    // column DDL runs applyTableLifecycle first, then the SAME gap's
    // ddlSql feeds the pass — the recorded CreateTable is acknowledged
    // (its table is declared: that IS the applied state), only the
    // column verb folds
    val base2 = tmp()
    val root2 = s"$base2/tables"
    graft.streaming.StreamingOps.writeWave(
      log.filter(col("seq") === 1), s"$base2/in", 0)
    val dirs2 = Map("t_even" -> s"$root2/t_even", "t_odd" -> s"$root2/t_odd")
    Replication.incrementalSyncMulti(spark, log.schema, s"$base2/in",
      s"$base2/ckpt", dirs2)
    val gap2 = Seq(
      10L -> ("CREATE TABLE t_extra (okey BIGINT PRIMARY KEY, " +
        "price DOUBLE)"),
      11L -> "ALTER TABLE t_even RENAME COLUMN channel TO chan")
    val rep2 = Replication.applyTableLifecycle(spark, root2, gap2, dirs2)
    assert(rep2.stateDirs.keySet == Set("t_even", "t_odd", "t_extra"))
    val w2b = log.filter(col("seq") >= 2)
      .withColumnRenamed("channel", "chan")
    graft.streaming.StreamingOps.writeWave(w2b, s"$base2/in", 1)
    Replication.incrementalSyncMulti(spark, w2b.schema, s"$base2/in",
      s"$base2/ckpt", rep2.stateDirs, ddlSql = gap2) // must not refuse
    assert(Replication.appliedState(spark, s"$root2/t_even")
      .columns.contains("chan"))
    // and a narrowing MODIFY refuses topology-wide, naming the dir
    val e2 = intercept[IllegalArgumentException] {
      Replication.incrementalSyncMulti(spark, w2.schema, s"$base/in",
        s"$base/ckpt3", report.stateDirs,
        ddlSql = Seq(20L -> "ALTER TABLE t_even MODIFY okey INT"))
    }
    assert(e2.getMessage.contains("MODIFY COLUMN 'okey' INT"))
  }

  test("narrowing MODIFY via SQL text refuses at the gate naming the " +
      "statement; widening text passes through to the guardrail") {
    val base = tmp()
    val v1 = txnDf(Seq(TxnEv("I", 1, 1, 10.0, "O", 0),
      TxnEv("I", 2, 2, 20.0, "O", 0))).drop("txn")
      .withColumn("qty", col("okey") * 200L) // published BIGINT
    graft.streaming.StreamingOps.writeWave(v1, s"$base/in", 0)
    Replication.incrementalSync(spark, v1.schema, s"$base/in",
      s"$base/ckpt", s"$base/state")
    // the narrowing MODIFY refuses AT THE GATE — before any event
    // applies — naming the statement's column, type, and position
    graft.streaming.StreamingOps.writeWave(
      txnDf(Seq(TxnEv("U", 3, 1, 11.0, "P", 0))).drop("txn")
        .withColumn("qty", lit(7).cast("int")), s"$base/in", 1)
    val e = intercept[IllegalArgumentException] {
      Replication.incrementalSync(spark, v1.schema, s"$base/in",
        s"$base/ckpt", s"$base/state",
        ddlSql = Seq(9L -> "ALTER TABLE orders MODIFY qty INT"),
        ddlTable = Some("orders"))
    }
    assert(e.getMessage.contains("MODIFY COLUMN 'qty' INT") &&
      e.getMessage.contains("seq 9") && e.getMessage.contains("bigint"),
      s"got: ${e.getMessage}")
    // a cross-family modify refuses the same way
    val e2 = intercept[IllegalArgumentException] {
      Replication.incrementalSync(spark, v1.schema, s"$base/in",
        s"$base/ckpt", s"$base/state",
        ddlSql = Seq(9L -> "ALTER TABLE orders MODIFY qty VARCHAR(8)"),
        ddlTable = Some("orders"))
    }
    assert(e2.getMessage.contains("MODIFY COLUMN 'qty' VARCHAR(8)"))
    // a WIDENING modify on an INT column passes the gate and the
    // widened envelope promotes the published schema, as before
    val base2 = tmp()
    val w1 = txnDf(Seq(TxnEv("I", 1, 1, 10.0, "O", 0))).drop("txn")
      .withColumn("qty", lit(5).cast("int"))
    graft.streaming.StreamingOps.writeWave(w1, s"$base2/in", 0)
    Replication.incrementalSync(spark, w1.schema, s"$base2/in",
      s"$base2/ckpt", s"$base2/state")
    val w2 = txnDf(Seq(TxnEv("U", 2, 1, 11.0, "P", 0))).drop("txn")
      .withColumn("qty", col("okey") * 4000000000L)
    graft.streaming.StreamingOps.writeWave(w2, s"$base2/in", 1)
    Replication.incrementalSync(spark, w2.schema, s"$base2/in",
      s"$base2/ckpt", s"$base2/state",
      ddlSql = Seq(9L -> "ALTER TABLE orders MODIFY qty BIGINT"),
      ddlTable = Some("orders"))
    assert(graft.streaming.StreamingOps.readStateSchema(s"$base2/state")
      .get.apply("qty").dataType == org.apache.spark.sql.types.LongType)
    assert(Replication.appliedState(spark, s"$base2/state")
      .select(col("qty")).collect()(0).getLong(0) == 4000000000L)
  }

  test("topology repair: one repairSyncMulti call heals two diverged tables") {
    val base = tmp()
    val log = Tables.cdcLog(spark, sf).withColumn("table",
      when(col("okey") % 2 === 0, "t_even").otherwise("t_odd"))
    (1 to 3).foreach(w => graft.streaming.StreamingOps.writeWave(
      log.filter(col("seq") === w), s"$base/in", w - 1))
    val dirs = Map("t_even" -> s"$base/state_even", "t_odd" -> s"$base/state_odd")
    Replication.incrementalSyncMulti(spark, log.schema, s"$base/in",
      s"$base/ckpt", dirs)
    // per-table truth = the batch collapse fanned out by the same parity
    // mapping, pinned so the repair can't chase its own mutation
    val batch = q("agg_latest_by_version").drop("op").localCheckpoint()
    val truthBy = Map(
      "t_even" -> batch.filter(col("okey") % 2 === 0),
      "t_odd" -> batch.filter(col("okey") % 2 =!= 0))
    // diverge each table DIFFERENTLY: t_even drifts one price, t_odd
    // loses one key and gains a phantom
    val evenKey = truthBy("t_even").orderBy(col("okey")).limit(1)
      .collect()(0).getLong(0)
    val oddKey = truthBy("t_odd").orderBy(col("okey")).limit(1)
      .collect()(0).getLong(0)
    truthBy("t_even").filter(col("okey") === evenKey)
      .select(lit("U").as("op"), lit(500L).as("seq"), col("ts"),
        col("okey"), (col("price") + 555.0).as("price"), col("status"))
      .write.parquet(s"$base/state_even/epoch=99")
    truthBy("t_odd").filter(col("okey") === oddKey)
      .select(lit("D").as("op"), lit(500L).as("seq"), col("ts"), col("okey"),
        lit(null).cast("double").as("price"), lit(null).cast("string").as("status"))
      .unionByName(truthBy("t_odd").limit(1)
        .select(lit("I").as("op"), lit(500L).as("seq"), col("ts"),
          lit(-777L).as("okey"), lit(9.99).as("price"), lit("PH").as("status")))
      .write.parquet(s"$base/state_odd/epoch=99")
    val reports = Replication.repairSyncMulti(spark, truthBy, dirs)
    assert(reports("t_even") == Replication.RepairReport(0, 1, 0),
      s"t_even: ${reports("t_even")}")
    assert(reports("t_odd") == Replication.RepairReport(1, 0, 1),
      s"t_odd: ${reports("t_odd")}")
    // both tables converged: the user-facing consistency check passes
    for ((t, dir) <- dirs) {
      val check = Replication.consistencyCheck(truthBy(t),
        Replication.appliedState(spark, dir).drop("op"), "okey")
      assert(check.consistent, s"$t still inconsistent after repair: $check")
    }
    // idempotent: a second topology repair finds nothing anywhere
    assert(Replication.repairSyncMulti(spark, truthBy, dirs)
      .values.forall(_.repaired == 0L))
    // a topology repair heals every table or none: a partial source map
    // fails loudly instead of silently skipping a diverged table
    val e = intercept[IllegalArgumentException] {
      Replication.repairSyncMulti(spark, truthBy - "t_odd", dirs)
    }
    assert(e.getMessage.contains("t_odd"))
  }

  test("consistency check: clean copy passes; mutation and loss are caught") {
    val src = Tables.t(spark, sf, "nation")
    assert(Replication.consistencyCheck(src, src, "n_nationkey").consistent)

    val mutated = src.withColumn("n_name",
      when(col("n_nationkey") === 0, lit("XX")).otherwise(col("n_name")))
    val m = Replication.consistencyCheck(src, mutated, "n_nationkey")
    assert(!m.checksumsMatch && m.nSrc == m.nDst)

    val lossy = src.filter(col("n_nationkey") =!= 3)
    val l = Replication.consistencyCheck(src, lossy, "n_nationkey")
    assert(l.missingInDst == 1 && l.extraInDst == 0 && !l.consistent)

    // schema drift: a destination missing a whole column must NOT pass
    // just because every shared value matches
    val drifted = src.drop("n_name")
    val d = Replication.consistencyCheck(src, drifted, "n_nationkey")
    assert(!d.schemaMatches && !d.consistent)
  }

  test("DROP COLUMN DDL: the column vanishes; a re-add starts empty and backfills its default") {
    val base = tmp()
    val v1 = txnDf(Seq(TxnEv("I", 1, 1, 10.0, "O", 0),
      TxnEv("I", 2, 2, 20.0, "O", 0))).drop("txn")
      .withColumn("channel", concat(lit("ch"), col("okey")))
    graft.streaming.StreamingOps.writeWave(v1, s"$base/in", 0)
    Replication.incrementalSync(spark, v1.schema, s"$base/in",
      s"$base/ckpt", s"$base/state")
    // the DROP COLUMN QueryEvent at position 2: the resumed envelope no
    // longer carries the column, and the published schema shrinks
    val v2 = txnDf(Seq(TxnEv("U", 3, 2, 21.0, "P", 0))).drop("txn")
    graft.streaming.StreamingOps.writeWave(v2, s"$base/in", 1)
    Replication.incrementalSync(spark, v2.schema, s"$base/in",
      s"$base/ckpt", s"$base/state", dropCols = Map("channel" -> 2L))
    val published = graft.streaming.StreamingOps
      .readStateSchema(s"$base/state").get
    assert(!published.fieldNames.contains("channel"),
      "an explicit DROP must shrink the published schema")
    assert(!Replication.appliedState(spark, s"$base/state")
      .columns.contains("channel"))
    // RE-ADD under the same name with a DEFAULT at position 4: key 1 —
    // untouched since BEFORE the drop, its old epoch physically holding
    // 'ch1' — must serve the default, never the stale pre-drop value
    val v3 = txnDf(Seq(TxnEv("U", 5, 2, 22.0, "Q", 0))).drop("txn")
      .withColumn("channel", lit("fresh"))
    graft.streaming.StreamingOps.writeWave(v3, s"$base/in", 2)
    Replication.incrementalSync(spark, v3.schema, s"$base/in",
      s"$base/ckpt", s"$base/state",
      defaultCols = Map("channel" ->
        graft.streaming.StreamingOps.ColumnDefault(4L, "'none'")))
    def served(): Map[Long, Option[String]] =
      Replication.appliedState(spark, s"$base/state")
        .select(col("okey"), col("channel")).collect()
        .map(r => r.getLong(0) -> Option(r.getString(1))).toMap
    assert(served() == Map(1L -> Some("none"), 2L -> Some("fresh")),
      "pre-drop values must not resurrect through a re-add")
    // compaction materializes the gate + backfill; the served state is
    // unchanged through materialize-then-re-gate
    graft.streaming.StreamingOps.compactState(spark, s"$base/state")
    assert(served() == Map(1L -> Some("none"), 2L -> Some("fresh")))
  }

  test("DROP COLUMN validation: key, still-carried, and unknown columns fail loudly") {
    val base = tmp()
    val v1 = txnDf(Seq(TxnEv("I", 1, 1, 10.0, "O", 0))).drop("txn")
    graft.streaming.StreamingOps.writeWave(v1, s"$base/in", 0)
    // dropping against a dir with no published schema yet
    intercept[IllegalStateException] {
      Replication.incrementalSync(spark, v1.schema, s"$base/in",
        s"$base/ckpt0", s"$base/none", dropCols = Map("price" -> 1L))
    }
    Replication.incrementalSync(spark, v1.schema, s"$base/in",
      s"$base/ckpt", s"$base/state")
    val noPrice = org.apache.spark.sql.types.StructType(
      v1.schema.fields.filterNot(_.name == "price"))
    intercept[IllegalArgumentException] { // key column
      Replication.incrementalSync(spark, v1.schema, s"$base/in",
        s"$base/ckpt", s"$base/state", dropCols = Map("okey" -> 1L))
    }
    intercept[IllegalArgumentException] { // still in the envelope
      Replication.incrementalSync(spark, v1.schema, s"$base/in",
        s"$base/ckpt", s"$base/state", dropCols = Map("price" -> 1L))
    }
    intercept[IllegalArgumentException] { // never published
      Replication.incrementalSync(spark, noPrice, s"$base/in",
        s"$base/ckpt", s"$base/state", dropCols = Map("nope" -> 1L))
    }
  }

  test("DROP composes with RENAME: a re-added name never revives the dead chain's history") {
    val base = tmp()
    val v1 = txnDf(Seq(TxnEv("I", 1, 1, 10.0, "O", 0),
      TxnEv("I", 2, 2, 20.0, "O", 0))).drop("txn")
      .withColumn("channel", concat(lit("ch"), col("okey")))
    graft.streaming.StreamingOps.writeWave(v1, s"$base/in", 0)
    Replication.incrementalSync(spark, v1.schema, s"$base/in",
      s"$base/ckpt", s"$base/state")
    // rename channel → chan (key 2 rewritten under the new name) …
    val v2 = txnDf(Seq(TxnEv("U", 3, 2, 21.0, "P", 0))).drop("txn")
      .withColumn("chan", lit("r2"))
    graft.streaming.StreamingOps.writeWave(v2, s"$base/in", 1)
    Replication.incrementalSync(spark, v2.schema, s"$base/in",
      s"$base/ckpt", s"$base/state", renameCols = Map("channel" -> "chan"))
    // … then DROP chan at position 3 — the whole chain (chan + its
    // pre-rename history under 'channel') dies with it
    val v3 = txnDf(Seq(TxnEv("U", 4, 1, 11.0, "P", 0))).drop("txn")
    graft.streaming.StreamingOps.writeWave(v3, s"$base/in", 2)
    Replication.incrementalSync(spark, v3.schema, s"$base/in",
      s"$base/ckpt", s"$base/state", dropCols = Map("chan" -> 3L))
    assert(graft.streaming.StreamingOps.readRenames(s"$base/state").isEmpty,
      "rename history ending at a dropped column must be purged")
    // re-add 'chan': key 1's winner (seq 4, post-drop, pre-re-add) and
    // key 2's (seq 3, pre-drop 'r2') both serve the default — neither
    // the renamed 'r2' nor the original 'ch1' may resurface
    val v4 = txnDf(Seq(TxnEv("U", 6, 2, 23.0, "Q", 0))).drop("txn")
      .withColumn("chan", lit("fresh"))
    graft.streaming.StreamingOps.writeWave(v4, s"$base/in", 3)
    Replication.incrementalSync(spark, v4.schema, s"$base/in",
      s"$base/ckpt", s"$base/state",
      defaultCols = Map("chan" ->
        graft.streaming.StreamingOps.ColumnDefault(5L, "'none'")))
    val served = Replication.appliedState(spark, s"$base/state")
      .select(col("okey"), col("chan")).collect()
      .map(r => r.getLong(0) -> Option(r.getString(1))).toMap
    assert(served == Map(1L -> Some("none"), 2L -> Some("fresh")))
  }

  test("time travel: as-of at each position equals the replay up to that position") {
    val base = tmp()
    val log = txnDf(Seq(TxnEv("I", 1, 1, 10.0, "O", 0),
      TxnEv("I", 2, 2, 20.0, "O", 0), TxnEv("U", 3, 2, 21.0, "P", 0),
      TxnEv("D", 4, 1, 0.0, "X", 0))).drop("txn")
    graft.streaming.StreamingOps.writeWave(log, s"$base/in", 0)
    Replication.incrementalSync(spark, log.schema, s"$base/in",
      s"$base/ckpt", s"$base/state", keepHistory = true)
    def asOf(sq: Long): Map[Long, Double] =
      Replication.appliedState(spark, s"$base/state", Some(sq))
        .select(col("okey"), col("price")).collect()
        .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(asOf(1L) == Map(1L -> 10.0))
    assert(asOf(2L) == Map(1L -> 10.0, 2L -> 20.0))
    assert(asOf(3L) == Map(1L -> 10.0, 2L -> 21.0))
    assert(asOf(4L) == Map(2L -> 21.0), "the delete is visible at its position")
    // as-of at the head equals the plain read
    val head = Replication.appliedState(spark, s"$base/state")
      .select(col("okey"), col("price")).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(asOf(Long.MaxValue) == head)
    // a later pass WITHOUT keepHistory would silently fold new batches
    // and break as-of reads — refused loudly
    val more = txnDf(Seq(TxnEv("U", 5, 2, 22.0, "Q", 0))).drop("txn")
    graft.streaming.StreamingOps.writeWave(more, s"$base/in", 1)
    intercept[IllegalArgumentException] {
      Replication.incrementalSync(spark, more.schema, s"$base/in",
        s"$base/ckpt", s"$base/state")
    }
    // and a dir synced WITHOUT keepHistory refuses as-of reads: its
    // epochs hold per-batch winners, not events
    graft.streaming.StreamingOps.writeWave(log, s"$base/in2", 0)
    Replication.incrementalSync(spark, log.schema, s"$base/in2",
      s"$base/ckpt2", s"$base/state2")
    intercept[IllegalArgumentException] {
      Replication.appliedState(spark, s"$base/state2", Some(2L))
    }
  }

  test("time travel below the compaction horizon fails loudly; at it, serves") {
    val base = tmp()
    val v1 = txnDf(Seq(TxnEv("I", 1, 1, 10.0, "O", 0),
      TxnEv("I", 2, 2, 20.0, "O", 0))).drop("txn")
    graft.streaming.StreamingOps.writeWave(v1, s"$base/in", 0)
    Replication.incrementalSync(spark, v1.schema, s"$base/in",
      s"$base/ckpt", s"$base/state", keepHistory = true)
    val v2 = txnDf(Seq(TxnEv("U", 3, 2, 21.0, "P", 0))).drop("txn")
    graft.streaming.StreamingOps.writeWave(v2, s"$base/in", 1)
    Replication.incrementalSync(spark, v2.schema, s"$base/in",
      s"$base/ckpt", s"$base/state", keepHistory = true)
    graft.streaming.StreamingOps.compactState(spark, s"$base/state")
    val horizon = graft.streaming.StreamingOps
      .readCompactHorizon(s"$base/state")
    assert(horizon.contains(3L), "horizon = newest folded seq")
    // at the horizon the baseline IS the as-of answer
    val at = Replication.appliedState(spark, s"$base/state", horizon)
      .select(col("okey"), col("price")).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(at == Map(1L -> 10.0, 2L -> 21.0))
    // below it the per-event history is folded away — refuse, loudly
    val e = intercept[IllegalArgumentException] {
      Replication.appliedState(spark, s"$base/state", Some(2L))
    }
    assert(e.getMessage.contains("compaction horizon"))
  }

  test("time travel rolls back the DEFAULT clock: a later default does not fill") {
    val base = tmp()
    val v1 = txnDf(Seq(TxnEv("I", 1, 1, 10.0, "O", 0),
      TxnEv("I", 2, 2, 20.0, "O", 0))).drop("txn")
    graft.streaming.StreamingOps.writeWave(v1, s"$base/in", 0)
    Replication.incrementalSync(spark, v1.schema, s"$base/in",
      s"$base/ckpt", s"$base/state", keepHistory = true)
    // ADD COLUMN channel DEFAULT 'none' at position 3; key 2 rewritten
    // after it with a live value
    val v2 = txnDf(Seq(TxnEv("U", 4, 2, 21.0, "P", 0))).drop("txn")
      .withColumn("channel", lit("live"))
    graft.streaming.StreamingOps.writeWave(v2, s"$base/in", 1)
    Replication.incrementalSync(spark, v2.schema, s"$base/in",
      s"$base/ckpt", s"$base/state", keepHistory = true,
      defaultCols = Map("channel" ->
        graft.streaming.StreamingOps.ColumnDefault(3L, "'none'")))
    def chanAsOf(sq: Long): Map[Long, Option[String]] =
      Replication.appliedState(spark, s"$base/state", Some(sq))
        .select(col("okey"), col("channel")).collect()
        .map(r => r.getLong(0) -> Option(r.getString(1))).toMap
    // before the DDL position the column did not exist: no fill
    assert(chanAsOf(2L) == Map(1L -> None, 2L -> None))
    // at/after it, pre-DDL winners backfill; post-DDL winners serve
    // what they wrote
    assert(chanAsOf(3L) == Map(1L -> Some("none"), 2L -> Some("none")))
    assert(chanAsOf(4L) == Map(1L -> Some("none"), 2L -> Some("live")))
  }

  test("multi-table DROP + retained history: one DDL shrinks every table; as-of serves per table") {
    val base = tmp()
    val route = when(col("okey") % 2 === 0, "t_even").otherwise("t_odd")
    val v1 = txnDf(Seq(TxnEv("I", 1, 1, 10.0, "O", 0),
      TxnEv("I", 2, 2, 20.0, "O", 0))).drop("txn")
      .withColumn("channel", concat(lit("ch"), col("okey")))
      .withColumn("table", route)
    graft.streaming.StreamingOps.writeWave(v1, s"$base/in", 0)
    val dirs = Map("t_even" -> s"$base/se", "t_odd" -> s"$base/so")
    Replication.incrementalSyncMulti(spark, v1.schema, s"$base/in",
      s"$base/ckpt", dirs, keepHistory = true)
    // the envelope-wide DROP at position 2: both tables' schemas shrink
    val v2 = txnDf(Seq(TxnEv("U", 3, 2, 21.0, "P", 0),
      TxnEv("U", 4, 1, 11.0, "P", 0))).drop("txn")
      .withColumn("table", route)
    graft.streaming.StreamingOps.writeWave(v2, s"$base/in", 1)
    Replication.incrementalSyncMulti(spark, v2.schema, s"$base/in",
      s"$base/ckpt", dirs, dropCols = Map("channel" -> 2L),
      keepHistory = true)
    dirs.values.foreach { d =>
      assert(!graft.streaming.StreamingOps.readStateSchema(d).get
        .fieldNames.contains("channel"), s"$d still publishes the column")
    }
    def price(d: String, asOf: Option[Long]): Map[Long, Double] =
      Replication.appliedState(spark, d, asOf)
        .select(col("okey"), col("price")).collect()
        .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // as-of 3: t_even's update is visible, t_odd's (seq 4) is not
    assert(price(dirs("t_even"), Some(3L)) == Map(2L -> 21.0))
    assert(price(dirs("t_odd"), Some(3L)) == Map(1L -> 10.0))
    assert(price(dirs("t_odd"), None) == Map(1L -> 11.0))
  }

  test("compressed DDL window: DROP and RE-ADD declared in one resumed pass") {
    val base = tmp()
    val v1 = txnDf(Seq(TxnEv("I", 1, 1, 10.0, "O", 0),
      TxnEv("I", 2, 2, 20.0, "O", 0))).drop("txn")
      .withColumn("channel", concat(lit("ch"), col("okey")))
    graft.streaming.StreamingOps.writeWave(v1, s"$base/in", 0)
    Replication.incrementalSync(spark, v1.schema, s"$base/in",
      s"$base/ckpt", s"$base/state")
    // DROP at position 2 and RE-ADD with DEFAULT at position 3 both
    // landed while the stream was down — one pass declares both, and
    // the envelope legitimately still carries the column
    val v2 = txnDf(Seq(TxnEv("U", 4, 2, 21.0, "P", 0))).drop("txn")
      .withColumn("channel", lit("fresh"))
    graft.streaming.StreamingOps.writeWave(v2, s"$base/in", 1)
    Replication.incrementalSync(spark, v2.schema, s"$base/in",
      s"$base/ckpt", s"$base/state", dropCols = Map("channel" -> 2L),
      defaultCols = Map("channel" ->
        graft.streaming.StreamingOps.ColumnDefault(3L, "'none'")))
    val served = Replication.appliedState(spark, s"$base/state")
      .select(col("okey"), col("channel")).collect()
      .map(r => r.getLong(0) -> Option(r.getString(1))).toMap
    assert(served == Map(1L -> Some("none"), 2L -> Some("fresh")),
      "pre-drop values die; the re-add backfills its default")
    // a "re-add" at or below the drop position is a config typo
    intercept[IllegalArgumentException] {
      Replication.incrementalSync(spark, v2.schema, s"$base/in",
        s"$base/ckpt", s"$base/state", dropCols = Map("channel" -> 5L),
        defaultCols = Map("channel" ->
          graft.streaming.StreamingOps.ColumnDefault(5L, "'x'")))
    }
  }

  test("changelog re-export: a downstream replica built from changesSince converges") {
    val base = tmp()
    val log = txnDf(Seq(TxnEv("I", 1, 1, 10.0, "O", 0),
      TxnEv("I", 2, 2, 20.0, "O", 0), TxnEv("U", 3, 2, 21.0, "P", 0),
      TxnEv("D", 4, 1, 0.0, "X", 0))).drop("txn")
    // two waves/epochs: the tombstone lands in a later epoch than the
    // row it cancels, and the GC compaction below has deltas to fold
    graft.streaming.StreamingOps.writeWave(
      log.filter(col("seq") <= 2), s"$base/in", 0)
    Replication.incrementalSync(spark, log.schema, s"$base/in",
      s"$base/ckpt", s"$base/state")
    graft.streaming.StreamingOps.writeWave(
      log.filter(col("seq") >= 3), s"$base/in", 1)
    Replication.incrementalSync(spark, log.schema, s"$base/in",
      s"$base/ckpt", s"$base/state")
    def changes(p: Long): Map[Long, (String, Double)] =
      Replication.changesSince(spark, s"$base/state", p)
        .select(col("okey"), col("op"), col("price")).collect()
        .map(r => r.getLong(0) -> (r.getString(1), r.getDouble(2))).toMap
    // deletes ride as tombstone rows; a caught-up consumer reads nothing
    assert(changes(0L) == Map(1L -> ("D", 0.0), 2L -> ("U", 21.0)))
    assert(changes(3L) == Map(1L -> ("D", 0.0)))
    assert(changes(4L) == Map.empty)
    // DAISY CHAIN: seed a downstream replica from the position-0 export
    // and apply it as one wave — it must serve the upstream's state
    val export = Replication.changesSince(spark, s"$base/state", 0L)
    graft.streaming.StreamingOps.writeWave(export, s"$base/in2", 0)
    Replication.incrementalSync(spark, export.schema, s"$base/in2",
      s"$base/ckpt2", s"$base/state2")
    assert(servedTxnState(s"$base/state2") == servedTxnState(s"$base/state"),
      "the chained replica must converge to the upstream state")
    // retention guard: after a tombstone GC, positions below the purge
    // floor refuse — the purged deletes are not replayable
    graft.streaming.StreamingOps.compactState(spark, s"$base/state",
      tombstoneHorizon = Some(0))
    val floor = graft.streaming.StreamingOps.readPurgeFloor(s"$base/state")
    assert(floor.contains(4L))
    val e = intercept[IllegalArgumentException] {
      Replication.changesSince(spark, s"$base/state", 3L)
    }
    assert(e.getMessage.contains("purge floor"))
    assert(changes(4L) == Map.empty, "at the floor the export still serves")
  }

  test("changes poll: no global sort — at most 2 Spark jobs, no global " +
      "SortExec or range exchange, the same rows as the sorted export") {
    import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
    import org.apache.spark.sql.execution.SortExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    // the sorted export ran 4 Spark jobs per poll of this fixture: the
    // scan and hash-exchange map stage, the range-partition sampling
    // job, the range-exchange map stage and the result stage
    val sortedJobs = 4
    val base = tmp()
    val evs = (1 to 40).map(k => TxnEv("I", k, k, k.toDouble, "O", 0)) ++
      (41 to 60).map(i => TxnEv("U", i, (i * 7) % 40 + 1, i.toDouble, "P", 0)) ++
      (61 to 66).map(i => TxnEv("D", i, (i * 11) % 40 + 1, 0.0, "O", 0))
    val log = txnDf(evs).drop("txn")
    // a seed epoch (the compacted baseline of the inserts) and 2 deltas
    Seq((0L, 20L), (20L, 40L), (40L, 56L), (56L, 66L)).zipWithIndex
      .foreach { case ((lo, hi), w) =>
        graft.streaming.StreamingOps.writeWave(
          log.filter(col("seq") > lo && col("seq") <= hi), s"$base/in", w)
        Replication.incrementalSync(spark, log.schema, s"$base/in",
          s"$base/ckpt", s"$base/state")
        if (w == 1) graft.streaming.StreamingOps.compactState(spark,
          s"$base/state")
      }
    val st = Replication.replicaStatus(spark, s"$base/state")
    assert(st.baselineEpochs == 1 && st.deltaEpochs == 2, s"fixture: $st")
    val poll = Replication.changesSince(spark, s"$base/state", 30L)
    val (l, rows) = listened(poll.collect())
    info(s"changesSince: ${l.jobCount} Spark jobs")
    assert(l.jobCount <= sortedJobs - 2,
      s"${l.jobCount} Spark jobs in one changes poll")
    val helper = new AdaptiveSparkPlanHelper {}
    val plan = poll.queryExecution.executedPlan
    // the collapse's sort aggregate keeps its partition-local sorts;
    // only a global (total-order) sort is gone
    assert(helper.collect(plan) { case p: SortExec if p.global => p }.isEmpty,
      s"global SortExec in the poll: $plan")
    assert(helper.collect(plan) {
      case e: ShuffleExchangeExec
        if e.outputPartitioning.isInstanceOf[RangePartitioning] => e
    }.isEmpty, s"range exchange in the poll: $plan")
    // the rows, as a map: each key changed above 30, its latest image
    val got = rows.map(r => r.getAs[Long]("okey") ->
      ((r.getAs[String]("op"), r.getAs[Double]("price"),
        r.getAs[Long]("seq")))).toMap
    val want = evs.filter(_.seq > 30).groupBy(_.okey).map { case (k, es) =>
      val w = evs.filter(_.okey == k).maxBy(_.seq)
      k -> ((w.op, w.price, w.seq))
    }
    assert(rows.length == got.size, s"${rows.length} rows for ${got.size} keys")
    assert(got == want, s"export $got != reference $want")
  }

  test("computed columns materialize at apply; masks run before the compute") {
    val base = tmp()
    val v1 = txnDf(Seq(TxnEv("I", 1, 1, 50.0, "O", 0),
      TxnEv("I", 2, 2, 500.0, "O", 0))).drop("txn")
    graft.streaming.StreamingOps.writeWave(v1, s"$base/in", 0)
    Replication.incrementalSync(spark, v1.schema, s"$base/in",
      s"$base/ckpt", s"$base/state",
      computedCols = Seq(
        "band" -> "CASE WHEN price < 100.0 THEN 'low' ELSE 'high' END"))
    val served = Replication.appliedState(spark, s"$base/state")
      .select(col("okey"), col("band")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(served == Map(1L -> "low", 2L -> "high"))
    // privacy composition: the compute runs AFTER the mask, so a
    // computed column can never leak a masked source value
    val base2 = tmp()
    graft.streaming.StreamingOps.writeWave(v1, s"$base2/in", 0)
    Replication.incrementalSync(spark, v1.schema, s"$base2/in",
      s"$base2/ckpt", s"$base2/state", maskCols = Seq("price"),
      computedCols = Seq("price_seen" -> "price IS NOT NULL"))
    val leaked = Replication.appliedState(spark, s"$base2/state")
      .filter(col("price_seen")).count()
    assert(leaked == 0L, "computed column observed a masked value")
    // a computed name colliding with an envelope column is a typo
    intercept[IllegalArgumentException] {
      Replication.incrementalSync(spark, v1.schema, s"$base/in",
        s"$base/ckpt", s"$base/state",
        computedCols = Seq("price" -> "price * 2"))
    }
  }

  test("changes-between: the incident-window audit serves the window-end image") {
    val base = tmp()
    // key 2 is touched twice INSIDE the window and once after it: the
    // audit must serve its window-end image (seq 3), not the later one
    val log = txnDf(Seq(TxnEv("I", 1, 1, 10.0, "O", 0),
      TxnEv("I", 2, 2, 20.0, "O", 0), TxnEv("U", 3, 2, 21.0, "P", 0),
      TxnEv("U", 4, 2, 22.0, "Q", 0), TxnEv("D", 5, 1, 0.0, "X", 0)))
      .drop("txn")
    graft.streaming.StreamingOps.writeWave(log, s"$base/in", 0)
    Replication.incrementalSync(spark, log.schema, s"$base/in",
      s"$base/ckpt", s"$base/state", keepHistory = true)
    def window(p1: Long, p2: Long): Map[Long, (String, Double)] =
      Replication.changesBetween(spark, s"$base/state", p1, p2)
        .select(col("okey"), col("op"), col("price")).collect()
        .map(r => r.getLong(0) -> (r.getString(1), r.getDouble(2))).toMap
    assert(window(1L, 3L) == Map(2L -> ("U", 21.0)))
    assert(window(3L, 5L) == Map(1L -> ("D", 0.0), 2L -> ("U", 22.0)))
    assert(window(5L, 9L) == Map.empty)
    // a folded dir refuses an upper-bounded window: the fold may have
    // displaced the in-window image (key 2's seq-3 image is exactly
    // what a fold of this one-batch log would have discarded)
    graft.streaming.StreamingOps.writeWave(log, s"$base/in2", 0)
    Replication.incrementalSync(spark, log.schema, s"$base/in2",
      s"$base/ckpt2", s"$base/state2")
    val e = intercept[IllegalArgumentException] {
      Replication.changesBetween(spark, s"$base/state2", 1L, 3L)
    }
    assert(e.getMessage.contains("keepHistory"))
  }

  test("soft delete is read policy: one state dir serves both views") {
    val base = tmp()
    // binlog-true deletes: the D event for key 2 carries its before
    // image (price 9.0, status O) — what MySQL's DeleteRowsEvent ships
    val log = txnDf(Seq(TxnEv("I", 1, 1, 5.0, "O", 0),
      TxnEv("I", 2, 2, 9.0, "O", 0), TxnEv("U", 3, 1, 7.0, "P", 0),
      TxnEv("I", 4, 3, 4.0, "O", 0), TxnEv("D", 5, 2, 9.0, "O", 0)))
      .drop("txn")
    graft.streaming.StreamingOps.writeWave(log, s"$base/in", 0)
    graft.streaming.StreamingOps.runCdcPass(spark,
      FileCdcSource(log.schema, s"$base/in"),
      s"$base/ckpt", s"$base/state")
    // hard view: tombstone winners dropped
    val hard = graft.streaming.StreamingOps
      .readLatestState(spark, s"$base/state")
      .select(col("okey")).collect().map(_.getLong(0)).toSet
    assert(hard == Set(1L, 3L))
    // soft view over the SAME state dir: key 2 survives flagged, with
    // the delete's before-image payload; live keys flag 0
    val soft = graft.streaming.StreamingOps
      .readLatestState(spark, s"$base/state", softDelete = true)
      .select(col("okey"), col("_deleted"), col("price"), col("status"))
      .collect().map(r => r.getLong(0) ->
        (r.getInt(1), r.getDouble(2), r.getString(3))).toMap
    assert(soft.keySet == Set(1L, 2L, 3L))
    assert(soft(2L) == ((1, 9.0, "O")))
    assert(soft(1L) == ((0, 7.0, "P")))
    assert(soft(3L) == ((0, 4.0, "O")))
  }

  test("table routing merges shards into one destination; typos fail loudly") {
    val base = tmp()
    // two sharded sources with disjoint key spaces (parity) — the
    // standard sharded-MySQL → one-mart topology
    val log = txnDf(Seq(TxnEv("I", 1, 2, 5.0, "O", 0),
      TxnEv("I", 2, 3, 9.0, "O", 0), TxnEv("U", 3, 2, 7.0, "P", 0),
      TxnEv("D", 4, 3, 0.0, "X", 0), TxnEv("I", 5, 4, 1.0, "O", 0)))
      .drop("txn")
      .withColumn("table",
        when(col("okey") % 2 === 0, "t_shard_0").otherwise("t_shard_1"))
    graft.streaming.StreamingOps.writeWave(log, s"$base/in", 0)
    graft.streaming.StreamingOps.runCdcPassMulti(spark,
      FileCdcSource(log.schema, s"$base/in"), s"$base/ckpt",
      Map("t_main" -> s"$base/state_main"),
      routes = Map("t_shard_0" -> "t_main", "t_shard_1" -> "t_main"))
    val served = graft.streaming.StreamingOps
      .readLatestState(spark, s"$base/state_main")
      .select(col("okey"), col("price")).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // key 3's delete crossed the shard merge; keys 2 and 4 serve latest
    assert(served == Map(2L -> 7.0, 4L -> 1.0))
    // a route must land on a replicated table…
    val e1 = intercept[IllegalArgumentException] {
      graft.streaming.StreamingOps.runCdcPassMulti(spark,
        FileCdcSource(log.schema, s"$base/in"), s"$base/ckpt2",
        Map("t_main" -> s"$base/s2"),
        routes = Map("t_shard_0" -> "t_mian"))
    }
    assert(e1.getMessage.contains("t_mian"))
    // …and a routed-away source must not itself be a destination
    val e2 = intercept[IllegalArgumentException] {
      graft.streaming.StreamingOps.runCdcPassMulti(spark,
        FileCdcSource(log.schema, s"$base/in"), s"$base/ckpt3",
        Map("t_main" -> s"$base/s3", "t_shard_0" -> s"$base/s4"),
        routes = Map("t_shard_0" -> "t_main"))
    }
    assert(e2.getMessage.contains("t_shard_0"))
  }

  test("refused-DDL heal: a PK-change statement refuses, resnapshotTable " +
      "rebuilds the table under the NEW key via the journaled swap, " +
      "neighbors untouched, the next pass resumes on the seeded dir") {
    val base = tmp()
    def frame(rows: Seq[(String, Long, Long, Double, String, Long)]) =
      spark.createDataFrame(rows)
        .toDF("op", "seq", "okey", "price", "status", "line_no")
        .withColumn("ts", timestamp_seconds(lit(1700000000L) + col("seq")))
        .select(Seq("op", "seq", "ts", "okey", "price", "status",
          "line_no").map(col): _*)
    // the live table, keyed by okey alone (line_no rides as payload)
    val w0 = frame(Seq(("I", 1L, 1L, 10.0, "A", 1L),
      ("I", 2L, 2L, 20.0, "B", 1L), ("U", 3L, 1L, 11.0, "A", 1L)))
    graft.streaming.StreamingOps.writeWave(w0, s"$base/in", 0)
    Replication.incrementalSync(spark, w0.schema, s"$base/in",
      s"$base/ckpt", s"$base/orders")
    // a NEIGHBOR table under the same root — must be untouched by the
    // orders resync
    graft.streaming.StreamingOps.writeWave(w0.limit(1), s"$base/in_n", 0)
    Replication.incrementalSync(spark, w0.schema, s"$base/in_n",
      s"$base/ckpt_n", s"$base/customers")
    val neighborBefore = Replication.appliedState(spark, s"$base/customers")
      .collect().map(_.toSeq).toSet
    // the PK-change DDL arrives as statement text → REFUSES by name
    val e = intercept[IllegalArgumentException] {
      Replication.incrementalSync(spark, w0.schema, s"$base/in",
        s"$base/ckpt2", s"$base/orders",
        ddlSql = Seq(10L ->
          "ALTER TABLE orders ADD PRIMARY KEY (okey, line_no)"),
        ddlTable = Some("orders"))
    }
    assert(e.getMessage.contains("unsupported"), e.getMessage)
    // the heal: a fresh snapshot of the source of truth, keyed by the
    // NEW composite key — rows that COLLIDE under the old key are the
    // point (two line_nos of one okey)
    val truth = frame(Seq(("I", 0L, 1L, 11.0, "A", 1L),
      ("I", 0L, 1L, 12.0, "A", 2L), ("I", 0L, 2L, 20.0, "B", 1L)))
      .drop("op", "seq")
    val report = Replication.resnapshotTable(spark, base, "orders",
      truth, Seq("okey", "line_no"), snapshotSeq = 100L)
    assert(report.rows == 3)
    assert(report.parkedAs.contains("_orders_replaced_100"))
    assert(graft.streaming.StateFs.exists(s"$base/_orders_replaced_100"),
      "the old state dir must park, not vanish")
    assert(report.bootstrapDdl.contains("ORDER BY (`okey`, `line_no`)"),
      report.bootstrapDdl)
    // served state = the truth under the NEW key; the published key
    // and schema follow
    val served = Replication.appliedState(spark, s"$base/orders")
      .select(col("okey"), col("line_no"), col("price")).collect()
      .map(_.toSeq).toSet
    assert(served == Set(Seq(1L, 1L, 11.0), Seq(1L, 2L, 12.0),
      Seq(2L, 1L, 20.0)), s"got $served")
    assert(graft.streaming.StreamingOps.readKeyCols(s"$base/orders") ==
      Seq("okey", "line_no"))
    // the NEXT incremental pass resumes on the seeded dir under the
    // new key, from the snapshot position
    val w1 = frame(Seq(("U", 101L, 1L, 99.0, "A", 2L)))
    graft.streaming.StreamingOps.writeWave(w1, s"$base/in_resync", 0)
    Replication.incrementalSync(spark, w1.schema, s"$base/in_resync",
      s"$base/ckpt_resync", s"$base/orders", fromSeq = Some(100L),
      keyCols = Seq("okey", "line_no"))
    val after = Replication.appliedState(spark, s"$base/orders")
      .select(col("okey"), col("line_no"), col("price")).collect()
      .map(_.toSeq).toSet
    assert(after == Set(Seq(1L, 1L, 11.0), Seq(1L, 2L, 99.0),
      Seq(2L, 1L, 20.0)), s"got $after")
    // neighbors untouched
    assert(Replication.appliedState(spark, s"$base/customers")
      .collect().map(_.toSeq).toSet == neighborBefore)
    // refusals: duplicate truth keys, and an envelope passed as truth
    val dupTruth = frame(Seq(("I", 0L, 1L, 1.0, "A", 1L),
      ("I", 0L, 1L, 2.0, "A", 1L))).drop("op", "seq")
    val e2 = intercept[IllegalArgumentException] {
      Replication.resnapshotTable(spark, base, "orders", dupTruth,
        Seq("okey", "line_no"), 200L)
    }
    assert(e2.getMessage.contains("duplicate"), e2.getMessage)
    val e3 = intercept[IllegalArgumentException] {
      Replication.resnapshotTable(spark, base, "orders",
        frame(Seq(("I", 0L, 1L, 1.0, "A", 1L))),
        Seq("okey", "line_no"), 200L)
    }
    assert(e3.getMessage.contains("bookkeeping"), e3.getMessage)
  }
}
