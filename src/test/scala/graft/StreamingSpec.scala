package graft

import org.apache.spark.sql.functions._
import graft.sources.FileCdcSource

/** Streaming ≡ batch equivalence (SURVEY.md §5.2.4) — the verification
  * story for the non-oracle streaming operators.
  */
class StreamingSpec extends SparkTestBase {

  test("partial images: explicit NULL set, in-batch composition, post-delete touch") {
    // the MINIMAL-row-image edge cases the oracle fixture cannot carry:
    // an explicit SET c = NULL (changed list names the column, value is
    // NULL — must serve NULL, never the old value), two partial updates
    // of one key composing inside one batch, and a partial touch of a
    // key whose PRIOR image is a tombstone (starts from NULLs, never
    // resurrects the pre-delete value)
    import graft.streaming.StreamingOps
    val base = java.nio.file.Files.createTempDirectory("graft_partial").toString
    def frame(rows: Seq[(String, Long, Long, java.lang.Double, String,
        Seq[String])]) =
      spark.createDataFrame(rows)
        .toDF("op", "seq", "okey", "price", "status", "_changed")
        .withColumn("ts", timestamp_seconds(lit(1700000000L) + col("seq")))
        .select(col("op"), col("seq"), col("ts"), col("okey"), col("price"),
          col("status"), col("_changed"))
    def pass(df: org.apache.spark.sql.DataFrame, w: Int): Unit = {
      StreamingOps.writeWave(df, s"$base/in", w)
      StreamingOps.runCdcPass(spark, FileCdcSource(df.schema, s"$base/in"),
        s"$base/ckpt",
        s"$base/state", partialImageCol = Some("_changed"))
    }
    pass(frame(Seq(("I", 1L, 1L, 10.0, "A", null),
      ("I", 2L, 2L, 20.0, "B", null),
      ("I", 3L, 3L, 30.0, "C", null))), 0)
    // k1: price@4 then status@5 — both must land; k2: explicit
    // SET status = NULL; k3: deleted
    pass(frame(Seq(("U", 4L, 1L, 11.0, null, Seq("price")),
      ("U", 5L, 1L, null, "Z", Seq("status")),
      ("U", 6L, 2L, null, null, Seq("status")),
      ("D", 6L, 3L, null, null, null))), 1)
    // k3 re-touched with only price carried: the prior image is a
    // TOMBSTONE, so the unchanged status starts from NULL, never 'C'
    pass(frame(Seq(("U", 7L, 3L, 33.0, null, Seq("price")))), 2)
    val served = StreamingOps.readLatestState(spark, s"$base/state")
      .collect().map(r => r.getLong(0) ->
        ((Option(r.get(2)).map(_.toString.toDouble),
          Option(r.getString(3))))).toMap
    assert(served == Map(
      1L -> ((Some(11.0), Some("Z"))),
      2L -> ((Some(20.0), None)),
      3L -> ((Some(33.0), None))), s"partial-image semantics: $served")
  }

  test("strict before-image gate: chain quarantine, update-after-delete, " +
      "cross-batch recovery, DLQ replay idempotence") {
    // the conflict edge cases the oracle fixture cannot carry: a broken
    // chain quarantines the key's WHOLE batch suffix (the later event's
    // before matches its quarantined predecessor, not the state), an
    // update chained after an in-batch delete conflicts (expected after
    // a delete is NULL), and a later batch whose before matches the
    // ACTUAL applied state admits again — quarantine is per batch, not
    // a poison pill
    import graft.streaming.StreamingOps
    val base = java.nio.file.Files.createTempDirectory("graft_strict").toString
    def frame(rows: Seq[(String, Long, Long, java.lang.Double, String,
        java.lang.Double)]) =
      spark.createDataFrame(rows)
        .toDF("op", "seq", "okey", "price", "status", "before_price")
        .withColumn("ts", timestamp_seconds(lit(1700000000L) + col("seq")))
        .select(col("op"), col("seq"), col("ts"), col("okey"), col("price"),
          col("status"), col("before_price"))
    def pass(df: org.apache.spark.sql.DataFrame, w: Int): Unit = {
      StreamingOps.writeWave(df, s"$base/in", w)
      StreamingOps.runCdcPass(spark, FileCdcSource(df.schema, s"$base/in"),
        s"$base/ckpt",
        s"$base/state", strictBefore = Some(("price", "before_price")),
        conflictDlq = Some(s"$base/dlq"))
    }
    pass(frame(Seq(("I", 1L, 1L, 10.0, "A", null),
      ("I", 2L, 2L, 20.0, "B", null),
      ("I", 3L, 3L, 30.0, "C", null))), 0)
    // k1: U@4 declares a WRONG before (11 != 10) → quarantined, and
    // U@5's before (12) matches U@4's after — the chain, not the state
    // — so it quarantines with it; k2: D@6 then U@7 chained after the
    // delete with a non-NULL before → conflict (expected after D is
    // NULL); k3: clean update admits
    pass(frame(Seq(("U", 4L, 1L, 12.0, "X", 11.0),
      ("U", 5L, 1L, 13.0, "Y", 12.0),
      ("D", 6L, 2L, null, null, null),
      ("U", 7L, 2L, 21.0, "B2", 20.0),
      ("U", 8L, 3L, 31.0, "C2", 30.0))), 1)
    def served = StreamingOps.readLatestState(spark, s"$base/state")
      .collect().map(r => r.getLong(0) ->
        ((Option(r.get(2)).map(_.toString.toDouble),
          Option(r.getString(3))))).toMap
    assert(served == Map(
      1L -> ((Some(10.0), Some("A"))), // whole suffix quarantined
      3L -> ((Some(31.0), Some("C2")))), // k2 deleted, k3 admitted
      s"strict-before semantics: $served")
    val dlq = spark.read.parquet(s"$base/dlq")
    assert(dlq.select("seq").collect().map(_.getLong(0)).toSet ==
      Set(4L, 5L, 7L), "the DLQ holds exactly the quarantined suffix")
    // cross-batch recovery: a before matching the ACTUAL applied state
    // (k1 still serves 10.0) admits — divergence is per batch verdict,
    // never a poison pill on the key
    pass(frame(Seq(("U", 9L, 1L, 14.0, "R", 10.0))), 2)
    assert(served(1L) == ((Some(14.0), Some("R"))))
    // conflict-free batches write NO DLQ epoch (a healthy stream never
    // accretes empty dirs) and batch 1's verdict is untouched —
    // epoch-keyed overwrite, replay idempotent
    assert(spark.read.parquet(s"$base/dlq").count() == 3)
    assert(graft.streaming.StateFs.childDirNames(s"$base/dlq", "epoch=")
      == Seq("epoch=1"), "only the conflicted batch writes an epoch")
    // the operator's first question surfaces in replicaStatus; a dir no
    // batch ever conflicted into is ABSENT and reads as zero
    assert(graft.Replication.replicaStatus(spark, s"$base/state",
      conflictDlq = Some(s"$base/dlq")).conflictRows.contains(3L))
    assert(graft.Replication.replicaStatus(spark, s"$base/state",
      conflictDlq = Some(s"$base/never")).conflictRows.contains(0L))
    // a DRAINED dlq (operator deleted the resolved epoch dirs) also
    // reads as zero, not as an unreadable-parquet error
    graft.streaming.StateFs.deleteRecursive(s"$base/dlq/epoch=1")
    assert(graft.Replication.replicaStatus(spark, s"$base/state",
      conflictDlq = Some(s"$base/dlq")).conflictRows.contains(0L))
    // the gate without a DLQ would discard events silently — refused
    val noDlq = intercept[IllegalArgumentException] {
      StreamingOps.runCdcPass(spark,
        FileCdcSource(frame(Seq.empty).schema, s"$base/in2"), s"$base/ckpt2",
        s"$base/state2",
        strictBefore = Some(("price", "before_price")))
    }
    assert(noDlq.getMessage.contains("DISCARD"))
  }

  test("partial images compose with RENAME COLUMN: prior images serve under the new name") {
    // a MINIMAL stream whose envelope renames a payload column
    // mid-stream: the resumed pass's changed lists speak the NEW name,
    // and the completion's prior read must serve pre-rename epochs
    // under it (the rename-history coalesce), so an unchanged renamed
    // column carries its old value into the completed image
    import graft.streaming.StreamingOps
    val base = java.nio.file.Files.createTempDirectory("graft_pren").toString
    def frame(rows: Seq[(String, Long, Long, java.lang.Double, String,
        Seq[String])], cname: String) =
      spark.createDataFrame(rows)
        .toDF("op", "seq", "okey", "price", cname, "_changed")
        .withColumn("ts", timestamp_seconds(lit(1700000000L) + col("seq")))
        .withColumn("status", lit("X"))
        .select(col("op"), col("seq"), col("ts"), col("okey"), col("price"),
          col("status"), col(cname), col("_changed"))
    val w0 = frame(Seq(("I", 1L, 1L, 10.0, "A", null),
      ("I", 2L, 2L, 20.0, "B", null)), "chan")
    StreamingOps.writeWave(w0, s"$base/in", 0)
    StreamingOps.runCdcPass(spark, FileCdcSource(w0.schema, s"$base/in"),
      s"$base/ckpt",
      s"$base/state", partialImageCol = Some("_changed"))
    // RENAME chan→chan2; k1's partial update changes only price — its
    // completed chan2 must read the pre-rename 'A'
    val w1 = frame(Seq(("U", 3L, 1L, 11.0, null, Seq("price")),
      ("U", 4L, 2L, null, "Z", Seq("chan2"))), "chan2")
    StreamingOps.writeWave(w1, s"$base/in", 1)
    StreamingOps.runCdcPass(spark, FileCdcSource(w1.schema, s"$base/in"),
      s"$base/ckpt",
      s"$base/state", partialImageCol = Some("_changed"),
      renameCols = Map("chan" -> "chan2"))
    val served = StreamingOps.readLatestState(spark, s"$base/state")
      .select(col("okey"), col("price"), col("chan2")).collect()
      .map(r => r.getLong(0) -> ((r.getDouble(1), r.getString(2)))).toMap
    assert(served == Map(1L -> ((11.0, "A")), 2L -> ((20.0, "Z"))),
      s"renamed column must carry its pre-rename value: $served")
  }

  test("CHANGE COLUMN: rename + retype in ONE DDL event — pre-DDL keys " +
      "serve old values under the new name at the wide type") {
    // MySQL `ALTER TABLE … CHANGE COLUMN qty qty_big BIGINT`: one
    // QueryEvent carries both the rename and the widening. The resumed
    // pass declares the rename while its envelope ships the renamed
    // column at the wide type; the rename-coalesce must then read the
    // old INT32 physical column through the widened read schema, so an
    // untouched pre-DDL key serves its old value under the new name AS
    // A LONG — no rewrite, no backfill, no fork.
    import graft.streaming.StreamingOps
    val base = java.nio.file.Files.createTempDirectory("graft_chg").toString
    def frame(rows: Seq[(String, Long, Long, Long)], cname: String,
        wide: Boolean) = {
      val df = spark.createDataFrame(rows)
        .toDF("op", "seq", "okey", cname)
        .withColumn("ts", timestamp_seconds(lit(1700000000L) + col("seq")))
        .withColumn("price", lit(1.0d)).withColumn("status", lit("X"))
      df.select(col("op"), col("seq"), col("ts"), col("okey"), col("price"),
        col("status"),
        (if (wide) col(cname) else col(cname).cast("int")).as(cname))
    }
    val w0 = frame(Seq(("I", 1L, 1L, 10L), ("I", 2L, 2L, 20L)),
      "qty", wide = false)
    StreamingOps.writeWave(w0, s"$base/in", 0)
    StreamingOps.runCdcPass(spark, FileCdcSource(w0.schema, s"$base/in"),
      s"$base/ckpt",
      s"$base/state")
    // the CHANGE COLUMN pass: k1 rewritten with a BIGINT-only value,
    // k2 untouched — must serve 20 under qty_big
    val w1 = frame(Seq(("U", 3L, 1L, 3000000000L)), "qty_big", wide = true)
    StreamingOps.writeWave(w1, s"$base/in", 1)
    StreamingOps.runCdcPass(spark, FileCdcSource(w1.schema, s"$base/in"),
      s"$base/ckpt",
      s"$base/state", renameCols = Map("qty" -> "qty_big"))
    val st = StreamingOps.readLatestState(spark, s"$base/state")
      .select(col("okey"), col("qty_big"))
    assert(st.schema("qty_big").dataType ==
      org.apache.spark.sql.types.LongType,
      s"published type must be the wide one: ${st.schema}")
    val served = st.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(served == Map(1L -> 3000000000L, 2L -> 20L),
      s"CHANGE COLUMN must carry pre-DDL values to the wide type: $served")
    // a NARROWING change-column fails loudly by name — never a silent
    // re-narrow (overflow) or a mid-pass analysis error
    val w2 = frame(Seq(("U", 4L, 2L, 5L)), "qty_small", wide = false)
    StreamingOps.writeWave(w2, s"$base/in", 2)
    val e = intercept[StreamingOps.EnvelopeTypeChangeException] {
      StreamingOps.runCdcPass(spark, FileCdcSource(w2.schema, s"$base/in"),
        s"$base/ckpt",
        s"$base/state", renameCols = Map("qty_big" -> "qty_small"))
    }
    assert(e.column == "qty_small")
  }

  test("partial images compose with the txn gate: completion waits for the commit") {
    // a MINIMAL update inside an uncommitted transaction must not
    // complete (or apply) until its commit marker arrives — and when it
    // does, the completion runs in THAT epoch against the then-current
    // prior state
    import graft.streaming.StreamingOps
    val base = java.nio.file.Files.createTempDirectory("graft_ptxn").toString
    def frame(rows: Seq[(String, Long, Long, java.lang.Double, String,
        Seq[String], String)]) =
      spark.createDataFrame(rows)
        .toDF("op", "seq", "okey", "price", "status", "_changed", "txn")
        .withColumn("ts", timestamp_seconds(lit(1700000000L) + col("seq")))
        .select(col("op"), col("seq"), col("ts"), col("okey"), col("price"),
          col("status"), col("_changed"), col("txn"))
    def pass(df: org.apache.spark.sql.DataFrame, w: Int): Unit = {
      StreamingOps.writeWave(df, s"$base/in", w)
      StreamingOps.runCdcPass(spark, FileCdcSource(df.schema, s"$base/in"),
        s"$base/ckpt",
        s"$base/state", txnCol = Some("txn"),
        partialImageCol = Some("_changed"))
    }
    // wave 0: committed insert (t1); an UNCOMMITTED partial update (t2)
    pass(frame(Seq(
      ("I", 1L, 1L, 10.0, "A", null, "t1"),
      ("C", 2L, 0L, null, null, null, "t1"),
      ("U", 3L, 1L, null, "Z", Seq("status"), "t2"))), 0)
    val mid = StreamingOps.readLatestState(spark, s"$base/state")
      .collect().map(r => r.getLong(0) ->
        ((r.getDouble(2), r.getString(3)))).toMap
    assert(mid == Map(1L -> ((10.0, "A"))),
      s"uncommitted partial must not apply: $mid")
    // wave 1: t2 commits — the held partial completes against the
    // insert's image now
    pass(frame(Seq(("C", 4L, 0L, null, null, null, "t2"))), 1)
    val fin = StreamingOps.readLatestState(spark, s"$base/state")
      .collect().map(r => r.getLong(0) ->
        ((r.getDouble(2), r.getString(3)))).toMap
    assert(fin == Map(1L -> ((10.0, "Z"))),
      s"committed partial must complete against the prior image: $fin")
  }

  test("partial images never launder truncated rows back to life") {
    // the serving floors bind the completion's prior read: after a
    // TRUNCATE at P, a partial update of a dead key must complete
    // against NOTHING — folding the truncated row's columns into a new
    // image above the floor would resurrect exactly what the floor
    // keeps dead
    import graft.streaming.StreamingOps
    val base = java.nio.file.Files.createTempDirectory("graft_ptrunc").toString
    def frame(rows: Seq[(String, Long, Long, java.lang.Double, String,
        Seq[String])]) =
      spark.createDataFrame(rows)
        .toDF("op", "seq", "okey", "price", "status", "_changed")
        .withColumn("ts", timestamp_seconds(lit(1700000000L) + col("seq")))
        .select(col("op"), col("seq"), col("ts"), col("okey"), col("price"),
          col("status"), col("_changed"))
    val w0 = frame(Seq(("I", 1L, 1L, 10.0, "A", null)))
    StreamingOps.writeWave(w0, s"$base/in", 0)
    StreamingOps.runCdcPass(spark, FileCdcSource(w0.schema, s"$base/in"),
      s"$base/ckpt",
      s"$base/state", partialImageCol = Some("_changed"))
    // TRUNCATE at position 1 kills the insert; the resumed pass applies
    // a MINIMAL update carrying only status — price must complete to
    // NULL, never to the dead row's 10.0
    val w1 = frame(Seq(("U", 2L, 1L, null, "Z", Seq("status"))))
    StreamingOps.writeWave(w1, s"$base/in", 1)
    StreamingOps.runCdcPass(spark, FileCdcSource(w1.schema, s"$base/in"),
      s"$base/ckpt",
      s"$base/state", partialImageCol = Some("_changed"),
      truncateAtSeq = Some(1L))
    val served = StreamingOps.readLatestState(spark, s"$base/state")
      .collect().map(r => r.getLong(0) ->
        ((Option(r.get(2)), r.getString(3)))).toMap
    assert(served == Map(1L -> ((None, "Z"))),
      s"truncated prior must not leak into the completed image: $served")
  }

  test("partial images fan out: per-table completion under heterogeneous keys") {
    // one MINIMAL-image binlog feeding two tables with different PKs:
    // each table's rows must complete against ITS OWN prior state, with
    // one table's key column an ordinary payload column of the other
    import graft.streaming.StreamingOps
    val base = java.nio.file.Files.createTempDirectory("graft_pmulti").toString
    def frame(rows: Seq[(String, Long, Long, java.lang.Long,
        java.lang.Double, String, Seq[String], String)]) =
      spark.createDataFrame(rows)
        .toDF("op", "seq", "okey", "line_no", "price", "status",
          "_changed", "table")
        .withColumn("ts", timestamp_seconds(lit(1700000000L) + col("seq")))
        .select(col("op"), col("seq"), col("ts"), col("okey"),
          col("line_no"), col("price"), col("status"), col("_changed"),
          col("table"))
    val dirs = Map("t_ord" -> s"$base/state_ord",
      "t_line" -> s"$base/state_line")
    def pass(df: org.apache.spark.sql.DataFrame, w: Int): Unit = {
      StreamingOps.writeWave(df, s"$base/in", w)
      StreamingOps.runCdcPassMulti(spark, FileCdcSource(df.schema, s"$base/in"),
        s"$base/ckpt", dirs,
        keyColsByTable = Map("t_ord" -> Seq("okey"),
          "t_line" -> Seq("okey", "line_no")),
        partialImageCol = Some("_changed"))
    }
    pass(frame(Seq(
      ("I", 1L, 1L, 0L, 10.0, "A", null, "t_ord"),
      ("I", 2L, 2L, 0L, 20.0, "B", null, "t_ord"),
      ("I", 3L, 1L, 1L, 5.0, "X", null, "t_line"),
      ("I", 4L, 1L, 2L, 6.0, "Y", null, "t_line"))), 0)
    // partial updates cross-batch: t_ord k1 changes only price (status
    // must stay 'A'), t_line (k1,2) changes only status (price must
    // stay 6.0), t_ord k2 deleted
    pass(frame(Seq(
      ("U", 5L, 1L, null, 11.0, null, Seq("price"), "t_ord"),
      ("U", 6L, 1L, 2L, null, "Z", Seq("status"), "t_line"),
      ("D", 7L, 2L, null, null, null, null, "t_ord"))), 1)
    val ord = StreamingOps.readLatestState(spark, dirs("t_ord"))
      .select(col("okey"), col("price"), col("status")).collect()
      .map(r => r.getLong(0) -> ((r.getDouble(1), r.getString(2)))).toMap
    assert(ord == Map(1L -> ((11.0, "A"))),
      s"t_ord: unchanged status must carry, k2 must vanish: $ord")
    val line = StreamingOps.readLatestState(spark, dirs("t_line"))
      .select(col("okey"), col("line_no"), col("price"), col("status"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getDouble(2), r.getString(3)))).toMap
    assert(line == Map((1L, 1L) -> ((5.0, "X")), (1L, 2L) -> ((6.0, "Z"))),
      s"t_line: per-tuple completion: $line")
  }

  test("strict before-image gate fans out: per-table verdicts under " +
      "heterogeneous keys, one topology DLQ") {
    // one FULL-image binlog feeding two tables with different PKs: each
    // table's updates check against ITS OWN prior state — a conflicted
    // update in one table must not poison the other table's same-seq
    // window, and the shared DLQ carries the table column
    import graft.streaming.StreamingOps
    val base = java.nio.file.Files.createTempDirectory("graft_smulti").toString
    def frame(rows: Seq[(String, Long, Long, java.lang.Long,
        java.lang.Double, String, java.lang.Double, String)]) =
      spark.createDataFrame(rows)
        .toDF("op", "seq", "okey", "line_no", "price", "status",
          "before_price", "table")
        .withColumn("ts", timestamp_seconds(lit(1700000000L) + col("seq")))
        .select(col("op"), col("seq"), col("ts"), col("okey"),
          col("line_no"), col("price"), col("status"), col("before_price"),
          col("table"))
    val dirs = Map("t_ord" -> s"$base/state_ord",
      "t_line" -> s"$base/state_line")
    def pass(df: org.apache.spark.sql.DataFrame, w: Int): Unit = {
      StreamingOps.writeWave(df, s"$base/in", w)
      StreamingOps.runCdcPassMulti(spark, FileCdcSource(df.schema, s"$base/in"),
        s"$base/ckpt", dirs,
        keyColsByTable = Map("t_ord" -> Seq("okey"),
          "t_line" -> Seq("okey", "line_no")),
        strictBefore = Some(("price", "before_price")),
        conflictDlq = Some(s"$base/dlq"))
    }
    pass(frame(Seq(
      ("I", 1L, 1L, 0L, 10.0, "A", null, "t_ord"),
      ("I", 2L, 1L, 1L, 5.0, "X", null, "t_line"),
      ("I", 3L, 1L, 2L, 6.0, "Y", null, "t_line"))), 0)
    // t_ord k1 declares a WRONG before (99 != 10) → quarantined;
    // t_line (1,1) declares the RIGHT before under ITS key — the okey
    // value it shares with the conflicted t_ord row must not drag it
    // down; t_line (1,2) chains two updates in-batch, both clean
    pass(frame(Seq(
      ("U", 4L, 1L, null, 12.0, "B", 99.0, "t_ord"),
      ("U", 5L, 1L, 1L, 5.5, "X2", 5.0, "t_line"),
      ("U", 6L, 1L, 2L, 6.5, "Y2", 6.0, "t_line"),
      ("U", 7L, 1L, 2L, 7.0, "Y3", 6.5, "t_line"))), 1)
    val ord = StreamingOps.readLatestState(spark, dirs("t_ord"))
      .select(col("okey"), col("price"), col("status")).collect()
      .map(r => r.getLong(0) -> ((r.getDouble(1), r.getString(2)))).toMap
    assert(ord == Map(1L -> ((10.0, "A"))),
      s"t_ord: the conflicted update must not apply: $ord")
    val line = StreamingOps.readLatestState(spark, dirs("t_line"))
      .select(col("okey"), col("line_no"), col("price"), col("status"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getDouble(2), r.getString(3)))).toMap
    assert(line == Map((1L, 1L) -> ((5.5, "X2")), (1L, 2L) -> ((7.0, "Y3"))),
      s"t_line: clean per-key chains must apply: $line")
    val dlq = spark.read.parquet(s"$base/dlq")
      .select(col("table"), col("seq")).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    assert(dlq == Set(("t_ord", 4L)),
      s"one topology DLQ, table-tagged: $dlq")
  }

  test("stream CDC apply == batch latest-wins collapse") {
    val stream = q("stream_cdc_apply").collect()
    val batch = q("agg_latest_by_version").collect()
    assert(stream.length == batch.length)
    assert(stream.map(_.toSeq).toSet == batch.map(_.toSeq).toSet)
  }

  test("idempotent sink: duplicated final wave changes nothing") {
    val once = q("stream_cdc_apply").collect().map(_.toSeq).toSet
    val replayed = q("sink_foreachbatch_idempotent").collect().map(_.toSeq).toSet
    assert(once == replayed)
  }

  test("session windows (streaming, append) are a subset of batch sessions") {
    val streamed = q("stream_window_session").collect().map(_.toSeq).toSet
    val ev = Tables.t(spark, sf, "events")
    val batch = ev.groupBy(session_window(col("ts"), "1 hour").as("w"), col("user_id"))
      .agg(count(lit(1)).as("n"))
      .select(col("w.start").as("ws"), col("w.end").as("we"), col("user_id"), col("n"))
      .collect().map(_.toSeq).toSet
    assert(streamed.subsetOf(batch),
      s"streaming emitted a session batch doesn't have: ${streamed -- batch}")
    assert(streamed.nonEmpty)
  }

  test("late data beyond watermark is dropped") {
    val out = q("stream_late_data")
    val ev = Tables.t(spark, sf, "events")
    val held = ev.filter(col("event_id") % 10 === 0 && dayofmonth(col("ts")) <= 2)
    // the day-1/day-2 windows must NOT count the held-back (late) rows
    val d1 = out.filter(col("ws") === lit("2024-01-01").cast("timestamp")).collect()
    if (d1.nonEmpty) {
      val onTimeD1 = ev.filter(dayofmonth(col("ts")) === 1 &&
        !(col("event_id") % 10 === 0)).count()
      assert(d1(0).getLong(1) == onTimeD1,
        s"day-1 window counted late rows: ${d1(0).getLong(1)} vs $onTimeD1")
    }
    assert(held.count() > 0, "fixture must hold back some rows")
  }

  test("checkpoint resume processes every row exactly once") {
    val out = q("stream_checkpoint_resume").collect()
    val ev = Tables.t(spark, sf, "events")
    val batch = ev.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(Tables.dec2(col("value"))).cast(Tables.D2).cast("double").as("total"))
      .orderBy(col("event_type")).collect()
    assert(out.map(_.toSeq).toSeq == batch.map(_.toSeq).toSeq)
  }

  test("incremental agg MV: multi-epoch partials merge to the batch aggregate") {
    val ev = Tables.t(spark, sf, "events")
    val tmp = TmpDirs.create("spec_mv")
    (0 until 3).foreach { i =>
      val wave = ev.filter(col("event_id") % 3 === i)
      wave.coalesce(1).write.mode("append").parquet(s"$tmp/in")
    }
    graft.streaming.StreamingOps.runIncrementalAggPass(
      spark, ev.schema, s"$tmp/in", s"$tmp/ckpt", s"$tmp/mv")
    // real incrementality: more than one epoch contributed partials —
    // a single-epoch run would make the merge-equals-batch check vacuous
    val epochs = Option(new java.io.File(s"$tmp/mv").listFiles())
      .getOrElse(Array.empty).count(_.getName.startsWith("epoch="))
    assert(epochs > 1, s"expected multiple epoch partials, got $epochs")
    val merged = graft.streaming.StreamingOps
      .mergeIncrementalAgg(spark, s"$tmp/mv").collect().map(_.toSeq).toSeq
    val batch = ev.groupBy(col("event_type"), (col("user_id") % 10).as("user_bucket"))
      .agg(count(lit(1)).as("n"),
        sum(Tables.dec2(col("value"))).cast(Tables.D2).cast("double").as("total"),
        min(col("value")).as("mn"), max(col("value")).as("mx"))
      .orderBy(col("event_type"), col("user_bucket")).collect().map(_.toSeq).toSeq
    assert(merged == batch)
  }

  test("cdc apply survives kill + resume mid-stream (state on disk, not memory)") {
    import graft.streaming.StreamingOps
    val log = Tables.cdcLog(spark, sf)
    val tmp = java.nio.file.Files.createTempDirectory("graft_resume").toString
    val in = s"$tmp/in"
    StreamingOps.writeWave(log.filter(col("seq") === 1), in, 0)
    StreamingOps.writeWave(log.filter(col("seq") === 2), in, 1)
    StreamingOps.runCdcPass(spark, FileCdcSource(log.schema, in), s"$tmp/ckpt",
      s"$tmp/state")
    // first query stopped ("crash"); more data arrives; a NEW query resumes
    // from the same checkpoint — state must come from disk, not driver memory
    StreamingOps.writeWave(log.filter(col("seq") === 3), in, 2)
    StreamingOps.runCdcPass(spark, FileCdcSource(log.schema, in), s"$tmp/ckpt",
      s"$tmp/state")
    val resumed = StreamingOps.readLatestState(spark, s"$tmp/state")
      .collect().map(_.toSeq).toSet
    val batch = q("agg_latest_by_version").collect().map(_.toSeq).toSet
    assert(resumed == batch)
  }

  test("watermark dedup returns exactly the original events") {
    assert(q("stream_dedup_watermark").count() ==
      Tables.t(spark, sf, "events").count())
  }

  test("epoch compaction: one epoch remains, collapse unchanged, later deltas merge") {
    import graft.streaming.StreamingOps
    val log = Tables.cdcLog(spark, sf)
    val tmp = java.nio.file.Files.createTempDirectory("graft_compact").toString
    val in = s"$tmp/in"
    StreamingOps.writeWave(log.filter(col("seq") === 1), in, 0)
    StreamingOps.writeWave(log.filter(col("seq") === 2), in, 1)
    StreamingOps.runCdcPass(spark, FileCdcSource(log.schema, in), s"$tmp/ckpt",
      s"$tmp/state")
    val before = StreamingOps.readLatestState(spark, s"$tmp/state")
      .collect().map(_.toSeq).toSet
    StreamingOps.compactState(spark, s"$tmp/state")
    val epochDirs = new java.io.File(s"$tmp/state").listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("epoch="))
    assert(epochDirs.length == 1, s"expected 1 epoch dir, got ${epochDirs.length}")
    val after = StreamingOps.readLatestState(spark, s"$tmp/state")
      .collect().map(_.toSeq).toSet
    assert(after == before, "compaction changed the collapsed state")
    // an at-least-once REPLAY of the last pre-compaction epoch (crash
    // between sink write and offset commit) must not clobber the baseline:
    // it lands on its own epoch dir and the collapse stays correct
    log.filter(col("seq") === 2)
      .write.mode("overwrite").parquet(s"$tmp/state/epoch=1")
    val replayed = StreamingOps.readLatestState(spark, s"$tmp/state")
      .collect().map(_.toSeq).toSet
    assert(replayed == before, "epoch replay after compaction lost history")
    // deltas arriving AFTER compaction must still merge on top of the baseline
    StreamingOps.writeWave(log.filter(col("seq") === 3), in, 2)
    StreamingOps.runCdcPass(spark, FileCdcSource(log.schema, in), s"$tmp/ckpt",
      s"$tmp/state")
    val resumed = StreamingOps.readLatestState(spark, s"$tmp/state")
      .collect().map(_.toSeq).toSet
    val batch = q("agg_latest_by_version").collect().map(_.toSeq).toSet
    assert(resumed == batch)
  }

  test("tombstone GC: purge keeps live state; purged deletes cannot resurrect") {
    import graft.streaming.StreamingOps
    def copyDir(src: String, dst: String): Unit = {
      val sp = java.nio.file.Paths.get(src)
      val walk = java.nio.file.Files.walk(sp)
      try walk.sorted().forEach { p =>
        val t = java.nio.file.Paths.get(dst).resolve(sp.relativize(p).toString)
        if (java.nio.file.Files.isDirectory(p)) { java.nio.file.Files.createDirectories(t); () }
        else {
          java.nio.file.Files.createDirectories(t.getParent)
          java.nio.file.Files.copy(p, t); ()
        }
      } finally walk.close()
    }
    val log = Tables.cdcLog(spark, sf)
    val tmp = java.nio.file.Files.createTempDirectory("graft_gc").toString
    val in = s"$tmp/in"
    (1 to 3).foreach(w => StreamingOps.writeWave(
      log.filter(col("seq") === w), in, w - 1))
    StreamingOps.runCdcPass(spark, FileCdcSource(log.schema, in), s"$tmp/ckpt",
      s"$tmp/state")
    val before = StreamingOps.readLatestState(spark, s"$tmp/state")
      .collect().map(_.toSeq).toSet
    // keep copies: the whole state (for the horizon-retention check) and
    // epoch 0's delta (for the re-delivery check)
    copyDir(s"$tmp/state", s"$tmp/state_keep")
    copyDir(s"$tmp/state/epoch=0", s"$tmp/epoch0_copy")
    // a WIDE horizon retains recent tombstones: nothing is old enough
    StreamingOps.compactState(spark, s"$tmp/state_keep", Some(10))
    assert(spark.read.parquet(s"$tmp/state_keep").filter(col("op") === "D")
      .count() > 0, "wide horizon should retain the recent tombstones")
    // horizon 0 purges every tombstone at or behind the newest epoch
    StreamingOps.compactState(spark, s"$tmp/state", Some(0))
    assert(spark.read.parquet(s"$tmp/state").filter(col("op") === "D")
      .count() == 0, "tombstones survived a zero-horizon purge")
    val after = StreamingOps.readLatestState(spark, s"$tmp/state")
      .collect().map(_.toSeq).toSet
    assert(after == before, "tombstone purge changed the live collapse")
    // at-least-once re-delivery of the pre-compaction INSERT epoch: the
    // keys it inserts were later deleted and their tombstones are now
    // purged — the purge floor must keep them from resurrecting
    copyDir(s"$tmp/epoch0_copy", s"$tmp/state/epoch=0")
    val replayed = StreamingOps.readLatestState(spark, s"$tmp/state")
      .collect().map(_.toSeq).toSet
    assert(replayed == before, "purged deletes resurrected on epoch re-delivery")
    // a FRESH delete (seq above the floor) still deletes through the gate
    val del4 = log.filter(col("seq") === 1 && col("okey") % 11 === 0)
      .withColumn("op", lit("D")).withColumn("seq", lit(4L))
    StreamingOps.writeWave(del4, in, 3)
    StreamingOps.runCdcPass(spark, FileCdcSource(log.schema, in), s"$tmp/ckpt",
      s"$tmp/state")
    val latest = StreamingOps.readLatestState(spark, s"$tmp/state")
    assert(latest.filter(col("okey") % 11 === 0).count() == 0,
      "fresh post-GC delete did not apply")
    assert(latest.count() < before.size)
  }

  test("transformWithState evicts idle keys once the watermark passes their timer") {
    import graft.streaming.StreamingOps
    val sp = spark
    import sp.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft_evict").toString
    val in = s"$tmp/in"
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00").getTime
    def mk(id: Long, uid: Long, day: Int) = StreamingOps.Ev(
      id, new java.sql.Timestamp(t0 + day * 86400000L), uid, "e", 1.0, "{}")
    // user 1 at day 0; watermark (0s delay) advances past day 35 via users
    // 2/3, firing user 1's eviction timer; user 1 returns at day 42 and
    // must restart from EMPTY state (n=1, not n=2).
    StreamingOps.writeWave(Seq(mk(1, 1, 0)).toDS().toDF(), in, 0)
    StreamingOps.writeWave(Seq(mk(2, 2, 40)).toDS().toDF(), in, 1)
    StreamingOps.writeWave(Seq(mk(3, 3, 41)).toDS().toDF(), in, 2)
    StreamingOps.writeWave(Seq(mk(4, 1, 42)).toDS().toDF(), in, 3)
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(providerKey)
    spark.conf.set(providerKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val st = spark.readStream.schema(Seq(mk(0, 0, 0)).toDS().toDF().schema)
        .option("maxFilesPerTrigger", "1").parquet(in)
        .as[StreamingOps.Ev].withWatermark("ts", "0 seconds")
      val out = st.groupByKey(_.user_id)
        .transformWithState(new StreamingOps.RunningCounterProcessor,
          org.apache.spark.sql.streaming.TimeMode.EventTime(),
          org.apache.spark.sql.streaming.OutputMode.Update())
        .toDF("user_id", "n", "total")
      val name = "evict" + java.util.UUID.randomUUID.toString.replace("-", "")
      val query = out.writeStream.outputMode("update").format("memory")
        .queryName(name).start()
      query.processAllAvailable()
      query.stop()
      val u1n = spark.table(name).filter($"user_id" === 1L)
        .agg(max($"n")).collect()(0).getLong(0)
      assert(u1n == 1L,
        s"user 1 state survived past its eviction timer (max n = $u1n)")
    } finally {
      prev match {
        case Some(p) => spark.conf.set(providerKey, p)
        case None => spark.conf.unset(providerKey)
      }
    }
  }

  test("CdcSource pluggability: a CDC pass over a MemoryStream serves the batch collapse") {
    // the apply machinery must not care about the transport: the same
    // runCdcPass that the harness drives through files runs here over an
    // in-memory stream (the Kafka+Debezium stand-in) — same state dir
    // layout, same served collapse
    import graft.streaming.StreamingOps
    val sp = spark
    import sp.implicits._
    implicit val sql: org.apache.spark.sql.SQLContext = sp.sqlContext
    val log = Tables.cdcLog(spark, sf)
      .select($"op", $"seq", $"ts", $"okey", $"price", $"status")
      .collect()
      .map(r => (r.getString(0), r.getLong(1),
        r.getAs[java.time.LocalDateTime](2), r.getLong(3),
        if (r.isNullAt(4)) Option.empty[Double] else Some(r.getDouble(4)),
        Option(r.getString(5))))
    val mem = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(String, Long, java.time.LocalDateTime, Long,
        Option[Double], Option[String])]
    // one addData per seq wave: each becomes (at least) one micro-batch,
    // mirroring the file harness's one-file-per-trigger waves
    (1 to 3).foreach(w => mem.addData(log.filter(_._2 == w).toSeq))
    val base = java.nio.file.Files.createTempDirectory("graft_memsrc").toString
    val src = new graft.sources.WrappedCdcSource(
      mem.toDF().toDF("op", "seq", "ts", "okey", "price", "status"))
    val prog = StreamingOps.runCdcPass(spark, src,
      s"$base/ckpt", s"$base/state", trackSeq = true)
    assert(prog.rowsApplied == log.length.toLong)
    assert(prog.lastSeq.contains(3L))
    val served = Replication.appliedState(spark, s"$base/state")
      .collect().map(_.toSeq).toSet
    val batch = q("agg_latest_by_version").collect().map(_.toSeq).toSet
    assert(served == batch,
      "a memory-transport pass must serve exactly the batch collapse")
  }

  test("a THIRD custom transport plugs in behind the CdcSource trait alone") {
    // not a shipped implementation: an anonymous CdcSource proves the
    // CDC and MV passes' only coupling to the transport is the trait's
    // two members (schema + open) — file, memory, Kafka, or anything
    // else is a constructor argument, never a rewrite
    import graft.streaming.StreamingOps
    val base = java.nio.file.Files.createTempDirectory("graft_3rd").toString
    val ev = spark.createDataFrame(Seq(
        ("I", 1L, 1L, 10.0, "A"), ("I", 2L, 2L, 20.0, "B"),
        ("U", 3L, 1L, 15.0, "B"), ("D", 4L, 2L, 0.0, null)))
      .toDF("op", "seq", "okey", "price", "status")
      .withColumn("ts", timestamp_seconds(lit(1700000000L) + col("seq")))
      .select(col("op"), col("seq"), col("ts"), col("okey"), col("price"),
        col("status"))
    StreamingOps.writeWave(ev, s"$base/in", 0)
    val custom = new graft.sources.CdcSource {
      override def schema: org.apache.spark.sql.types.StructType = ev.schema
      override def open(sp: org.apache.spark.sql.SparkSession)
          : org.apache.spark.sql.DataFrame =
        sp.readStream.schema(ev.schema)
          .option("maxFilesPerTrigger", "1").parquet(s"$base/in")
    }
    StreamingOps.runCdcPass(spark, custom, s"$base/ckpt",
      s"$base/state")
    assert(Replication.appliedState(spark, s"$base/state")
      .select(col("okey"), col("price"), col("status"))
      .collect().map(_.toSeq).toSet ==
      Set(Seq(1L, 15.0, "B")),
      "the CDC pass must apply identically over a custom transport")
    StreamingOps.runMvSumPass(spark, custom, s"$base/ckpt_mv",
      s"$base/state_mv", s"$base/mv")
    assert(StreamingOps.readMv(spark, s"$base/mv")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet ==
      Set(("B", 1L)),
      "the MV pass must maintain identically over a custom transport")
    // and the production Kafka transport satisfies the same trait; its
    // value→envelope projection is EXECUTED below over record-shaped
    // rows (only the broker wiring itself needs the connector jar)
    val k = graft.sources.KafkaCdcSource(ev.schema, "broker:9092",
      "dbserver1.inventory.orders")
    assert(k.schema == ev.schema)
  }

  test("a transport whose stream lives on another session still reports " +
      "its pass's progress") {
    // a source may ignore the session it is handed (WrappedCdcSource
    // returns its own frame): the query then runs, and posts its
    // progress and termination events, on the frame's session
    import graft.streaming.StreamingOps
    val base = java.nio.file.Files.createTempDirectory("graft_othersess").toString
    val ev = spark.createDataFrame(Seq(
        ("I", 1L, 1L, 10.0, "A"), ("I", 2L, 2L, 20.0, "B"),
        ("U", 3L, 1L, 15.0, "B")))
      .toDF("op", "seq", "okey", "price", "status")
      .withColumn("ts", timestamp_seconds(lit(1700000000L) + col("seq")))
      .select(col("op"), col("seq"), col("ts"), col("okey"), col("price"),
        col("status"))
    StreamingOps.writeWave(ev, s"$base/in", 0)
    val other = spark.newSession()
    val src = new graft.sources.WrappedCdcSource(other.readStream
      .schema(ev.schema).option("maxFilesPerTrigger", "1").parquet(s"$base/in"))
    val prog = StreamingOps.runCdcPass(spark, src, s"$base/ckpt",
      s"$base/state", trackSeq = true)
    assert(prog.rowsApplied == 3L && prog.epochs == 1L &&
      prog.lastSeq.contains(3L), s"one wave of 3 rows: $prog")
    assert(Replication.appliedState(spark, s"$base/state")
      .select(col("okey"), col("price")).collect().map(_.toSeq).toSet ==
      Set(Seq(1L, 15.0), Seq(2L, 20.0)))
  }

  test("Kafka transport: the Debezium value projection maps, orders, and gates") {
    // record-shaped batch rows stand in for the broker (the stream and a
    // batch frame share the exact projectEnvelope plan): op dialect maps
    // c/r→I u→U d→D with the delete taking its BEFORE image; seq =
    // offset * maxPartitions + partition is per-key monotone; Kafka
    // tombstones (null value) and non-DML ops ('t') are gated out
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("op",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("seq",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("okey",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("price",
        org.apache.spark.sql.types.DoubleType),
      org.apache.spark.sql.types.StructField("status",
        org.apache.spark.sql.types.StringType)))
    def v(op: String, before: String, after: String) =
      s"""{"op":"$op","before":$before,"after":$after}"""
    // Debezium keys records by PK, so a key's events all live on ONE
    // partition: k1 on p0, k2 on p1 — exactly the affinity the
    // offset-arithmetic ordering contract stands on
    val records = Seq(
      // p0: insert k1, update k1
      (v("c", "null", """{"okey":1,"price":10.0,"status":"A"}"""), 0, 0L),
      (v("u", """{"okey":1,"price":10.0,"status":"A"}""",
        """{"okey":1,"price":11.0,"status":"B"}"""), 0, 1L),
      // p1: snapshot-read k2, delete k2 (before image), then its
      // compaction TOMBSTONE at a higher offset, then a TRUNCATE
      // QueryEvent — the last two must gate
      (v("r", "null", """{"okey":2,"price":20.0,"status":"B"}"""), 1, 0L),
      (v("d", """{"okey":2,"price":20.0,"status":"B"}""", "null"), 1, 1L),
      (null, 1, 2L),
      ("""{"op":"t","before":null,"after":null}""", 1, 3L))
    val raw = spark.createDataFrame(records).toDF("value", "partition", "offset")
    val k = graft.sources.KafkaCdcSource(schema, "broker:9092", "t",
      maxPartitions = 16)
    val out = k.projectEnvelope(raw).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) null else r.getDouble(3),
        r.getString(4))).toSet
    assert(out == Set(
      ("I", 0L, 1L, 10.0, "A"),   // k1 insert: seq 0*16+0
      ("U", 16L, 1L, 11.0, "B"),  // k1 update: seq 1*16+0 — monotone
      ("I", 1L, 2L, 20.0, "B"),   // k2 read:   seq 0*16+1
      ("D", 17L, 2L, 20.0, "B")), // k2 delete: before image, 1*16+1
      s"projection diverged: $out")
    // the source's position codec decodes its OWN dialect through the
    // SAME arithmetic the projection stamps: for every emitted record,
    // codec("partition:offset") == the record's seq — so a resume by
    // token lands exactly on the named record's position
    val codec = k.positionCodec
    assert(codec.toSeq("0:0") == 0L && codec.toSeq("0:1") == 16L &&
      codec.toSeq("1:0") == 1L && codec.toSeq(" 1:1 ") == 17L)
    // out-of-bounds and garbage fail loudly — a guessed position
    // replays or skips history
    intercept[IllegalArgumentException] { codec.toSeq("16:5") }
    intercept[IllegalArgumentException] { codec.toSeq("-1:5") }
    intercept[IllegalArgumentException] { codec.toSeq("binlog.000001:5") }
    intercept[IllegalArgumentException] { codec.toSeq("17") }
  }

  test("Kafka transport: resume-by-token equals resume-by-seq over projected frames") {
    import graft.streaming.StreamingOps
    import org.apache.spark.sql.types._
    def tmp(): String =
      java.nio.file.Files.createTempDirectory("graft_kafka").toString
    val schema = StructType(Seq(
      StructField("op", StringType), StructField("seq", LongType),
      StructField("ts", TimestampType),
      StructField("okey", LongType), StructField("price", DoubleType),
      StructField("status", StringType)))
    def v(op: String, after: String) =
      s"""{"op":"$op","before":null,"after":$after}"""
    def img(okey: Int, price: Double, status: String) =
      s"""{"ts":"2024-01-0$okey 00:00:00","okey":$okey,""" +
        s""""price":$price,"status":"$status"}"""
    // two keys on two partitions, two offsets each — the second offset
    // wave is what a resume from the first wave's reported token skips
    val records = Seq(
      (v("c", img(1, 10.0, "A")), 0, 0L),
      (v("c", img(2, 20.0, "A")), 1, 0L),
      (v("u", img(1, 11.0, "B")), 0, 1L),
      (v("u", img(2, 22.0, "B")), 1, 1L))
    val raw = spark.createDataFrame(records).toDF("value", "partition", "offset")
    val k = graft.sources.KafkaCdcSource(schema, "broker:9092", "t",
      maxPartitions = 16)
    val env = k.projectEnvelope(raw)
    // the connector reported "1:0" (partition 1, offset 0) as the last
    // consumed position of wave 1 — resuming there must apply exactly
    // the records the explicit seq bound admits, on a fresh destination
    def runFrom(from: Long): Set[Seq[Any]] = {
      val base = tmp()
      StreamingOps.writeWave(env, s"$base/in", 0)
      Replication.incrementalSync(spark, env.schema, s"$base/in",
        s"$base/ckpt", s"$base/state", fromSeq = Some(from))
      Replication.appliedState(spark, s"$base/state")
        .select(col("okey"), col("price"), col("status"))
        .collect().map(_.toSeq).toSet
    }
    val viaToken = runFrom(k.positionCodec.toSeq("1:0"))
    val viaSeq = runFrom(1L) // 0*16+1 — the same position, spelled as seq
    assert(viaToken == viaSeq &&
      viaToken == Set(Seq(1L, 11.0, "B"), Seq(2L, 22.0, "B")),
      s"token resume diverged: $viaToken vs $viaSeq")
    // ...and the recorded-token round trip: a pass driven by this source
    // records the token it was resumed with; the catalog then answers
    // offline exactly what the codec answers live
    val base = tmp()
    StreamingOps.writeWave(env, s"$base/in", 0)
    Replication.incrementalSync(spark, env.schema, s"$base/in",
      s"$base/ckpt", s"$base/state",
      positionToken = Some("1:1"))
    Replication.PositionCatalog.record(s"$base/ckpt", "1:0",
      k.positionCodec.toSeq("1:0"))
    assert(Replication.PositionCatalog.codec(s"$base/ckpt").toSeq("1:0")
      == k.positionCodec.toSeq("1:0"))
  }

  test("Kafka transport: a partition above the configured bound fails loudly") {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("op", StringType), StructField("seq", LongType),
      StructField("okey", LongType)))
    val records = Seq(
      ("""{"op":"c","before":null,"after":{"okey":1}}""", 16, 0L))
    val raw = spark.createDataFrame(records).toDF("value", "partition", "offset")
    val k = graft.sources.KafkaCdcSource(schema, "broker:9092", "t",
      maxPartitions = 16)
    val e = intercept[Exception] { k.projectEnvelope(raw).collect() }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Seq.empty
      else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(e).exists(_.contains("maxPartitions")),
      s"expected the partition-bound error, got: $e")
  }

  test("Kafka AVRO transport: the Confluent wire decode feeds the SAME " +
      "Debezium projection — framing, registry, and gates all refuse/" +
      "filter identically to the JSON wire") {
    import org.apache.avro.generic.GenericData
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("op",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("seq",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("okey",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("price",
        org.apache.spark.sql.types.DoubleType),
      org.apache.spark.sql.types.StructField("status",
        org.apache.spark.sql.types.StringType)))
    // the Debezium value schema, spelled as Avro (nullable unions all
    // around, exactly what the connector registers)
    val avroJson =
      """{"type":"record","name":"Envelope","fields":[
           {"name":"op","type":["null","string"],"default":null},
           {"name":"before","type":["null",{"type":"record","name":"Val",
             "fields":[
               {"name":"okey","type":["null","long"],"default":null},
               {"name":"price","type":["null","double"],"default":null},
               {"name":"status","type":["null","string"],"default":null}]}],
            "default":null},
           {"name":"after","type":["null","Val"],"default":null}]}"""
    val avroSchema = new org.apache.avro.Schema.Parser().parse(avroJson)
    val valSchema = avroSchema.getField("before").schema().getTypes.get(1)
    def img(v: Option[(Long, Double, String)]): AnyRef = v match {
      case None => null
      case Some((k, p, s)) =>
        val r = new GenericData.Record(valSchema)
        r.put("okey", k); r.put("price", p); r.put("status", s)
        r
    }
    def enc(schemaId: Int, op: String, before: Option[(Long, Double, String)],
        after: Option[(Long, Double, String)]): Array[Byte] = {
      val rec = new GenericData.Record(avroSchema)
      rec.put("op", op)
      rec.put("before", img(before))
      rec.put("after", img(after))
      val bos = new java.io.ByteArrayOutputStream()
      bos.write(0) // Confluent magic
      bos.write((schemaId >> 24) & 0xff); bos.write((schemaId >> 16) & 0xff)
      bos.write((schemaId >> 8) & 0xff); bos.write(schemaId & 0xff)
      val e = org.apache.avro.io.EncoderFactory.get.binaryEncoder(bos, null)
      new org.apache.avro.generic.GenericDatumWriter[GenericData.Record](
        avroSchema).write(rec, e)
      e.flush()
      bos.toByteArray
    }
    val k = graft.sources.KafkaAvroCdcSource(schema, "broker:9092", "t",
      schemaById = Map(7 -> avroJson), maxPartitions = 16)
    assert(k.schema == schema)
    // the same record set as the JSON-wire case: c/u on p0, r/d on p1,
    // then a Kafka tombstone (null value) and a non-DML op 't' — the
    // last two must gate exactly as on the JSON wire
    val records: Seq[(Array[Byte], Int, Long)] = Seq(
      (enc(7, "c", None, Some((1L, 10.0, "A"))), 0, 0L),
      (enc(7, "u", Some((1L, 10.0, "A")), Some((1L, 11.0, "B"))), 0, 1L),
      (enc(7, "r", None, Some((2L, 20.0, "B"))), 1, 0L),
      (enc(7, "d", Some((2L, 20.0, "B")), None), 1, 1L),
      (null, 1, 2L),
      (enc(7, "t", None, None), 1, 3L))
    val raw = spark.createDataFrame(records)
      .toDF("value", "partition", "offset")
    val out = k.projectEnvelope(raw).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) null else r.getDouble(3),
        r.getString(4))).toSet
    assert(out == Set(
      ("I", 0L, 1L, 10.0, "A"),
      ("U", 16L, 1L, 11.0, "B"),
      ("I", 1L, 2L, 20.0, "B"),
      ("D", 17L, 2L, 20.0, "B")),
      s"avro projection diverged: $out")
    // UNKNOWN SCHEMA ID: a producer-side evolution this consumer has
    // not reviewed must refuse by id, never decode under a guessed
    // reader schema
    val unknown = spark.createDataFrame(
      Seq((enc(99, "c", None, Some((3L, 1.0, "x"))), 0, 4L)))
      .toDF("value", "partition", "offset")
    val e1 = intercept[Throwable] { k.projectEnvelope(unknown).collect() }
    val m1 = Iterator.iterate(e1)(_.getCause).takeWhile(_ != null)
      .map(m => Option(m.getMessage).getOrElse("")).mkString(" | ")
    assert(m1.contains("schema id 99"), s"got: $m1")
    // BAD MAGIC: not Confluent-framed
    val badMagic = enc(7, "c", None, Some((3L, 1.0, "x")))
    badMagic(0) = 1
    val raw2 = spark.createDataFrame(Seq((badMagic, 0, 5L)))
      .toDF("value", "partition", "offset")
    val e2 = intercept[Throwable] { k.projectEnvelope(raw2).collect() }
    val m2 = Iterator.iterate(e2)(_.getCause).takeWhile(_ != null)
      .map(m => Option(m.getMessage).getOrElse("")).mkString(" | ")
    assert(m2.contains("magic"), s"got: $m2")
    // TRUNCATED FRAME: shorter than the 5-byte header
    val raw3 = spark.createDataFrame(Seq((Array[Byte](0, 0, 7), 0, 6L)))
      .toDF("value", "partition", "offset")
    val e3 = intercept[Throwable] { k.projectEnvelope(raw3).collect() }
    assert(Iterator.iterate(e3)(_.getCause).takeWhile(_ != null)
      .map(m => Option(m.getMessage).getOrElse("")).mkString(" | ")
      .contains("shorter than"))
    // a malformed registry schema refuses at DECLARE time
    val e4 = intercept[IllegalArgumentException] {
      graft.sources.KafkaAvroCdcSource(schema, "b:9092", "t",
        schemaById = Map(1 -> "{not avro}"))
    }
    assert(e4.getMessage.contains("does not parse"))
  }
}
