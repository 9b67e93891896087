package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import graft.sources.FileCdcSource

/** Property-based CDC semantics (SURVEY.md §5.2.3): for random I/U/D
  * sequences, the distributed latest-wins collapse must equal a
  * sequential replay; collapse must be idempotent and replay-safe.
  * (Raw scalacheck Gens with fixed seeds — the scalatest/scalacheck
  * bridge artifact is not in the offline dependency set.)
  */
class CdcPropertySpec extends SparkTestBase {

  case class Op(op: String, seq: Long, key: Long, v: Long)

  case class POp(op: String, seq: Long, key: Long, price: java.lang.Double,
    status: String, changed: Seq[String])

  case class SOp(op: String, seq: Long, key: Long, price: java.lang.Double,
    status: String, before: java.lang.Double)

  case class REv(table: String, op: String, seq: Long, okey: Long,
    line_no: Long, price: Double, status: String)

  /** A served row of the REPAIR property: (okey, line_no, price, status,
    * seq of the winning event). */
  type Img = (Long, Long, Double, String, Long)

  private val genOps: Gen[List[Op]] = for {
    nKeys <- Gen.choose(1, 8)
    n <- Gen.choose(1, 60)
    ops <- Gen.listOfN(n, for {
      k <- Gen.choose(0L, nKeys.toLong)
      o <- Gen.oneOf("I", "U", "D")
      v <- Gen.choose(0L, 1000L)
    } yield (k, o, v))
  } yield ops.zipWithIndex.map { case ((k, o, v), i) => Op(o, i.toLong, k, v) }

  private def samples(n: Int): Seq[List[Op]] =
    (0 until n).flatMap(i =>
      genOps.apply(Gen.Parameters.default, Seed(42L + i)))

  /** reference semantics: sequential replay into a key->row map. */
  private def replay(ops: List[Op]): Map[Long, (String, Long)] =
    ops.sortBy(_.seq).foldLeft(Map.empty[Long, (String, Long)]) {
      case (m, Op(op, _, k, v)) => m.updated(k, (op, v))
    }.filter(_._2._1 != "D")

  /** the engine's collapse (same shape as A8/ST1). */
  private def collapse(ops: List[Op]): Map[Long, (String, Long)] = {
    import spark.implicits._
    val df = spark.createDataFrame(ops)
    df.groupBy($"key")
      .agg(max_by(struct($"op", $"v"), $"seq").as("l"))
      .select($"key", $"l.op", $"l.v")
      .filter($"l.op" =!= "D")
      .collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getLong(2)))
      .toMap
  }

  test("distributed collapse == sequential replay (15 random logs)") {
    samples(15).foreach { ops =>
      assert(collapse(ops) == replay(ops), s"log: $ops")
    }
  }

  test("collapse is replay-idempotent (at-least-once delivery)") {
    samples(10).foreach { ops =>
      val tail = ops.takeRight(math.max(1, ops.length / 3))
      assert(collapse(ops ++ tail) == collapse(ops), s"log: $ops")
    }
  }

  test("schema evolution: evolved union keeps pre-DDL rows null, post-DDL typed") {
    val out = SparkEntry.queries("cdc_schema_evolution")(spark, sf).collect()
    val base = SparkEntry.queries("agg_latest_by_version")(spark, sf).collect()
    // the evolved collapse covers exactly the same surviving keys…
    assert(out.map(_.getLong(0)).toSet == base.map(_.getLong(0)).toSet)
    // …and the added column is null iff the key was last touched pre-DDL
    out.foreach { r =>
      val okey = r.getLong(0)
      val op = r.getString(1)
      val ch = if (r.isNullAt(5)) null else r.getString(5)
      if (op == "U") assert(ch == s"ch${okey % 4}",
        s"post-DDL key $okey lost its evolved column: $ch")
      else assert(ch == null, s"pre-DDL key $okey has a phantom value: $ch")
    }
  }

  /** engine collapse WITH tombstones kept — the per-epoch delta shape
    * (deletes must keep cancelling older epochs until the final read). */
  private def collapseKeepTombstones(ops: List[Op]): List[Op] = {
    import spark.implicits._
    spark.createDataFrame(ops)
      .groupBy($"key")
      .agg(max_by(struct($"op", $"seq", $"v"), $"seq").as("l"))
      .select($"key", $"l.op", $"l.seq", $"l.v")
      .collect()
      .map(r => Op(r.getString(1), r.getLong(2), r.getLong(0), r.getLong(3)))
      .toList
  }

  test("epoch-split deltas compose: collapse(∪ collapse(epoch_i)) == collapse(all)") {
    // the algebra readLatestState + compactState stand on: any contiguous
    // epoch split of the log, collapsed per epoch with tombstones KEPT,
    // must fold back to the full-log collapse
    samples(8).filter(_.length > 3).foreach { ops =>
      val sorted = ops.sortBy(_.seq)
      val chunks = sorted.grouped(math.max(1, sorted.length / 3)).toList
      val folded = collapse(chunks.flatMap(collapseKeepTombstones))
      assert(folded == collapse(ops), s"log: $ops")
    }
  }

  test("tombstone GC property: purge + any epoch re-delivery never changes the collapse") {
    import graft.streaming.StreamingOps
    // random logs, epoch-split into 3 delta dirs built directly (batch
    // only — the streaming pass is covered elsewhere); after a purging
    // compaction, re-delivering ANY subset of the folded epochs
    // (including all of them — the crashed-deletion window) must leave
    // the served collapse unchanged, and a strictly-newer delta must
    // still apply on top
    samples(6).filter(_.length > 3).zipWithIndex.foreach { case (ops, si) =>
      val sorted = ops.sortBy(_.seq)
      val chunks = sorted.grouped(math.max(1, sorted.length / 3)).toList
      val state = java.nio.file.Files
        .createTempDirectory(s"graft_gcprop$si").toString
      def toDf(chunk: List[Op]) = {
        import spark.implicits._
        spark.createDataFrame(chunk)
          .select(col("op"), col("seq"),
            timestamp_seconds(lit(1700000000L) + col("seq")).as("ts"),
            col("key").as("okey"), col("v").cast("double").as("price"),
            lit("S").as("status"))
      }
      chunks.zipWithIndex.foreach { case (c, i) =>
        toDf(c).write.parquet(s"$state/epoch=$i") }
      val before = StreamingOps.readLatestState(spark, state)
        .collect().map(_.toSeq).toSet
      StreamingOps.compactState(spark, state, tombstoneHorizon = Some(0))
      assert(spark.read.parquet(state).filter(col("op") === "D").count() == 0,
        s"tombstones survived zero-horizon purge: $ops")
      // re-deliver every folded epoch (superset of any prefix/subset)
      chunks.zipWithIndex.foreach { case (c, i) =>
        toDf(c).write.mode("overwrite").parquet(s"$state/epoch=$i") }
      val replayed = StreamingOps.readLatestState(spark, state)
        .collect().map(_.toSeq).toSet
      assert(replayed == before, s"replay changed the collapse: $ops")
      // a strictly newer delta still applies through the floor gate
      val maxSeq = sorted.last.seq
      val newKey = 999L
      toDf(List(Op("I", maxSeq + 1, newKey, 7L)))
        .write.parquet(s"$state/epoch=${chunks.size}")
      val latest = StreamingOps.readLatestState(spark, state)
        .collect().map(_.toSeq).toSet
      assert(latest.size == before.size + 1, s"post-GC delta lost: $ops")
    }
  }

  test("TRUNCATE property: any log, any position — served == collapse of the tail") {
    import graft.streaming.{StateFs, StreamingOps}
    // random logs split into epoch dirs; a truncate floor at a random
    // mid-log position P must serve exactly the collapse of events with
    // seq > P — before AND after compaction (the floor gates folded
    // baselines too, and compaction physically reclaims the dead rows)
    // — and a post-truncate delta still applies.
    samples(6).filter(_.length > 3).zipWithIndex.foreach { case (ops, si) =>
      val sorted = ops.sortBy(_.seq)
      val chunks = sorted.grouped(math.max(1, sorted.length / 3)).toList
      val state = java.nio.file.Files
        .createTempDirectory(s"graft_truncprop$si").toString
      def toDf(chunk: List[Op]) = {
        spark.createDataFrame(chunk)
          .select(col("op"), col("seq"),
            timestamp_seconds(lit(1700000000L) + col("seq")).as("ts"),
            col("key").as("okey"), col("v").cast("double").as("price"),
            lit("S").as("status"))
      }
      chunks.zipWithIndex.foreach { case (c, i) =>
        toDf(c).write.parquet(s"$state/epoch=$i") }
      val p = sorted(sorted.length / 2).seq
      StateFs.writeAtomic(s"$state/_trunc_floor", p.toString)
      def served() = StreamingOps.readLatestState(spark, state)
        .select(col("okey"), col("op"), col("price")).collect()
        .map(r => r.getLong(0) -> (r.getString(1), r.getDouble(2))).toMap
      val want = replay(sorted.filter(_.seq > p))
        .map { case (k, (o, v)) => k -> (o, v.toDouble) }
      assert(served() == want, s"pre-compaction truncate diverged: $ops, p=$p")
      StreamingOps.compactState(spark, state)
      assert(served() == want, s"post-compaction truncate diverged: $ops, p=$p")
      assert(spark.read.option("mergeSchema", "true").parquet(state)
        .filter(col("seq") <= p).count() == 0,
        s"compaction kept truncate-dead rows: $ops, p=$p")
      // a strictly newer delta still applies above the floor
      val maxSeq = sorted.last.seq
      toDf(List(Op("I", maxSeq + 1, 999L, 7L)))
        .write.parquet(s"$state/epoch=${chunks.size}")
      assert(served().get(999L).contains(("I", 7.0)),
        s"post-truncate delta lost: $ops")
    }
  }

  test("DEFAULT property: any log, any DDL position — default iff the winner predates it") {
    import graft.streaming.{StateFs, StreamingOps}
    // random logs split at a random DDL position (a DDL lands at a batch
    // boundary): the pre-DDL epoch lacks the column, the post-DDL epoch
    // writes a value for even seqs and an EXPLICIT NULL for odd seqs.
    // Served channel must be the declared default exactly when the key's
    // winner predates the DDL; a post-DDL explicit NULL must stay NULL.
    samples(6).filter(_.length > 3).zipWithIndex.foreach { case (ops, si) =>
      val sorted = ops.sortBy(_.seq)
      val p = sorted(sorted.length / 2).seq
      val (pre, post) = sorted.partition(_.seq <= p)
      val state = java.nio.file.Files
        .createTempDirectory(s"graft_defprop$si").toString
      def baseDf(chunk: List[Op]) =
        spark.createDataFrame(chunk)
          .select(col("op"), col("seq"),
            timestamp_seconds(lit(1700000000L) + col("seq")).as("ts"),
            col("key").as("okey"), col("v").cast("double").as("price"),
            lit("S").as("status"))
      if (pre.nonEmpty) baseDf(pre).write.parquet(s"$state/epoch=0")
      if (post.nonEmpty)
        baseDf(post).withColumn("channel",
          when(col("seq") % 2 === 0, concat(lit("v"), col("seq")))
            .otherwise(lit(null).cast("string")))
          .write.parquet(s"$state/epoch=1")
      StateFs.writeAtomic(s"$state/_defaults", s"channel\t$p\t'dflt'")
      val served = StreamingOps.readLatestState(spark, state)
        .select(col("okey"), col("channel")).collect()
        .map(r => r.getLong(0) -> Option(r.getString(1))).toMap
      val winners = sorted.foldLeft(Map.empty[Long, Op]) {
        (m, o) => m.updated(o.key, o) }
        .filter(_._2.op != "D")
      val want = winners.map { case (k, w) =>
        k -> (if (w.seq <= p) Some("dflt")
              else if (w.seq % 2 == 0) Some(s"v${w.seq}") else None)
      }
      assert(served == want, s"log: $ops, p=$p")
    }
  }

  test("DROP+RE-ADD property: any log, any drop/re-add positions — stale values never resurface") {
    import graft.streaming.{StateFs, StreamingOps}
    // random logs split at a drop position D and a later re-add position
    // A: era 1 (seq <= D) carries the column, era 2 (D < seq <= A) lacks
    // it, era 3 (seq > A) writes a value for even seqs and an EXPLICIT
    // NULL for odd seqs. Served channel: 'rd' (the re-add default) for
    // every winner at or below A — a pre-drop value surviving would be
    // the resurrection bug — and era-3 winners serve what they wrote.
    samples(6).filter(_.length > 5).zipWithIndex.foreach { case (ops, si) =>
      val sorted = ops.sortBy(_.seq)
      val d = sorted(sorted.length / 3).seq
      val a = sorted(2 * sorted.length / 3).seq max (d + 1)
      val state = java.nio.file.Files
        .createTempDirectory(s"graft_dropprop$si").toString
      def baseDf(chunk: List[Op]) =
        spark.createDataFrame(chunk)
          .select(col("op"), col("seq"),
            timestamp_seconds(lit(1700000000L) + col("seq")).as("ts"),
            col("key").as("okey"), col("v").cast("double").as("price"),
            lit("S").as("status"))
      val era1 = sorted.filter(_.seq <= d)
      val era2 = sorted.filter(o => o.seq > d && o.seq <= a)
      val era3 = sorted.filter(_.seq > a)
      if (era1.nonEmpty)
        baseDf(era1).withColumn("channel", concat(lit("old"), col("seq")))
          .write.parquet(s"$state/epoch=0")
      if (era2.nonEmpty) baseDf(era2).write.parquet(s"$state/epoch=1")
      if (era3.nonEmpty)
        baseDf(era3).withColumn("channel",
          when(col("seq") % 2 === 0, concat(lit("new"), col("seq")))
            .otherwise(lit(null).cast("string")))
          .write.parquet(s"$state/epoch=2")
      StateFs.writeAtomic(s"$state/_drops", s"channel\t$d")
      StateFs.writeAtomic(s"$state/_defaults", s"channel\t$a\t'rd'")
      val served = StreamingOps.readLatestState(spark, state)
        .select(col("okey"), col("channel")).collect()
        .map(r => r.getLong(0) -> Option(r.getString(1))).toMap
      val winners = sorted.foldLeft(Map.empty[Long, Op]) {
        (m, o) => m.updated(o.key, o) }
        .filter(_._2.op != "D")
      val want = winners.map { case (k, w) =>
        k -> (if (w.seq <= a) Some("rd")
              else if (w.seq % 2 == 0) Some(s"new${w.seq}") else None)
      }
      assert(served == want, s"log: $ops, d=$d, a=$a")
    }
  }

  test("CHANGES-BETWEEN property: any log, any (from, to] window — the " +
      "audit export == per-key latest in-window event, tombstones included") {
    import graft.streaming.{StateFs, StreamingOps}
    // random history-retaining state dirs (events land verbatim, the
    // keepHistory layout) probed with random incident windows: the
    // bounded export must equal the sequential reference — for each key
    // changed in (from, to], its latest in-window event, deletes
    // surfacing as tombstone rows with their image carried.
    samples(6).filter(_.length > 3).zipWithIndex.foreach { case (ops, si) =>
      val sorted = ops.sortBy(_.seq)
      val state = java.nio.file.Files
        .createTempDirectory(s"graft_cbprop$si").toString
      def toDf(chunk: List[Op]) =
        spark.createDataFrame(chunk)
          .select(col("op"), col("seq"),
            timestamp_seconds(lit(1700000000L) + col("seq")).as("ts"),
            col("key").as("okey"), col("v").cast("double").as("price"),
            lit("S").as("status"))
      sorted.grouped(math.max(1, sorted.length / 3)).zipWithIndex
        .foreach { case (c, i) => toDf(c).write.parquet(s"$state/epoch=$i") }
      StateFs.writeAtomic(s"$state/_history", "true")
      val seqs = sorted.map(_.seq)
      val rnd = new scala.util.Random(77 + si)
      val mid = seqs(seqs.length / 2)
      val (a, b) = (seqs(rnd.nextInt(seqs.length)),
        seqs(rnd.nextInt(seqs.length)))
      val windows = Seq(
        (seqs.head - 1, mid), // from the very start
        (mid, seqs.last), // to the very end
        (math.min(a, b) - 1, math.max(a, b))) // arbitrary interior
      windows.filter { case (f, t) => t > f }.foreach { case (from, to) =>
        val got = StreamingOps.readStateChanges(spark, state, from,
          untilSeq = Some(to))
          .select(col("okey"), col("op"), col("price"), col("seq"))
          .collect()
          .map(r => r.getLong(0) -> (r.getString(1), r.getDouble(2),
            r.getLong(3))).toMap
        val want = sorted.filter(o => o.seq > from && o.seq <= to)
          .groupBy(_.key).map { case (k, es) =>
            val w = es.maxBy(_.seq)
            k -> (w.op, w.v.toDouble, w.seq)
          }
        assert(got == want, s"log: $ops window=($from,$to]")
      }
    }
  }

  test("CHANGES-SINCE property: any log through the pass, a compaction " +
      "partway, any position at or above the purge floor — the export == " +
      "per-key latest event above it, tombstones included, one row per key") {
    import graft.streaming.StreamingOps
    // random logs applied by the CDC pass onto a FOLDED dir (per-batch
    // winners only), compacted after the middle wave — tombstones GC'd on
    // even logs, so those dirs carry a purge floor and a baseline without
    // the purged deletes — then polled at random positions the export
    // accepts. The export is unordered; it is compared as a map and
    // must hold exactly one row per key.
    samples(6).filter(_.length > 3).zipWithIndex.foreach { case (ops, si) =>
      val sorted = ops.sortBy(_.seq)
      val base = java.nio.file.Files
        .createTempDirectory(s"graft_csprop$si").toString
      def toDf(chunk: List[Op]) =
        spark.createDataFrame(chunk)
          .select(col("op"), col("seq"),
            timestamp_seconds(lit(1700000000L) + col("seq")).as("ts"),
            col("key").as("okey"), col("v").cast("double").as("price"),
            lit("S").as("status"))
      val waves = sorted.grouped(math.max(1, (sorted.length + 2) / 3)).toList
      waves.zipWithIndex.foreach { case (w, i) =>
        StreamingOps.writeWave(toDf(w), s"$base/in", i)
        StreamingOps.runCdcPass(spark, FileCdcSource(toDf(w).schema,
          s"$base/in"), s"$base/ckpt", s"$base/state")
        if (i == waves.length / 2) StreamingOps.compactState(spark,
          s"$base/state",
          tombstoneHorizon = Option.when(si % 2 == 0)(0))
      }
      // a GC'ing compaction's floor is the newest seq it folded (no txn
      // tail here), now taken from the epoch records
      val folded = waves.take(waves.length / 2 + 1).flatten.map(_.seq).max
      assert(StreamingOps.readPurgeFloor(s"$base/state") ==
        Option.when(si % 2 == 0)(folded), s"purge floor, log: $ops")
      val floor = StreamingOps.readPurgeFloor(s"$base/state")
        .getOrElse(sorted.head.seq - 1)
      val rnd = new scala.util.Random(91 + si)
      val positions = (floor +: sorted.last.seq +:
        Seq.fill(3)(floor + rnd.nextInt((sorted.last.seq - floor).toInt + 1)))
        .distinct
      val latest = sorted.groupBy(_.key).map { case (k, es) =>
        k -> es.maxBy(_.seq) }
      positions.foreach { p =>
        val rows = StreamingOps.readStateChanges(spark, s"$base/state", p)
          .select(col("okey"), col("op"), col("price"), col("seq"))
          .collect()
        val got = rows.map(r => r.getLong(0) -> (r.getString(1),
          r.getDouble(2), r.getLong(3))).toMap
        val want = latest.collect { case (k, w) if w.seq > p =>
          k -> (w.op, w.v.toDouble, w.seq) }
        assert(rows.length == got.size,
          s"${rows.length} rows for ${got.size} keys at $p, log: $ops")
        assert(got == want, s"export at $p (floor $floor), log: $ops")
      }
    }
  }

  test("TIME TRAVEL property: any log, any position — as-of == replay of the prefix") {
    import graft.streaming.{StateFs, StreamingOps}
    samples(6).filter(_.length > 3).zipWithIndex.foreach { case (ops, si) =>
      val sorted = ops.sortBy(_.seq)
      val state = java.nio.file.Files
        .createTempDirectory(s"graft_ttprop$si").toString
      spark.createDataFrame(sorted)
        .select(col("op"), col("seq"),
          timestamp_seconds(lit(1700000000L) + col("seq")).as("ts"),
          col("key").as("okey"), col("v").cast("double").as("price"),
          lit("S").as("status"))
        .write.parquet(s"$state/epoch=0")
      StateFs.writeAtomic(s"$state/_history", "true")
      Seq(sorted.head.seq, sorted(sorted.length / 2).seq,
          sorted.last.seq).distinct.foreach { p =>
        val served = StreamingOps.readLatestState(spark, state, Some(p))
          .select(col("okey"), col("price")).collect()
          .map(r => r.getLong(0) -> r.getDouble(1)).toMap
        val want = replay(sorted.filter(_.seq <= p))
          .map { case (k, (_, v)) => k -> v.toDouble }
        assert(served == want, s"log: $ops, asOf=$p")
      }
    }
  }

  test("bucket-probe read == full read restricted to those buckets (random logs)") {
    import graft.streaming.StreamingOps
    // the layout contract behind the touched-key probes: over random
    // logs, with a MIXED physical layout (a bucketed compaction baseline
    // under an unbucketed hand-written delta — the worst case the gate
    // must survive), a bucket-set read serves EXACTLY the full read's
    // rows for keys hashing into those buckets — pruning is IO-only
    samples(5).filter(_.length > 3).zipWithIndex.foreach { case (ops, si) =>
      val sorted = ops.sortBy(_.seq)
      val (first, rest) = sorted.splitAt(sorted.length / 2)
      val state = java.nio.file.Files
        .createTempDirectory(s"graft_bktprop$si").toString
      def toDf(chunk: List[Op]) = {
        import spark.implicits._
        spark.createDataFrame(chunk)
          .select(col("op"), col("seq"),
            timestamp_seconds(lit(1700000000L) + col("seq")).as("ts"),
            col("key").as("okey"), col("v").cast("double").as("price"),
            lit("S").as("status"))
      }
      toDf(first).write.parquet(s"$state/epoch=0")
      StreamingOps.compactState(spark, state) // noop at 1 epoch...
      toDf(rest).write.parquet(s"$state/epoch=1")
      StreamingOps.compactState(spark, state) // ...bucketed baseline here
      toDf(List(Op("U", sorted.last.seq + 1, sorted.head.key, 777L)))
        .write.parquet(s"$state/epoch=2") // unbucketed tail delta
      val full = StreamingOps.readLatestState(spark, state)
        .withColumn("_b", pmod(xxhash64(col("okey")), lit(64L)))
        .collect()
      val present = full.map(_.getAs[Long]("_b")).distinct.toSeq
      // probe a strict subset when possible, the full set otherwise
      val probed = present.sorted.take(math.max(1, present.length / 2))
      // THE contract (the scaladoc's "callers only consult keys whose
      // buckets they asked for"): every probed key serves EXACTLY its
      // full-read row — completeness AND exactness; keys outside the
      // probe may surface via NULL-bucket (unbucketed-epoch) rows and
      // are contractually unconsulted, but even those must never be
      // rows the full read does not serve... with one carve-out: an
      // unprobed key whose history SPANS bucketed and unbucketed epochs
      // legitimately serves a partial view (its bucketed rows were
      // pruned). So: exact on probed keys; no phantom KEYS anywhere.
      val bucketOfKey: Map[Any, Long] =
        full.map(r => (r.toSeq.head, r.getAs[Long]("_b"))).toMap
      val want = full.filter(r => probed.contains(r.getAs[Long]("_b")))
        .map(_.toSeq.dropRight(1)).toSet
      val got = StreamingOps.readLatestState(spark, state,
          buckets = Some(probed))
        .collect().map(_.toSeq).toSet
      assert(got.filter(r => bucketOfKey.get(r.head).exists(probed.contains))
          == want,
        s"probed keys must serve exactly their full-read rows; " +
          s"log: $ops, probed: $probed")
      assert(got.map(_.head).subsetOf(bucketOfKey.keySet),
        s"probe invented keys; log: $ops, probed: $probed")
    }
  }

  test("snapshot ∪ delta == full-log collapse") {
    samples(10).filter(_.length > 2).foreach { ops =>
      val sorted = ops.sortBy(_.seq)
      val (snapshotOps, delta) = sorted.splitAt(ops.length / 2)
      val snapshot = replay(snapshotOps).map { case (k, (_, v)) =>
        Op("I", snapshotOps.filter(_.key == k).map(_.seq).max, k, v)
      }.toList
      // a snapshot materializes state as Inserts, erasing the op label of
      // the last source op — the invariant is over key->value state, not
      // over op labels
      val got = collapse(snapshot ++ delta).map { case (k, (_, v)) => k -> v }
      val want = replay(ops).map { case (k, (_, v)) => k -> v }
      assert(got == want, s"log: $ops")
    }
  }

  test("PARTIAL-IMAGE property: any log, any wave split — served == per-column fold") {
    import graft.streaming.StreamingOps
    // random MINIMAL-row-image logs (inserts full, updates carrying a
    // random changed subset — explicit NULL sets included — deletes,
    // updates of absent keys), split into waves at random batch
    // boundaries: the apply-time completion composed across batches
    // must equal a sequential per-column fold. The fold's rules ARE the
    // contract: changed column → event value (NULL included); unchanged
    // → prior image's value; prior absent or tombstoned → NULL.
    val gen: Gen[List[POp]] = for {
      nKeys <- Gen.choose(1, 6)
      n <- Gen.choose(4, 50)
      evs <- Gen.listOfN(n, for {
        k <- Gen.choose(0L, nKeys.toLong)
        o <- Gen.oneOf("I", "U", "D")
        pv <- Gen.choose(0, 999).map(_.toDouble)
        sv <- Gen.oneOf(Option("A"), Option("B"), Option.empty[String])
        ch <- Gen.oneOf(Seq("price"), Seq("status"), Seq("price", "status"))
      } yield (k, o, pv, sv, ch))
    } yield evs.zipWithIndex.map { case ((k, o, pv, sv, ch), i) =>
      o match {
        case "I" => POp("I", i.toLong, k, pv, sv.orNull, null)
        case "U" => POp("U", i.toLong, k,
          if (ch.contains("price")) pv else null,
          if (ch.contains("status")) sv.orNull else null, ch)
        case _ => POp("D", i.toLong, k, null, null, null)
      }
    }
    def fold(evs: Seq[POp]): Map[Long, (Option[Double], Option[String])] =
      evs.sortBy(_.seq)
        .foldLeft(Map.empty[Long, Option[(Option[Double], Option[String])]]) {
          (m, e) => e.op match {
            case "I" => m.updated(e.key,
              Some((Option(e.price).map(_.doubleValue), Option(e.status))))
            case "D" => m.updated(e.key, None)
            case _ =>
              val prev = m.getOrElse(e.key, None)
                .getOrElse((Option.empty[Double], Option.empty[String]))
              m.updated(e.key, Some((
                if (e.changed.contains("price"))
                  Option(e.price).map(_.doubleValue) else prev._1,
                if (e.changed.contains("status"))
                  Option(e.status) else prev._2)))
          }
        }.collect { case (k, Some(img)) => k -> img }
    val logs = (0 until 8).flatMap(i =>
      gen.apply(Gen.Parameters.default, Seed(1234L + i)))
    logs.zipWithIndex.foreach { case (ops, si) =>
      val sorted = ops.sortBy(_.seq)
      val waves = sorted.grouped(
        math.max(1, sorted.length / (1 + si % 3))).toList
      val base = java.nio.file.Files
        .createTempDirectory(s"graft_partprop$si").toString
      waves.zipWithIndex.foreach { case (w, i) =>
        val df = spark.createDataFrame(w)
          .select(col("op"), col("seq"),
            timestamp_seconds(lit(1700000000L) + col("seq")).as("ts"),
            col("key").as("okey"), col("price"), col("status"),
            col("changed"))
        StreamingOps.writeWave(df, s"$base/in", i)
        StreamingOps.runCdcPass(spark, FileCdcSource(df.schema, s"$base/in"),
          s"$base/ckpt", s"$base/state",
          partialImageCol = Some("changed"))
        // the same waves through the topology pass as a one-table topology
        val tdf = df.withColumn("table", lit("t"))
        StreamingOps.writeWave(tdf, s"$base/in_t", i)
        StreamingOps.runCdcPassMulti(spark,
          FileCdcSource(tdf.schema, s"$base/in_t"), s"$base/ckpt_t",
          Map("t" -> s"$base/topo"), partialImageCol = Some("changed"))
      }
      Seq("state", "topo").foreach { dir =>
        val served = StreamingOps.readLatestState(spark, s"$base/$dir")
          .collect().map(r => r.getLong(0) ->
            ((Option(r.get(2)).map(_.toString.toDouble),
              Option(r.getString(3))))).toMap
        assert(served == fold(sorted),
          s"partial fold diverged in $dir (log $si, ${waves.size} waves): $ops")
      }
    }
  }

  test("STRICT-BEFORE property: any log, any wave split — served state " +
      "and DLQ == the sequential chain fold") {
    import graft.streaming.StreamingOps
    // random FULL-row-image logs where a random subset of updates LIE
    // about their before image, split into waves at random boundaries:
    // the gate's verdicts composed across batches must equal a
    // sequential fold whose rules ARE the contract — an update's
    // expected before is its in-batch predecessor's declared after
    // (chain), or the pre-batch applied state for the key's first batch
    // event; a mismatch quarantines the key's remaining batch events;
    // the next batch verdicts against the actual applied state again.
    case class Raw(key: Long, op: String, v: Double, st: String,
      lie: Boolean)
    val gen: Gen[List[Raw]] = for {
      nKeys <- Gen.choose(1, 6)
      n <- Gen.choose(4, 50)
      evs <- Gen.listOfN(n, for {
        k <- Gen.choose(0L, nKeys.toLong)
        o <- Gen.frequency((3, "I"), (4, "U"), (2, "D"))
        v <- Gen.choose(0, 999).map(_.toDouble)
        st <- Gen.oneOf("A", "B")
        lie <- Gen.frequency((3, false), (1, true))
      } yield Raw(k, o, v, st, lie))
    } yield evs
    val logs = (0 until 8).flatMap(i =>
      gen.apply(Gen.Parameters.default, Seed(4242L + i)))
    logs.zipWithIndex.foreach { case (raws, si) =>
      val seqd = raws.zipWithIndex.map { case (r, i) => (r, i.toLong) }
      val waves = seqd.grouped(
        math.max(1, seqd.length / (1 + si % 3))).toList
      // the reference fold ASSIGNS each update's declared before (true
      // chain value, or a deterministic lie) and verdicts sequentially
      var state = Map.empty[Long, (Double, String)]
      val events = scala.collection.mutable.ListBuffer.empty[SOp]
      val dlqModel = scala.collection.mutable.Set.empty[Long]
      waves.foreach { w =>
        val quarantined = scala.collection.mutable.Set.empty[Long]
        val chainAfter =
          scala.collection.mutable.Map.empty[Long, Option[Double]]
        w.foreach { case (r, seq) =>
          val expected: Option[Double] =
            chainAfter.getOrElse(r.key, state.get(r.key).map(_._1))
          val before: java.lang.Double =
            if (r.op != "U") null
            else if (!r.lie) expected.map(Double.box).orNull
            else expected match {
              case None => Double.box(123456.0)
              case Some(e) =>
                if (seq % 2 == 0) null else Double.box(e + 777.0)
            }
          events += SOp(r.op, seq, r.key,
            if (r.op == "D") null else Double.box(r.v),
            if (r.op == "D") null else r.st, before)
          if (quarantined(r.key)) dlqModel += seq
          else r.op match {
            case "I" => state += r.key -> ((r.v, r.st))
            case "D" => state -= r.key
            case _ =>
              val ok = (Option(before).map(_.doubleValue), expected) match {
                case (None, None) => true
                case (Some(b), Some(e)) => b == e
                case _ => false
              }
              if (ok) state += r.key -> ((r.v, r.st))
              else { dlqModel += seq; quarantined += r.key }
          }
          chainAfter(r.key) = if (r.op == "D") None else Some(r.v)
        }
      }
      // drive the impl over the SAME waves
      val base = java.nio.file.Files
        .createTempDirectory(s"graft_strictprop$si").toString
      val evList = events.toList
      val evWaves = evList.grouped(
        math.max(1, seqd.length / (1 + si % 3))).toList
      evWaves.zipWithIndex.foreach { case (w, i) =>
        val df = spark.createDataFrame(w)
          .select(col("op"), col("seq"),
            timestamp_seconds(lit(1700000000L) + col("seq")).as("ts"),
            col("key").as("okey"), col("price"), col("status"),
            col("before"))
        StreamingOps.writeWave(df, s"$base/in", i)
        StreamingOps.runCdcPass(spark, FileCdcSource(df.schema, s"$base/in"),
          s"$base/ckpt", s"$base/state",
          strictBefore = Some(("price", "before")),
          conflictDlq = Some(s"$base/dlq"))
        // the same waves through the topology pass as a one-table topology
        val tdf = df.withColumn("table", lit("t"))
        StreamingOps.writeWave(tdf, s"$base/in_t", i)
        StreamingOps.runCdcPassMulti(spark,
          FileCdcSource(tdf.schema, s"$base/in_t"), s"$base/ckpt_t",
          Map("t" -> s"$base/topo"),
          strictBefore = Some(("price", "before")),
          conflictDlq = Some(s"$base/dlq_t"))
      }
      Seq("state" -> "dlq", "topo" -> "dlq_t").foreach { case (dir, dlq) =>
        val served = StreamingOps.readLatestState(spark, s"$base/$dir")
          .collect().map(r => r.getLong(0) ->
            ((r.get(2).toString.toDouble, r.getString(3)))).toMap
        assert(served == state,
          s"strict fold diverged in $dir (log $si, ${evWaves.size} waves): " +
            evList)
        // a conflict-free run never creates the DLQ dir (the gate skips
        // empty epoch writes) — absent reads as the empty verdict set
        val dlqImpl =
          if (!graft.streaming.StateFs.exists(s"$base/$dlq")) Set.empty[Long]
          else spark.read.parquet(s"$base/$dlq")
            .select(col("seq")).collect().map(_.getLong(0)).toSet
        assert(dlqImpl == dlqModel.toSet,
          s"DLQ diverged in $dlq (log $si, ${evWaves.size} waves): $evList")
      }
    }
  }

  test("REPAIR property: any divergence heals to the truth and reports " +
      "the driver-side diff — single, chunked and topology repair") {
    // random logs replicate into state, then a random CORRUPTION wave
    // (seq ≥ 1000: deletes of live keys, updates, inserts of keys the
    // truth never had) diverges what the replica serves from the truth —
    // the log's own replay. Each repair flow must heal the served state
    // to the truth exactly, and its (inserted, updated, deleted) report
    // must equal the driver-side diff of truth vs served: keys only the
    // truth has, keys whose row differs, keys only the replica serves.
    // Single-table repairs alternate a single and a composite key; the
    // topology repair heals two tables with heterogeneous keys at once.
    def ev(maxKey: Long) = for {
      t <- Gen.oneOf("t_one", "t_two")
      o <- Gen.frequency((3, "I"), (3, "U"), (2, "D"))
      k <- Gen.choose(0L, maxKey)
      ln <- Gen.choose(0L, 2L)
      // few values: a drift often keeps the price and moves only the
      // status or the event time
      p <- Gen.choose(0, 3).map(_.toDouble)
      st <- Gen.oneOf("A", "B")
    } yield REv(t, o, 0L, k, ln, p, st)
    val gen = for {
      n <- Gen.choose(2, 40)
      log <- Gen.listOfN(n, ev(4L))
      c <- Gen.choose(1, 8)
      bad <- Gen.listOfN(c, ev(7L))
    } yield (
      // both tables hold at least one row before the corruption
      (REv("t_one", "I", 0L, 0L, 0L, 1.0, "A") +:
        REv("t_two", "I", 0L, 0L, 0L, 1.0, "A") +: log)
        .zipWithIndex.map { case (e, i) => e.copy(seq = i + 1L) },
      bad.zipWithIndex.map { case (e, i) => e.copy(seq = 1000L + i) })
    def img(e: REv): Img = (e.okey, e.line_no, e.price, e.status, e.seq)
    def latest(evs: Seq[REv], key: REv => Seq[Long]): Map[Seq[Long], Img] =
      evs.sortBy(_.seq).foldLeft(Map.empty[Seq[Long], Option[Img]]) {
        (m, e) => m.updated(key(e), if (e.op == "D") None else Some(img(e)))
      }.collect { case (k, Some(v)) => k -> v }
    def diff(truth: Map[Seq[Long], Img], served: Map[Seq[Long], Img]) =
      Replication.RepairReport((truth.keySet -- served.keySet).size,
        truth.count { case (k, v) => served.get(k).exists(_ != v) },
        (served.keySet -- truth.keySet).size)
    def keyFn(keys: Seq[String]): REv => Seq[Long] = e =>
      keys.map(k => if (k == "okey") e.okey else e.line_no)
    def frame(evs: Seq[REv]) = spark.createDataFrame(evs)
      .withColumn("ts", timestamp_seconds(lit(1700000000L) + col("seq")))
    def truthDf(m: Map[Seq[Long], Img]) = spark.createDataFrame(m.values.toSeq)
      .toDF("okey", "line_no", "price", "status", "seq")
      .select(col("okey"), col("line_no"), col("price"), col("status"),
        timestamp_seconds(lit(1700000000L) + col("seq")).as("ts"))
    def served(dir: String): Set[Img] = Replication.appliedState(spark, dir)
      .select(col("okey"), col("line_no"), col("price"), col("status"),
        (unix_seconds(col("ts")) - 1700000000L).as("seq"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getString(3), r.getLong(4))).toSet
    val cases = (0 until 6).flatMap(i =>
      gen.apply(Gen.Parameters.default, Seed(777L + i)))
    cases.zipWithIndex.foreach { case ((log, bad), si) =>
      val base = java.nio.file.Files
        .createTempDirectory(s"graft_repairprop$si").toString
      val where = s"(case $si): log $log, corruption $bad"
      // SINGLE TABLE, plain and chunk-bounded, over one envelope
      val keys = if (si % 2 == 0) Seq("okey") else Seq("okey", "line_no")
      val truth = latest(log, keyFn(keys))
      val want = diff(truth, latest(log ++ bad, keyFn(keys)))
      val env = (evs: Seq[REv]) => frame(evs).drop("table")
      Seq("plain", "chunked").foreach { mode =>
        val d = s"$base/$mode"
        graft.streaming.StreamingOps.writeWave(env(log), s"$d/in", 0)
        graft.streaming.StreamingOps.writeWave(env(bad), s"$d/in", 1)
        Replication.incrementalSync(spark, env(log).schema, s"$d/in",
          s"$d/ckpt", s"$d/state", keyCols = keys)
        assert(served(s"$d/state") == latest(log ++ bad, keyFn(keys)).values
          .toSet, s"diverged replica serves the corrupted replay $where")
        val src = truthDf(truth)
        val got = if (mode == "plain")
          Replication.repairSync(spark, src, s"$d/state", keys)
        else {
          // a chunk count dividing the bucket count prunes the state
          // scan; one that does not falls back to the exact predicate
          val nChunks = if (si % 3 == 0) 6 else 8
          val dirty = Replication.consistencyCheckChunked(src,
              Replication.appliedState(spark, s"$d/state").drop("op"),
              keys, nChunks)
            .filterNot(_.consistent).map(_.chunk)
          Replication.repairSyncChunked(spark, src, s"$d/state", dirty,
            nChunks, keys)
        }
        assert(got == want, s"$mode repair report $got != diff $want $where")
        assert(served(s"$d/state") == truth.values.toSet,
          s"$mode repair did not heal $where")
      }
      // TOPOLOGY: two tables, heterogeneous keys, one repair call
      val keyOf = Map("t_one" -> Seq("okey"), "t_two" -> Seq("okey", "line_no"))
      val dirs = keyOf.keys.map(t => t -> s"$base/topo_$t").toMap
      graft.streaming.StreamingOps.writeWave(frame(log), s"$base/topo_in", 0)
      graft.streaming.StreamingOps.writeWave(frame(bad), s"$base/topo_in", 1)
      Replication.incrementalSyncMulti(spark, frame(log).schema,
        s"$base/topo_in", s"$base/topo_ckpt", dirs,
        keyColsByTable = keyOf)
      def slice(t: String, evs: Seq[REv]) =
        latest(evs.filter(_.table == t), keyFn(keyOf(t)))
      val truthBy = keyOf.keys.map(t => t -> slice(t, log)).toMap
      val reports = Replication.repairSyncMulti(spark,
        truthBy.map { case (t, m) => t -> truthDf(m) }, dirs,
        keyColsByTable = keyOf)
      keyOf.keys.foreach { t =>
        val wantT = diff(truthBy(t), slice(t, log ++ bad))
        assert(reports(t) == wantT,
          s"topology report for $t ${reports(t)} != diff $wantT $where")
        assert(served(dirs(t)) == truthBy(t).values.toSet,
          s"topology repair did not heal $t $where")
      }
    }
  }

  test("APPLIED-POSITION RECORD property: every epoch's _maxseq equals a " +
      "scan of its own dir, and replicaStatus equals the full-scan answer " +
      "with any subset of records gone") {
    import graft.streaming.{StateFs, StreamingOps}
    // the reference: the raw (tombstone-inclusive) max seq over every
    // epoch dir, folded with the purge and truncate floors
    def fullScan(dir: String): Option[Long] = {
      val r = StreamingOps.readStateDir(spark, dir)
        .agg(max(col("seq"))).collect()(0)
      ((if (r.isNullAt(0)) None else Some(r.getLong(0))).toSeq ++
        StreamingOps.readPurgeFloor(dir) ++
        StreamingOps.readTruncFloor(dir)).maxOption
    }
    def epochScan(dir: String, e: Long): Option[Long] = {
      val r = StreamingOps.readStateDir(spark, dir)
        .filter(col("epoch") === e).agg(max(col("seq"))).collect()(0)
      if (r.isNullAt(0)) None else Some(r.getLong(0))
    }
    def check(dir: String, rng: scala.util.Random, where: String): Unit = {
      val epochs = StateFs.epochIds(dir)
      epochs.foreach { e =>
        val rec = StreamingOps.readMaxSeq(s"$dir/epoch=$e")
        assert(rec.isDefined, s"$dir/epoch=$e has no _maxseq $where")
        assert(rec.get == epochScan(dir, e),
          s"$dir/epoch=$e records ${rec.get}, its rows hold " +
            s"${epochScan(dir, e)} $where")
      }
      val want = fullScan(dir)
      assert(Replication.replicaStatus(spark, dir).appliedSeq == want,
        s"$dir status != full scan $want $where")
      epochs.filter(_ => rng.nextBoolean()).foreach(e =>
        StateFs.deleteRecursive(s"$dir/epoch=$e/_maxseq"))
      assert(Replication.replicaStatus(spark, dir).appliedSeq == want,
        s"$dir status != full scan $want with records deleted $where")
    }
    samples(4).zipWithIndex.foreach { case (ops, si) =>
      val sorted = ops.sortBy(_.seq)
      val base = java.nio.file.Files
        .createTempDirectory(s"graft_maxseqprop$si").toString
      val where = s"(log $si): $sorted"
      val nWaves = 1 + si % 3
      def waves[T](evs: Seq[T]) =
        evs.grouped(math.max(1, (evs.length + nWaves - 1) / nWaves)).toList
      def envelope(df: org.apache.spark.sql.DataFrame) = df
        .select(Seq(col("op"), col("seq"),
          timestamp_seconds(lit(1700000000L) + col("seq")).as("ts"),
          col("key").as("okey"), col("v").cast("double").as("price"),
          when(col("op") =!= "D", concat(lit("s"), col("v") % 3))
            .as("status")) ++
          df.columns.filterNot(Set("op", "seq", "key", "v")).map(col): _*)
      def frame(evs: Seq[Op]) = envelope(spark.createDataFrame(evs))
      // the txn-gated log: transactions of 3 events, each closed by a
      // commit marker except (on odd logs) the last, which stays pending
      val groups = sorted.grouped(3).toList
      val txnLog = groups.zipWithIndex.flatMap { case (g, t) =>
        g.map(_ -> t.toLong) ++ (if (t == groups.size - 1 && si % 2 == 1)
          Nil else Seq(Op("C", 0L, -1L, 0L) -> t.toLong))
      }.zipWithIndex.map { case ((o, t), i) => (o.copy(seq = i.toLong), t) }
      def txnFrame(evs: Seq[(Op, Long)]) = envelope(spark.createDataFrame(
        evs.map { case (o, t) => (o.op, o.seq, o.key, o.v, t) })
        .toDF("op", "seq", "key", "v", "txn"))
      // partial images: updates carry only the price; strict: updates at
      // even seqs declare a before image no row holds, the rest none
      def partial(df: org.apache.spark.sql.DataFrame) = df
        .withColumn("changed", when(col("op") === "U", array(lit("price")))
          .when(col("op") === "I", array(lit("price"), lit("status"))))
        .withColumn("status", when(col("op") =!= "U", col("status")))
      def strict(df: org.apache.spark.sql.DataFrame) = df
        .withColumn("before", when(col("op") === "U" && col("seq") % 2 === 0,
          lit(-1.0)))
      def twoTables(df: org.apache.spark.sql.DataFrame) = df.withColumn(
        "table", when(col("okey") % 2 === 0, "t_even").otherwise("t_odd"))
      def pass(name: String, df: org.apache.spark.sql.DataFrame, i: Int)(
          run: FileCdcSource => Unit): Unit = {
        StreamingOps.writeWave(df, s"$base/$name/in", i)
        run(FileCdcSource(df.schema, s"$base/$name/in"))
      }
      val ws = waves(sorted)
      ws.zipWithIndex.foreach { case (w, i) =>
        val df = frame(w)
        pass("plain", df, i)(src => StreamingOps.runCdcPass(spark, src,
          s"$base/plain/ckpt", s"$base/plain/state"))
        pass("hist", df, i)(src => StreamingOps.runCdcPass(spark, src,
          s"$base/hist/ckpt", s"$base/hist/state", keepHistory = true))
        pass("partial", partial(df), i)(src => StreamingOps.runCdcPass(spark,
          src, s"$base/partial/ckpt", s"$base/partial/state",
          partialImageCol = Some("changed")))
        pass("strict", strict(df), i)(src => StreamingOps.runCdcPass(spark,
          src, s"$base/strict/ckpt", s"$base/strict/state",
          strictBefore = Some(("price", "before")),
          conflictDlq = Some(s"$base/strict/dlq")))
        pass("topo", twoTables(df), i)(src => StreamingOps.runCdcPassMulti(
          spark, src, s"$base/topo/ckpt", Map("t_even" -> s"$base/topo/even",
            "t_odd" -> s"$base/topo/odd")))
        pass("mv", df, i)(src => StreamingOps.runMvSumPass(spark, src,
          s"$base/mv/ckpt", s"$base/mv/state", s"$base/mv/view"))
        // compaction mid-stream (after the first wave) and GC'ing at the
        // end, so later deltas land on a baseline with a purge floor
        if (i == 0) StreamingOps.compactState(spark, s"$base/plain/state")
      }
      waves(txnLog).zipWithIndex.foreach { case (w, i) =>
        pass("txn", txnFrame(w), i)(src => StreamingOps.runCdcPass(spark, src,
          s"$base/txn/ckpt", s"$base/txn/state", txnCol = Some("txn")))
      }
      StreamingOps.compactState(spark, s"$base/plain/state",
        tombstoneHorizon = Some(0))
      // repair against a truth that lost the odd keys and moved every
      // even key's price: one correction epoch of deletes and updates
      val truth = Replication.appliedState(spark, s"$base/plain/state")
        .drop("op").filter(col("okey") % 2 === 0)
        .withColumn("price", col("price") + 1.0)
      Replication.repairSync(spark, truth, s"$base/plain/state")
      val rng = new scala.util.Random(si)
      Seq("plain/state", "hist/state", "partial/state", "strict/state",
        "topo/even", "topo/odd", "mv/state", "txn/state")
        .map(d => s"$base/$d").filter(StateFs.exists)
        .foreach(check(_, rng, where))
    }
  }

  test("WIDEN property: any log, any widen point — narrow epochs serve exactly under the wide type") {
    import graft.streaming.StreamingOps
    // random logs split at a random wave boundary: waves before the
    // boundary carry `qty` as INT, waves after as BIGINT with values
    // above 2^31 — the served state must equal the sequential replay
    // with every qty exact, pre-widening values included (the parquet
    // INT32 physical encoding read natively under the published LONG)
    samples(6).filter(_.length > 3).zipWithIndex.foreach { case (ops, si) =>
      val sorted = ops.sortBy(_.seq)
      val cut = sorted(sorted.length / 2).seq
      val base = java.nio.file.Files
        .createTempDirectory(s"graft_widenprop$si").toString
      def toDf(chunk: List[Op], wide: Boolean) = {
        val d = spark.createDataFrame(chunk)
          .select(col("op"), col("seq"),
            timestamp_seconds(lit(1700000000L) + col("seq")).as("ts"),
            col("key").as("okey"), col("v").cast("double").as("price"),
            lit("S").as("status"),
            when(col("op") === "D", lit(null)).otherwise(
              if (wide) col("v") + lit(3000000000L) else col("v"))
              .as("qty"))
        d.withColumn("qty",
          col("qty").cast(if (wide) "bigint" else "int"))
      }
      val narrow = sorted.filter(_.seq <= cut)
      val wide = sorted.filter(_.seq > cut)
      var w = 0
      if (narrow.nonEmpty) {
        StreamingOps.writeWave(toDf(narrow, wide = false), s"$base/in", w)
        StreamingOps.runCdcPass(spark,
          FileCdcSource(toDf(narrow, wide = false).schema, s"$base/in"),
          s"$base/ckpt",
          s"$base/state")
        w += 1
      }
      if (wide.nonEmpty) {
        StreamingOps.writeWave(toDf(wide, wide = true), s"$base/in", w)
        StreamingOps.runCdcPass(spark,
          FileCdcSource(toDf(wide, wide = true).schema, s"$base/in"),
          s"$base/ckpt", s"$base/state")
      }
      val served = StreamingOps.readLatestState(spark, s"$base/state")
        .select(col("okey"), col("qty")).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      val want = replay(sorted).map { case (k, (_, v)) =>
        k -> (if (sorted.filter(_.key == k).filter(_.op != "D")
          .maxBy(_.seq).seq > cut) v + 3000000000L else v)
      }
      assert(served == want,
        s"widen diverged (log $si, cut $cut): $ops")
    }
  }

  test("VIEW-PASS property: the MV passes replicate exactly as the CDC " +
      "pass, serve the group-by over its state, and replay their last " +
      "batch idempotently") {
    import graft.streaming.{StateFs, StreamingOps}
    // random txn-gated logs — one of whose waves holds a transaction's
    // events only, so the gate holds every row of it — through
    // runCdcPass, runMvSumPass and runMvMinMaxPass, with a single and a
    // composite key: the three state dirs must be the same replica (rows
    // served, epochs kept, `_maxseq` records, pending tail) with the
    // same SyncProgress per pass, and each view the group-by over it
    type Ev = (String, Long, Long, Double, String)
    val gen: Gen[List[List[Ev]]] = for {
      nKeys <- Gen.choose(1, 5)
      nTxn <- Gen.choose(3, 6)
      txns <- Gen.listOfN(nTxn, Gen.choose(1, 4).flatMap(n =>
        Gen.listOfN(n, for {
          k <- Gen.choose(0L, nKeys.toLong)
          ln <- Gen.choose(0L, 1L)
          o <- Gen.frequency((3, "I"), (3, "U"), (2, "D"))
          p <- Gen.choose(0, 99)
          st <- Gen.oneOf("A", "B", "C")
        } yield (o, k, ln, p.toDouble, st))))
    } yield txns
    val logs = (0 until 4).flatMap(i =>
      gen.apply(Gen.Parameters.default, Seed(9090L + i)))
    logs.zipWithIndex.foreach { case (txns, si) =>
      val keys = if (si % 2 == 0) Seq("okey") else Seq("okey", "line_no")
      val rng = new scala.util.Random(si)
      // (op, okey, line_no, price, status, txn) rows, a commit marker
      // closing every transaction — but the last on odd logs
      val rows = txns.zipWithIndex.flatMap { case (t, ti) =>
        t.map { case (o, k, ln, p, st) =>
          (o, k, ln, p, if (o == "D") null else st, ti.toLong) } ++
          (if (si % 2 == 1 && ti == txns.size - 1) Nil
           else Seq(("C", -1L, -1L, 0.0, null, ti.toLong)))
      }.zipWithIndex.map { case (r, i) => (r, i.toLong) }
      // wave cuts: around the held transaction's events (every row of
      // that wave is held) and one more at random
      val held = rng.nextInt(txns.size - 1)
      val heldFrom = rows.indexWhere(_._1._6 == held)
      val cuts = (Set(heldFrom, heldFrom + txns(held).size,
        1 + rng.nextInt(rows.size - 1)) - 0).toSeq.sorted
      val waves = (0 +: cuts).zip(cuts :+ rows.size)
        .map { case (a, b) => rows.slice(a, b) }.filter(_.nonEmpty)
      val base = java.nio.file.Files
        .createTempDirectory(s"graft_viewprop$si").toString
      val where = s"(log $si, keys $keys, cuts $cuts): $rows"
      def frame(w: Seq[((String, Long, Long, Double, String, Long), Long)]) =
        spark.createDataFrame(w.map { case ((o, k, ln, p, st, t), sq) =>
            (o, sq, k, ln, p, st, t) })
          .toDF("op", "seq", "okey", "line_no", "price", "status", "txn")
          .select(col("op"), col("seq"),
            timestamp_seconds(lit(1700000000L) + col("seq")).as("ts"),
            col("okey"), col("price"), col("status"), col("line_no"),
            col("txn"))
      val schema = frame(rows.take(1)).schema
      def cdc(src: FileCdcSource) = StreamingOps.runCdcPass(spark, src,
        s"$base/cdc/ckpt", s"$base/cdc/state", trackSeq = true,
        txnCol = Some("txn"), keyCols = keys)
      def sumView(src: FileCdcSource) = StreamingOps.runMvSumPass(spark,
        src, s"$base/sum/ckpt", s"$base/sum/state", s"$base/sum/mv",
        keyCols = keys, txnCol = Some("txn"), trackSeq = true)
      def mmView(src: FileCdcSource) = StreamingOps.runMvMinMaxPass(spark,
        src, s"$base/mm/ckpt", s"$base/mm/state", s"$base/mm/snap",
        s"$base/mm/mv", keyCols = keys, txnCol = Some("txn"),
        trackSeq = true)
      waves.zipWithIndex.foreach { case (w, i) =>
        StreamingOps.writeWave(frame(w), s"$base/in", i)
        val src = FileCdcSource(schema, s"$base/in")
        val progress = Seq(cdc(src), sumView(src), mmView(src))
        assert(progress.distinct.size == 1,
          s"SyncProgress differs after wave $i (cdc, sum, minmax): " +
            s"$progress $where")
      }
      def replica(d: String) = {
        val state = s"$base/$d/state"
        val epochs = StateFs.epochIds(state)
        val pending =
          if (!StateFs.exists(s"$state/_pending")) Set.empty[Seq[Any]]
          else spark.read.parquet(s"$state/_pending").collect()
            .map(_.toSeq).toSet
        (StreamingOps.readLatestState(spark, state).collect()
          .map(_.toSeq).toSet, epochs,
          epochs.map(e => StreamingOps.readMaxSeq(s"$state/epoch=$e")),
          pending)
      }
      val want = replica("cdc")
      Seq("sum", "mm").foreach(d => assert(replica(d) == want,
        s"the $d view pass's replica differs from the CDC pass's: " +
          s"${replica(d)} vs $want $where"))
      def served = StreamingOps.readLatestState(spark, s"$base/cdc/state")
      def sums(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => r.getString(0) -> ((r.getLong(1),
          BigDecimal(r.getDecimal(2))))).toSet
      def minMaxes(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2),
          r.getDouble(3)))).toSet
      val wantSum = sums(served.groupBy(col("status"))
        .agg(count(lit(1)), sum(Tables.dec2(col("price"))).cast(Tables.D2)))
      val wantMm = minMaxes(served.groupBy(col("status"))
        .agg(count(lit(1)), min(col("price")), max(col("price"))))
      def views() = (sums(StreamingOps.readMv(spark, s"$base/sum/mv")),
        minMaxes(StreamingOps.readMv(spark, s"$base/mm/mv")))
      assert(views() == ((wantSum, wantMm)),
        s"views != group-by over the served state: ${views()} $where")
      // a crash after the last batch's writes but before its commit: the
      // re-run replays that batch over its own outputs
      Seq("sum", "mm").foreach { d =>
        val commits = new java.io.File(s"$base/$d/ckpt/commits")
        val last = commits.list().filter(_.forall(_.isDigit)).map(_.toLong).max
        StateFs.deleteRecursive(s"${commits.getPath}/$last")
        StateFs.deleteRecursive(s"${commits.getPath}/.$last.crc")
        StateFs.deleteRecursive(s"$base/$d/mv/epoch=$last")
      }
      val src = FileCdcSource(schema, s"$base/in")
      sumView(src); mmView(src)
      Seq("sum", "mm").foreach(d => assert(replica(d) == want,
        s"replaying the $d view pass's last batch changed its replica $where"))
      assert(views() == ((wantSum, wantMm)),
        s"replaying the last batch changed the views: ${views()} $where")
    }
  }
}
