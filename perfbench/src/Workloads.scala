package graft.perfbench

import scala.collection.mutable

import graft.Replication
import graft.sources.{BinlogBinary, BinlogText}
import graft.streaming.{StateFs, StreamingOps}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** One replica (input, checkpoint, state and view dirs under `root`) and
  * the library calls a workload makes on it, each inside its layer span. */
final class Replica(run: Run, root: String) {
  import run.{spark, tracer}
  val in = s"$root/in"
  val ckpt = s"$root/ckpt"
  val state = s"$root/state"
  val mv = s"$root/mv"
  private var wave = 0

  /** `sources`: decode a dump dir and write it as the stream's next wave.
    * Returns the decoded frame's schema. */
  def decode(dir: String, binary: Boolean): org.apache.spark.sql.types.StructType = {
    val env = parse(dir, binary)
    tracer.span("sources.materialize") {
      StreamingOps.writeWave(env, in, wave)
    }
    wave += 1
    env.schema
  }

  private def parse(dir: String, binary: Boolean): DataFrame =
    tracer.span("sources.parse") {
      tracer.note("bytes", Fs.bytes(dir).toDouble)
      if (binary) BinlogBinary.parseTxn(spark, dir, Gen.Cols)
      else BinlogText.parseTxn(spark, dir, Gen.Cols)
    }

  private def baselines(): Set[Long] =
    StateFs.epochIds(state).filter(_ < 0).toSet

  /** `replication`: one facade pass over the waves written so far. With
    * the view, the pass also maintains `status → (n_rows, sum(price))`. */
  def sync(schema: org.apache.spark.sql.types.StructType,
      withView: Boolean = false, compactEvery: Int = 16): Unit = {
    val before = if (tracer.enabled) baselines() else Set.empty[Long]
    tracer.span("replication.sync") {
      if (withView) Replication.incrementalSyncWithView(spark, schema, in,
        ckpt, state, mv, txnCol = Some("txn"))
      else Replication.incrementalSync(spark, schema, in, ckpt, state,
        compactEvery = compactEvery, txnCol = Some("txn"))
    }
    if (tracer.enabled) {
      val fresh = baselines() -- before
      tracer.noteLast("compactions", fresh.size.toDouble)
      tracer.noteLast("compact_bytes",
        fresh.toSeq.map(e => Fs.bytes(s"$state/epoch=$e")).sum.toDouble)
    }
  }

  /** A read op of type `op` returning rows. */
  def read(op: String)(body: => Array[Row]): Array[Row] = {
    val epochs =
      if (tracer.enabled) StateFs.epochIds(state).count(_ >= 0) else 0
    val rows = tracer.span(s"read.$op")(body)
    tracer.noteLast("epochs", epochs.toDouble)
    tracer.noteLast("rows", rows.length.toDouble)
    rows
  }

  def served: DataFrame = Replication.appliedState(spark, state)

  def changes(since: Long): Array[Row] = read("changes") {
    Replication.changesSince(spark, state, since)
      .select("okey", "op", "price", "status").collect()
  }

  /** Check a `changesSince` answer: exactly the keys `evs` touched, each
    * with its current image (a tombstone when it is gone). */
  def checkChanges(rows: Array[Row], evs: Seq[Ev], image: Gen.Image,
      what: String): Unit = {
    val want = evs.map(_.okey).toSet
    val got = rows.map(_.getLong(0)).toSet
    run.check(got == want && rows.length == want.size,
      s"$what: changesSince returned ${rows.length} rows for " +
        s"${got.size} keys, want ${want.size} keys " +
        s"(${(want -- got).size} missing, ${(got -- want).size} extra)")
    val wrong = rows.count { r =>
      image.rows.get(r.getLong(0)) match {
        case None => r.getString(1) != "D"
        case Some((p, s)) => r.getString(1) == "D" ||
          r.getDouble(2) != p || r.getString(3) != s
      }
    }
    run.check(wrong == 0, s"$what: $wrong changed rows differ from the reference")
  }

  /** Record the on-disk footprint and live rows at run end. */
  def footprint(liveRows: Long): Unit = {
    run.stateBytes = Fs.bytes(state) + Fs.bytes(mv)
    run.stateFiles = Fs.files(state) + Fs.files(mv)
    run.liveRows = liveRows
  }
}

/** `tail`: an open-loop live binlog. One generator thread lands text
  * rotations by atomic rename on a fixed schedule; one consumer decodes
  * whatever has landed, runs one sync pass and polls `changesSince` from
  * its own last seen position. Lag is measured from each rotation's due
  * time, so a slow pass also bills the rotations queued behind it. A run
  * makes a fixed number of timed passes: the passes, not the clock, end
  * the window, so a host that is a little slower or faster changes how
  * much each pass takes in, never how many passes there are. */
object Tail {
  val SeedKeys = 5000L
  val RotationEvents = 2000
  /** About twice as long as a pass takes on 4 cores, so the consumer
    * keeps up: a rotation's lag is the pass that takes it in. */
  val PeriodS = 5.0
  /** Timed passes per second of `--seconds`: five for a 10 s run. */
  val PassesPerSecond = 0.5
  /** Rotations rendered per timed pass: enough for a host on which a
    * pass takes two periods, so that each pass takes in two rotations. */
  val RotationsPerPass = 2
  val WarmupRotations = 1
  /** A run whose generator landed a rotation later than this share of
    * the period is invalid: its lags would not be open-loop lags. */
  val MaxLateness = 0.5

  def apply(run: Run): Unit = {
    import run._
    // at most 16 timed passes, so the compaction of the last one is the
    // only one: the default cadence fires past 16 deltas
    val timedPasses = math.min(16, math.max(2, math.round(seconds * PassesPerSecond).toInt))
    val nRot = WarmupRotations + RotationsPerPass * timedPasses
    var rep: Replica = null
    var image: Gen.Image = null
    var rotations = Seq.empty[Seq[Txn]]
    var seedTxns = Seq.empty[Txn]
    val root = setUp(s"$work/tail") { root =>
      val r = new scala.util.Random(seed)
      val live = new Gen.LiveKeys
      (1L to SeedKeys).foreach(live.add)
      val pos = new Gen.Positioner()
      seedTxns = pos.txns(Gen.inserts(r, SeedKeys))
      val mix = new Gen.Mix(r, live, SeedKeys)
      rotations = (0 until nRot).map(_ =>
        pos.txns(Seq.fill(RotationEvents)(mix.next())))
      Fs.mkdirs(s"$root/staging")
      Fs.mkdirs(s"$root/landing")
      tracer.span("setup.render") {
        Gen.renderBinary(spark, seedTxns, s"$root/seed", cores)
        Gen.renderText(spark, rotations, s"$root/staging", rotName, cores)
      }
      rep = new Replica(run, s"$root/replica")
      rep.sync(rep.decode(s"$root/seed", binary = true))
      image = new Gen.Image
      Gen.events(seedTxns).foreach(image.apply)
    }
    val staging = s"$root/staging"
    val landing = s"$root/landing"

    // the consumer's last seen position
    var lastSeq = image.maxSeq
    val consumed = mutable.ArrayBuffer.empty[Ev]
    var batch = 0
    /** One consumer pass over the landed rotations `idx`. */
    def pass(idx: Seq[Int], due: Int => Option[Long], timed: Boolean,
        compactEvery: Int = 16): Unit =
      op("pass", timed) {
        val dir = s"$root/batch-$batch"
        batch += 1
        Fs.mkdirs(dir)
        idx.foreach(i => Fs.move(s"$landing/${rotName(i)}", s"$dir/${rotName(i)}"))
        val evs = idx.flatMap(i => Gen.events(rotations(i)))
        val t0 = System.nanoTime()
        rep.sync(rep.decode(dir, binary = false), compactEvery = compactEvery)
        val t1 = System.nanoTime()
        val rows = rep.changes(lastSeq)
        val t2 = System.nanoTime()
        if (timed) {
          record("write", (t1 - t0) / 1e9)
          record("changes", (t2 - t1) / 1e9)
          record("read", (t2 - t1) / 1e9)
          idx.flatMap(due).foreach(d => record("fresh", (t2 - d) / 1e9))
          rowsApplied += evs.size
          rates += evs.size / ((t2 - t0) / 1e9)
        }
        evs.foreach(image.apply)
        consumed ++= evs
        rep.checkChanges(rows, evs, image, s"pass ${batch - 1}")
        lastSeq = image.maxSeq
      }

    // warm-up: the first rotations, consumed closed loop
    for (i <- 0 until WarmupRotations) {
      Fs.move(s"$staging/${rotName(i)}", s"$landing/${rotName(i)}")
      pass(Seq(i), _ => None, timed = false)
    }

    phase("warm-up done")
    // open loop
    val t0 = System.nanoTime() + 50000000L
    val periodNs = (PeriodS * 1e9).toLong
    def due(i: Int): Long = t0 + (i - WarmupRotations) * periodNs
    val late = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val generator = new Thread(() => {
      var i = WarmupRotations
      try while (i < nRot) {
        val wait = due(i) - System.nanoTime()
        if (wait > 0) Thread.sleep(wait / 1000000L, (wait % 1000000L).toInt)
        Fs.move(s"$staging/${rotName(i)}", s"$landing/${rotName(i)}")
        late.add(System.nanoTime() - due(i))
        i += 1
      } catch { case _: InterruptedException => () } // the consumer is done
    }, "rotation-generator")
    generator.setDaemon(true)
    generator.start()
    var passes = 0
    while (passes < timedPasses) {
      val landed = Option(new java.io.File(landing).list()).getOrElse(Array.empty)
        .filter(_.endsWith(".txt")).map(n => n.stripPrefix("rot-").stripSuffix(".txt").toInt)
        .sorted
      if (landed.nonEmpty) {
        // The last timed pass always compacts (`compactEvery = 0`), so
        // every run takes its compaction stall at the same point. The
        // footprint is taken right after it: one baseline, no deltas, the
        // same state shape on every host.
        val last = passes == timedPasses - 1
        pass(landed.toSeq, i => Some(due(i)), timed = true,
          compactEvery = if (last) 0 else 16)
        if (last) rep.footprint(image.rows.size)
        passes += 1
      } else if (generator.isAlive) Thread.sleep(5)
      else throw new IllegalStateException(
        s"all ${nRot - WarmupRotations} rotations consumed in $passes passes")
    }
    generator.interrupt()
    generator.join()
    phase("timed passes done")
    val worst = late.toArray.map(_.asInstanceOf[Long]).max / 1e9
    println(f"[tail] generator: ${late.size} rotations every $PeriodS%.3f s, " +
      f"$rowsApplied events in $timedPasses timed passes, worst lateness $worst%.4f s")
    check(worst <= MaxLateness * PeriodS,
      f"generator ran $worst%.3f s late (limit ${MaxLateness * PeriodS}%.3f s): run invalid")

    op("final", timed = false) {
      val got = tracer.span("check") { Gen.digest(rep.served) }
      val want = tracer.span("check") {
        Gen.digest(Gen.collapse(Gen.frame(spark,
          Gen.events(seedTxns) ++ consumed, cores)))
      }
      check(got == want, s"final state digest $got, want $want")
    }
  }

  private def rotName(i: Int): String = f"rot-$i%05d.txt"
}

/** `serve`: a read-heavy closed loop, one client, over a replica with a
  * sum view. The client plays seeded shuffles of a fixed deck of ops —
  * point lookups, an operator status poll, a view read and ad-hoc scans,
  * plus one write (a small raw binary rotation through the
  * view-maintaining facade) that the downstream consumer polls right
  * after, from its last seen position. A run plays a fixed number of
  * whole decks, so every run does the same ops. The facade never
  * compacts, so deltas pile up as the run goes on. */
object Serve {
  val Keys = 30000L
  val WriteEvents = 200
  val Deck: Seq[String] =
    Seq("point", "point", "point", "status", "status", "view", "view", "scan",
      "write")
  /** Timed decks per second of `--seconds`: three for a 10 s run. */
  val DecksPerSecond = 0.3
  /** The first incremental write after the seed build runs 20-40% slower
    * than the ones after it (measured on 4 cores), so one is untimed. */
  val WarmupWrites = 1

  private def writeName(i: Int): String = f"w-$i%05d"

  def apply(run: Run): Unit = {
    import run._
    val timedDecks = math.max(1, math.round(seconds * DecksPerSecond).toInt)
    val nWrites = WarmupWrites + timedDecks
    var rep: Replica = null
    var image: Gen.Image = null
    var writes = Seq.empty[Seq[Txn]]
    var mix: Gen.Mix = null
    val root = setUp(s"$work/serve") { root =>
      val r = new scala.util.Random(seed)
      val live = new Gen.LiveKeys
      (1L to Keys).foreach(live.add)
      val pos = new Gen.Positioner()
      val seedTxns = pos.txns(Gen.inserts(r, Keys))
      mix = new Gen.Mix(r, live, Keys)
      writes = (0 until nWrites).map(_ =>
        pos.txns(Seq.fill(WriteEvents)(mix.next())))
      tracer.span("setup.render") {
        Gen.renderBinary(spark, seedTxns, s"$root/seed", cores)
        writes.zipWithIndex.foreach { case (w, i) =>
          Gen.renderBinary(spark, w, s"$root/staging/${writeName(i)}", cores) }
      }
      rep = new Replica(run, s"$root/replica")
      rep.sync(rep.decode(s"$root/seed", binary = true), withView = true)
      image = new Gen.Image
      Gen.events(seedTxns).foreach(image.apply)
    }
    // the consumer's last seen position, and when the newest write began
    var lastSeen = image.maxSeq
    var writeStart = 0L
    var written = 0

    def sums(rows: Array[Row]): Map[String, (Long, Double)] =
      rows.map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    def checkSums(got: Map[String, (Long, Double)], what: String): Unit = {
      val want = image.byStatus
      val ok = got.keySet == want.keySet && want.forall { case (s, (n, p)) =>
        val (gn, gp) = got(s)
        gn == n && math.abs(gp - p) <= 1e-9 * math.max(1.0, math.abs(p))
      }
      check(ok, s"$what: got $got, want $want")
    }

    def one(kind: String, timed: Boolean): Unit = op(kind, timed) {
      val t0 = System.nanoTime()
      def done(): Unit = if (timed) {
        val s = (System.nanoTime() - t0) / 1e9
        record(kind, s)
        if (kind != "write") record("read", s)
      }
      kind match {
        case "point" =>
          val key = mix.readKey()
          val rows = rep.read("point") {
            rep.served.filter(col("okey") === key)
              .select("okey", "price", "status").collect()
          }
          done()
          val got = rows.map(r => (r.getDouble(1), r.getString(2))).toSeq
          check(got == image.rows.get(key).toSeq,
            s"point $key: got $got, want ${image.rows.get(key)}")
        case "changes" =>
          val rows = rep.changes(lastSeen)
          done()
          val evs =
            if (written == 0) Seq.empty else Gen.events(writes(written - 1))
          if (timed) {
            val s = (System.nanoTime() - writeStart) / 1e9
            record("fresh", s)
            rowsApplied += evs.size
            rates += evs.size / s
          }
          rep.checkChanges(rows, evs, image, s"changes since $lastSeen")
          lastSeen = image.maxSeq
        case "status" =>
          val st = rep.read("status") {
            Array(Row(Replication.replicaStatus(spark, rep.state).appliedSeq))
          }(0).getAs[Option[Long]](0)
          done()
          check(st.contains(image.maxSeq),
            s"status: appliedSeq $st, want ${image.maxSeq}")
        case "view" =>
          val rows = rep.read("view") {
            StreamingOps.readMv(spark, rep.mv).select(col("status"),
              col("n_rows"), col("total").cast("double")).collect()
          }
          done()
          checkSums(sums(rows), "view")
        case "scan" =>
          val rows = rep.read("scan") {
            rep.served.groupBy("status")
              .agg(count(lit(1)), sum("price")).collect()
          }
          done()
          checkSums(sums(rows), "scan")
        case "write" =>
          val dir = s"$root/${writeName(written)}"
          Fs.move(s"$root/staging/${writeName(written)}", dir)
          writeStart = t0
          rep.sync(rep.decode(dir, binary = true), withView = true)
          done()
          written += 1
          Gen.events(writes(written - 1)).foreach(image.apply)
      }
    }

    /** A seeded shuffle of the deck; the consumer polls right after the
      * write. */
    def deck(timed: Boolean): Unit =
      rnd.shuffle(Deck).flatMap(k => if (k == "write") Seq(k, "changes")
        else Seq(k)).foreach(one(_, timed))
    // warm-up: the first write and its poll, then each read op once
    (Seq.fill(WarmupWrites)(Seq("write", "changes")).flatten ++
      Seq("point", "status", "view", "scan")).foreach(one(_, timed = false))
    phase("warm-up done")
    for (_ <- 0 until timedDecks) deck(timed = true)
    phase("timed decks done")
    op("final", timed = false) {
      val n = tracer.span("check") { rep.served.count() }
      check(n == image.rows.size, s"final: $n served rows, want ${image.rows.size}")
      rep.footprint(n)
    }
  }
}
