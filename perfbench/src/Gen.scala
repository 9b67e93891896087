package graft.perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** One row event of the replicated `orders` table. `price`/`status` are
  * None on deletes (the envelope carries no after image). */
final case class Ev(op: String, seq: Long, okey: Long,
    price: Option[Double], status: Option[String])

/** One source transaction: GTID number `n`, its row events, and the
  * positions of its GTID and Xid events. */
final case class Txn(n: Long, events: Array[Ev]) {
  def gtidPos: Long = n * Gen.Slot
  def xidPos: Long = n * Gen.Slot + Gen.Slot - 1
}

/** Seeded input generation, binlog rendering and the independent
  * reference every output check compares against. Nothing here times
  * anything; all of it runs before the clock or between timed ops. */
object Gen {
  val Uuid = "3e11fa47-71ca-11e1-9e33-c80aa9429562"
  val Cols: Seq[(String, DataType)] =
    Seq("okey" -> LongType, "price" -> DoubleType, "status" -> StringType)
  /** Row events per transaction, and binlog positions reserved per
    * transaction (GTID event, up to Slot - 2 rows, Xid event). */
  val TxnSize = 8
  val Slot = 32L
  /** Event time of position p is T0 + p seconds. */
  val T0 = 1700000000L
  val Statuses: Array[String] = Array("O", "F", "P")

  private val envSchema = StructType(Seq(
    StructField("op", StringType, nullable = false),
    StructField("seq", LongType, nullable = false),
    StructField("okey", LongType, nullable = false),
    StructField("price", DoubleType),
    StructField("status", StringType)))

  /** Hands out GTID numbers and binlog positions in source order. */
  final class Positioner {
    private var nextTxn = 1L

    /** Group draft events `(op, okey, price, status)` into consecutive
      * transactions and stamp each row with its binlog position. */
    def txns(drafts: Seq[(String, Long, Option[Double], Option[String])])
        : Seq[Txn] =
      drafts.grouped(TxnSize).map { g =>
        val n = nextTxn
        nextTxn += 1
        Txn(n, g.zipWithIndex.map { case ((op, k, p, s), i) =>
          Ev(op, n * Slot + 1 + i, k, p, s) }.toArray)
      }.toSeq
  }

  /** Live primary keys with O(1) add, remove and uniform pick. */
  final class LiveKeys {
    private val arr = mutable.ArrayBuffer.empty[Long]
    private val idx = mutable.LongMap.empty[Int]
    def size: Int = arr.size
    def contains(k: Long): Boolean = idx.contains(k)
    def add(k: Long): Unit = if (!idx.contains(k)) { idx(k) = arr.size; arr += k }
    def remove(k: Long): Unit = idx.remove(k).foreach { i =>
      val last = arr.remove(arr.size - 1)
      if (i < arr.size) { arr(i) = last; idx(last) = i }
    }
    def pick(r: scala.util.Random): Long = arr(r.nextInt(arr.size))
  }

  def price(r: scala.util.Random): Option[Double] =
    Some(r.nextInt(10000000) / 100.0)
  def status(r: scala.util.Random): Option[String] =
    Some(Statuses(r.nextInt(Statuses.length)))

  /** Keys 1..n inserted with random images. */
  def inserts(r: scala.util.Random, n: Long)
      : Seq[(String, Long, Option[Double], Option[String])] =
    (1L to n).map(k => ("I", k, price(r), status(r)))

  /** The live-binlog mix: 20% inserts of new keys, 70% updates (80% of
    * them on the hottest 10% of the seeded keys), 10% deletes. */
  final class Mix(r: scala.util.Random, live: LiveKeys, seeded: Long) {
    private var nextKey = seeded + 1
    private val hot = math.max(1L, seeded / 10)
    private def hotKey(): Long = {
      var k = -1L
      var tries = 0
      while (k < 0 && tries < 16) {
        val c = 1 + r.nextLong(hot)
        if (live.contains(c)) k = c
        tries += 1
      }
      if (k < 0) live.pick(r) else k
    }
    /** A key a point read would ask for: the same skew as updates. */
    def readKey(): Long = if (r.nextDouble() < 0.8) hotKey() else live.pick(r)
    def next(): (String, Long, Option[Double], Option[String]) = {
      val u = r.nextDouble()
      if (u < 0.2 || live.size < 2) {
        val k = nextKey
        nextKey += 1
        live.add(k)
        ("I", k, price(r), status(r))
      } else if (u < 0.9) {
        val k = if (r.nextDouble() < 0.8) hotKey() else live.pick(r)
        ("U", k, price(r), status(r))
      } else {
        val k = live.pick(r)
        live.remove(k)
        ("D", k, None, None)
      }
    }
  }

  def events(txns: Seq[Txn]): Seq[Ev] = txns.flatMap(_.events)

  /** The envelope `(op, seq, ts, okey, price, status)` of `evs`. */
  def frame(spark: SparkSession, evs: Seq[Ev], parts: Int): DataFrame = {
    val rows = evs.map(e =>
      Row(e.op, e.seq, e.okey, e.price.orNull, e.status.orNull))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, parts),
        envSchema)
      .select(col("op"), col("seq"),
        timestamp_seconds(lit(T0) + col("seq")).as("ts"),
        col("okey"), col("price"), col("status"))
  }

  /** Raw binary binlog of `txns`: row rotations plus one file of GTID and
    * Xid events. Returns the dump's size in bytes. */
  def renderBinary(spark: SparkSession, txns: Seq[Txn], dir: String,
      parts: Int): Long = {
    import graft.sources.BinlogBinary
    BinlogBinary.render(frame(spark, events(txns), parts), Cols, dir,
      files = 4)
    BinlogBinary.writeEvents(dir, "bin.000099", txns.flatMap(t => Seq(
      BinlogBinary.gtidEvent(t.gtidPos, T0 + t.gtidPos, Uuid, t.n),
      BinlogBinary.xidEvent(t.xidPos, T0 + t.xidPos, t.n))))
    Fs.bytes(dir)
  }

  /** `mysqlbinlog -v` text rotations, one file per element of `rotations`
    * (each a run of whole transactions), written as `<dir>/<name(i)>`.
    * The row blocks come from one `BinlogText.render` call and are
    * regrouped by position; GTID and Xid lines frame each transaction. */
  def renderText(spark: SparkSession, rotations: Seq[Seq[Txn]], dir: String,
      name: Int => String, parts: Int): Unit = {
    import graft.sources.BinlogText
    val tmp = s"$dir/_render"
    BinlogText.render(frame(spark, rotations.flatMap(events), parts), Cols,
      tmp, files = parts)
    val blocks = mutable.LongMap.empty[String]
    for (f <- new java.io.File(tmp).listFiles()
        if f.getName.startsWith("part-")) {
      val text = java.nio.file.Files.readString(f.toPath)
      var start = -1
      var pos = 0L
      def close(end: Int): Unit =
        if (start >= 0) blocks(pos) = text.substring(start, end).stripTrailing()
      var i = 0
      while (i < text.length) {
        val eol = text.indexOf('\n', i) match { case -1 => text.length; case e => e }
        if (text.startsWith("# at ", i)) {
          close(i)
          start = i
          pos = text.substring(i + 5, eol).trim.toLong
        } else if (text.startsWith(BinlogText.DumpTerminator, i)) {
          close(i)
          start = -1
        }
        i = eol + 1
      }
      close(text.length)
    }
    Fs.rm(tmp)
    rotations.zipWithIndex.foreach { case (txns, i) =>
      val sb = new StringBuilder
      txns.foreach { t =>
        sb.append(BinlogText.renderGtid(t.gtidPos, T0 + t.gtidPos, Uuid, t.n))
          .append('\n')
        t.events.foreach(e => sb.append(blocks(e.seq)).append('\n'))
        sb.append(BinlogText.renderXid(t.xidPos, T0 + t.xidPos, t.n))
          .append('\n')
      }
      sb.append(BinlogText.DumpTerminator).append('\n')
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(dir, name(i)), sb.toString)
    }
  }

  /** Plain latest-wins collapse: the newest event per key, deletes
    * dropped, projected to the served columns. */
  def collapse(env: DataFrame): DataFrame =
    env.withColumn("_rn", row_number().over(
        Window.partitionBy("okey").orderBy(col("seq").desc)))
      .filter(col("_rn") === 1 && col("op") =!= "D")
      .select("okey", "price", "status")

  /** Order-independent digest `(rows, hash sum)` of served rows. */
  def digest(served: DataFrame): (Long, Long) = {
    val r = served.agg(count(lit(1)),
      coalesce(sum(hash(col("okey"), col("price"), col("status"))
        .cast(LongType)), lit(0L))).first()
    (r.getLong(0), r.getLong(1))
  }

  /** Driver-side image of the replica after `evs`, for point checks. */
  final class Image {
    val rows = mutable.LongMap.empty[(Double, String)]
    var maxSeq = 0L
    def apply(e: Ev): Unit = {
      if (e.op == "D") rows.remove(e.okey)
      else rows(e.okey) = (e.price.get, e.status.get)
      maxSeq = math.max(maxSeq, e.seq)
    }
    /** status → (rows, sum(price)), the sum view's contents. */
    def byStatus: Map[String, (Long, Double)] =
      rows.values.groupBy(_._2).map { case (s, v) =>
        s -> (v.size.toLong, v.iterator.map(_._1).sum) }
  }
}

/** Local-filesystem helpers for the benchmark's own directories. */
object Fs {
  private def walk(dir: String): Seq[java.io.File] = {
    val root = new java.io.File(dir)
    if (!root.exists()) Seq.empty
    else {
      val s = java.nio.file.Files.walk(root.toPath)
      try {
        val b = Seq.newBuilder[java.io.File]
        s.forEach(p => b += p.toFile)
        b.result().filter(_.isFile)
      } finally s.close()
    }
  }
  def bytes(dir: String): Long = walk(dir).map(_.length()).sum
  def files(dir: String): Long = walk(dir).size.toLong
  def rm(dir: String): Unit = graft.TmpDirs.rmr(new java.io.File(dir))
  def mkdirs(dir: String): Unit = { new java.io.File(dir).mkdirs(); () }
  /** Atomically move `src` to `dst` (same filesystem). */
  def move(src: String, dst: String): Unit = {
    java.nio.file.Files.move(java.nio.file.Paths.get(src),
      java.nio.file.Paths.get(dst),
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    ()
  }
}
