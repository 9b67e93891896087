package graft.perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile; 0 for an empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val h = (s.size - 1) * q
      val lo = math.floor(h).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (h - lo) * (s(hi) - s(lo))
    }

  /** The highest of p90/p75/p50 that has at least ten samples beyond it,
    * as (quantile, value); the maximum when even p50 has fewer. */
  def tail(xs: Seq[Double]): (Double, Double) =
    Seq(0.9, 0.75, 0.5).find(q => xs.size * (1 - q) >= 10)
      .map(q => q -> quantile(xs, q))
      .getOrElse(1.0 -> (if (xs.isEmpty) 0.0 else xs.max))
}

/** What one benchmark run measures. Every op is counted in `attempted`;
  * one that throws or fails its output check is also counted in
  * `failed`, and any failure makes the run's `correct` false. */
final class Run(val spark: SparkSession, val work: String, val seed: Long,
    val seconds: Double, val cores: Int, val tracer: Tracer,
    val phase: String => Unit) {
  val rnd = new scala.util.Random(seed)
  var attempted = 0L
  var failed = 0L
  val problems = mutable.ArrayBuffer.empty[String]
  val setups = mutable.ArrayBuffer.empty[Double]
  /** Latency samples in seconds, by kind (`write`, `read`, `fresh`,
    * `read.<op>`). */
  val lat = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  var rowsApplied = 0L
  /** Row events applied per second by each timed write, from decode
    * start until the poll that returns them. */
  val rates = mutable.ArrayBuffer.empty[Double]
  var stateBytes = 0L
  var stateFiles = 0L
  var liveRows = 0L
  private var heapPeak = 0L
  private var gcMs = 0L
  private var timedOps = 0L
  private val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala
  private def gcTotal: Long = gcBeans.map(_.getCollectionTime.max(0L)).sum

  def record(kind: String, seconds: Double): Unit =
    lat.getOrElseUpdate(kind, mutable.ArrayBuffer.empty) += seconds

  def sampleHeap(): Unit = {
    val rt = Runtime.getRuntime
    heapPeak = math.max(heapPeak, rt.totalMemory() - rt.freeMemory())
  }

  /** Run one op. Timed ops count toward the metrics; an op's exception
    * or failed `check` marks it failed. */
  def op(kind: String, timed: Boolean = true)(body: => Unit): Unit = {
    sampleHeap()
    val gc0 = gcTotal
    if (timed) attempted += 1
    val before = problems.size
    try tracer.op(kind, timed)(body)
    catch {
      case e: Exception =>
        problems += s"$kind: ${e.getClass.getSimpleName}: ${e.getMessage}"
          .take(2000)
    }
    if (problems.size > before && timed) failed += 1
    if (timed) { timedOps += 1; gcMs += gcTotal - gc0 }
    sampleHeap()
  }

  /** Set up `Setups` times from scratch, each in its own dir under
    * `root` and each one `setup_s` sample; the workload runs on the last.
    * Earlier set-ups' dirs are deleted outside the timer. Returns the
    * last set-up's dir. */
  def setUp(root: String)(body: String => Unit): String = {
    val dirs = (0 until Run.Setups).map(k => s"$root/setup-$k")
    for (dir <- dirs) {
      op("setup", timed = false) {
        val (_, t) = time(body(dir))
        setups += t
      }
      if (dir != dirs.last) Fs.rm(dir)
    }
    if (setups.size < Run.Setups) throw new IllegalStateException("set-up failed")
    phase("set-ups done")
    dirs.last
  }

  /** Record a failed output check (outside any timer). */
  def check(ok: Boolean, what: => String): Unit =
    if (!ok) problems += what

  /** Time `body` in seconds. */
  def time[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** Geometric mean over the read op types of each type's median, so a
    * change to any one type shows, however far its latency sits from the
    * other types'. */
  def readP50: Double = {
    val meds = Main.ReadOps.flatMap(lat.get).filter(_.nonEmpty)
      .map(v => Stats.median(v.toSeq))
    if (meds.isEmpty) 0.0 else math.exp(meds.map(math.log).sum / meds.size)
  }

  def endToEnd: Seq[(String, Double, String)] = {
    def med(k: String) = Stats.median(lat.getOrElse(k, Nil).toSeq)
    Seq(
      ("setup_s", Stats.median(setups.toSeq), "s"),
      ("rows_per_s", Stats.median(rates.toSeq), "rows/s"),
      ("write_p50_s", med("write"), "s"),
      ("read_p50_s", readP50, "s"),
      ("fresh_p50_s", med("fresh"), "s"),
      ("state_bytes_per_row",
        stateBytes.toDouble / math.max(1L, liveRows), "B/row"))
  }

  def layerExtras: Seq[(String, Double, String)] = Seq(
    ("read.tail_s", Stats.tail(lat.getOrElse("read", Nil).toSeq)._2, "s"),
    ("fresh.tail_s", Stats.tail(lat.getOrElse("fresh", Nil).toSeq)._2, "s"),
    ("state.files", stateFiles.toDouble, "count"),
    ("state.mb", stateBytes / 1048576.0, "MB"),
    ("jvm.gc_s", gcMs / 1e3 / math.max(1L, timedOps), "s"),
    ("jvm.heap_peak_mb", heapPeak / 1048576.0, "MB"))

  /** Sample counts and the quantile each tail value reports. */
  def sampleLines(workload: String): Seq[String] =
    (lat.toSeq :+ ("setup" -> setups)).map { case (k, v) =>
      val (q, t) = Stats.tail(v.toSeq)
      f"[$workload] latency $k%-8s n=${v.size}%3d p50=${Stats.median(v.toSeq)}%.4f s " +
        f"p${(q * 100).round}%d=$t%.4f s: " + v.map(x => f"$x%.3f").mkString(" ")
    }
}

object Run {
  /** Set-ups per run; `setup_s` is their median. */
  val Setups = 3
}

/** Command-line entry: `--workload <tail|serve> --seed <n>
  * --seconds <s> --trace <0|1> --work <dir> --traces <dir> --cores <n>`.
  * Prints human-readable lines, then one JSON result as the last line;
  * exits non-zero when any op failed or any output check did not match. */
object Main {
  val ReadOps: Seq[String] =
    Seq("point", "changes", "status", "view", "scan")
  private val LayerUnits: Map[String, String] = Map(
    "sources.decode_s" -> "s", "sources.decode_mb_per_s" -> "MB/s",
    "sources.eager_jobs" -> "count", "sources.eager_s" -> "s",
    "streaming.start_s" -> "s", "streaming.triggers" -> "count",
    "streaming.trigger_s" -> "s", "streaming.add_batch_s" -> "s",
    "streaming.busy_ratio" -> "ratio", "streaming.planning_s" -> "s",
    "streaming.wal_s" -> "s", "streaming.driver_s" -> "s",
    "streaming.jobs" -> "count", "streaming.tasks" -> "count",
    "streaming.shuffle_mb" -> "MB", "replication.post_s" -> "s",
    "replication.post_max_s" -> "s",
    "replication.compactions" -> "count", "replication.compact_mb" -> "MB",
    "read.epochs_at_read" -> "count",
    "trace.unattributed_jobs" -> "count") ++ ReadOps.flatMap(o => Seq(
      s"read.jobs.$o" -> "count", s"read.input_mb.$o" -> "MB",
      s"read.rows_examined_per_row.$o" -> "ratio"))

  def main(argv: Array[String]): Unit = {
    val opt = argv.grouped(2).collect { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    val trace = opt("trace") == "1"
    val cores = opt("cores").toInt
    val work = opt("work")
    val start = System.nanoTime()
    def phase(what: String): Unit =
      println(f"[$workload] $what at ${(System.nanoTime() - start) / 1e9}%.2f s")
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    phase("session up")
    val tracer = new Tracer(spark, trace)
    val run = new Run(spark, work, opt("seed").toLong,
      opt("seconds").toDouble, cores, tracer, phase)
    try workload match {
      case "tail" => Tail(run)
      case "serve" => Serve(run)
      case other => throw new IllegalArgumentException(s"no workload '$other'")
    } catch {
      case e: Exception =>
        run.problems += s"$workload: ${e.getClass.getSimpleName}: ${e.getMessage}"
    }
    phase("workload done")
    val (metrics, notes) =
      if (!trace) (run.endToEnd, Seq.empty[String])
      else {
        val (layers, lines) = tracer.analyze(cores, ReadOps,
          s"${opt("traces")}/$workload-seed${run.seed}.jsonl")
        (layers.toSeq.sortBy(_._1).map { case (k, v) =>
          (k, v, LayerUnits(k)) } ++ run.layerExtras, lines)
      }
    notes.foreach(println)
    for ((k, v, _) <- run.endToEnd ++ run.layerExtras)
      println(f"[$workload] $k%-24s $v%14.6f")
    run.sampleLines(workload).foreach(println)
    run.problems.take(20).foreach(p => println(s"[$workload] FAILED $p"))
    val correct = run.problems.isEmpty && run.attempted > 0
    def num(v: Double) = if (v.isNaN || v.isInfinite) "0" else v.toString
    def json(ms: Seq[(String, Double, String)]) = "{" + ms.map {
      case (k, v, u) => s""""$k": {"value": ${num(v)}, "unit": "$u"}""" }
      .mkString(", ") + "}"
    // a traced run also states its end-to-end numbers, one line above the
    // result, so the tracing overhead can be read off
    if (trace) println(s"""{"end_to_end": ${json(run.endToEnd)}}""")
    println(s"""{"correct": $correct, "attempted": ${run.attempted}, """ +
      s""""failed": ${run.failed}, "metrics": ${json(metrics)}}""")
    System.out.flush()
    spark.stop()
    sys.exit(if (correct) 0 else 1)
  }
}
