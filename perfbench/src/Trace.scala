package graft.perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd,
  SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One traced interval. `op` ties every span of one benchmark op
  * together; `timed` marks spans inside a measured op (set-up, warm-up
  * and output checks are traced too, so every Spark job lands in a
  * span, but they feed no metric). Times are epoch milliseconds. */
final class Span(val id: Int, val parent: Int, val op: Int, val name: String,
    val timed: Boolean, val start: Double) {
  var end: Double = Double.NaN
  val attrs: mutable.Map[String, Double] = mutable.Map.empty
  def dur: Double = end - start
  def layer: String = name.takeWhile(_ != '.')
  def contains(t0: Double, t1: Double): Boolean =
    t0 >= math.floor(start) - 1 && t1 <= math.ceil(end) + 1
}

/** Spans recorded from the benchmark's side of each layer boundary, plus
  * the Spark and streaming listener events they contain. Disabled, every
  * method is a pass-through and no listener is registered. */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  private val t0Ms = System.currentTimeMillis().toDouble
  private val t0Ns = System.nanoTime()
  def nowMs: Double = t0Ms + (System.nanoTime() - t0Ns) / 1e6

  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  private var closed: Option[Span] = None
  private var opId = 0
  private var opTimed = false

  final case class Job(id: Int, start: Long, end: Long)
  final case class Task(launch: Long, finish: Long, runMs: Long,
      inBytes: Long, inRecs: Long, shuffleBytes: Long)
  final case class Progress(run: String, start: Long, dur: Map[String, Long],
      rows: Long)
  private val jobStarts = new ConcurrentLinkedQueue[(Int, Long)]()
  private val jobEnds = new ConcurrentLinkedQueue[(Int, Long)]()
  private val tasks = new ConcurrentLinkedQueue[Task]()
  private val progress = new ConcurrentLinkedQueue[Progress]()
  private val terminations = new ConcurrentLinkedQueue[Double]()
  @volatile private var lastEventNs = System.nanoTime()

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      jobStarts.add(e.jobId -> e.time); lastEventNs = System.nanoTime()
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      jobEnds.add(e.jobId -> e.time); lastEventNs = System.nanoTime()
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) tasks.add(Task(e.taskInfo.launchTime,
        e.taskInfo.finishTime, m.executorRunTime, m.inputMetrics.bytesRead,
        m.inputMetrics.recordsRead, m.shuffleWriteMetrics.bytesWritten))
      lastEventNs = System.nanoTime()
    }
  }
  private val queryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent)
        : Unit = ()
    override def onQueryProgress(
        e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      progress.add(Progress(p.runId.toString,
        java.time.Instant.parse(p.timestamp).toEpochMilli,
        p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
        p.numInputRows))
      lastEventNs = System.nanoTime()
    }
    override def onQueryTerminated(
        e: StreamingQueryListener.QueryTerminatedEvent): Unit = {
      terminations.add(nowMs); lastEventNs = System.nanoTime()
    }
  }
  if (enabled) {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.streams.addListener(queryListener)
  }

  /** Run `body` as a new op: a root span named `op.<kind>`. */
  def op[T](kind: String, timed: Boolean)(body: => T): T = {
    opId += 1
    opTimed = timed
    span(s"op.$kind")(body)
  }

  /** Run `body` inside a child span of the innermost open span. */
  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val s = new Span(spans.size, stack.headOption.fold(-1)(_.id), opId,
        name, opTimed, nowMs)
      spans += s
      stack = s :: stack
      try body
      finally { s.end = nowMs; stack = stack.tail; closed = Some(s) }
    }

  /** Attach a measured value to the innermost open span. */
  def note(key: String, value: Double): Unit =
    if (enabled) stack.headOption.foreach(_.attrs(key) = value)

  /** Attach a measured value to the span that closed last. */
  def noteLast(key: String, value: Double): Unit =
    if (enabled) closed.foreach(_.attrs(key) = value)

  /** Wait until the listener bus has delivered every event: all started
    * jobs have ended and nothing arrived for half a second. */
  def drain(): Unit = if (enabled) {
    val deadline = System.nanoTime() + 20000000000L
    while (System.nanoTime() < deadline &&
      (jobStarts.size != jobEnds.size ||
        System.nanoTime() - lastEventNs < 500000000L))
      Thread.sleep(50)
  }

  private def median(xs: Iterable[Double]): Double = Stats.median(xs.toSeq)
  private def mean(xs: Iterable[Double]): Double =
    if (xs.isEmpty) 0.0 else xs.sum / xs.size

  /** Total length of the union of intervals. */
  private def covered(iv: Seq[(Double, Double)]): Double = {
    var total = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    for ((s, e) <- iv.sortBy(_._1)) {
      if (curE.isNaN || s > curE) {
        if (!curE.isNaN) total += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (!curE.isNaN) total += curE - curS
    total
  }

  /** Per-layer metrics of the run, computed once the bus is drained, and
    * the full trace written to `out`. `cores` scales the busy ratio. */
  def analyze(cores: Int, readOps: Seq[String], out: String)
      : (Map[String, Double], Seq[String]) = {
    drain()
    val ends = jobEnds.asScala.toMap
    val jobs = jobStarts.asScala.toSeq.map { case (id, s) =>
      Job(id, s, ends.getOrElse(id, s)) }
    val taskSeq = tasks.asScala.toSeq
    val progs = progress.asScala.toSeq
    val terms = terminations.asScala.toSeq
    val children = spans.groupBy(_.parent)
    val leaves = spans.filter(s => !children.contains(s.id))
    def innermost(t0: Double, t1: Double): Option[Span] =
      spans.filter(_.contains(t0, t1)).maxByOption(s => (s.start, s.id))
    val unattributed = jobs.count(j =>
      !innermost(j.start.toDouble, j.end.toDouble)
        .exists(s => !children.contains(s.id)))
    def jobsIn(s: Span) = jobs.filter(j => s.contains(j.start, j.end))
    def tasksIn(s: Span) = taskSeq.filter(t => s.contains(t.launch, t.finish))
    def named(n: String) = leaves.filter(s => s.timed && s.name == n)
    val mb = 1024.0 * 1024.0

    val m = mutable.LinkedHashMap.empty[String, Double]
    // sources: the parse call and the wave write that materializes it
    val parse = named("sources.parse")
    val mat = named("sources.materialize").map(s => s.op -> s).toMap
    val decode = parse.map(p => p.dur + mat.get(p.op).fold(0.0)(_.dur))
    m("sources.decode_s") = median(decode) / 1e3
    m("sources.decode_mb_per_s") =
      if (decode.sum <= 0) 0.0
      else parse.map(_.attrs.getOrElse("bytes", 0.0)).sum / mb /
        (decode.sum / 1e3)
    m("sources.eager_jobs") = mean(parse.map(jobsIn(_).size.toDouble))
    m("sources.eager_s") = median(parse.map(_.dur)) / 1e3

    // streaming: the pass each facade call runs
    val sync = named("replication.sync")
    final case class Call(s: Span, ps: Seq[Progress], js: Seq[Job],
        ts: Seq[Task])
    val calls = sync.map(s => Call(s,
      progs.filter(p => s.contains(p.start, p.start)).sortBy(_.start),
      jobsIn(s), tasksIn(s)))
    def durSum(c: Call, keys: String*): Double =
      c.ps.map(p => keys.map(k => p.dur.getOrElse(k, 0L)).sum).sum / 1e3
    m("streaming.start_s") = median(calls.flatMap(c =>
      c.ps.headOption.map(p => (p.start - c.s.start) / 1e3)))
    m("streaming.triggers") = mean(calls.map(_.ps.size.toDouble))
    m("streaming.trigger_s") = median(calls.map(durSum(_, "triggerExecution")))
    m("streaming.add_batch_s") = median(calls.map(durSum(_, "addBatch")))
    val batchTaskMs = calls.map(c => c.ts.filter(t => c.ps.exists(p =>
      t.launch >= p.start &&
        t.finish <= p.start + p.dur.getOrElse("triggerExecution", 0L) + 1))
      .map(_.runMs).sum.toDouble).sum
    val addBatchMs = calls.map(durSum(_, "addBatch")).sum * 1e3
    m("streaming.busy_ratio") =
      if (addBatchMs <= 0) 0.0 else batchTaskMs / (addBatchMs * cores)
    m("streaming.planning_s") = median(calls.map(
      durSum(_, "queryPlanning", "getBatch", "latestOffset")))
    m("streaming.wal_s") = median(calls.map(
      durSum(_, "walCommit", "commitOffsets")))
    m("streaming.driver_s") = median(calls.map(c =>
      c.s.dur - covered(c.js.map(j => (j.start.toDouble, j.end.toDouble)))))
      .max(0.0) / 1e3
    m("streaming.jobs") = mean(calls.map(_.js.size.toDouble))
    m("streaming.tasks") = mean(calls.map(_.ts.size.toDouble))
    m("streaming.shuffle_mb") =
      mean(calls.map(_.ts.map(_.shuffleBytes).sum / mb))

    // replication: the facade's work after the stream stops
    val post = calls.flatMap(c =>
      terms.filter(t => c.s.contains(t, t)).maxOption
        .map(t => (c.s.end - t) / 1e3))
    m("replication.post_s") = median(post)
    m("replication.post_max_s") = post.maxOption.getOrElse(0.0)
    m("replication.compactions") =
      sync.map(_.attrs.getOrElse("compactions", 0.0)).sum
    m("replication.compact_mb") =
      sync.map(_.attrs.getOrElse("compact_bytes", 0.0)).sum / mb

    // read path, per op type
    for (op <- readOps) {
      val rs = named(s"read.$op")
      val ts = rs.map(tasksIn)
      m(s"read.jobs.$op") = mean(rs.map(jobsIn(_).size.toDouble))
      m(s"read.input_mb.$op") = mean(ts.map(_.map(_.inBytes).sum / mb))
      val returned = rs.map(_.attrs.getOrElse("rows", 0.0)).sum
      m(s"read.rows_examined_per_row.$op") =
        ts.map(_.map(_.inRecs).sum.toDouble).sum / math.max(1.0, returned)
    }
    m("read.epochs_at_read") = mean(leaves.filter(s => s.timed &&
      s.name.startsWith("read.")).map(_.attrs.getOrElse("epochs", 0.0)))
    m("trace.unattributed_jobs") = unattributed.toDouble

    // self time per layer over the measured ops
    val self = mutable.LinkedHashMap.empty[String, Double]
    for (s <- spans if s.timed) {
      val kids = children.getOrElse(s.id, Seq.empty)
      self(s.layer) = self.getOrElse(s.layer, 0.0) +
        (s.dur - covered(kids.map(k => (k.start, k.end)).toSeq))
    }
    val lines = self.toSeq.map { case (l, v) =>
      f"[trace] self time $l%-12s ${v / 1e3}%9.3f s" } :+
      s"[trace] ${spans.size} spans, ${jobs.size} jobs, $unattributed outside a leaf span"
    write(out, jobs, taskSeq, progs, self)
    (m.toMap, lines)
  }

  private def write(out: String, jobs: Seq[Job], taskSeq: Seq[Task],
      progs: Seq[Progress], self: collection.Map[String, Double]): Unit = {
    val w = new java.io.PrintWriter(out, "UTF-8")
    try {
      def q(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
      for (s <- spans) w.println(
        s"""{"span":${s.id},"parent":${s.parent},"op":${s.op},"name":${q(s.name)},""" +
          f""""timed":${s.timed},"start_ms":${s.start}%.3f,"end_ms":${s.end}%.3f,""" +
          s""""attrs":{${s.attrs.map { case (k, v) => s"${q(k)}:$v" }.mkString(",")}}}""")
      for (j <- jobs) w.println(
        s"""{"job":${j.id},"start_ms":${j.start},"end_ms":${j.end}}""")
      w.println(s"""{"tasks":${taskSeq.size}}""")
      for (p <- progs) w.println(
        s"""{"progress":${q(p.run)},"start_ms":${p.start},"rows":${p.rows},""" +
          s""""duration_ms":{${p.dur.map { case (k, v) => s"${q(k)}:$v" }.mkString(",")}}}""")
      w.println(s"""{"self_ms":{${self.map { case (k, v) => f"${q(k)}:$v%.3f" }.mkString(",")}}}""")
    } finally w.close()
  }
}
