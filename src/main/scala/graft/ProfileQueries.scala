package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Optimization-round measurement harness (guide §1): runs selected
  * declared queries once each with a SparkListener that attributes every
  * Spark job's wall time to the action call site that launched it, so a
  * scenario's seconds decompose into render / decode / stream-trigger /
  * state-read phases. Diagnostic only — the driver contract lives in
  * [[Bench]]; this main is never invoked by the driver.
  */
object ProfileQueries {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // same warmup as Bench so the first profiled query is not billed init
    Bench.warmup(spark, sfDir)

    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, (String, Long)]()
    val done = new java.util.concurrent.ConcurrentLinkedQueue[(String, Double)]()
    // task-level totals across the current query: run time, GC,
    // (de)serialization, scheduler-side gap (duration - run - ser), count
    val taskAgg = new java.util.concurrent.atomic.AtomicLongArray(6)
    val stages = new java.util.concurrent.ConcurrentLinkedQueue[(String, Double, Int, Long, Long)]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        val site = Option(js.properties)
          .flatMap(p => Option(p.getProperty("callSite.short")))
          .filter(_.nonEmpty)
          .orElse(js.stageInfos.lastOption.map(si => "stage:" + si.name))
          .getOrElse("?")
        jobs.put(js.jobId, (site, System.nanoTime()))
      }
      override def onJobEnd(je: SparkListenerJobEnd): Unit = {
        val v = jobs.remove(je.jobId)
        if (v != null) done.add((v._1, (System.nanoTime() - v._2) / 1e9))
      }
      override def onStageCompleted(
          sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
        val si = sc.stageInfo
        val run = si.taskMetrics.executorRunTime
        if (run > 150) stages.add(
          (si.name, run / 1e3, si.numTasks,
            si.taskMetrics.inputMetrics.recordsRead,
            si.taskMetrics.shuffleReadMetrics.recordsRead))
      }
      override def onTaskEnd(te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
        val m = te.taskMetrics
        if (m != null) {
          taskAgg.addAndGet(0, m.executorRunTime)
          taskAgg.addAndGet(1, m.jvmGCTime)
          taskAgg.addAndGet(2, m.executorDeserializeTime + m.resultSerializationTime)
          taskAgg.addAndGet(3, te.taskInfo.duration)
          taskAgg.addAndGet(4, 1)
          taskAgg.addAndGet(5, m.shuffleReadMetrics.fetchWaitTime)
        }
      }
    })

    val filt = args.headOption.getOrElse("")
      .split(',').filter(_.nonEmpty).toSeq
    val selected = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => filt.isEmpty || filt.exists(name.contains) }
    selected.foreach { case (name, fn) =>
      done.clear()
      stages.clear()
      (0 until 6).foreach(i => taskAgg.set(i, 0L))
      val t0 = System.nanoTime()
      try fn(spark, sfDir).count() catch {
        case e: Throwable => System.err.println(s"FAIL $name: $e")
      }
      val wall = (System.nanoTime() - t0) / 1e9
      CacheRegistry.releaseAll()
      import scala.jdk.CollectionConverters._
      val bySite = done.asScala.toSeq.groupBy(_._1)
        .map { case (s, xs) => (s, xs.map(_._2).sum, xs.size) }
        .toSeq.sortBy(-_._2)
      val jobSum = bySite.map(_._2).sum
      println(f"== $name%s wall=$wall%.2fs jobs=$jobSum%.2fs (driver-gap=${wall - jobSum}%.2fs)")
      println(f"   tasks n=${taskAgg.get(4)}%d run=${taskAgg.get(0) / 1e3}%.2fs gc=${taskAgg.get(1) / 1e3}%.2fs ser=${taskAgg.get(2) / 1e3}%.2fs dur=${taskAgg.get(3) / 1e3}%.2fs fetch=${taskAgg.get(5) / 1e3}%.2fs")
      bySite.take(18).foreach { case (s, t, n) =>
        println(f"   $t%7.3fs x$n%-3d $s%s")
      }
      import scala.jdk.CollectionConverters._
      stages.asScala.toSeq.groupBy(_._1).map { case (n, xs) =>
        (n, xs.map(_._2).sum, xs.size, xs.map(_._4).sum, xs.map(_._5).sum)
      }.toSeq.sortBy(-_._2).take(14).foreach {
        case (n, t, c, in, sh) =>
          println(f"   STG $t%7.3fs x$c%-3d in=$in%-8d sh=$sh%-8d $n%s")
      }
    }
    spark.stop()
  }
}
