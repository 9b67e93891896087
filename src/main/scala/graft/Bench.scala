package graft
import org.apache.spark.sql.SparkSession
object Bench {
  /** Warm up the JVM (codegen, parquet reader, shuffle machinery) before
    * timing: otherwise whichever query happens to run first absorbs ~5s
    * of one-time session initialization and benches as a false hot spot.
    * A warmup failure must not abort the bench — per-query timings are
    * still meaningful (just with init billed to the first queries). */
  private[graft] def warmup(spark: SparkSession, sfDir: String): Unit =
    try {
      spark.range(1000000L).selectExpr("sum(id)").collect()
      spark.read.parquet(s"$sfDir/region.parquet").count()
      // …and the streaming machinery (state store, IncrementalExecution),
      // which otherwise bills ~3s of one-time init to whichever streaming
      // query happens to run first. Run once per state-store provider:
      // the RocksDB native-lib load is its own multi-second one-timer
      // that would otherwise bill to the first transformWithState query.
      val wtmp = TmpDirs.create("bench_warm")
      spark.range(100).selectExpr("timestamp_micros(id) AS ts", "id")
        .write.parquet(s"$wtmp/in")
      for ((provider, tag) <- Seq(
          "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider" -> "hdfs",
          "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider" -> "rocks")) {
        spark.conf.set("spark.sql.streaming.stateStore.providerClass", provider)
        val q = spark.readStream.schema("ts TIMESTAMP, id BIGINT")
          .parquet(s"$wtmp/in")
          .groupBy(org.apache.spark.sql.functions.window(
            org.apache.spark.sql.functions.col("ts"), "1 minute"))
          .count()
          .writeStream.outputMode("complete").format("memory")
          .queryName(s"bench_warmup_$tag").start()
        q.processAllAvailable()
        q.stop()
        spark.catalog.dropTempView(s"bench_warmup_$tag")
      }
      spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    } catch {
      case e: Throwable =>
        System.err.println(
          s"BENCH WARMUP FAIL: ${e.getClass.getName}: ${e.getMessage}")
    }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true") // events.ts, see Tables.t
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    warmup(spark, sfDir)
    // optional comma-separated substring filter (local iteration, any
    // match); the driver passes no args
    val filt = args.headOption.getOrElse("")
      .split(',').filter(_.nonEmpty).toSeq
    // MACHINE-LOAD CALIBRATION: a fixed CPU-bound probe (constant work,
    // no I/O, no data dependence) timed before and after the suite.
    // Two rounds running, the driver's artifact inflated ~9% / ~33%
    // near-uniformly over the builder's same-HEAD run — ambient load,
    // not code — making round-over-round driver totals noisy. The
    // probe's min-of-5 is a load-normalization anchor: cross-round
    // comparisons divide by it to ANNOTATE (never gate) the total.
    def calibrate(): Double =
      (1 to 5).map { _ =>
        val t0 = System.nanoTime()
        // per-row multiply + mod keeps the probe CPU-bound while the
        // SUM stays far inside bigint: a bare sum(id*id) over 2e7 rows
        // is ~2.7e21 and OVERFLOWS under ANSI — the r18 null-pre bug
        spark.range(20000000L)
          .selectExpr("sum((id * id) % 1000000007)").collect()
        (System.nanoTime() - t0) / 1e9
      }.min
    val calPre =
      if (filt.nonEmpty) Double.NaN
      else try calibrate() catch {
        case e: Throwable => // never silent: a null pre hides load data
          System.err.println(s"BENCH CALIBRATION FAIL: ${e.getMessage}")
          Double.NaN
      }
    // name-sorted: Map iteration order shifts as queries are added, which
    // would re-deal the warmup/cache attribution every round and make
    // per-query timings incomparable across rounds
    val selected = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => filt.isEmpty || filt.exists(name.contains) }
    def onePass(): Seq[(String, Double)] = selected.map { case (name, fn) =>
      val t0 = System.nanoTime()
      val ok = try { fn(spark, sfDir).count(); true } catch {
        case e: Throwable =>
          System.err.println(
            s"BENCH FAIL $name: ${e.getClass.getName}: ${e.getMessage}")
          false
      }
      // a failed run records NaN, not its time-to-failure: min() across
      // passes propagates NaN (math.min(NaN, x) = NaN), so a fast crash
      // can never launder itself into a fast timing
      val elapsed = if (ok) (System.nanoTime() - t0) / 1e9 else Double.NaN
      // AFTER the timing capture: release builder-pinned caches so query
      // N+1 never benches against query N's leftover executor memory
      // (see CacheRegistry) — cleanup cost is the harness's, not the
      // benched query's
      CacheRegistry.releaseAll()
      name -> elapsed
    }
    // TWO passes, min per query: single-pass totals swing ±20% under
    // ambient load on a shared host (r8's driver run read 116 s where a
    // controlled re-run of identical code read 99 s) — the min of two
    // passes is robust to a noise spike landing on either one. The extra
    // pass costs ~100 s once per round and makes the gate trustworthy.
    // (Env knob for local iteration; the driver runs the default 2.
    // Clamped to >= 1: the reduce below needs at least one pass.)
    val passes = math.max(1,
      sys.env.get("SPARK_GRAFT_BENCH_PASSES").flatMap(_.toIntOption)
        .getOrElse(2))
    val passRuns = (1 to passes).map(_ => onePass())
    val results = passRuns
      .reduce((a, b) => a.zip(b).map { case ((n, x), (_, y)) =>
        n -> math.min(x, y) })
    // raw per-pass sums ride the artifact so a reader can SEE the
    // noise the min rejected (a pass1 ≫ pass2 spread = loaded start)
    val passTotals = passRuns.map(p =>
      p.map(_._2).filterNot(_.isNaN).sum)
    // millisecond precision: the driver captures a bounded tail of this
    // output, and with ~100 queries full-precision doubles push the line
    // past the capture window (r4's BENCH json shows parsed:null from
    // exactly that truncation) — 3 decimals halve the line length and
    // lose nothing a benchmark reader cares about
    def f3(v: Double): String = "%.3f".formatLocal(java.util.Locale.ROOT, v)
    // a JSON string literal: query names are internal identifiers today,
    // but a quote, backslash or control character in one must not break
    // the trailing JSON line that readers parse
    def jstr(k: String): String = "\"" + k.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => "\\u%04x".format(c.toInt)
      case c => c.toString
    } + "\""
    // NaN (a query that failed every pass) is not valid JSON — such
    // queries leave the timings map and surface in a "failed" array, and
    // the total only sums real timings
    val (failed, timed) = results.partition(_._2.isNaN)
    val qs = timed.map { case (k, v) => jstr(k) + ":" + f3(v) }
      .mkString("{", ",", "}")
    val fq = failed.map(r => jstr(r._1)).mkString("[", ",", "]")
    val total = timed.map(_._2).sum
    // Full per-query map as a REPO ARTIFACT (bench_full.json): the
    // driver's stdout capture is a bounded tail, so at 160+ queries the
    // inline breakdown can truncate — the file always carries every
    // timing (name-sorted for round-over-round diffing) plus a
    // slowest-first ranking so a reader starts at the queries that
    // matter. Written best-effort: a read-only cwd must not fail the
    // bench itself.
    val ranked = timed.sortBy(-_._2)
      .map { case (k, v) => jstr(k) + ":" + f3(v) }.mkString("{", ",", "}")
    // STATE-READ microbench: the CDC/MV queries above time sync+read
    // together, but what a 100× scale-up actually stresses is the READ
    // path alone (epoch collapse, bucket-probe pruning, incremental
    // changes poll). One canonical state dir is built OUTSIDE the
    // timers (two deltas + a compacted baseline — the steady-state
    // shape), then each read is timed by itself, so a state-read
    // regression is visible per round in bench_full.json without being
    // drowned by trigger fixed costs. Best-effort like the warmup.
    // gated like the artifact write it feeds: a filtered local
    // iteration would otherwise pay the state build + three reads for a
    // result nothing consumes.
    // CROSS-SCALE evidence (`factor` = 10): the same three reads over a
    // 10×-LARGER synthetic state (the log replicated under disjoint key
    // ranges, built OUTSIDE the timers, compacted to the same
    // steady-state shape). The "survives 100×" claim, measured: the
    // bucket-probe and changes-poll timings must grow SUBLINEARLY vs the
    // full collapse — they read pruned row groups / the changed tail,
    // not the table.
    def stateReadsAt(factor: Int): Seq[(String, Double)] =
      if (filt.nonEmpty) Seq.empty
      else try {
        import org.apache.spark.sql.functions.{col, explode, lit}
        val log = Tables.cdcLog(spark, sfDir)
        val rep = if (factor == 1) log else log
          .withColumn("_r", explode(lit((0 until factor).toArray)))
          .withColumn("okey", col("okey") + col("_r").cast("long") * 10000000L)
          .drop("_r")
          .select(log.columns.map(col).toSeq: _*)
        val suffix = if (factor == 1) "" else s"${factor}x"
        val rtmp = TmpDirs.create(s"bench_stateread$suffix")
        graft.streaming.StreamingOps.writeWave(
          rep.filter(col("seq") === 1), s"$rtmp/in", 0)
        graft.streaming.StreamingOps.writeWave(
          rep.filter(col("seq") > 1), s"$rtmp/in", 1)
        graft.streaming.StreamingOps.runCdcPass(spark,
          graft.sources.FileCdcSource(log.schema, s"$rtmp/in"),
          s"$rtmp/ckpt", s"$rtmp/state")
        graft.streaming.StreamingOps.compactState(spark, s"$rtmp/state")
        // MIN-OF-3 like the calibration probe and the index probes: these
        // reads are pure (no index append), and a single-shot timing at
        // the post-fork-fix magnitudes (~0.1-0.3 s) is mostly first-read
        // noise — the flatness RATIO gate needs the probe's floor, not
        // its first-touch cost (measurement fix, noted in
        // OPTIMIZATION_r21.md).
        def t1(name: String)(body: => Unit): (String, Double) = {
          name -> (1 to 3).map { _ =>
            val t0 = System.nanoTime()
            body
            (System.nanoTime() - t0) / 1e9
          }.min
        }
        Seq(
          t1("latest") {
            graft.streaming.StreamingOps
              .readLatestState(spark, s"$rtmp/state").count(); ()
          },
          t1("latest_bucket_probe") {
            graft.streaming.StreamingOps.readLatestState(spark,
              s"$rtmp/state", buckets = Some(Seq(0L, 1L))).count(); ()
          },
          t1("changes_since") {
            graft.streaming.StreamingOps.readStateChanges(spark,
              s"$rtmp/state", sinceSeq = 1L).count(); ()
          })
      } catch {
        case e: Throwable =>
          val tag = if (factor == 1) "" else s"-${factor}X"
          System.err.println(s"BENCH STATE-READ$tag FAIL: " +
            s"${e.getClass.getName}: ${e.getMessage}")
          Seq.empty
      }
    val stateReads = stateReadsAt(1)
    val stateReads10x = stateReadsAt(10)
    // LLM-INDEX scaling evidence — the dedup-side analogue of the
    // state-read pair above: the incremental-ingest claim is O(batch)
    // work against a persisted index whose only O(index) cost is a
    // pruned/columnar scan. Measured: the SAME fixed-size ingest probed
    // against a 1× and a 10× index (corpus replicated under per-replica
    // WORD salting, so replicas share no shingles/hashes — index MASS
    // grows 10×, the batch's match structure does not). Index seeding
    // runs OUTSIDE the timers (it is the one-time POPULATE cost). The
    // exact probe is bucket-pruned (touched-bucket pushdown); the
    // minhash probe pays a columnar band scan — both must grow far
    // slower than the 10× index mass.
    def indexReadsAt(factor: Int, reps: Int = 3): Seq[(String, Double)] = {
      import org.apache.spark.sql.functions._
      val d = Tables.t(spark, sfDir, "documents")
        .select(col("doc_id"), col("text"))
      def salted(r: org.apache.spark.sql.Column,
          t: org.apache.spark.sql.Column) =
        concat_ws(" ", transform(split(t, " "),
          w => concat(lit("s"), r, lit("_"), w)))
      val corpus = d
        .withColumn("_r", explode(lit((0 until factor).toArray)))
        .select((col("doc_id") + col("_r").cast("long") * 10000000L)
          .as("doc_id"), salted(col("_r"), col("text")).as("text"))
      // the probe batch: near-dups (first salted word dropped) and exact
      // copies of REPLICA 0 docs — identical at both factors
      val base0 = d.filter(col("doc_id") % 10 === 0)
        .select(col("doc_id"), salted(lit(0), col("text")).as("text"))
      val nearBatch = base0.select((col("doc_id") + 50000000L).as("doc_id"),
        expr("substring(text, instr(text, ' ') + 1, length(text))")
          .as("text"))
      val exactBatch = base0
        .select((col("doc_id") + 60000000L).as("doc_id"), col("text"))
      def t1(name: String)(body: => Unit): (String, Double) = {
        val t0 = System.nanoTime()
        body
        name -> (System.nanoTime() - t0) / 1e9
      }
      // MIN-OF-3, each repetition against freshly seeded dirs (the
      // probes APPEND to their index, so re-probing one dir would
      // measure a different index). A single discarded warmup round
      // proved insufficient in a cold driver process (r14: first-probe
      // init still billed ~1.1-1.4 s to the 1× pass, INVERTING the
      // 1×/10× comparison); the min over three independent seeded
      // probes is what the scaling claim actually needs — steady-state
      // probe cost vs index mass, init and GC excursions excluded.
      val repRuns = (0 until reps).map { _ =>
        val idxE = s"${TmpDirs.create(s"bench_idx_exact")}/idx"
        val idxM = s"${TmpDirs.create(s"bench_idx_minhash")}/idx"
        graft.ops.Llm.exactIndexSeed(spark, corpus, idxE)
        graft.ops.Llm.dedupIndexSeed(spark, corpus, idxM)
        CacheRegistry.releaseAll()
        val r = Seq(
          t1("exact_probe") {
            graft.ops.Llm.exactIngestApply(spark, exactBatch, idxE).count(); ()
          },
          t1("minhash_probe") {
            graft.ops.Llm.dedupIncremental(spark, nearBatch, idxM).count(); ()
          })
        CacheRegistry.releaseAll()
        r
      }
      repRuns.head.map(_._1).map { name =>
        name -> repRuns.map(_.toMap.apply(name)).min
      }
    }
    // INTERLEAVED measurement: one discarded warmup rep (seed + both
    // probe bodies), then three rounds each timing a fresh 1× rep AND a
    // fresh 10× rep back to back, min per (factor, probe) across
    // rounds. Sequential blocks (all 1× reps, then all 10×) kept
    // billing residual JIT/first-touch warmth asymmetrically — the 10×
    // block always ran warmer, inverting the very comparison this
    // section exists to make (r15 verdict; recurred at smaller
    // magnitude with a lone warmup). Interleaving gives both factors
    // the same thermal history in every round.
    val (indexReads: Seq[(String, Double)],
        indexReads10x: Seq[(String, Double)]) =
      if (filt.nonEmpty) (Seq.empty, Seq.empty)
      else try {
        indexReadsAt(1, reps = 1) // discarded: absorbs cold-JVM init
        val rounds = (0 until 3).map { _ =>
          (indexReadsAt(1, reps = 1), indexReadsAt(10, reps = 1))
        }
        def mins(xs: Seq[Seq[(String, Double)]]): Seq[(String, Double)] =
          xs.head.map(_._1).map { n => n -> xs.map(_.toMap.apply(n)).min }
        (mins(rounds.map(_._1)), mins(rounds.map(_._2)))
      } catch {
        case e: Throwable =>
          System.err.println(
            s"BENCH INDEX-READ FAIL: ${e.getClass.getName}: ${e.getMessage}")
          (Seq.empty, Seq.empty)
      }
    // SKETCH ERROR BOUNDS, proved per round in the artifact: the three
    // approximate operators are non-oracle by design (sketch estimates
    // aren't SQL-reproducible bit-for-bit), so their correctness story
    // lives in declared error bounds — previously asserted only in
    // OperatorSpec runs, now measured against exact answers here so the
    // driver artifact carries the evidence every round. Best-effort
    // like the other sections; tools/check.py validates the block.
    val bounds: Seq[(String, String)] = if (filt.nonEmpty) Seq.empty
    else try {
      import org.apache.spark.sql.functions._
      def f6(v: Double): String =
        "%.6f".formatLocal(java.util.Locale.ROOT, v)
      val li = Tables.t(spark, sfDir, "lineitem")
      // A3: approx_count_distinct(rsd=0.02) vs exact — allow 10% (the
      // OperatorSpec bound: generous vs the declared rsd, catches gross
      // breakage without flaking on small SFs)
      val apx = SparkEntry.queries("agg_approx_distinct")(spark, sfDir)
        .collect()(0)
      val exOrders = li.select(countDistinct(col("l_orderkey")))
        .collect()(0).getLong(0)
      val aOrders = apx.getLong(apx.fieldIndex("approx_orders"))
      val relErr = math.abs(aOrders - exOrders).toDouble / exOrders
      val a3 = s""""agg_approx_distinct":{"estimate":$aOrders,""" +
        s""""exact":$exOrders,"rel_err":${f6(relErr)},"bound":0.1,""" +
        s""""ok":${relErr < 0.1}}"""
      // A26: percentile_approx(accuracy=1000) vs exact percentiles —
      // l_quantity spans 1..50, the spec bound is ±2.0 absolute
      val qa = SparkEntry.queries("agg_quantiles_approx")(spark, sfDir)
        .collect().map(r => r.getString(0) -> (r.getDouble(1),
          r.getDouble(2))).toMap
      val qe = li.groupBy(col("l_returnflag"))
        .agg(expr("percentile(l_quantity, 0.5)").as("p50"),
          expr("percentile(l_quantity, 0.95)").as("p95"))
        .collect().map(r => r.getString(0) -> (r.getDouble(1),
          r.getDouble(2))).toMap
      val qErr = qa.map { case (fl, (a50, a95)) =>
        math.max(math.abs(a50 - qe(fl)._1), math.abs(a95 - qe(fl)._2))
      }.max
      val a26 = s""""agg_quantiles_approx":{"max_abs_err":${f6(qErr)},""" +
        s""""bound":2.0,"ok":${qErr <= 2.0}}"""
      // A24: merged HLL states vs exact (5%, the spec's allowance over
      // the lgConfigK=12 rsd of ~1.6%) and vs one direct global sketch.
      // Merge-vs-direct is a CLOSENESS bound, not bit-equality: at tiny
      // cardinality sketches sit in exact set mode and the two agree
      // bit-for-bit (OperatorSpec asserts that at sf0.001), but at
      // bench scale a DataSketches union's internal representation can
      // legitimately estimate a hair off a single direct sketch — the
      // scale-relevant claim is that folding partial states loses no
      // ACCURACY, not that it replays the identical bits.
      val us = SparkEntry.queries("agg_uniq_sketch_merge")(spark, sfDir)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val ev = Tables.t(spark, sfDir, "events")
      val direct = ev.agg(hll_sketch_estimate(
        hll_sketch_agg(col("user_id")))).collect()(0).getLong(0)
      val exactU = ev.select(col("user_id")).distinct().count()
      val uErr = math.abs(us("<all>").toDouble - exactU) / exactU
      val mergeRel = math.abs(us("<all>").toDouble - direct) /
        math.max(direct.toDouble, 1.0)
      val a24 = s""""agg_uniq_sketch_merge":{"estimate":${us("<all>")},""" +
        s""""exact":$exactU,"rel_err":${f6(uErr)},"bound":0.05,""" +
        s""""direct":$direct,"merge_rel_diff":${f6(mergeRel)},""" +
        s""""merge_bound":0.05,""" +
        s""""ok":${uErr < 0.05 && mergeRel < 0.05}}"""
      Seq("agg_approx_distinct" -> a3, "agg_quantiles_approx" -> a26,
        "agg_uniq_sketch_merge" -> a24)
    } catch {
      case e: Throwable =>
        System.err.println(
          s"BENCH BOUNDS FAIL: ${e.getClass.getName}: ${e.getMessage}")
        Seq.empty
    }
    // the post-suite calibration rep: load that arrived mid-run shows
    // up as post > pre; a reader normalizes against min(pre, post)
    val calPost =
      if (filt.nonEmpty) Double.NaN
      else try calibrate() catch {
        case e: Throwable =>
          System.err.println(s"BENCH CALIBRATION FAIL: ${e.getMessage}")
          Double.NaN
      }
    def f3OrNull(v: Double): String =
      if (v.isNaN) "null" else "%.3f".formatLocal(java.util.Locale.ROOT, v)
    val calJson = s"""{"probe":"sum_id_sq_mod_20m","reps":5,""" +
      s""""pre":${f3OrNull(calPre)},"post":${f3OrNull(calPost)}}"""
    val boundsJson = bounds.map(_._2).mkString("{", ",", "}")
    val srJson = stateReads.map { case (k, v) => jstr(k) + ":" + f3(v) }
      .mkString("{", ",", "}")
    val sr10Json = stateReads10x.map { case (k, v) => jstr(k) + ":" + f3(v) }
      .mkString("{", ",", "}")
    val irJson = indexReads.map { case (k, v) => jstr(k) + ":" + f3(v) }
      .mkString("{", ",", "}")
    val ir10Json = indexReads10x.map { case (k, v) => jstr(k) + ":" + f3(v) }
      .mkString("{", ",", "}")
    // Only an UNFILTERED run may overwrite the artifact: a local filtered
    // iteration (`sbt "runMain graft.Bench some_query"`) would otherwise
    // clobber the committed full map with a 3-entry one.
    // the CALIBRATION-NORMALIZED total, recorded NEXT TO the raw one:
    // total divided by min(pre, post) of the fixed CPU probe — a
    // dimensionless figure a reader compares across rounds without
    // load forensics (ambient load inflates numerator and denominator
    // together; min(pre, post) is the least-loaded observation)
    val calMin = math.min(calPre, calPost)
    val totalNorm =
      if (calMin.isNaN || calMin <= 0) Double.NaN else total / calMin
    try if (filt.isEmpty) {
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get("bench_full.json"),
        s"""{"total":${f3(total)},""" +
          s""""total_cal_norm":${f3OrNull(totalNorm)},""" +
          s""""pass_totals":${
            passTotals.map(f3).mkString("[", ",", "]")},""" +
          s""""sf":"$sfDir","passes":$passes,""" +
          s""""calibration":$calJson,""" +
          s""""failed":$fq,"state_reads":$srJson,""" +
          s""""state_reads_10x":$sr10Json,"index_reads":$irJson,""" +
          s""""index_reads_10x":$ir10Json,"bounds":$boundsJson,""" +
          s""""queries":$qs,""" +
          s""""slowest_first":$ranked}""" + "\n")
      ()
    } catch {
      case e: Throwable =>
        System.err.println(s"bench_full.json write failed: ${e.getMessage}")
    }
    println(s"""{"metric":"total","value":${f3(total)},"unit":"sec","queries":$qs,"failed":$fq,"sf":"$sfDir"}""")
    // The driver captures a bounded TAIL of stdout (~2000 chars); with 231
    // queries the full line above cannot fit in it, so the driver's
    // per-query regression/scaling analysis saw an empty map for two
    // rounds (PERF_r21.json per_query: {}). The trailing short line always
    // survives the tail capture — since r22 it ALSO carries a compact
    // `queries` map of the SLOWEST entries, as many as fit a fixed char
    // budget (~30 of 231), so the driver has per-query data again for
    // exactly the queries whose movement matters. bench_full.json (above)
    // remains the canonical full map. Measurement visibility only: the
    // timed methodology and the full line are unchanged.
    val slowCompact = {
      val budget = 1200 // chars of map body; total line stays ≪ the tail
      val sb = new StringBuilder
      var n = 0
      val it = timed.sortBy(-_._2).iterator
      var full = false
      while (!full && it.hasNext) {
        val (k, v) = it.next()
        val entry = (if (n == 0) "" else ",") + jstr(k) + ":" + f3(v)
        if (sb.length + entry.length <= budget) { sb ++= entry; n += 1 }
        else full = true
      }
      "{" + sb.result() + "}"
    }
    println(s"""{"metric":"total","value":${f3(total)},"unit":"sec","n":${timed.size},"nFailed":${failed.size},"queries":$slowCompact,"sf":"$sfDir"}""")
    spark.stop()
  }
}
