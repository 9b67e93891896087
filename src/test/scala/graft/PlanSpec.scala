package graft

import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.functions._
import graft.sources.FileCdcSource

/** Physical-plan shape assertions — the 100 TB design contract
  * (SURVEY.md §4): pushdown reaches the scan, small dims broadcast,
  * pairwise ops never plan an unblocked cartesian product.
  */
class PlanSpec extends SparkTestBase {

  private def physical(name: String): String =
    q(name).queryExecution.executedPlan.toString

  test("projection+filter pushdown reaches the parquet scan") {
    val plan = physical("scan_projection_pushdown")
    assert(plan.contains("PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity"),
      s"no pushed filter in:\n$plan")
    assert(plan.contains("ReadSchema: struct<l_orderkey:bigint,l_linenumber:int,l_quantity:double>"),
      s"scan reads more columns than projected:\n$plan")
  }

  test("exact quantiles window runs over the bucketed-count table, not raw rows") {
    // The scale contract for A18: the only window is the cumulative-count
    // pass over the (flag, value) bucket aggregate — never a rank window
    // over the raw table, which would sort the full table in |groups|
    // (here 3) tasks. In the printed tree parents precede children, so the
    // bucket HashAggregate must appear BELOW the Window.
    val plan = physical("agg_quantiles_exact")
    val winIdx = plan.indexOf("Window")
    assert(winIdx >= 0, s"expected a cumulative-count window:\n$plan")
    val bucketAgg =
      """HashAggregate\(keys=\[l_returnflag#\d+, l_quantity#\d+\]""".r
    val m = bucketAgg.findAllMatchIn(plan).map(_.start).toSeq
    assert(m.nonEmpty, s"no (flag, value) bucket aggregate in plan:\n$plan")
    assert(m.exists(_ > winIdx),
      s"window does not sit above the bucket aggregate:\n$plan")
    assert(!plan.contains("row_number"),
      s"raw-table rank window survived the rewrite:\n$plan")
  }

  test("small-dim join broadcasts") {
    val plan = physical("join_broadcast")
    assert(plan.contains("BroadcastHashJoin"), s"expected broadcast join:\n$plan")
  }

  test("hierarchy walk is broadcast hops only — no shuffle on the fact side") {
    val plan = physical("dict_get_hierarchy")
    assert(plan.contains("BroadcastHashJoin"),
      s"dictionary hops must broadcast:\n$plan")
    // the walk's only exchange is the final presentation sort — the
    // per-hop joins keep the fact side scan-local
    assert(!plan.contains("SortMergeJoin") && !plan.contains("ShuffledHashJoin"),
      s"a dictionary hop shuffled the fact side:\n$plan")
  }

  test("brute-force topk broadcasts the query side, not the corpus") {
    val plan = physical("llm_sim_topk")
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastHashJoin"),
      s"query side should broadcast:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"unbounded cartesian:\n$plan")
  }

  test("LSH bucket join is an equi join (no cartesian, no nested loop)") {
    val plan = physical("llm_sim_lsh_topk")
    assert(!plan.contains("CartesianProduct"), s"cartesian in LSH path:\n$plan")
  }

  test("decontamination broadcasts the benchmark gram set; train grams never shuffle") {
    val plan = physical("llm_decontaminate")
    assert(plan.contains("BroadcastHashJoin"),
      s"benchmark gram set should broadcast:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"cartesian in decontaminate:\n$plan")
  }

  test("dictionary lookup broadcasts the dict, fact side never shuffles it") {
    val plan = physical("dict_get_lookup")
    assert(plan.contains("BroadcastHashJoin"), s"dict should broadcast:\n$plan")
  }

  test("ttl cutoff is a broadcast scalar, not a shuffled join") {
    val plan = physical("ttl_expiry")
    assert(plan.contains("BroadcastNestedLoopJoin"),
      s"1-row cutoff should broadcast:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"cartesian in ttl path:\n$plan")
  }

  test("approx sim-join rule rewrites the naive cross join to a bucket equi-join") {
    import graft.plans.ApproxSimJoinRewrite
    import graft.functions.VectorOps
    VectorOps.register(spark)
    def naive() = {
      val all = Tables.t(spark, sf, "embeddings")
        .select(col("vec_id"), VectorOps.toDouble(col("embedding")).as("v"))
      val a = all.select(col("vec_id").as("a_id"), col("v").as("a_v"))
      val b = all.select(col("vec_id").as("b_id"), col("v").as("b_v"))
      a.crossJoin(b)
        .filter(expr("cosine_sim_approx(a_v, b_v) >= 0.9") && col("a_id") < col("b_id"))
        .select(col("a_id"), col("b_id"))
    }
    // without the rule: the naive form really is a nested-loop cartesian
    // (this is what the rule saves users from — if this ever stops
    // holding, the rewrite assertion below proves nothing)
    val saved = spark.experimental.extraOptimizations
    spark.experimental.extraOptimizations =
      saved.filterNot(_ == ApproxSimJoinRewrite)
    try {
      val before = naive().queryExecution.executedPlan.toString
      assert(before.contains("CartesianProduct") ||
        before.contains("BroadcastNestedLoopJoin"), s"expected cartesian:\n$before")
    } finally spark.experimental.extraOptimizations = saved
    ApproxSimJoinRewrite.install(spark)
    val df = naive()
    val after = df.queryExecution.executedPlan.toString
    assert(!after.contains("CartesianProduct") &&
      !after.contains("BroadcastNestedLoopJoin"), s"rewrite did not fire:\n$after")
    // and the rewritten plan computes exactly the manual bucketed form
    val manual = {
      val all = Tables.t(spark, sf, "embeddings")
        .select(col("vec_id"), VectorOps.toDouble(col("embedding")).as("v"))
        .withColumn("bucket",
          (0 until 8).map(j => when(element_at(col("v"), j + 1) > 0, 1 << j)
            .otherwise(0)).reduce(_ + _))
      val a = all.select(col("vec_id").as("a_id"), col("v").as("a_v"), col("bucket"))
      val b = all.select(col("vec_id").as("b_id"), col("v").as("b_v"), col("bucket"))
      a.join(b, "bucket")
        .filter(expr("cosine_sim(a_v, b_v) >= 0.9") && col("a_id") < col("b_id"))
        .select(col("a_id"), col("b_id"))
    }
    assert(df.collect().map(_.toSeq).toSet == manual.collect().map(_.toSeq).toSet)
  }

  test("cosine_sim participates in whole-stage codegen") {
    import graft.functions.VectorOps
    VectorOps.register(spark)
    val e = Tables.t(spark, sf, "embeddings")
      .select(col("vec_id"), VectorOps.toDouble(col("embedding")).as("v"))
    val df = e.select(expr("cosine_sim(v, v)").as("c")).filter(col("c") > 0.99)
    val plan = df.queryExecution.executedPlan.toString
    // Spark 4.1 renders codegen'd stages as "*(n)" operator prefixes in
    // executedPlan.toString (the literal "WholeStageCodegen" only appears
    // in the formatted explain), so assert on the prefix.
    assert(plan.contains("WholeStageCodegen") || plan.contains("*("),
      s"no codegen span:\n$plan")
    assert(df.count() > 0) // self-cosine == 1.0
  }

  test("interval self-join plans as an equi join on user with range residual") {
    val plan = physical("join_self_interval")
    assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin") ||
      plan.contains("BroadcastHashJoin"), s"range join lost its equi conjunct:\n$plan")
  }

  test("partitioned sink read-back prunes to the filtered partition") {
    val plan = physical("sink_partitioned_pruning")
    // attribute refs render with expr ids (event_type#1234 = purchase)
    assert(plan.contains("PartitionFilters") &&
      "PartitionFilters: \\[[^\\]]*= purchase\\)".r.findFirstIn(plan).isDefined,
      s"scan did not prune partitions:\n$plan")
  }

  test("salted skew join stays a shuffle join on (key, salt)") {
    val plan = physical("join_skew_salted")
    assert(plan.contains("ShuffledHashJoin") || plan.contains("SortMergeJoin"),
      s"salted join collapsed to broadcast — demo would be vacuous:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"cartesian:\n$plan")
  }

  test("bucketed co-located join has zero shuffle exchanges on its inputs") {
    val plan = physical("join_bucketed_colocated")
    assert(plan.contains("SortMergeJoin"), s"expected sort-merge join:\n$plan")
    assert(!plan.contains("Exchange hashpartitioning"),
      s"bucketed join still shuffles an input:\n$plan")
  }

  test("IVF probe path joins on cell; only the 16-centroid dim is non-equi") {
    val plan = physical("llm_sim_ivf_topk")
    assert(!plan.contains("CartesianProduct"),
      s"unbounded cartesian in IVF path:\n$plan")
  }

  test("windowFunnel anchors join on user with range residuals, no cartesian") {
    val plan = physical("agg_window_funnel")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"funnel chain lost its user_id equi conjunct:\n$plan")
  }

  test("ngram-jaccard index is df-capped before pair generation") {
    // The skew guard for L2c: the inverted index is semi-joined against
    // the rare-gram set (count per gram <= 100) BEFORE the self-join, so
    // no hot shingle can fan a key out quadratically. The cap filter and
    // the semi-join must both be in the physical plan, and candidate
    // generation must stay an equi-join (never a cartesian).
    val plan = physical("llm_dedup_ngram_jaccard")
    assert("""dfc#\d+L? <= 100""".r.findFirstIn(plan).isDefined,
      s"df cap filter missing from the index path:\n$plan")
    assert(plan.contains("LeftSemi"),
      s"index not gated through the rare-gram semi-join:\n$plan")
    assert(!plan.contains("CartesianProduct"),
      s"cartesian in ngram-jaccard:\n$plan")
  }

  test("incremental dedup reads the persisted index; only the batch is tokenized") {
    // L2i's O(batch) contract: the candidate join and the confirm must
    // be equi-joins (never a cartesian), and the index side must enter
    // the plan as parquet scans of the persisted band/shingle tables —
    // never as a recompute of the corpus (the plan may tokenize only the
    // arriving batch, and the persist means even that happens once).
    val d = Tables.t(spark, sf, "documents")
    val idx = s"${TmpDirs.create("graft_plan_idx")}/idx"
    ops.Llm.dedupIndexSeed(spark, d.select(col("doc_id"), col("text")), idx)
    val batch = d.filter(col("doc_id") % 5 === 0)
      .select((col("doc_id") + 100000).as("doc_id"),
        expr("substring(text, instr(text, ' ') + 1, length(text))").as("text"))
    val (frame, _, _) = ops.Llm.dedupIncrementalFrame(spark, batch, idx)
    val plan = frame.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"incremental dedup lost its equi-join shape:\n$plan")
    assert("graft_plan_idx".r.findAllIn(plan).nonEmpty,
      s"persisted index scans missing from the plan:\n$plan")
    assert(plan.contains("InMemoryTableScan"),
      s"batch shingles not served from the pinned table — the tokenize " +
        s"pass would otherwise re-run per consumer:\n$plan")
    // the broadcast regime is PINNED, not an AQE runtime guess: the
    // batch side of the candidate join and the candidate side of both
    // confirm joins are explicit broadcast build sides, so every join
    // is a BroadcastHashJoin and no index scan (bands or shingles) ever
    // sits under a shuffle exchange — a SortMergeJoin/ShuffledHashJoin
    // here would mean the index rode a shuffle
    assert(!plan.contains("SortMergeJoin") && !plan.contains("ShuffledHashJoin"),
      s"the persisted index rode a shuffle:\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      s"expected pinned broadcast joins:\n$plan")
  }

  test("ANN ingest reads the persisted index; no k-means recompute, no cartesian") {
    // L3d's O(batch) contract: the centroid read is a 16-row parquet
    // scan (broadcast as one array), candidates reach the batch through
    // a cell equi-join — and the training aggregate (vec_dec_sum) must
    // NOT appear: an ingest that re-trains is a rebuild, not an ingest.
    val all = Tables.t(spark, sf, "embeddings").select(
      col("vec_id"), functions.VectorOps.toDouble(col("embedding")).as("v"))
    val idx = s"${TmpDirs.create("graft_plan_annidx")}/idx"
    ops.Llm.annIndexSeed(spark, all.filter(col("vec_id") % 10 =!= 0), idx)
    val (topk, _) = ops.Llm.annIngestFrame(spark,
      all.filter(col("vec_id") % 10 === 0), idx)
    val plan = topk.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"),
      s"ANN ingest lost its equi-join shape:\n$plan")
    assert(!plan.contains("vec_dec_sum"),
      s"ANN ingest re-ran the k-means training aggregate:\n$plan")
    assert("graft_plan_annidx".r.findAllIn(plan).nonEmpty,
      s"persisted index scans missing from the plan:\n$plan")
  }

  test("exact-dedup ingest never shuffles the hash index") {
    // L1b's 100 TB contract: the index parquet scan feeds a broadcast
    // semi-join (probe side = the tiny batch hash set) and the batch
    // anti-joins the probe result by broadcast — every join must be a
    // BroadcastHashJoin; a SortMergeJoin/ShuffledHashJoin would mean
    // the index rode a shuffle.
    val d = Tables.t(spark, sf, "documents").select(col("doc_id"), col("text"))
    val idx = s"${TmpDirs.create("graft_plan_exidx")}/idx"
    ops.Llm.exactIndexSeed(spark, d, idx)
    val batch = d.select((col("doc_id") + 100000).as("doc_id"), col("text"))
    val plan = ops.Llm.exactIngestFrame(spark, batch, idx)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("SortMergeJoin") && !plan.contains("ShuffledHashJoin"),
      s"the hash index rode a shuffle:\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      s"expected broadcast probe joins:\n$plan")
  }

  test("small-batch ingest probes prune the persisted indexes by bucket/cell") {
    // the state dir's bucket discipline applied to the LLM index side: a
    // streaming-sized ingest must push its touched-bucket / probed-cell
    // set into the index scan so parquet stats prune — the difference
    // between O(index scan) and O(touched files) per ingest at corpus
    // scale. (The full-corpus-batch specs above keep asserting the
    // saturated case, where the exact-index gate skips.)
    val d = Tables.t(spark, sf, "documents").select(col("doc_id"), col("text"))
    val idx = s"${TmpDirs.create("graft_plan_bktidx")}/idx"
    ops.Llm.exactIndexSeed(spark, d, idx)
    val batch = d.orderBy(col("doc_id")).limit(3)
      .select((col("doc_id") + 200000).as("doc_id"), col("text"))
      .localCheckpoint()
    val plan = ops.Llm.exactIngestFrame(spark, batch, idx)
      .queryExecution.executedPlan.toString
    assert(plan.contains("In(_bucket") && plan.contains("IsNull(_bucket"),
      s"hash-bucket set not pushed into the index scan:\n$plan")
    // ANN: the probed-cell set reaches the assigned-table scan as a
    // pushed filter (the scan-side form of the cell equi-join's
    // restriction; the table is cell-clustered so it prunes files)
    val all = Tables.t(spark, sf, "embeddings").select(
      col("vec_id"), functions.VectorOps.toDouble(col("embedding")).as("v"))
    val aidx = s"${TmpDirs.create("graft_plan_cellidx")}/idx"
    ops.Llm.annIndexSeed(spark, all.filter(col("vec_id") % 10 =!= 0), aidx)
    val (topk, _) = ops.Llm.annIngestFrame(spark,
      all.orderBy(col("vec_id")).limit(2)
        .select((col("vec_id") + 900000).as("vec_id"), col("v")), aidx)
    val aplan = topk.queryExecution.executedPlan.toString
    assert(aplan.contains("In(cell") || aplan.contains("EqualTo(cell"),
      s"probed-cell set not pushed into the assigned scan:\n$aplan")
  }

  test("substring-dedup fingerprints are df-capped before the self-join") {
    // L2h's guard, same contract: boilerplate fingerprints (df > 100)
    // never reach pair generation.
    val plan = physical("llm_dedup_substring")
    assert("""dfc#\d+L? <= 100""".r.findFirstIn(plan).isDefined,
      s"df cap filter missing from the fingerprint path:\n$plan")
    assert(!plan.contains("CartesianProduct"),
      s"cartesian in substring dedup:\n$plan")
  }

  test("aggregation is partial (map-side) before the shuffle") {
    val plan = physical("agg_hash_groupby")
    assert(plan.contains("partial_sum") || plan.contains("HashAggregate"),
      s"no partial aggregation:\n$plan")
  }

  test("audience overlap is a pair equi-join, never a per-group set collect") {
    val plan = physical("agg_bitmap_overlap")
    assert(!plan.contains("CartesianProduct"), s"cartesian in overlap:\n$plan")
    assert(!plan.contains("collect_set"),
      s"per-group set materialized (unbounded state at scale):\n$plan")
  }

  test("lateral explode runs scan-local via Generate before any shuffle") {
    val plan = physical("fn_explode")
    assert(plan.contains("Generate"), s"no Generate (explode) operator:\n$plan")
  }

  test("latest_rn marker rewrites the rank-1 window into a max_by aggregate") {
    val plan = physical("win_dedup_rewrite")
    assert(!plan.contains("Window"), s"window survived the rewrite:\n$plan")
    assert(plan.contains("max_by") || plan.contains("maxby") ||
      plan.contains("MaxBy"), s"no max_by aggregate in:\n$plan")
    // and the unmarked W1 spelling keeps its Window plan (the rule is
    // marker-gated, not a blanket rank-filter rewrite)
    assert(physical("win_row_number_dedup").contains("Window"),
      "unmarked rank-1 window was rewritten")
  }

  test("latest_rn rewrite accepts the rank-filter's alternate spellings") {
    import org.apache.spark.sql.expressions.{Window => W}
    graft.plans.LatestByVersionRewrite.install(spark)
    val w = W.partitionBy(col("okey")).orderBy(desc("seq"))
    for (pred <- Seq(col("latest_rn") <= 1, lit(1) === col("latest_rn"))) {
      val plan = Tables.cdcLog(spark, sf)
        .withColumn("latest_rn", row_number().over(w))
        .filter(pred)
        .queryExecution.executedPlan.toString
      assert(!plan.contains("Window") &&
        (plan.contains("max_by") || plan.contains("MaxBy")),
        s"rewrite missed spelling $pred:\n$plan")
    }
  }

  test("latest_rn rewrite refuses a NULLABLE ordering key") {
    import org.apache.spark.sql.expressions.{Window => W}
    graft.plans.LatestByVersionRewrite.install(spark)
    // price is nullable: an all-null group returns a row under
    // row_number but null under max_by — the rule must not fire
    val w = W.partitionBy(col("okey")).orderBy(desc("price"))
    val plan = Tables.cdcLog(spark, sf)
      .withColumn("latest_rn", row_number().over(w))
      .filter(col("latest_rn") === 1)
      .queryExecution.executedPlan.toString
    assert(plan.contains("Window"), s"rewrite fired on a nullable key:\n$plan")
  }

  test("null-safe equi join plans as a real equi join, not a cartesian") {
    val plan = physical("join_null_safe_equi")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"EqualNullSafe lost its equi-join key:\n$plan")
  }

  test("pii scrub stays scan-local codegen until the final sort") {
    val plan = physical("llm_pii_scrub")
    assert(!plan.contains("Exchange hashpartitioning"),
      s"unexpected shuffle in a pure map pipeline:\n$plan")
  }

  test("AQE splits a skewed shuffle join at runtime (the unsalted defense)") {
    // J11 is the MANUAL skew defense; this pins the AUTOMATIC one the
    // 100 TB design leans on (SURVEY §4.2): with AQE skew-join enabled, a
    // hot-key shuffle join is split at RUNTIME — no salting in the query.
    val confs = Seq(
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "64KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "64KB",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false")
    val prev = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val fact = spark.range(0, 300000).select(
        when(col("id") % 10 < 9, lit(0L)).otherwise(col("id") % 100).as("k"),
        col("id").as("payload"))
      val dim = spark.range(0, 100).select(col("id").as("k"),
        (col("id") * 2).as("v"))
      val joined = fact.join(dim, "k")
      // drive THIS queryExecution's adaptive plan (count()/write would
      // each build their own and the final adaptive plan stays invisible)
      val qe = joined.queryExecution
      assert(qe.executedPlan.execute().count() == 300000L)
      val plan = qe.executedPlan.toString
      assert(plan.contains("skew=true"),
        s"AQE did not mark the hot partition as skewed:\n$plan")
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("as-of read pushes the position filter into the state scan") {
    // ST25's scale contract: time travel costs ONE codegen'd seq<=S
    // predicate pushed to the parquet scan — dead epochs' row groups are
    // skipped by statistics, and the collapse shuffle sees only live
    // rows. A post-shuffle filter would read (and shuffle) everything.
    val plan = q("cdc_time_travel").queryExecution.executedPlan.toString
    assert(plan.contains("LessThanOrEqual(seq,2)"),
      s"as-of filter not pushed to the scan:\n$plan")
  }

  test("changes-since pushes the position predicate into the state scan") {
    // ST26's scale contract: a caught-up downstream's incremental poll
    // costs O(changed keys) — the position predicate prunes row groups
    // at the scan, it is not a post-shuffle filter.
    val plan = q("cdc_changes_since").queryExecution.executedPlan.toString
    assert(plan.contains("GreaterThan(seq,1)"),
      s"position filter not pushed to the state scan:\n$plan")
  }

  test("changes-between pushes BOTH window bounds into the state scan") {
    // the incident-window audit's scale contract: the (p1, p2] read
    // prunes row groups at both ends — epochs fully outside the window
    // are never read, so the audit costs O(window), not O(history)
    val plan = q("cdc_changes_between").queryExecution.executedPlan.toString
    assert(plan.contains("GreaterThan(seq,1)") &&
      plan.contains("LessThanOrEqual(seq,3)"),
      s"window bounds not pushed to the state scan:\n$plan")
  }

  test("a dropped column is never read from the state scan") {
    // ST24's scale contract: DROP COLUMN is O(1) metadata — the very
    // next read's scan schema excludes the dead physical column (no
    // rewrite needed to stop paying its I/O).
    val base = java.nio.file.Files.createTempDirectory("graft_plandrop").toString
    val v1 = spark.range(1, 3).select(lit("I").as("op"), col("id").as("seq"),
      org.apache.spark.sql.functions.timestamp_seconds(lit(1700000000L) + col("id")).as("ts"),
      col("id").as("okey"), lit(1.0).as("price"), lit("O").as("status"),
      concat(lit("ch"), col("id")).as("channel"))
    graft.streaming.StreamingOps.writeWave(v1, s"$base/in", 0)
    graft.streaming.StreamingOps.runCdcPass(spark,
      FileCdcSource(v1.schema, s"$base/in"),
      s"$base/ckpt", s"$base/state")
    val v2 = v1.drop("channel").withColumn("seq", col("seq") + 10)
    graft.streaming.StreamingOps.writeWave(v2, s"$base/in", 1)
    graft.streaming.StreamingOps.runCdcPass(spark,
      FileCdcSource(v2.schema, s"$base/in"),
      s"$base/ckpt", s"$base/state", dropCols = Map("channel" -> 5L))
    val plan = graft.streaming.StreamingOps
      .readLatestState(spark, s"$base/state")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("channel"),
      s"dropped column still read by the scan:\n$plan")
  }

  test("a bucket-set probe pushes the bucket filter into the state scan") {
    // the 100 TB state-layout contract: every state epoch materializes
    // `_bucket = xxhash64(key) % 64` clustered within its files, and a
    // touched-bucket probe (MV old-image lookup, chunk-restricted
    // repair) pushes `_bucket IS NULL OR _bucket IN (...)` to the scan
    // — row groups (post-compaction: whole files) outside the touched
    // buckets are pruned by statistics, converting the per-trigger
    // O(state-scan) into O(touched buckets). Correctness is bucket-
    // exact: a key's rows all hash to one bucket, so the collapse over
    // the probed subset serves exactly the probed keys' rows.
    val base = java.nio.file.Files.createTempDirectory("graft_planbkt").toString
    val ev = spark.range(1, 200).select(lit("I").as("op"),
      col("id").as("seq"),
      org.apache.spark.sql.functions.timestamp_seconds(
        lit(1700000000L) + col("id")).as("ts"),
      col("id").as("okey"), (col("id") * 1.0).as("price"),
      lit("O").as("status"))
    graft.streaming.StreamingOps.writeWave(ev, s"$base/in", 0)
    graft.streaming.StreamingOps.runCdcPass(spark,
      FileCdcSource(ev.schema, s"$base/in"),
      s"$base/ckpt", s"$base/state")
    val probe = graft.streaming.StreamingOps
      .readLatestState(spark, s"$base/state", buckets = Some(Seq(3L, 7L)))
    val plan = probe.queryExecution.executedPlan.toString
    assert(plan.contains("In(_bucket"),
      s"bucket set not pushed to the state scan:\n$plan")
    assert(plan.contains("IsNull(_bucket"),
      s"pre-bucketing NULL rows must pass the gate (pushed as Or):\n$plan")
    // the physical column never leaks into the served schema
    assert(!probe.columns.contains("_bucket"))
    // and the probe serves EXACTLY the full read's rows for those
    // buckets' keys (pruning is IO-only, never row-semantics)
    val all = graft.streaming.StreamingOps
      .readLatestState(spark, s"$base/state")
      .withColumn("_b", pmod(xxhash64(col("okey")), lit(64L)))
    val want = all.filter(col("_b").isin(3L, 7L)).drop("_b")
      .collect().map(_.toSeq).toSet
    assert(probe.collect().map(_.toSeq).toSet == want)
    assert(want.nonEmpty, "fixture too small: no keys landed in the probe")
  }

  test("no declared batch query plans an unbounded cartesian product") {
    // global scale guard: planning-only sweep over every PURE query (ones
    // whose builder neither runs a stream nor writes a sink — those
    // execute eagerly and are covered by their own specs). join_cross is
    // the one declared cartesian (region×nation, both tiny by schema).
    val eager = Set("stream_", "sink_", "mutation_", "partition_drop",
      "llm_pack_shards", "join_bucketed", "scan_parquet_schema_merge",
      "llm_sim_ivf_topk", "cdc_snapshot_handoff")
    val allowed = Set("join_cross")
    val offenders = SparkEntry.queries.keys.toSeq.sorted
      .filterNot(n => eager.exists(n.startsWith) || allowed(n))
      .flatMap { n =>
        val plan = q(n).queryExecution.executedPlan.toString
        if (plan.contains("CartesianProduct")) Some(n) else None
      }
    assert(offenders.isEmpty,
      s"cartesian product planned in: ${offenders.mkString(", ")}")
  }
}
