package graft.ops

import graft.Tables
import graft.functions.VectorOps
import org.apache.spark.sql.{Column, DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** SURVEY.md §2.9 + north-star LLM-data-pipeline operators: deduplication
  * (exact / MinHash-LSH / SimHash / n-gram Jaccard / embedding-cosine),
  * similarity search (brute-force + LSH-bucketed), text analysis
  * (lang-ID, quality, token counting, fingerprinting) and multimodal
  * column plumbing.
  *
  * Scale design: no operator here materializes an unblocked cross product.
  * Candidate generation is always an equi-join on a bucket key (LSH band,
  * sign-bucket, label block); the pairwise metric runs only inside buckets.
  * That is the shape that survives 100 TB — the bucket join shuffles once
  * on the bucket key and each bucket's pair loop is local to a task.
  */
object Llm {
  type Q = (SparkSession, String) => DataFrame

  // ---- shared Spark-side pieces -------------------------------------

  /** documents + planted exact duplicates (doc_id % 5 == 0, id += 100000). */
  private def docsWithExactDups(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.t(s, dir, "documents")
    d.select(col("doc_id"), col("text"))
      .unionByName(d.filter(col("doc_id") % 5 === 0)
        .select((col("doc_id") + 100000).as("doc_id"), col("text")))
  }

  /** documents + planted near-duplicates (first word dropped). */
  private def docsWithNearDups(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.t(s, dir, "documents")
    d.select(col("doc_id"), col("text"))
      .unionByName(d.filter(col("doc_id") % 5 === 0)
        .select((col("doc_id") + 100000).as("doc_id"),
          expr("substring(text, instr(text, ' ') + 1, length(text))").as("text")))
  }

  /** distinct 3-word shingles from a pre-split `words` array column —
    * split(text) evaluates ONCE per row, not once per generated element. */
  private[graft] val shinglesFromWords =
    """CASE WHEN size(words) >= 3 THEN
         array_distinct(transform(sequence(1, size(words) - 2),
           i -> concat_ws(' ', words[i-1], words[i], words[i+1])))
       ELSE array() END"""

  /** distinct 3-word shingles of `text` (empty when < 3 words). Re-splits
    * per element — fine for the input-bounded Jaccard probe and specs; the
    * MinHash scale path uses [[shinglesFromWords]] over a materialized
    * `words` column instead. */
  private[graft] val shingleExpr =
    """CASE WHEN size(split(text, ' ')) >= 3 THEN
         array_distinct(transform(sequence(1, size(split(text, ' ')) - 2),
           i -> concat_ws(' ', split(text, ' ')[i-1], split(text, ' ')[i], split(text, ' ')[i+1])))
       ELSE array() END"""

  /** MinHash hashing scheme, ENGINE-PORTABLE by construction and chosen
    * for cost at scale:
    *  - each WORD is hashed once: first 15 hex chars of md5(word) as a
    *    60-bit integer mod P (the sample_hash_bucket trick — Spark's
    *    conv(substring(md5..)) and DuckDB's CAST('0x'||substr(md5..))
    *    compute it identically);
    *  - a 3-shingle's hash is a linear combination of its three word
    *    hashes mod P — the shingle STRING never materializes (at corpus
    *    scale the concat of every 3-gram is the single biggest allocation
    *    in the naive pipeline, and md5 over short words is cheaper than
    *    md5 over 3-word strings);
    *  - the 16 signature hashes are the classic universal family
    *    h_k = (A_k·x + B_k) mod P over the shingle hashes.
    * All products stay < 2^61, so the arithmetic is exact 64-bit in both
    * engines — which is what lets the flagship dedup operator carry a
    * DuckDB oracle instead of leaning on Spark-internal xxhash64. The
    * Jaccard confirm also runs over the hashed-shingle sets: with ~10^3
    * distinct shingles per doc and a 10^9 hash space, a collision
    * perturbing any pair's Jaccard is vanishingly rare — and because the
    * oracle computes the identical hashes, the comparison is still exact,
    * not approximate. */
  private[graft] val MinhashP = 1000000007L
  private[graft] def minhashA(k: Int): Long = (k.toLong * 654435747L + 1L) % MinhashP
  private[graft] def minhashB(k: Int): Long = (k.toLong * 40503L + 17L) % MinhashP
  private val ShingleC = Seq(1000003L, 999983L, 999979L)

  /** The portable 60-bit word hash — the ONE home for the Spark half of
    * the engine contract (the DuckDB mirror is
    * `CAST(('0x' || substr(md5(w), 1, 15)) AS BIGINT)`). Minhash,
    * decontamination, and simhash all hash words through here; a change
    * (e.g. widening the hex slice) must land in both halves at once. */
  private def wordHash60(c: Column): Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast(LongType)

  /** hashed 3-shingles from a word-hash array `wh`, WITH multiplicity
    * (Spark side; 0-based element access, i runs 1..n-2 like
    * [[shinglesFromWords]]) — llm_repetition's duplicate-gram signal
    * needs the raw sequence. */
  private val rawHashedShinglesFromWh: String = {
    val Seq(c1, c2, c3) = ShingleC
    s"""CASE WHEN size(wh) >= 3 THEN
          transform(sequence(1, size(wh) - 2),
            i -> (wh[i-1] * ${c1}L + wh[i] * ${c2}L + wh[i+1] * ${c3}L) % ${MinhashP}L)
        ELSE CAST(array() AS ARRAY<BIGINT>) END"""
  }

  /** distinct hashed 3-shingles — the minhash set form. */
  private val hashedShinglesFromWh: String =
    s"array_distinct($rawHashedShinglesFromWh)"

  /** 131^j mod P for the 8-gram rolling hash (decontamination). */
  private val Gram8C: Seq[Long] =
    Iterator.iterate(1L)(g => g * 131L % MinhashP).take(8).toSeq

  /** hashed DISTINCT 8-grams from a word-hash array `wh` (Spark side;
    * 0-based element access). Each term is a product of two values < P ≈
    * 2^30, so the 8-term sum stays < 8.1e18 < 2^63 — exact 64-bit in both
    * engines. */
  private val hashedGramsFromWh: String = {
    val terms = Gram8C.zipWithIndex
      .map { case (c, j) => s"wh[i-1+$j] * ${c}L" }.mkString(" + ")
    s"""CASE WHEN size(wh) >= 8 THEN
          array_distinct(transform(sequence(1, size(wh) - 7),
            i -> ($terms) % ${MinhashP}L))
        ELSE array() END"""
  }

  /** embeddings as (vec_id, label, v: array<double>). */
  private def vecs(s: SparkSession, dir: String): DataFrame =
    Tables.t(s, dir, "embeddings").select(
      col("vec_id"), col("label"), VectorOps.toDouble(col("embedding")).as("v"))

  /** Nearest centroid by cosine (argmax as array_max + first-position
    * lookup): position is 1-based FIRST match, and the array is in
    * ascending c_id order (the struct's leading field drives array_sort),
    * so cosine ties resolve to the lowest c_id — the oracle's
    * (desc cos, asc c_id) ranking. Equality is exact (array_max returns
    * an element). */
  private def nearestCell(cents: Column): Column = {
    val cosArr = transform(cents, c =>
      call_function("cosine_sim", col("v"), c.getField("c_v")))
    element_at(cents,
      array_position(cosArr, array_max(cosArr)).cast(IntegerType))
      .getField("c_id")
  }

  /** Adds `cell` via a 1-row broadcast of the centroid array — a
    * scan-local argmax fold, zero data shuffles. */
  private def assignCells(df: DataFrame, centsDf: DataFrame): DataFrame =
    df.crossJoin(broadcast(centsDf))
      .withColumn("cell", nearestCell(col("cents")))
      .drop("cents")

  /** sign-bucket of the first 8 dims — the LSH bucket key. */
  private val signBucket: Column =
    (0 until 8).map(j => when(element_at(col("v"), j + 1) > 0, 1 << j).otherwise(0))
      .reduce(_ + _).as("bucket")

  // ---- shared DuckDB-side pieces ------------------------------------

  private val wordsSql = "string_split(text, ' ')"

  private val shingleSql =
    s"""list_distinct(list_transform(generate_series(1, greatest(len($wordsSql) - 2, 0)),
          i -> $wordsSql[i] || ' ' || $wordsSql[i+1] || ' ' || $wordsSql[i+2]))"""

  /** strict left-fold dot product — bit-equal to CosineSim's accumulation. */
  private def dotSql(a: String, b: String): String =
    s"""list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
          list_transform(list_zip($a, $b), s -> s[1] * s[2])), (p, q) -> p + q)"""

  private def cosSql(a: String, b: String): String =
    s"(${dotSql(a, b)} / (sqrt(${dotSql(a, a)}) * sqrt(${dotSql(b, b)})))"

  private val vecsCte =
    """vecs AS (SELECT vec_id, label,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings)"""

  private val bucketSql =
    """(CASE WHEN v[1] > 0 THEN 1 ELSE 0 END + CASE WHEN v[2] > 0 THEN 2 ELSE 0 END +
        CASE WHEN v[3] > 0 THEN 4 ELSE 0 END + CASE WHEN v[4] > 0 THEN 8 ELSE 0 END +
        CASE WHEN v[5] > 0 THEN 16 ELSE 0 END + CASE WHEN v[6] > 0 THEN 32 ELSE 0 END +
        CASE WHEN v[7] > 0 THEN 64 ELSE 0 END + CASE WHEN v[8] > 0 THEN 128 ELSE 0 END)"""

  /** DuckDB CTE chain ending in `confirmed(a_id, b_id, jaccard)` — the
    * SQL mirror of [[minhashConfirmedPairs]], shared by the
    * llm_dedup_minhash and llm_dedup_clusters oracles. */
  private lazy val minhashPairCtes: String = {
    val Seq(c1, c2, c3) = ShingleC
    val sigEntries = (0 until 16).map(k =>
      s"list_min(list_transform(sh, x -> (${minhashA(k)} * x + ${minhashB(k)}) % $MinhashP))")
      .mkString(",\n                 ")
    val bandSelects = (0 until 4).map { b =>
      val bv = (0 until 4).map(i => s"CAST(sig[${b * 4 + i + 1}] AS VARCHAR)")
        .mkString(" || '|' || ")
      s"SELECT doc_id, $b AS band, $bv AS bv FROM sig"
    }.mkString("\n              UNION ALL\n              ")
    s"""nd AS ($nearDupDocsSql),
            whs AS (SELECT doc_id,
                      list_transform(string_split(text, ' '), w ->
                        CAST(('0x' || substr(md5(w), 1, 15)) AS BIGINT) % $MinhashP) AS wh
                    FROM nd),
            shf AS (SELECT doc_id,
                      list_distinct(list_transform(
                        generate_series(1, greatest(len(wh) - 2, 0)),
                        i -> (wh[i] * $c1 + wh[i+1] * $c2 + wh[i+2] * $c3) % $MinhashP)) AS sh
                    FROM whs),
            sig AS (SELECT doc_id, [$sigEntries] AS sig FROM shf),
            bands AS (
              $bandSelects),
            pairs AS (SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
                      FROM bands a JOIN bands b
                        ON a.band = b.band AND a.bv = b.bv AND a.doc_id < b.doc_id),
            scored AS (SELECT p.a_id, p.b_id,
                         CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE) /
                         CAST(len(list_distinct(list_concat(sa.sh, sb.sh))) AS DOUBLE)
                           AS jaccard
                       FROM pairs p
                       JOIN shf sa ON p.a_id = sa.doc_id
                       JOIN shf sb ON p.b_id = sb.doc_id),
            confirmed AS (SELECT a_id, b_id, jaccard FROM scored
                          WHERE jaccard >= 0.6)"""
  }

  /** The L2a confirmed-near-dup-pair pipeline (a_id, b_id, jaccard ≥ 0.6),
    * shared by llm_dedup_minhash (which just orders it) and
    * llm_dedup_clusters (which runs connected components over it).
    *
    * split(text) runs once per row; each WORD is md5-hashed once and
    * every downstream value (shingle hashes, signatures, band keys,
    * Jaccard sets) is 64-bit arithmetic over long arrays — no shingle
    * string is ever built. The (doc_id, sh) table is pinned with a LAZY
    * persist(MEMORY_AND_DISK), so the band fan-out and the Jaccard
    * confirm share ONE tokenize+hash pass without the separate eager
    * materialization job a localCheckpoint would run (measured ~1.5 s of
    * the query's cost at sf0.1); at cluster scale the disk tier of the
    * same StorageLevel (or a staged parquet write) plays this role.
    *
    * NOTE no size(sh)-based filter here: a Filter on the derived array
    * gets predicate-pushed below the projection, inlining the whole hash
    * pipeline into the condition (three copies of the word-hash transform
    * re-evaluated per shingle — an O(words·shingles) blowup measured at
    * 8x the query cost). Empty-shingle docs instead self-exclude through
    * NULL band keys: array_min of an empty array is NULL,
    * null-propagating concat makes bv NULL, and a NULL equi-join key
    * never matches — identical to the oracle's `||`. */
  /** (doc_id, sh): hashed distinct 3-shingle sets of a (doc_id, text)
    * frame — the minhash set form every dedup stage computes on. */
  private[graft] def shingleTableOf(docs: DataFrame): DataFrame =
    docs.withColumn("words", split(col("text"), " "))
      .withColumn("wh", transform(col("words"), w => wordHash60(w) % MinhashP))
      .withColumn("sh", expr(hashedShinglesFromWh))
      .select(col("doc_id"), col("sh"))

  /** (doc_id, band, bv): the LSH band table — 16 universal-family
    * signature mins sliced into 4 bands of 4, each band key a '|'-joined
    * string both engines build identically. This is the PERSISTED INDEX
    * artifact of the incremental path ([[dedupIncremental]]). */
  private[graft] def bandTableOf(sh: DataFrame): DataFrame =
    sh.withColumn("sig", array((0 until 16).map(k =>
        array_min(transform(col("sh"),
          x => (x * minhashA(k) + minhashB(k)) % MinhashP))): _*))
      .select(col("doc_id"),
        posexplode(array((0 until 4).map(b =>
          concat((0 until 4).flatMap(i => Seq(
            element_at(col("sig"), b * 4 + i + 1).cast(StringType), lit("|")))
            .dropRight(1): _*)): _*)))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "bv")

  /** Exact-Jaccard confirm over candidate (a_id, b_id) pairs: each side
    * rejoins its shingle set from `sh` AFTER candidate dedup, so the
    * wide arrays never ride the band join or the distinct. */
  /** `broadcastPairs = true` PINS the candidate side (and its first-join
    * result) as the broadcast build side, so the shingle table streams
    * through both probes without ever riding an exchange — the
    * incremental-ingest regime, where the contract is candidates ≪
    * index (candidates are batch-bounded). The one-shot paths keep the
    * default: their pair set scales with the corpus and must stay free
    * to shuffle. */
  private def jaccardConfirm(pairs: DataFrame, sh: DataFrame,
      broadcastPairs: Boolean = false): DataFrame = {
    def hint(df: DataFrame) = if (broadcastPairs) broadcast(df) else df
    hint(hint(pairs)
      .join(sh.select(col("doc_id").as("a_id"), col("sh").as("a_sh")), "a_id"))
      .join(sh.select(col("doc_id").as("b_id"), col("sh").as("b_sh")), "b_id")
      .withColumn("jaccard",
        size(array_intersect(col("a_sh"), col("b_sh"))).cast(DoubleType) /
          size(array_union(col("a_sh"), col("b_sh"))).cast(DoubleType))
      .filter(col("jaccard") >= 0.6)
      .select(col("a_id"), col("b_id"), col("jaccard"))
  }

  private def minhashConfirmedPairs(s: SparkSession, dir: String): DataFrame = {
    val docs = graft.CacheRegistry.track(
      shingleTableOf(docsWithNearDups(s, dir))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val bands = bandTableOf(docs)
    val a = bands.select(col("doc_id").as("a_id"), col("band"), col("bv"))
    val b = bands.select(col("doc_id").as("b_id"), col("band"), col("bv"))
    val pairs = a.join(b, Seq("band", "bv")).filter(col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id")).distinct()
    jaccardConfirm(pairs, docs)
  }

  /** Seed the incremental dedup's PERSISTED INDEX from a corpus
    * snapshot: the (doc_id, sh) shingle table and its (doc_id, band, bv)
    * band table, written as parquet under `indexDir`. Runs once per
    * corpus; every later ingest is [[dedupIncremental]]. */
  private[graft] def dedupIndexSeed(s: SparkSession, snapshot: DataFrame,
      indexDir: String): Unit = {
    val sh = graft.CacheRegistry.track(shingleTableOf(snapshot)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    sh.write.mode("overwrite").parquet(s"$indexDir/shingles")
    bandTableOf(sh).write.mode("overwrite").parquet(s"$indexDir/bands")
  }

  /** Incremental dedup-on-ingest (L2i) — the O(batch) pipeline shape a
    * 100 TB corpus demands: dedup an ARRIVING batch of (doc_id, text)
    * against the PERSISTED index (read from parquet, never recomputed),
    * then advance the index with only the batch's own artifacts.
    *
    * Work per ingest: tokenize/hash the BATCH only; candidate pairs come
    * from the batch's bands equi-joined against index ∪ batch bands —
    * batch×index and batch×batch, never index×index (those pairs were
    * emitted when their younger doc arrived). The batch side carries an
    * EXPLICIT broadcast hint (the contract is batch ≪ index, per
    * ingest; pinned rather than left to AQE's runtime guess), and the
    * Jaccard confirm broadcasts the batch-bounded candidate frame the
    * same way — so neither the index bands nor the index shingles ever
    * ride an exchange (PlanSpec-asserted); the corpus text is NEVER
    * re-read. Result pinned via
    * localCheckpoint BEFORE the index append — it derives from the very
    * files the append extends (the repairState pattern) — then the
    * batch's shingles/bands append so the NEXT ingest sees them.
    *
    * Returns confirmed (a_id, b_id, jaccard ≥ 0.6) pairs involving at
    * least one batch doc. Over any split of a corpus into snapshot +
    * successive batches, the union of per-ingest results plus the
    * snapshot's own pairs equals the full recompute — LlmSpec proves the
    * equivalence property. */
  private[graft] def dedupIncremental(s: SparkSession, batch: DataFrame,
      indexDir: String): DataFrame = {
    val (confirmed0, newSh, newBands) = dedupIncrementalFrame(s, batch, indexDir)
    val confirmed = confirmed0.localCheckpoint()
    newSh.write.mode("append").parquet(s"$indexDir/shingles")
    newBands.write.mode("append").parquet(s"$indexDir/bands")
    confirmed
  }

  /** [[dedupIncremental]]'s un-pinned query (confirmed pairs, batch
    * shingles, batch bands) — split out so PlanSpec can assert the plan
    * shape BEFORE the localCheckpoint collapses it. */
  private[graft] def dedupIncrementalFrame(s: SparkSession, batch: DataFrame,
      indexDir: String): (DataFrame, DataFrame, DataFrame) = {
    val newSh = graft.CacheRegistry.track(shingleTableOf(batch)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val newBands = graft.CacheRegistry.track(bandTableOf(newSh)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    // retired docs' bands stop generating candidates NOW (their rows are
    // physically reclaimed at the next compaction); the shingle side
    // needs no gate — a pair only reaches the confirm through the bands
    val oldBands = dropRetired(s, indexDir,
      s.read.parquet(s"$indexDir/bands"), "doc_id")
    val oldSh = s.read.parquet(s"$indexDir/shingles")
    // the batch bands are the EXPLICIT broadcast build side (the
    // exactIngestFrame pattern — the contract is batch ≪ index, pinned
    // here rather than left to AQE's runtime guess): the index-bands
    // scan streams through the join probe and never rides an exchange
    val pairs = broadcast(
        newBands.select(col("doc_id").as("n_id"), col("band"), col("bv")))
      .join(oldBands.unionByName(newBands)
        .select(col("doc_id").as("o_id"), col("band"), col("bv")),
        Seq("band", "bv"))
      .filter(col("n_id") =!= col("o_id"))
      .select(least(col("n_id"), col("o_id")).as("a_id"),
        greatest(col("n_id"), col("o_id")).as("b_id"))
      .distinct()
    (jaccardConfirm(pairs, oldSh.unionByName(newSh), broadcastPairs = true),
      newSh, newBands)
  }

  /** APPLY the dedup at ingest time — what a production pipeline ships
    * downstream: the arriving batch minus every doc confirmed as a
    * near-dup of something OLDER (an index doc or an earlier doc in the
    * same batch; keep-lowest-id, L2g's policy at the ingest boundary).
    * One [[dedupIncremental]] pass (which also advances the index — the
    * DROPPED doc's artifacts stay indexed, so a third copy arriving
    * later still dedups against it) plus one batch-bounded anti-join
    * (AQE broadcasts the drop list). Assumes ingest-monotone ids (batch
    * ids above index ids — the production norm): each confirmed pair's
    * GREATER member is then always the arriving doc, so only batch docs
    * are ever dropped. */
  private[graft] def dedupIngestApply(s: SparkSession, batch: DataFrame,
      indexDir: String): DataFrame = {
    val drops = dedupIncremental(s, batch, indexDir)
      .select(col("b_id").as("doc_id")).distinct()
    batch.join(drops, Seq("doc_id"), "left_anti")
  }

  /** (doc_id, g): hashed 8-gram table of a (doc_id, text) frame — L6a's
    * contamination unit, shared by the one-shot query and the
    * incremental ingest. */
  private def gramTable(df: DataFrame): DataFrame =
    df.withColumn("words", split(col("text"), " "))
      .withColumn("wh", transform(col("words"), w => wordHash60(w) % MinhashP))
      .select(col("doc_id"), explode(expr(hashedGramsFromWh)).as("g"))

  /** Seed the incremental DECONTAMINATION index: the benchmark suite's
    * distinct hashed 8-grams persisted under `indexDir/grams` — built
    * once per benchmark release, probed by every ingest. */
  private[graft] def decontamIndexSeed(s: SparkSession, bench: DataFrame,
      indexDir: String): Unit =
    gramTable(bench).select(col("g")).distinct()
      .write.mode("overwrite").parquet(s"$indexDir/grams")

  /** Incremental decontamination-on-ingest: gram the ARRIVING batch
    * only and probe the persisted benchmark gram set by broadcast (a
    * benchmark suite is bounded by nature — the broadcast never grows
    * with the corpus), counting overlaps per doc. The corpus is never
    * re-grammed; the index is read, never rebuilt. */
  private[graft] def decontamIngest(s: SparkSession, batch: DataFrame,
      indexDir: String): DataFrame = {
    val idx = s.read.parquet(s"$indexDir/grams")
    val hits = gramTable(batch).join(broadcast(idx), Seq("g"))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_hits"))
    batch.select(col("doc_id")).join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        (coalesce(col("n_hits"), lit(0L)) > 0).as("contaminated"))
      .orderBy(col("doc_id"))
  }

  /** Physical key-hash bucketing of the EXACT-dedup index — the state
    * dir's `_bucket` discipline applied to the LLM index side: hash
    * files cluster by `xxhash64(text_hash) % 64`, and the ingest probe
    * pushes the BATCH's bucket set into the index scan, so a small
    * (streaming-sized) ingest prunes row groups / files instead of
    * scanning the whole accumulated index. A batch touching every
    * bucket skips the gate (nothing to prune); rows from pre-bucketing
    * files surface NULL and always pass. The bands index deliberately
    * does NOT bucket: a batch's (band, bv) key set is ~16× its doc
    * count and saturates any bucket space immediately — there the df
    * cap and the broadcast probe are the levers. */
  private val IndexBuckets = 64L
  private def hashBucket: Column =
    pmod(xxhash64(col("text_hash")), lit(IndexBuckets))

  /** Seed the incremental EXACT-dedup index: the snapshot's distinct
    * normalized content hashes, persisted under `indexDir/hashes`,
    * clustered by hash bucket so ingest probes prune. */
  private[graft] def exactIndexSeed(s: SparkSession, snapshot: DataFrame,
      indexDir: String): Unit =
    snapshot.select(sha2(lower(trim(col("text"))), 256).as("text_hash"))
      .distinct()
      .withColumn("_bucket", hashBucket)
      .repartition(col("_bucket"))
      .sortWithinPartitions("_bucket")
      .write.mode("overwrite").parquet(s"$indexDir/hashes")

  /** Incremental EXACT dedup-on-ingest: ship each arriving doc whose
    * normalized hash is new — not in the index, and not claimed by a
    * lower-id doc in the same batch — then append the batch's fresh
    * hashes for the next ingest. The 100 TB shape: the INDEX IS NEVER
    * SHUFFLED — it is scanned once into a left-semi join against the
    * broadcast batch-hash set (the "which of MY hashes exist" probe,
    * batch-bounded output), and the batch then anti-joins that tiny
    * probe result by broadcast. Returns (text_hash, doc_id) keepers. */
  private[graft] def exactIngestApply(s: SparkSession, batch: DataFrame,
      indexDir: String): DataFrame = {
    val kept = exactIngestFrame(s, batch, indexDir)
      .localCheckpoint() // pinned BEFORE the index append it derives from
    kept.select(col("text_hash"))
      .withColumn("_bucket", hashBucket)
      .write.mode("append").parquet(s"$indexDir/hashes")
    // a SHIPPED hash is live content again — drop it from the retired
    // list ([[exactRetire]]): the hash IS the identity here, so leaving
    // it retired would ship every later duplicate of the re-arrived
    // content too (the near-dup index has no such collision — its
    // identity is the per-doc id, and a re-arrival gets a fresh one)
    val p = s"$indexDir/retired_hashes"
    if (graft.streaming.StateFs.exists(p)) {
      val keptRetired = s.read.parquet(p).select(col("text_hash")).distinct()
        .join(broadcast(kept.select(col("text_hash"))),
          Seq("text_hash"), "left_anti")
        .localCheckpoint()
      if (keptRetired.isEmpty) graft.streaming.StateFs.deleteRecursive(p)
      else replaceIndexTable(keptRetired.coalesce(1), p)
    }
    kept
  }

  /** [[exactIngestApply]]'s un-pinned query — split out so PlanSpec can
    * assert the no-index-shuffle shape BEFORE the localCheckpoint
    * collapses it. */
  private[graft] def exactIngestFrame(s: SparkSession, batch: DataFrame,
      indexDir: String): DataFrame = {
    val hashed = graft.CacheRegistry.track(
      batch.withColumn("text_hash", sha2(lower(trim(col("text"))), 256))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    // the batch's touched buckets (≤ IndexBuckets values, one tiny
    // distinct over the persisted batch) pushed into the index scan —
    // row-group/file pruning for streaming-sized ingests, skipped when
    // the batch saturates the bucket space
    val touched = hashed.select(hashBucket.as("_b")).distinct()
      .collect().map(_.getLong(0)).toSeq
    val idx0 = s.read.parquet(s"$indexDir/hashes")
    val idx = dropRetiredHashes(s, indexDir,
      (if (touched.size < IndexBuckets && idx0.columns.contains("_bucket"))
        idx0.filter(col("_bucket").isNull || col("_bucket").isin(touched: _*))
      else idx0).select(col("text_hash")))
    val present = idx
      .join(broadcast(hashed.select(col("text_hash")).distinct()),
        Seq("text_hash"), "left_semi")
    val fresh = hashed.join(broadcast(present), Seq("text_hash"), "left_anti")
    fresh.groupBy(col("text_hash")).agg(min(col("doc_id")).as("doc_id"))
  }

  /** Replace one index table with `df` through
    * [[graft.streaming.StateFs.replaceDir]]. `df` is built after the
    * swap's heal; a frame the caller keeps using after the swap MUST be
    * pinned (localCheckpoint), or it re-reads a dir the swap moved. */
  private def replaceIndexTable(df: => DataFrame, live: String): Unit =
    graft.streaming.StateFs.replaceDir(live, s"${live}_staging",
      s"${live}_old")(df.write.mode("overwrite").parquet(_))

  /** Seed the incremental CLUSTER layer: [[dedupIndexSeed]] plus the
    * snapshot's own CC labels persisted as `labels` (doc_id, lbl). The
    * index×index pair pass runs exactly once — here; every later batch
    * is [[dedupClustersIngest]]'s contracted O(batch) update. */
  private[graft] def dedupClustersSeed(s: SparkSession, snapshot: DataFrame,
      indexDir: String): Unit = {
    dedupIndexSeed(s, snapshot, indexDir)
    val sh = s.read.parquet(s"$indexDir/shingles")
    val bands = s.read.parquet(s"$indexDir/bands")
    val pairs = bands.select(col("doc_id").as("a_id"), col("band"), col("bv"))
      .join(bands.select(col("doc_id").as("b_id"), col("band"), col("bv")),
        Seq("band", "bv"))
      .filter(col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id")).distinct()
    ccLabels(jaccardConfirm(pairs, sh).select(col("a_id"), col("b_id")))
      .write.mode("overwrite").parquet(s"$indexDir/labels")
  }

  /** Incremental CLUSTER maintenance — the decision layer kept current
    * as batches arrive, via GRAPH CONTRACTION: each new confirmed
    * pair's endpoints map through the existing labels, so an old
    * clustered doc is represented by its component's label — which IS
    * the component's minimum doc id, so the contracted component's min
    * equals the true global min — and CC runs over the contracted edge
    * set (bounded by the batch's pairs, NEVER the corpus graph; merging
    * two 10M-doc components costs one supernode edge). Endpoints with
    * no label (a new doc, or an old doc clustered for the first time)
    * enter as themselves. Only touched components relabel; untouched
    * labels carry. Persists and returns the full updated label table —
    * provably equal to the full recompute (LlmSpec composition
    * property; the oracle query hash-matches llm_dedup_clusters' SQL).
    * Also advances the band/shingle index (via [[dedupIncremental]]). */
  private[graft] def dedupClustersIngest(s: SparkSession, batch: DataFrame,
      indexDir: String): DataFrame = {
    val newPairs = dedupIncremental(s, batch, indexDir) // pinned by contract
    val old = s.read.parquet(s"$indexDir/labels")
    val contracted = newPairs
      .join(old.select(col("doc_id").as("a_id"), col("lbl").as("a_lbl")),
        Seq("a_id"), "left")
      .join(old.select(col("doc_id").as("b_id"), col("lbl").as("b_lbl")),
        Seq("b_id"), "left")
      .select(coalesce(col("a_lbl"), col("a_id")).as("a_id"),
        coalesce(col("b_lbl"), col("b_id")).as("b_id"))
      .filter(col("a_id") =!= col("b_id"))
    val superRe = ccLabels(contracted)
      .select(col("doc_id").as("node"), col("lbl").as("nlbl"))
    // quiet batch (no confirmed pairs — the common production case):
    // the band index advanced, no component changed, so the label table
    // is untouched — skip the rewrite entirely (ccLabels' result is
    // checkpointed, so the probe is a metadata count)
    if (superRe.isEmpty) return old
    // expand: members of touched components take the supernode's new
    // label; untouched members carry; nodes that were never labels
    // (new docs, newly-clustered old docs) become members themselves
    val updatedOld = old.join(superRe, col("lbl") === col("node"), "left")
      .select(col("doc_id"), coalesce(col("nlbl"), col("lbl")).as("lbl"))
    val freshMembers = superRe
      .join(old.select(col("lbl").as("node")).distinct(), Seq("node"), "left_anti")
      .select(col("node").as("doc_id"), col("nlbl").as("lbl"))
    val updated = updatedOld.unionByName(freshMembers).localCheckpoint()
    replaceIndexTable(updated, s"$indexDir/labels")
    updated
  }

  /** Compact one append-accumulated index table: each ingest appends a
    * small file, so after N ingests every index scan pays N-file open
    * overhead — the classic small-files decay of any append-only
    * artifact. Rewrites the dir as `targetFiles` coalesced parquet
    * files; row content is untouched, so every consumer is invariant
    * (llm_dedup_stream compacts mid-stream under the SAME oracle).
    * The rewrite replaces the table through [[replaceIndexTable]]'s
    * crash-safe swap — run it between ingests (a maintenance window),
    * exactly as llm_dedup_stream does inside its serial foreachBatch. */
  private def compactIndexTable(s: SparkSession, live: String,
      targetFiles: Int, clusterCol: Option[String] = None,
      transform: DataFrame => DataFrame = identity): Unit =
    replaceIndexTable({
      // a cluster column (the ANN index's cell, the exact index's
      // bucket) re-aligns the compacted files to it, restoring the probe
      // pruning the per-ingest appends progressively dilute; `transform`
      // is the retirement hook — dropping a retired doc's rows here is
      // the one moment the whole table is rewritten anyway, so
      // retirement rides the maintenance job for free
      val raw = transform(s.read.parquet(live))
      clusterCol.fold(raw.repartition(targetFiles))(c =>
        raw.repartition(targetFiles, col(c)).sortWithinPartitions(c))
    }, live)

  // ── INDEX RETIREMENT ──────────────────────────────────────────────
  // A doc deleted from the corpus must stop claiming dedup victories
  // and ANN neighborships — otherwise the index only ever grows and a
  // re-ingested near-dup of a long-deleted doc is dropped against a
  // ghost. The ST16 purge-floor pattern applied to the LLM index
  // discipline: retirement is O(retired) metadata at declare time (an
  // append to a tiny `retired` list), takes effect IMMEDIATELY (every
  // index-side probe anti-joins the broadcast list — bounded by
  // retire-since-last-compaction, not the corpus), and is physically
  // reclaimed by the NEXT index compaction, which then clears the list
  // (crash between the two: entries linger, the anti-join drops rows
  // already gone — idempotent).

  private def retiredPath(indexDir: String) = s"$indexDir/retired"

  private def appendRetired(s: SparkSession, indexDir: String,
      ids: Seq[Long]): Unit = {
    require(ids.nonEmpty, "retire needs at least one doc id")
    s.createDataFrame(java.util.Arrays.asList(
        ids.map(org.apache.spark.sql.Row(_)): _*),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id",
          org.apache.spark.sql.types.LongType, nullable = false))))
      .coalesce(1).write.mode("append").parquet(retiredPath(indexDir))
  }

  private def retiredDf(s: SparkSession, indexDir: String): Option[DataFrame] =
    if (graft.streaming.StateFs.exists(retiredPath(indexDir)))
      Some(s.read.parquet(retiredPath(indexDir))
        .select(col("doc_id")).distinct())
    else None

  /** Anti-join `df`'s `idCol` against the index's retired list (no-op
    * when nothing is retired). Broadcast by contract: the list is
    * bounded by retirements since the last compaction. */
  private def dropRetired(s: SparkSession, indexDir: String,
      df: DataFrame, idCol: String): DataFrame =
    retiredDf(s, indexDir).fold(df)(r =>
      df.join(broadcast(r.select(col("doc_id").as(idCol))),
        Seq(idCol), "left_anti"))

  /** Retire docs from the NEAR-DUP index: their bands stop generating
    * candidates and their shingles stop confirming as of this call;
    * [[dedupIndexCompact]] physically drops their rows. Label-table
    * rows (cluster membership) drop at the same compaction — a retired
    * doc is no longer a member; its id may live on as other members'
    * label VALUE, which is an identifier, not a membership claim. */
  private[graft] def dedupRetire(s: SparkSession, indexDir: String,
      ids: Seq[Long]): Unit = appendRetired(s, indexDir, ids)

  /** Retire vectors from the ANN index: they stop surfacing as
    * neighbors as of this call; [[annIndexCompact]] drops their
    * assignment rows (and a later [[annReseed]] no longer counts them
    * toward centroids). */
  private[graft] def annRetire(s: SparkSession, indexDir: String,
      ids: Seq[Long]): Unit = appendRetired(s, indexDir, ids)

  /** Retire docs from the EXACT-dedup index. The hash index stores no
    * doc ids (hashes only), so retirement is declared by the docs'
    * (text) content: their normalized hashes append to a
    * `retired_hashes` list, the ingest probe stops matching them
    * immediately, and [[exactIndexCompact]] reclaims the rows. Retiring
    * a hash whose doc still lives in the corpus would readmit its next
    * duplicate — callers retire exactly the deleted docs' texts. */
  private[graft] def exactRetire(s: SparkSession, indexDir: String,
      docs: DataFrame): Unit =
    docs.select(sha2(lower(trim(col("text"))), 256).as("text_hash"))
      .distinct()
      .coalesce(1).write.mode("append")
      .parquet(s"$indexDir/retired_hashes")

  private def dropRetiredHashes(s: SparkSession, indexDir: String,
      df: DataFrame): DataFrame =
    if (graft.streaming.StateFs.exists(s"$indexDir/retired_hashes"))
      df.join(broadcast(s.read.parquet(s"$indexDir/retired_hashes")
          .select(col("text_hash")).distinct()),
        Seq("text_hash"), "left_anti")
    else df

  /** [[compactIndexTable]] over the incremental-dedup index's two
    * tables — the maintenance op [[dedupIncremental]]'s appends need.
    * Physically reclaims RETIRED docs' rows (shingles, bands, and — when
    * the cluster layer exists — label memberships), then clears the
    * retired list: its entries are now fact on disk. */
  private[graft] def dedupIndexCompact(s: SparkSession, indexDir: String,
      targetFiles: Int = 4): Unit = {
    val gate = (df: DataFrame) => dropRetired(s, indexDir, df, "doc_id")
    Seq("shingles", "bands").foreach(t =>
      compactIndexTable(s, s"$indexDir/$t", targetFiles, transform = gate))
    if (graft.streaming.StateFs.exists(s"$indexDir/labels"))
      compactIndexTable(s, s"$indexDir/labels", targetFiles,
        transform = gate)
    graft.streaming.StateFs.deleteRecursive(retiredPath(indexDir))
  }

  /** [[compactIndexTable]] over the ANN index's assignment table (the
    * centroid table is 16 rows in one file — nothing to compact).
    * Physically reclaims retired vectors' assignments, then clears the
    * retired list. */
  private[graft] def annIndexCompact(s: SparkSession, indexDir: String,
      targetFiles: Int = 4): Unit = {
    compactIndexTable(s, s"$indexDir/assigned", targetFiles,
      clusterCol = Some("cell"),
      transform = df => dropRetired(s, indexDir, df, "n_id"))
    graft.streaming.StateFs.deleteRecursive(retiredPath(indexDir))
  }

  /** [[compactIndexTable]] over the EXACT-dedup hash index — the
    * maintenance op that restores the bucket clustering per-ingest
    * appends progressively dilute (each append lands unclustered small
    * files whose bucket range spans everything, so the probe's pruning
    * decays back toward a full scan without this). Physically reclaims
    * retired hashes ([[exactRetire]]), then clears the list. */
  private[graft] def exactIndexCompact(s: SparkSession, indexDir: String,
      targetFiles: Int = 4): Unit = {
    compactIndexTable(s, s"$indexDir/hashes", targetFiles,
      clusterCol = Some("_bucket"),
      transform = df => dropRetiredHashes(s, indexDir, df))
    graft.streaming.StateFs.deleteRecursive(s"$indexDir/retired_hashes")
  }

  /** Centroid REFRESH (the periodic re-train [[annIngest]]'s scaladoc
    * defers drift to) as a first-class maintenance op: after many
    * ingests the fixed seed-time centroids no longer reflect the
    * accumulated distribution, so probed cells mis-route queries and
    * recall decays. The refresh re-runs the seed's single-iteration
    * k-means over the FULL accumulated index — snapshot plus every
    * ingested batch, read from the `assigned` table itself, never the
    * stale seed snapshot — then reassigns EVERY indexed vector to the
    * refreshed centroids and swaps both tables through
    * [[replaceIndexTable]].
    *
    * Both replacement tables are fully materialized (localCheckpoint)
    * BEFORE either swap, so no stage write ever reads a half-swapped
    * index. A crash between the two swaps leaves refreshed centroids
    * over pre-refresh assignments — every vector is still present and
    * candidate generation still works (cell ids only route probes), at
    * temporarily degraded recall; re-running the reseed heals it. No
    * vector is ever lost at any crash point.
    *
    * O(index) by design — this is the amortized maintenance job (run it
    * every N ingests or on a recall probe), not the per-batch path;
    * per-batch stays [[annIngest]]'s O(batch). */
  private[graft] def annReseed(s: SparkSession, indexDir: String): Unit = {
    VectorOps.register(s)
    // pinned: everything below derives from the tables being replaced;
    // retired vectors (not yet physically compacted away) must not
    // count toward the refreshed centroids or re-enter the reassignment
    val all = dropRetired(s, indexDir,
        s.read.parquet(s"$indexDir/assigned"), "n_id")
      .select(col("n_id").as("vec_id"), col("n_v").as("v"))
      .localCheckpoint()
    val cents0 = all.orderBy(col("vec_id")).limit(16)
      .agg(array_sort(collect_list(struct(
        col("vec_id").as("c_id"), col("v").as("c_v")))).as("cents"))
    val a0 = graft.CacheRegistry.track(assignCells(all, cents0)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val refreshed = a0.groupBy(col("cell"))
      .agg(call_function("vec_dec_sum", col("v")).as("sx"),
        count(col("v")).as("n"))
      .select(col("cell").as("c_id"),
        transform(col("sx"),
          x => x.cast(DoubleType) / col("n").cast(DoubleType)).as("c_v"))
      .localCheckpoint()
    val cents1 = refreshed
      .agg(array_sort(collect_list(struct(col("c_id"), col("c_v")))).as("cents"))
    val reassigned = assignCells(a0.drop("cell"), cents1)
      .select(col("vec_id").as("n_id"), col("v").as("n_v"), col("cell"))
      .localCheckpoint()
    replaceIndexTable(refreshed, s"$indexDir/centroids")
    // keep the cell-clustered layout through the swap
    replaceIndexTable(reassigned.repartition(col("cell"))
      .sortWithinPartitions("cell"), s"$indexDir/assigned")
    // the rebuilt assignment table excluded retired vectors — their
    // retirement is now fact on disk, like after a compaction
    graft.streaming.StateFs.deleteRecursive(retiredPath(indexDir))
  }

  /** Seed the incremental ANN's PERSISTED IVF INDEX from a corpus
    * snapshot: one single-iteration k-means round (the llm_sim_ivf_topk
    * training — seeds are the 16 lowest snapshot ids, refined means are
    * DECIMAL(38,18) component sums for engine-portable bit-exactness),
    * then the refined (c_id, c_v) centroid table and the
    * (n_id, n_v, cell) assignment table written as parquet under
    * `indexDir`. The final assignment reads the centroids BACK from
    * parquet so the persisted index is exactly what assignment used
    * (doubles roundtrip parquet losslessly). Runs once per corpus;
    * every later ingest is [[annIngest]]. */
  private[graft] def annIndexSeed(s: SparkSession, snapshot: DataFrame,
      indexDir: String): Unit = {
    VectorOps.register(s)
    val all = snapshot.select(col("vec_id"), col("v"))
    val cents0 = all.orderBy(col("vec_id")).limit(16)
      .agg(array_sort(collect_list(struct(
        col("vec_id").as("c_id"), col("v").as("c_v")))).as("cents"))
    val a0 = graft.CacheRegistry.track(assignCells(all, cents0)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    a0.groupBy(col("cell"))
      .agg(call_function("vec_dec_sum", col("v")).as("sx"),
        count(col("v")).as("n"))
      .select(col("cell").as("c_id"),
        transform(col("sx"),
          x => x.cast(DoubleType) / col("n").cast(DoubleType)).as("c_v"))
      .write.mode("overwrite").parquet(s"$indexDir/centroids")
    val refined = s.read.parquet(s"$indexDir/centroids")
      .agg(array_sort(collect_list(struct(col("c_id"), col("c_v")))).as("cents"))
    // CELL-CLUSTERED layout: whole files align to cells, so an ingest's
    // probed-cell filter ([[annIngestFrame]]) prunes at file granularity
    assignCells(a0.drop("cell"), refined)
      .select(col("vec_id").as("n_id"), col("v").as("n_v"), col("cell"))
      .repartition(col("cell"))
      .sortWithinPartitions("cell")
      .write.mode("overwrite").parquet(s"$indexDir/assigned")
  }

  /** Incremental ANN ingest (L3d) — the O(batch) pipeline shape of
    * [[dedupIncremental]] for similarity search: an ARRIVING batch of
    * vectors is assigned to the PERSISTED IVF index's centroids (a
    * 16-row parquet read broadcast as one array — the assignment is a
    * scan-local argmax over the batch only), each batch vector probes
    * its top-4 cells, and candidates come from the index's assigned
    * table RESTRICTED to probed cells (cell equi-join against the
    * broadcast probe list — never a scan-wide cross join, never a
    * k-means recompute) plus the batch's own assignments (new vectors
    * must find each other). The top-k result is pinned BEFORE the
    * batch's assignments append to the index (the repairState pattern),
    * so the NEXT ingest sees them. Centroids stay fixed between ingests
    * — IVF's standard regime; drift is a periodic [[annReseed]]
    * refresh (k-means over the accumulated index, both tables swapped
    * crash-safely), not a per-batch job.
    *
    * Returns (q_id, rk, n_id, cos): top-3 neighbors over snapshot ∪
    * batch for every batch vector. */
  private[graft] def annIngest(s: SparkSession, batch: DataFrame,
      indexDir: String): DataFrame = {
    val (topk0, bAssigned) = annIngestFrame(s, batch, indexDir)
    val topk = topk0.localCheckpoint()
    bAssigned.write.mode("append").parquet(s"$indexDir/assigned")
    topk
  }

  /** [[annIngest]]'s un-pinned query (top-k frame, batch assignments) —
    * split out so PlanSpec can assert the plan shape BEFORE the
    * localCheckpoint collapses it. */
  private[graft] def annIngestFrame(s: SparkSession, batch: DataFrame,
      indexDir: String): (DataFrame, DataFrame) = {
    VectorOps.register(s)
    import org.apache.spark.sql.expressions.Window
    val cents = s.read.parquet(s"$indexDir/centroids")
      .agg(array_sort(collect_list(struct(col("c_id"), col("c_v")))).as("cents"))
    val bAssigned = graft.CacheRegistry.track(
      assignCells(batch.select(col("vec_id"), col("v")), cents)
        .select(col("vec_id").as("n_id"), col("v").as("n_v"), col("cell"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val wProbe = Window.partitionBy(col("q_id")).orderBy(desc("qcos"), asc("c_id"))
    val probes = graft.CacheRegistry.track(bAssigned
      .select(col("n_id").as("q_id"), col("n_v").as("q_v"))
      .crossJoin(broadcast(cents))
      .select(col("q_id"), col("q_v"), explode(col("cents")).as("c"))
      .select(col("q_id"), col("q_v"), col("c.c_id").as("c_id"),
        call_function("cosine_sim", col("q_v"), col("c.c_v")).as("qcos"))
      .withColumn("prn", row_number().over(wProbe)).filter(col("prn") <= 4)
      .select(col("q_id"), col("q_v"), col("c_id").as("cell"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    // the batch's PROBED CELLS (≤ centroid count, one tiny distinct over
    // the persisted probe list) pushed into the assigned-table scan: the
    // index is cell-clustered on disk ([[annIndexSeed]]/[[annIndexCompact]]),
    // so a streaming-sized ingest reads only its probed cells' row
    // groups/files instead of the whole accumulated index — the cell
    // restriction the equi-join imposes anyway, moved to the scan
    val probedCells = probes.select(col("cell")).distinct()
      .collect().map(_.get(0)).toSeq
    val candidates = dropRetired(s, indexDir,
        s.read.parquet(s"$indexDir/assigned")
          .filter(col("cell").isin(probedCells: _*)), "n_id")
      .unionByName(bAssigned)
    val wTop = Window.partitionBy(col("q_id")).orderBy(desc("cos"), asc("n_id"))
    val topk = candidates.join(broadcast(probes), Seq("cell"))
      .filter(col("q_id") =!= col("n_id"))
      .withColumn("cos", expr("cosine_sim(q_v, n_v)"))
      .withColumn("rk", row_number().over(wTop)).filter(col("rk") <= 3)
      .select(col("q_id"), col("rk"), col("n_id"), col("cos"))
    (topk, bAssigned)
  }

  /** Connected components over the confirmed near-dup graph: min-label
    * propagation iterated to FIXPOINT (each round one distributed join +
    * aggregate — the GraphX/Pregel shape; the driver reads only a 1-row
    * convergence count per round, bounded by the dup-graph diameter).
    * Returns (doc_id, lbl) for every CLUSTERED doc; lbl = the component's
    * minimum doc_id (the canonical keeper). Shared by llm_dedup_clusters
    * (which reports it) and llm_dedup_apply (which applies it). */
  private def dedupClusterLabels(s: SparkSession, dir: String): DataFrame = {
    val conf = minhashConfirmedPairs(s, dir)
    ccLabels(conf.select(col("a_id"), col("b_id")))
  }

  /** The min-label-propagation fixpoint over an (a_id, b_id) edge frame
    * — [[dedupClusterLabels]]'s engine, reused by the incremental
    * cluster maintenance ([[dedupClustersIngest]]) over its CONTRACTED
    * graph. */
  private def ccLabels(conf: DataFrame): DataFrame = {
    val edges = conf.select(col("a_id").as("src"), col("b_id").as("dst"))
      .unionByName(conf.select(col("b_id").as("src"), col("a_id").as("dst")))
      .localCheckpoint() // pinned: re-joined every round
    var labels = edges.select(col("src").as("doc_id")).distinct()
      .withColumn("lbl", col("doc_id")).localCheckpoint()
    var changed = 1L
    while (changed > 0) {
      val prop = edges
        .join(labels.select(col("doc_id").as("dst"), col("lbl").as("nlbl")), "dst")
        .groupBy(col("src")).agg(min(col("nlbl")).as("min_n"))
        .select(col("src").as("doc_id"), col("min_n"))
      // carry the old label through the checkpoint so the convergence
      // test is a filter+count on the materialized (tiny) table — no
      // extra join per round
      val next = labels.join(prop, Seq("doc_id"), "left")
        .select(col("doc_id"), col("lbl").as("old"),
          least(col("lbl"), coalesce(col("min_n"), col("lbl"))).as("lbl"))
        .localCheckpoint() // cut lineage: iterative plans otherwise grow
      changed = next.filter(col("lbl") =!= col("old")).count()
      labels = next.select(col("doc_id"), col("lbl"))
    }
    labels
  }

  // ---- queries -------------------------------------------------------

  val queries: Map[String, Q] = Map(
    // L1: exact dedup by normalized content hash; keep lowest doc_id.
    "llm_dedup_exact" -> ((s, dir) =>
      docsWithExactDups(s, dir)
        .groupBy(sha2(lower(trim(col("text"))), 256).as("text_hash"))
        .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
        .orderBy(col("keep_id"))),

    // L2a: MinHash(16) + LSH(4 bands × 4 rows) near-dup candidates, then
    // exact Jaccard confirm >= 0.6. Oracle-matched: the signature hashes
    // are the md5-derived universal family above (engine-portable), the
    // band key is the plain '|'-joined signature slice (a string both
    // engines build identically), and the emitted jaccard is the raw
    // IEEE ratio of two exact ints — no engine-internal hash anywhere.
    // Scale shape: the band join and the pair-distinct carry ONLY
    // (doc_id, band, bv) — the wide shingle arrays rejoin once per side
    // AFTER dedup, so the two widest shuffles of the naive formulation
    // (arrays through the candidate join, arrays through distinct) never
    // happen.
    "llm_dedup_minhash" -> ((s, dir) =>
      minhashConfirmedPairs(s, dir).orderBy(col("a_id"), col("b_id"))),

    // L2i: INCREMENTAL dedup-on-ingest — the production pipeline shape:
    // the original corpus (doc_id < 100000) seeds a persisted band+
    // shingle index; the near-dup docs then ARRIVE as a batch and dedup
    // against the index in O(batch) work — the index is read from
    // parquet, the corpus text never re-tokenized, and the batch's own
    // artifacts append so the next ingest sees them. The emitted pairs
    // are exactly the full recompute's pairs that involve a batch doc
    // (the oracle proves it; LlmSpec proves the multi-batch composition).
    "llm_dedup_incremental" -> ((s, dir) => {
      val all = docsWithNearDups(s, dir)
      val idx = s"${graft.TmpDirs.create("graft_dedup_idx")}/idx"
      dedupIndexSeed(s, all.filter(col("doc_id") < 100000), idx)
      dedupIncremental(s, all.filter(col("doc_id") >= 100000), idx)
        .orderBy(col("a_id"), col("b_id"))
    }),

    // L1b: INCREMENTAL EXACT dedup — the hash-index pipeline form of
    // L1: the snapshot's normalized hashes persist; the arriving batch
    // (planted exact copies — all must drop; novel reversed-text docs —
    // all must ship; and in-batch duplicates of the novel docs — the
    // lowest id wins) probes the index WITHOUT ever shuffling it
    // (index-side broadcast-semi against the batch hash set), then the
    // fresh hashes append for the next ingest.
    "llm_dedup_exact_incremental" -> ((s, dir) => {
      val d = Tables.t(s, dir, "documents")
      val all = docsWithExactDups(s, dir)
      val novel = d.filter(col("doc_id") % 5 === 1)
        .select((col("doc_id") + 200000).as("doc_id"),
          reverse(col("text")).as("text"))
      val novelDup = novel.select((col("doc_id") + 100000).as("doc_id"),
        col("text"))
      val idx = s"${graft.TmpDirs.create("graft_exact_idx")}/idx"
      exactIndexSeed(s, all.filter(col("doc_id") < 100000), idx)
      exactIngestApply(s,
        all.filter(col("doc_id") >= 100000)
          .unionByName(novel).unionByName(novelDup), idx)
        .select(col("doc_id")).orderBy(col("doc_id"))
    }),

    // L2m: INDEX RETIREMENT live under the oracle gate — the lifecycle
    // op of the persisted near-dup index (the delete/GDPR flow): a
    // subset of the seeded corpus is RETIRED before the ingest, so its
    // bands generate no candidates and its shingles confirm nothing —
    // the ingested batch's pair set equals the full recompute's
    // batch-touching pairs MINUS every pair with a retired member. The
    // retired list is O(retirements) driver-side metadata by design
    // (the ops surface takes an id list; %100 keeps it bounded), and
    // every retired id is %5==0, so each retirement provably removes a
    // pair the unretired run emits. Re-ingest readmission and
    // compaction invariance stay spec-covered in LlmSpec.
    "llm_dedup_retire" -> ((s, dir) => {
      val all = docsWithNearDups(s, dir)
      val idx = s"${graft.TmpDirs.create("graft_dedup_retire")}/idx"
      dedupIndexSeed(s, all.filter(col("doc_id") < 100000), idx)
      val retired = all.filter(col("doc_id") < 100000 &&
          col("doc_id") % 100 === 0)
        .select(col("doc_id")).collect().map(_.getLong(0)).toSeq
      dedupRetire(s, idx, retired)
      dedupIncremental(s, all.filter(col("doc_id") >= 100000), idx)
        .orderBy(col("a_id"), col("b_id"))
    }),

    // L2k: APPLY at the ingest boundary — the shipped batch: arriving
    // docs confirmed as near-dups of anything older (index or earlier
    // in-batch) are DROPPED (keep-lowest-id, L2g's policy), the rest
    // ship. The batch MIXES planted near-dups (which must all drop)
    // with genuinely novel docs (reversed text — which must all ship:
    // the oracle doubles as a false-positive assertion on novel text).
    // The dropped docs' artifacts still index, so a later third copy
    // dedups against them.
    "llm_dedup_ingest_apply" -> ((s, dir) => {
      val all = docsWithNearDups(s, dir)
      val fresh = Tables.t(s, dir, "documents")
        .filter(col("doc_id") % 5 === 1)
        .select((col("doc_id") + 200000).as("doc_id"),
          reverse(col("text")).as("text"))
      val idx = s"${graft.TmpDirs.create("graft_ingest_apply")}/idx"
      dedupIndexSeed(s, all.filter(col("doc_id") < 100000), idx)
      dedupIngestApply(s,
        all.filter(col("doc_id") >= 100000).unionByName(fresh), idx)
        .select(col("doc_id")).orderBy(col("doc_id"))
    }),

    // L2j: L2i AS A LIVE STREAM — dedup-on-ingest end-to-end: documents
    // ARRIVE through a file stream in two waves; each micro-batch dedups
    // against the persisted index and advances it before the next batch.
    // The emitted union across batches equals the one-shot incremental
    // result for ANY wave split (the LlmSpec composition law), so the
    // same oracle gates it. This is the north-star dedup operator as a
    // production pipeline, not a query.
    "llm_dedup_stream" -> ((s, dir) => {
      val all = docsWithNearDups(s, dir)
      val tmp = graft.TmpDirs.create("graft_dedup_stream")
      val idx = s"$tmp/idx"
      dedupIndexSeed(s, all.filter(col("doc_id") < 100000), idx)
      val arriving = all.filter(col("doc_id") >= 100000)
      graft.streaming.StreamingOps.writeWave(
        arriving.filter(col("doc_id") % 2 === 0), s"$tmp/in", 0)
      graft.streaming.StreamingOps.writeWave(
        arriving.filter(col("doc_id") % 2 =!= 0), s"$tmp/in", 1)
      val query = graft.streaming.StreamingOps.withNoIdleBatch(s) {
        s.readStream.schema(arriving.schema)
        .option("maxFilesPerTrigger", "1").parquet(s"$tmp/in")
        .writeStream.option("checkpointLocation", s"$tmp/ckpt")
        .foreachBatch { (batch: Dataset[Row], id: Long) =>
          dedupIncremental(s, batch.toDF(), idx)
            .write.mode("append").parquet(s"$tmp/out")
          // the maintenance op, live: fold the seed's + wave 0's
          // appended files mid-stream — wave 1 must see the identical
          // index (the SAME oracle gates the whole run)
          if (id == 0) dedupIndexCompact(s, idx)
        }
        .start()
      }
      query.processAllAvailable()
      query.stop()
      s.read.parquet(s"$tmp/out").orderBy(col("a_id"), col("b_id"))
    }),

    // L2f: near-dup CLUSTERS — the decision layer a real dedup pipeline
    // runs on top of pairwise candidates: connected components over the
    // confirmed near-dup graph, each doc labeled with its component's
    // minimum id (the canonical keeper). Min-label propagation iterated
    // to FIXPOINT: each round is one distributed join + aggregate (the
    // GraphX/Pregel shape); the driver-side loop only reads a 1-row
    // convergence count per round and is bounded by the dup-graph
    // diameter — at 100 TB this is exactly how large-scale CC runs.
    // Oracle: DuckDB computes the same fixpoint with a recursive CTE —
    // both converge to min-reachable-id, independent of iteration order,
    // so results match bit-for-bit.
    "llm_dedup_clusters" -> ((s, dir) =>
      dedupClusterLabels(s, dir)
        .select(col("doc_id"), col("lbl").as("cluster_id"),
          (col("doc_id") === col("lbl")).as("is_keeper"))
        .orderBy(col("doc_id"))),

    // L2l: INCREMENTAL CLUSTERS — the decision layer kept current as
    // batches arrive: the snapshot seeds the index AND its CC labels;
    // the arriving batch's pairs update the labels by GRAPH CONTRACTION
    // (old components enter as one supernode each — their label IS
    // their min id — so CC runs over a batch-bounded graph, and merging
    // two huge components costs one supernode edge). The final label
    // table must hash-match the FULL recompute's oracle exactly.
    "llm_dedup_clusters_incremental" -> ((s, dir) => {
      val all = docsWithNearDups(s, dir)
      val idx = s"${graft.TmpDirs.create("graft_cluster_idx")}/idx"
      dedupClustersSeed(s, all.filter(col("doc_id") < 100000), idx)
      dedupClustersIngest(s, all.filter(col("doc_id") >= 100000), idx)
        .select(col("doc_id"), col("lbl").as("cluster_id"),
          (col("doc_id") === col("lbl")).as("is_keeper"))
        .orderBy(col("doc_id"))
    }),

    // L2g: APPLY the dedup — the end product a training pipeline ships:
    // the corpus with every non-canonical near-dup member dropped
    // (cluster minima kept, untouched docs kept). The drop list is the
    // clustered-members-minus-keepers set — tiny relative to the corpus
    // — so AQE turns the anti-join into a broadcast and the corpus-side
    // scan never shuffles at 100 TB.
    "llm_dedup_apply" -> ((s, dir) => {
      val dropped = dedupClusterLabels(s, dir)
        .filter(col("doc_id") =!= col("lbl")).select(col("doc_id"))
      docsWithNearDups(s, dir)
        .join(dropped, Seq("doc_id"), "left_anti")
        .select(col("doc_id"), length(col("text")).cast(LongType).as("n_chars"))
        .orderBy(col("doc_id"))
    }),

    // L2h: EXACT-SUBSTRING near-dup — the verbatim-overlap dedup of
    // large-scale training pipelines (the suffix-array substring-dedup
    // workload, re-expressed relationally): two docs are flagged when
    // they share a verbatim 40-char run anchored at a word boundary.
    // CONTENT-DEFINED anchoring first (window starts where a space
    // precedes — a cheap char test, no hash), then only anchored
    // windows pay the portable md5-60bit fingerprint (same contract as
    // wordHash60). Both docs of a shared run anchor at the SAME
    // boundaries, so any shared word-aligned run of length ≥ 40+max-word
    // chars is detected, and the whole computation is deterministic for
    // the oracle, which replays the identical anchoring + hash. Scale
    // shape: fingerprints are 8 bytes per ~6 corpus chars through the
    // shuffle (a raw dense window join ships 40× corpus bytes), and the
    // SKEW GUARD is real, not advisory: a fingerprint appearing in more
    // than 100 docs (boilerplate — license headers, templates) is
    // excluded from pair generation BEFORE the self-join, bounding any
    // key's fan-out at 100² instead of letting one hot gram emit a
    // quadratic pair blowup; ubiquitous text belongs to frequency
    // analysis, not pairwise dedup. The df pass is a partial-aggregating
    // groupBy co-partitioned with the join key.
    "llm_dedup_substring" -> ((s, dir) => {
      // CASE guard: Spark's sequence(1, 0) yields a DESCENDING [1, 0]
      // (not the empty list DuckDB's generate_series returns), so a
      // doc under 40 chars must short-circuit to array() explicitly or
      // it would fingerprint its whole sub-40 text
      val win = graft.CacheRegistry.track(docsWithNearDups(s, dir)
        .select(col("doc_id"), expr(
          """explode(CASE WHEN length(text) >= 40 THEN
               array_distinct(transform(
                 filter(sequence(1, length(text) - 39),
                        i -> i = 1 or substring(text, i - 1, 1) = ' '),
                 i -> cast(conv(substring(md5(substring(text, i, 40)), 1, 15),
                                16, 10) AS BIGINT)))
             ELSE array() END) AS h"""))
        // one scan pays the window md5s; the df-cap aggregate and both
        // self-join sides reuse it (the minhash pipeline's pattern)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
      val rare = win.groupBy(col("h")).agg(count(lit(1)).as("dfc"))
        .filter(col("dfc") <= 100).select(col("h"))
      val keyed = win.join(rare, Seq("h"))
      keyed.select(col("doc_id").as("a_id"), col("h"))
        .join(keyed.select(col("doc_id").as("b_id"), col("h")), Seq("h"))
        .filter(col("a_id") < col("b_id"))
        .groupBy(col("a_id"), col("b_id"))
        .agg(count(lit(1)).as("n_shared"))
        .orderBy(col("a_id"), col("b_id"))
    }),

    // L6a: decontamination — flag training docs sharing any hashed 8-gram
    // with the benchmark set (here: doc_id % 37 == 0 plays the held-out
    // benchmark). The benchmark's gram set is small and DISTINCT —
    // broadcast to the exploded train side, so the only shuffle is the
    // final per-doc count; at 100 TB the train grams never shuffle.
    "llm_decontaminate" -> ((s, dir) => {
      val d = Tables.t(s, dir, "documents")
      def grams = gramTable(d)
      val bench = grams.filter(col("doc_id") % 37 === 0).select(col("g")).distinct()
      val hits = grams.filter(col("doc_id") % 37 =!= 0)
        .join(broadcast(bench), Seq("g"))
        .groupBy(col("doc_id")).agg(count(lit(1)).as("n_hits"))
      d.filter(col("doc_id") % 37 =!= 0).select(col("doc_id"))
        .join(hits, Seq("doc_id"), "left")
        .select(col("doc_id"), coalesce(col("n_hits"), lit(0L)).as("n_hits"),
          (coalesce(col("n_hits"), lit(0L)) > 0).as("contaminated"))
        .orderBy(col("doc_id"))
    }),

    // L6a-inc: decontamination AS AN INGEST — the benchmark gram set is
    // a PERSISTED index (built once per benchmark release); the
    // arriving batch is grammed and probed against it, the corpus never
    // re-grammed. Identical output to the one-shot L6a, so the same
    // oracle gates it.
    "llm_decontam_incremental" -> ((s, dir) => {
      val d = Tables.t(s, dir, "documents")
      val idx = s"${graft.TmpDirs.create("graft_decontam_idx")}/idx"
      decontamIndexSeed(s, d.filter(col("doc_id") % 37 === 0), idx)
      decontamIngest(s, d.filter(col("doc_id") % 37 =!= 0), idx)
    }),

    // L6b: training-mixture construction — per-source stratified sampling
    // at source-specific rates (rate derived from the source id), keyed by
    // the same deterministic md5 bucket as sample_hash_bucket so both
    // engines select identical docs. Scan-local: the sample decision is a
    // codegen'd filter, the only shuffle is the tiny per-source rollup.
    "llm_sample_mix" -> ((s, dir) =>
      Tables.t(s, dir, "documents")
        .withColumn("rate_pct",
          (substring(col("source"), 4, 10).cast(IntegerType) % 10) * 10 + 5)
        .withColumn("bucket", pmod(
          conv(substring(md5(col("doc_id").cast(StringType)), 1, 8), 16, 10)
            .cast(LongType), lit(100L)))
        .groupBy(col("source"), col("rate_pct"))
        .agg(count(lit(1)).as("n_total"),
          count(when(col("bucket") < col("rate_pct"), 1)).as("n_sampled"))
        .orderBy(col("source"))),

    // L6h: EXACT stratified train/val/test split — the dataset-assembly
    // step after mixing: every source stratum splits 80/10/10 by RANK of
    // a content-stable hash (not by hash modulo, which only approximates
    // the fractions): rank ≤ ⌊0.8n⌋ → train, next ⌊0.1n⌋ → val, rest →
    // test, so per-stratum counts are exact and a re-run (or a re-shard)
    // reproduces the same assignment bit for bit. One window pass per
    // stratum (the shuffle is by `source`); at 100 TB the cheap path is
    // llm_sample_mix's scan-local hash-modulo split — this is the exact
    // variant for when split-fraction contracts are hard (eval sets).
    "llm_stratified_split" -> ((s, dir) => {
      val d = Tables.t(s, dir, "documents")
        .withColumn("hk", md5(col("doc_id").cast(StringType)))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("source")).orderBy(col("hk"), col("doc_id"))
      val n = org.apache.spark.sql.expressions.Window.partitionBy(col("source"))
      d.withColumn("rn", row_number().over(w))
        .withColumn("n", count(lit(1)).over(n))
        .withColumn("split",
          when(col("rn") <= floor(col("n") * 0.8), "train")
            .when(col("rn") <= floor(col("n") * 0.8) + floor(col("n") * 0.1),
              "val")
            .otherwise("test"))
        .select(col("doc_id"), col("source"), col("split"))
        .orderBy(col("doc_id"))
    }),

    // L2b: 16-bit SimHash per document + hamming distance of each planted
    // near-dup pair to its original. Oracle-matched since round 6: the
    // word hash is the portable md5-derived 60-bit value (no mod — bit
    // sampling wants the raw bits), so the per-bit vote sums, the packed
    // simhash, and the hamming distances are identical in both engines.
    // LlmSpec additionally asserts planted pairs land at small hamming.
    "llm_dedup_simhash" -> ((s, dir) => {
      val docs = docsWithNearDups(s, dir)
      val wordHash = docs.select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
        .withColumn("h", wordHash60(col("w")))
      val bitCols = (0 until 16).map(bit => sum(when(shiftright(col("h"), bit)
        .bitwiseAND(1) === 1, 1).otherwise(-1)).as(s"s$bit"))
      val bitSums = wordHash.groupBy(col("doc_id")).agg(bitCols.head, bitCols.tail: _*)
      val sim = bitSums.withColumn("simhash",
        (0 until 16).map(bit => when(col(s"s$bit") > 0, 1 << bit).otherwise(0))
          .reduce(_ + _)).select(col("doc_id"), col("simhash"))
      val orig = sim.filter(col("doc_id") < 100000)
        .select(col("doc_id").as("a_id"), col("simhash").as("a_sim"))
      val mut = sim.filter(col("doc_id") >= 100000)
        .select((col("doc_id") - 100000).as("a_id"), col("doc_id").as("b_id"),
          col("simhash").as("b_sim"))
      orig.join(mut, "a_id")
        .withColumn("hamming", bit_count(expr("a_sim ^ b_sim")))
        .select(col("a_id"), col("b_id"), col("a_sim"), col("b_sim"), col("hamming"))
        .orderBy(col("a_id"))
    }),

    // L2c: n-gram (3-shingle) Jaccard over the FULL near-dup corpus —
    // fully oracle-able (no internal hash; pure set arithmetic). Scale
    // shape: any pair above the 0.5 threshold shares at least one
    // shingle, so candidates come from an INVERTED-INDEX equi-join on
    // the exploded shingle (never an all-pairs theta join). The skew
    // guard is ENFORCED, not advisory: a shingle appearing in more than
    // 100 docs (boilerplate) is semi-joined OUT of the index before
    // pair generation, bounding any key's fan-out at 100² instead of
    // letting one hot gram emit a quadratic pair blowup (L2h's
    // pattern). Jaccard is scored over the SAME df-capped gram sets —
    // boilerplate is excluded from the metric exactly as from candidate
    // generation (at the test SFs max df is 31, so capped == full), and
    // the whole confirm collapses to arithmetic no array ever rides
    // through: |A∩B| is a partial-aggregating count over the index
    // join's pair stream (map-side combine — never a 10^6-pair distinct
    // or an array shuffle), |A∪B| = |A| + |B| − |A∩B| from tiny per-doc
    // size tables. The ORACLE replays the identical cap + identity, so
    // both engines agree by construction. MinHash-LSH (L2a) is the
    // sub-linear sibling.
    "llm_dedup_ngram_jaccard" -> ((s, dir) => {
      // the index carries HASHED shingles (the minhash pipeline's
      // md5-derived portable family — no 3-word string ever
      // materializes, and every shuffle key is 8 bytes instead of a
      // ~25-char string); set arithmetic over the hashed sets equals
      // set arithmetic over the strings (collisions vanishingly rare at
      // 10^9 hash space — and the oracle computes the IDENTICAL hashes,
      // so the comparison stays exact either way)
      val docs = graft.CacheRegistry.track(docsWithNearDups(s, dir)
        .withColumn("words", split(col("text"), " "))
        .withColumn("wh", transform(col("words"), w => wordHash60(w) % MinhashP))
        .withColumn("sh", expr(hashedShinglesFromWh))
        .select(col("doc_id"), col("sh"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
      val inv = docs.select(col("doc_id"), explode(col("sh")).as("g"))
      val rare = inv.groupBy(col("g")).agg(count(lit(1)).as("dfc"))
        .filter(col("dfc") <= 100).select(col("g"))
      val keyed = graft.CacheRegistry.track(
        inv.join(rare, Seq("g"), "left_semi")
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
      val sizes = keyed.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
      keyed.select(col("doc_id").as("a_id"), col("g"))
        .join(keyed.select(col("doc_id").as("b_id"), col("g")), Seq("g"))
        .filter(col("a_id") < col("b_id"))
        .groupBy(col("a_id"), col("b_id"))
        .agg(count(lit(1)).as("n_common"))
        .join(sizes.select(col("doc_id").as("a_id"), col("n").as("na")), "a_id")
        .join(sizes.select(col("doc_id").as("b_id"), col("n").as("nb")), "b_id")
        .select(col("a_id"), col("b_id"), col("n_common"),
          (col("na") + col("nb") - col("n_common")).as("n_union"))
        .withColumn("jaccard",
          col("n_common").cast(DoubleType) / col("n_union").cast(DoubleType))
        .filter(col("jaccard") > 0.5)
        .orderBy(col("a_id"), col("b_id"))
    }),

    // L2d: embedding-cosine near-dup with planted perturbed copies,
    // blocked by LSH sign-bucket (no unblocked cross product).
    "llm_dedup_embed_cosine" -> ((s, dir) => {
      VectorOps.register(s)
      val base = vecs(s, dir)
      val planted = base.filter(col("vec_id") % 5 === 0).select(
        (col("vec_id") + 10000).as("vec_id"), col("label"),
        concat(array(element_at(col("v"), 1) + 0.05), slice(col("v"), 2, 63)).as("v"))
      val all = base.select(col("vec_id"), col("v")).unionByName(
        planted.select(col("vec_id"), col("v"))).withColumn("bucket", signBucket)
      val a = all.select(col("vec_id").as("a_id"), col("v").as("a_v"), col("bucket"))
      val b = all.select(col("vec_id").as("b_id"), col("v").as("b_v"), col("bucket"))
      a.join(b, Seq("bucket")).filter(col("a_id") < col("b_id"))
        .withColumn("cos", expr("cosine_sim(a_v, b_v)"))
        .filter(col("cos") > 0.9)
        .select(col("a_id"), col("b_id"), col("cos"))
        .orderBy(col("a_id"), col("b_id"))
    }),

    // L2e: the NAIVE similarity-join form — cross join filtered on the
    // explicitly-approximate cosine_sim_approx marker — handed to the
    // custom Catalyst rule (graft.plans.ApproxSimJoinRewrite), which
    // rewrites it into the sign-bucket LSH equi-join shape at OPTIMIZER
    // level. The declared result therefore exercises the rewritten plan
    // end-to-end through the driver gate; the oracle computes the same
    // bucket arithmetic explicitly. Planted perturbed copies (distinct
    // parameters from L2d) give the threshold real signal. PlanSpec
    // asserts the cartesian product is gone from the physical plan.
    "llm_sim_join_rewrite" -> ((s, dir) => {
      graft.plans.ApproxSimJoinRewrite.install(s)
      val base = vecs(s, dir)
      val planted = base.filter(col("vec_id") % 7 === 0).select(
        (col("vec_id") + 20000).as("vec_id"),
        concat(slice(col("v"), 1, 1), array(element_at(col("v"), 2) + 0.03),
          slice(col("v"), 3, 62)).as("v"))
      val all = base.select(col("vec_id"), col("v")).unionByName(planted)
      val a = all.select(col("vec_id").as("a_id"), col("v").as("a_v"))
      val b = all.select(col("vec_id").as("b_id"), col("v").as("b_v"))
      a.crossJoin(b)
        .filter(expr("cosine_sim_approx(a_v, b_v) >= 0.9") &&
          col("a_id") < col("b_id"))
        .select(col("a_id"), col("b_id"), expr("cosine_sim(a_v, b_v)").as("cos"))
        .orderBy(col("a_id"), col("b_id"))
    }),

    // L3a: brute-force cosine top-k — query set broadcast against the
    // full vector table (the exact baseline an ANN variant is judged by).
    "llm_sim_topk" -> ((s, dir) => {
      VectorOps.register(s)
      import org.apache.spark.sql.expressions.Window
      val all = vecs(s, dir)
      val q = all.filter(col("vec_id") < 20)
        .select(col("vec_id").as("q_id"), col("v").as("q_v"))
      val w = Window.partitionBy(col("q_id")).orderBy(desc("cos"), asc("n_id"))
      all.select(col("vec_id").as("n_id"), col("v").as("n_v"))
        .join(broadcast(q), col("q_id") =!= col("n_id"))
        .withColumn("cos", expr("cosine_sim(q_v, n_v)"))
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 5)
        .select(col("q_id"), col("rk"), col("n_id"), col("cos"))
        .orderBy(col("q_id"), col("rk"))
    }),

    // L3b: LSH-bucketed ANN variant — candidates limited to the query's
    // sign-bucket; the 100 TB scale path (bucket equi-join, no cross join).
    "llm_sim_lsh_topk" -> ((s, dir) => {
      VectorOps.register(s)
      import org.apache.spark.sql.expressions.Window
      val all = vecs(s, dir).withColumn("bucket", signBucket)
      val q = all.filter(col("vec_id") < 50)
        .select(col("vec_id").as("q_id"), col("v").as("q_v"), col("bucket"))
      val n = all.select(col("vec_id").as("n_id"), col("v").as("n_v"), col("bucket"))
      val w = Window.partitionBy(col("q_id")).orderBy(desc("cos"), asc("n_id"))
      n.join(broadcast(q), Seq("bucket")).filter(col("q_id") =!= col("n_id"))
        .withColumn("cos", expr("cosine_sim(q_v, n_v)"))
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 3)
        .select(col("q_id"), col("rk"), col("n_id"), col("cos"))
        .orderBy(col("q_id"), col("rk"))
    }),

    // L3c: IVF-style ANN — the other classic scale path besides LSH.
    // Training is a REAL (single-iteration) k-means: the first 16 vectors
    // seed the cells, every vector is assigned to its nearest seed, then
    // each centroid is recomputed as its cell's component-wise mean —
    // summed in DECIMAL(38,18) so the mean is order-independent and
    // bit-identical across engines (the Tables determinism policy; a
    // float32-derived double is never a rounding midpoint at scale 18, so
    // the decimal cast agrees too).
    //
    // The k=16 centroids are MODEL METADATA: carried as a ONE-ROW
    // broadcast holding the sorted array<struct<c_id,c_v>> (collect_list
    // of a 16-row aggregate — bounded, never the corpus), so both
    // assignment passes are scan-local argmax folds over that broadcast
    // column — zero data shuffles, no 16×|vecs| window pass, nothing
    // that grows with the corpus. The only shuffles left are the
    // centroid-mean aggregate (map-side partial bounds it at 16×dim rows
    // per partition) and the probe-set window (bounded by |queries|×16);
    // the only joins are 1-row broadcasts and the final cell equi-join
    // against the broadcast probe list — no unbounded cross product at
    // any scale (further k-means iterations repeat the same
    // scan-local-assign + one-agg round).
    "llm_sim_ivf_topk" -> ((s, dir) => {
      VectorOps.register(s)
      import org.apache.spark.sql.expressions.Window
      val all = vecs(s, dir).select(col("vec_id"), col("v"))
      // argmax + assignment: the shared scan-local helpers
      // ([[nearestCell]]/[[assignCells]], also the seed path of
      // llm_sim_incremental)
      def assign(df: DataFrame, centsDf: DataFrame): DataFrame =
        assignCells(df, centsDf)
      val cents0 = all.filter(col("vec_id") < 16)
        .agg(array_sort(collect_list(struct(
          col("vec_id").as("c_id"), col("v").as("c_v")))).as("cents"))
      // The initial assignment is the only pass that must scan+parse the
      // full corpus — cache it so the mean step, the refined
      // re-assignment, and the probe rows all reuse the materialized
      // (vec_id, v, cell) rows instead of re-reading the parquet and
      // re-casting the float vectors once per consumer.
      val a0 = graft.CacheRegistry.track(assign(all, cents0)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
      // one k-means round: per-cell DECIMAL(38,18) element-wise vector
      // sums via the native DecimalVecSum aggregate (order-independent,
      // engine-portable, bit-equal to sum(cast(.. AS DECIMAL(38,18)))
      // over the exploded form the oracle replays) — each partition
      // ships ONE 64-decimal partial state per cell instead of the 64×
      // row explosion a posexplode plan pushes through the shuffle
      // count(v), not count(*): vec_dec_sum skips NULL arrays, so the
      // mean's divisor must count exactly the rows the sum folded (a
      // corpus with null embeddings would otherwise deflate centroids)
      val refined = graft.CacheRegistry.track(a0
        .groupBy(col("cell"))
        .agg(call_function("vec_dec_sum", col("v")).as("sx"),
          count(col("v")).as("n"))
        .select(col("cell").as("c_id"),
          transform(col("sx"),
            x => x.cast(DoubleType) / col("n").cast(DoubleType)).as("c_v"))
        .agg(array_sort(collect_list(struct(col("c_id"), col("c_v")))).as("cents"))
        // 1-row centroid array, broadcast twice (re-assignment + probe
        // ranking) — pin it so the mean aggregation runs once, not once
        // per broadcast
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
      val assigned = assign(a0.drop("cell"), refined)
        .select(col("vec_id").as("n_id"), col("v").as("n_v"), col("cell"))
      val wProbe = Window.partitionBy(col("q_id")).orderBy(desc("qcos"), asc("c_id"))
      val probes = a0.filter(col("vec_id") < 20)
        .select(col("vec_id").as("q_id"), col("v").as("q_v"))
        .crossJoin(broadcast(refined))
        .select(col("q_id"), col("q_v"), explode(col("cents")).as("c"))
        .select(col("q_id"), col("q_v"), col("c.c_id").as("c_id"),
          call_function("cosine_sim", col("q_v"), col("c.c_v")).as("qcos"))
        .withColumn("prn", row_number().over(wProbe)).filter(col("prn") <= 4)
        .select(col("q_id"), col("q_v"), col("c_id").as("cell"))
      val wTop = Window.partitionBy(col("q_id")).orderBy(desc("cos"), asc("n_id"))
      assigned.join(broadcast(probes), Seq("cell"))
        .filter(col("q_id") =!= col("n_id"))
        .withColumn("cos", expr("cosine_sim(q_v, n_v)"))
        .withColumn("rk", row_number().over(wTop)).filter(col("rk") <= 3)
        .select(col("q_id"), col("rk"), col("n_id"), col("cos"))
        .orderBy(col("q_id"), col("rk"))
    }),

    // L3d: INCREMENTAL ANN ingest — llm_sim_ivf_topk as a pipeline, the
    // L2i shape for similarity search: the index (centroids +
    // assignments) is PERSISTED by a one-time seed over the snapshot;
    // the arriving batch (vec_id % 10 == 0) is assigned, probed, and
    // ranked against index ∪ batch in O(batch) work — no k-means
    // recompute, no index×index scoring — then its assignments append
    // so the next ingest sees them.
    "llm_sim_incremental" -> ((s, dir) => {
      VectorOps.register(s)
      val all = vecs(s, dir).select(col("vec_id"), col("v"))
      val idx = s"${graft.TmpDirs.create("graft_ann_idx")}/idx"
      annIndexSeed(s, all.filter(col("vec_id") % 10 =!= 0), idx)
      annIngest(s, all.filter(col("vec_id") % 10 === 0), idx)
        .orderBy(col("q_id"), col("rk"))
    }),

    // L3e: L3d AS A LIVE STREAM (the L2j symmetry for ANN): embeddings
    // arrive through a file stream in two waves; each micro-batch is
    // assigned/probed/ranked against the index AS IT STANDS and then
    // appends its assignments — so wave-1 queries see index ∪ wave-1,
    // wave-2 queries see everything. The oracle replays exactly that
    // wave-visibility split.
    "llm_sim_stream" -> ((s, dir) => {
      VectorOps.register(s)
      val all = vecs(s, dir).select(col("vec_id"), col("v"))
      val tmp = graft.TmpDirs.create("graft_ann_stream")
      val idx = s"$tmp/idx"
      annIndexSeed(s, all.filter(col("vec_id") % 10 =!= 0), idx)
      val arriving = all.filter(col("vec_id") % 10 === 0)
      graft.streaming.StreamingOps.writeWave(
        arriving.filter(col("vec_id") % 20 === 0), s"$tmp/in", 0)
      graft.streaming.StreamingOps.writeWave(
        arriving.filter(col("vec_id") % 20 =!= 0), s"$tmp/in", 1)
      val query = graft.streaming.StreamingOps.withNoIdleBatch(s) {
        s.readStream.schema(arriving.schema)
        .option("maxFilesPerTrigger", "1").parquet(s"$tmp/in")
        .writeStream.option("checkpointLocation", s"$tmp/ckpt")
        .foreachBatch { (batch: Dataset[Row], _: Long) =>
          annIngest(s, batch.toDF(), idx)
            .write.mode("append").parquet(s"$tmp/out")
        }
        .start()
      }
      query.processAllAvailable()
      query.stop()
      s.read.parquet(s"$tmp/out").orderBy(col("q_id"), col("rk"))
    }),

    // L6c: training-shard packing — assign docs to fixed-token-budget
    // shards by running token count (the artifact a training job reads).
    // Implemented as the REAL 100 TB shape, not a single-partition global
    // window: range-partition by doc_id, per-partition token totals (a
    // partition-count-sized collect — metadata, not data), broadcast
    // cumulative offsets, then a per-partition local running sum. The
    // output is identical for ANY range boundaries (the global cumsum
    // doesn't depend on where partitions split), so the sampled
    // repartitionByRange stays oracle-deterministic — but the partitioned
    // input must be pinned (localCheckpoint) so the totals pass and the
    // assignment pass see the SAME sampled boundaries.
    // L6i: GLOBAL TRAINING-ORDER SHUFFLE — a deterministic pseudo-random
    // permutation of the corpus, reproducible from a seed, with NO global
    // sort: the order IS the keyed hash (md5 of salt:doc_id), the shard
    // is the hash's top hex digit, and the within-shard position is a
    // per-shard window over the hash. At 100 TB this is exactly one
    // hash exchange + per-shard local sort (write partitionBy(shard),
    // sortWithinPartitions(h)) — shards sort independently across
    // executors, readers stream shard 0..N-1 for the full permutation,
    // and a new epoch's re-shuffle is a SALT CHANGE, not a data move.
    // 16 shards here (one hex digit) keeps the oracle small; production
    // sizes the prefix to the cluster (2 digits = 256, 3 = 4096 shards).
    "llm_global_shuffle" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val d = Tables.t(s, dir, "documents").select(col("doc_id"),
        md5(concat(lit("epoch0:"), col("doc_id").cast(StringType))).as("h"))
      d.withColumn("shard",
          expr("CAST(instr('0123456789abcdef', substring(h, 1, 1)) - 1 AS BIGINT)"))
        .withColumn("pos", row_number().over(
          Window.partitionBy(col("shard")).orderBy(col("h"), col("doc_id")))
          .cast(LongType))
        .select(col("doc_id"), col("shard"), col("pos"))
        .orderBy(col("shard"), col("pos"))
    }),

    "llm_pack_shards" -> ((s, dir) => {
      val sp = s
      import sp.implicits._
      val pinned = Tables.t(s, dir, "documents")
        .select(col("doc_id"),
          size(split(col("text"), " ")).cast(LongType).as("n_tok"))
        .repartitionByRange(8, col("doc_id"))
        .sortWithinPartitions(col("doc_id"))
        .as[(Long, Long)]
        .localCheckpoint()
      val totals = pinned.mapPartitions { it =>
        val pid = org.apache.spark.TaskContext.getPartitionId()
        var t = 0L
        it.foreach(t += _._2)
        Iterator((pid, t))
      }.collect() // one row per partition — bounded metadata
      val sorted = totals.sortBy(_._1)
      val offsets = sorted.map(_._1)
        .zip(sorted.map(_._2).scanLeft(0L)(_ + _)).toMap
      val bc = s.sparkContext.broadcast(offsets)
      pinned.mapPartitions { it =>
        val pid = org.apache.spark.TaskContext.getPartitionId()
        var cum = bc.value.getOrElse(pid, 0L)
        it.map { case (id, n) =>
          val before = cum
          cum += n
          (id, n, before / 4096L)
        }
      }.toDF("doc_id", "n_tok", "shard_id")
        .orderBy(col("doc_id"))
    }),

    // L6d: repetition detection — the Gopher/C4-style quality signal:
    // fraction of duplicate 3-grams per doc (1 - distinct/total over the
    // hashed shingle sequence WITH multiplicity). Scan-local codegen'd
    // array arithmetic, no shuffle but the final sort.
    "llm_repetition" -> ((s, dir) =>
      Tables.t(s, dir, "documents")
        .withColumn("words", split(col("text"), " "))
        .withColumn("wh", transform(col("words"), w => wordHash60(w) % MinhashP))
        .withColumn("sh_all", expr(rawHashedShinglesFromWh))
        .select(col("doc_id"),
          size(col("words")).cast(LongType).as("n_words"),
          size(col("sh_all")).cast(LongType).as("n_grams"),
          size(array_distinct(col("sh_all"))).cast(LongType).as("n_distinct"))
        .withColumn("rep_ratio", when(col("n_grams") > 0,
          lit(1.0) - col("n_distinct").cast(DoubleType) /
            col("n_grams").cast(DoubleType)).otherwise(lit(0.0)))
        .withColumn("rep_flag", col("rep_ratio") > 0.2)
        .orderBy(col("doc_id"))),

    // L6e: quality-gate composition — the C4/Gopher pipeline shape: every
    // rule (length band, repetition ceiling, word-shape band) evaluated
    // independently over one scan, reporting per-rule drop counts and the
    // surviving-doc count. The numbers a pipeline owner actually tunes:
    // which gate is eating the corpus. One pass, one 1-row aggregate.
    "llm_filter_pipeline" -> ((s, dir) =>
      Tables.t(s, dir, "documents")
        .withColumn("words", split(col("text"), " "))
        .withColumn("n_words", size(col("words")).cast(LongType))
        .withColumn("wh", transform(col("words"), w => wordHash60(w) % MinhashP))
        .withColumn("sh_all", expr(rawHashedShinglesFromWh))
        .withColumn("rep_ratio", when(size(col("sh_all")) > 0,
          lit(1.0) - size(array_distinct(col("sh_all"))).cast(DoubleType) /
            size(col("sh_all")).cast(DoubleType)).otherwise(lit(0.0)))
        .withColumn("avg_wlen",
          (length(col("text")) - (col("n_words") - 1)).cast(DoubleType) /
            col("n_words").cast(DoubleType))
        .withColumn("pass_len", col("n_words").between(50, 100000))
        .withColumn("pass_rep", col("rep_ratio") <= 0.2)
        .withColumn("pass_wlen", col("avg_wlen").between(3.0, 12.0))
        .agg(
          count(lit(1)).as("n_docs"),
          count(when(!col("pass_len"), 1)).as("drop_len"),
          count(when(!col("pass_rep"), 1)).as("drop_rep"),
          count(when(!col("pass_wlen"), 1)).as("drop_wlen"),
          count(when(col("pass_len") && col("pass_rep") && col("pass_wlen"), 1))
            .as("n_kept"))),

    // L6f: unigram entropy quality signal (Gopher-style): per-doc Shannon
    // entropy of the word distribution. Float summation order matters, so
    // the fold runs over the WORD-SORTED term list left-to-right in both
    // engines (collect→array_sort→aggregate here, list(… ORDER BY)→
    // list_reduce there); round(…,6) absorbs last-ulp log differences
    // (the llm_tfidf ln precedent).
    "llm_entropy" -> ((s, dir) =>
      Tables.t(s, dir, "documents")
        .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
        .groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("c"))
        .groupBy(col("doc_id"))
        .agg(sum(col("c")).as("n_tok"),
          collect_list(struct(col("w"), col("c"))).as("wc"))
        .withColumn("entropy", round(expr(
          """aggregate(array_sort(wc), CAST(0.0 AS DOUBLE),
               (acc, x) -> acc - (x.c / CAST(n_tok AS DOUBLE)) *
                 log2(x.c / CAST(n_tok AS DOUBLE)))"""), 6))
        .select(col("doc_id"), col("n_tok"), col("entropy"))
        .orderBy(col("doc_id"))),

    // L7: RAG-style document chunking — fixed 64-token windows with a
    // 48-token stride (16-token overlap), the artifact an embedding /
    // retrieval pipeline actually indexes. Entirely scan-local: one
    // tokenize per row, one explode over the stride starts, per-chunk
    // identity as md5 of the chunk text (the chunk string itself never
    // leaves the task). chunk_idx derives arithmetically from the start
    // offset, so no ordinality plumbing is needed in either engine.
    "llm_chunk" -> ((s, dir) =>
      Tables.t(s, dir, "documents")
        .withColumn("words", split(col("text"), " "))
        .withColumn("start",
          explode(expr("sequence(1, greatest(size(words), 1), 48)")))
        .select(
          col("doc_id"),
          expr("(start - 1) div 48").cast(LongType).as("chunk_idx"),
          col("start").cast(LongType).as("start_tok"),
          expr("size(slice(words, start, 64))").cast(LongType).as("n_tok"),
          md5(expr("concat_ws(' ', slice(words, start, 64))")).as("chunk_hash"))
        .orderBy(col("doc_id"), col("chunk_idx"))),

    // L4a: token counting (whitespace + BPE-ish regex) per language.
    "llm_text_stats" -> ((s, dir) =>
      Tables.t(s, dir, "documents")
        .select(col("lang"), col("n_chars"),
          size(split(col("text"), " ")).cast(LongType).as("tok_ws"),
          expr("size(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]', 0))")
            .cast(LongType).as("tok_re"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("tok_ws")).as("total_tok_ws"),
          sum(col("tok_re")).as("total_tok_re"),
          min(col("n_chars")).as("min_chars"),
          max(col("n_chars")).as("max_chars"))
        .orderBy(col("lang"))),

    // L4f: corpus-level n-gram statistics — the vocabulary profile a
    // training-data curator reads before fixing the tokenizer and the
    // mixture (and the same shingle stream the MinHash dedup consumes).
    // One corpus scan: tokenize scan-local, form adjacent pairs with
    // zip_with over two array slices (codegen'd, NEVER a positional
    // self-join), explode, partial-agg counts, one total-order top-k.
    // At 100 TB the gram aggregate is the only shuffle and it combines
    // map-side; the top-k is a TakeOrdered, not a full sort.
    "llm_ngram_topk" -> ((s, dir) =>
      Tables.t(s, dir, "documents")
        .select(expr("filter(split(text, ' '), x -> x <> '')").as("t"))
        .select(explode(expr(
          "zip_with(slice(t, 1, greatest(size(t) - 1, 0)), " +
            "slice(t, 2, greatest(size(t) - 1, 0)), " +
            "(a, b) -> concat(a, ' ', b))")).as("g"))
        .groupBy(col("g")).agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("g")).limit(20)),

    // L4e: TF-IDF term weighting (SURVEY §2.9 L4). The corpus is
    // tokenized and aggregated to the (doc, term) frequency table ONCE
    // (pinned with localCheckpoint); doc lengths, document frequencies,
    // and the probe's term frequencies all derive from it — one corpus
    // scan instead of three. df = rows per term in tf (each row is one
    // distinct doc containing the term). N arrives as a broadcast 1-row
    // aggregate (never a driver-side collect); the probe set is bounded
    // to doc_id < 30. ln() of a rational >= 1 and one multiply, rounded
    // to 6 — deterministic across engines.
    "llm_tfidf" -> ((s, dir) => {
      val tfAll = Tables.t(s, dir, "documents")
        .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
        .groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("tf_n"))
        .localCheckpoint()
      val docLen = tfAll.groupBy(col("doc_id")).agg(sum(col("tf_n")).as("n_words"))
      val dfreq = tfAll.groupBy(col("w")).agg(count(lit(1)).as("df"))
      val n = Tables.t(s, dir, "documents").agg(count(lit(1)).as("n_docs"))
      tfAll.filter(col("doc_id") < 30)
        .join(docLen, "doc_id")
        .join(dfreq, "w")
        .crossJoin(broadcast(n))
        .withColumn("tfidf", round(
          (col("tf_n").cast(DoubleType) / col("n_words").cast(DoubleType)) *
            log(col("n_docs").cast(DoubleType) / col("df").cast(DoubleType)), 6))
        .select(col("doc_id"), col("w"), col("tf_n"), col("n_words"),
          col("df"), col("tfidf"))
        .orderBy(col("doc_id"), col("w"))
    }),

    // L4b: n-gram-profile language ID — per-lang top-10 word profiles
    // learned from the corpus, docs classified by profile overlap.
    "llm_lang_id" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      // tokenize once; the profile branch and the doc-classification
      // branch both read the pinned token table instead of re-exploding
      // the corpus
      val words = Tables.t(s, dir, "documents")
        .select(col("doc_id"), col("lang"), explode(split(col("text"), " ")).as("w"))
        .localCheckpoint()
      val wp = Window.partitionBy(col("plang")).orderBy(desc("c"), asc("w"))
      val profile = words.groupBy(col("lang").as("plang"), col("w"))
        .agg(count(lit(1)).as("c"))
        .withColumn("rn", row_number().over(wp)).filter(col("rn") <= 10)
        .select(col("plang"), col("w"))
      val docWords = words.select(col("doc_id"), col("lang"), col("w")).distinct()
      val wd = Window.partitionBy(col("doc_id")).orderBy(desc("cnt"), asc("plang"))
      docWords.join(profile, "w")
        .groupBy(col("doc_id"), col("lang"), col("plang"))
        .agg(count(lit(1)).as("cnt"))
        .withColumn("rn", row_number().over(wd)).filter(col("rn") === 1)
        .select(col("doc_id"), col("lang"), col("plang").as("predicted"), col("cnt"))
        .orderBy(col("doc_id"))
    }),

    // L4c: quality scoring — length / word-shape / stopword ratios.
    "llm_quality_score" -> ((s, dir) =>
      Tables.t(s, dir, "documents")
        .withColumn("words", split(col("text"), " "))
        .select(col("doc_id"),
          length(col("text")).cast(LongType).as("text_len"),
          size(col("words")).cast(LongType).as("n_words"),
          size(expr("filter(words, w -> w = 'key' OR w = 'row' OR w = 'value' OR w = 'table')"))
            .cast(LongType).as("n_stop"),
          size(expr("filter(words, w -> length(w) > 4)")).cast(LongType).as("n_long"))
        .withColumn("avg_word_len",
          (col("text_len") - (col("n_words") - 1)).cast(DoubleType) /
            col("n_words").cast(DoubleType))
        .withColumn("stop_ratio",
          col("n_stop").cast(DoubleType) / col("n_words").cast(DoubleType))
        .withColumn("quality_pass",
          col("n_words") >= 50 && col("stop_ratio") < 0.5)
        .orderBy(col("doc_id"))),

    // L4d: document fingerprint — polynomial rolling hash over tokens
    // (portable arithmetic: no engine-internal hash function).
    "llm_fingerprint" -> ((s, dir) =>
      Tables.t(s, dir, "documents")
        .withColumn("words", split(col("text"), " "))
        .select(col("doc_id"),
          expr("""aggregate(
                    transform(words, w -> CAST(length(w) * 131 + ascii(substring(w, 1, 1)) AS BIGINT)),
                    CAST(0 AS BIGINT), (h, x) -> (h * 31 + x) % 1000000007)""").as("fp"))
        .orderBy(col("doc_id"))),

    // L5a: multimodal row assembly — text + embedding + typed metadata.
    "llm_multimodal_cols" -> ((s, dir) => {
      val d = Tables.t(s, dir, "documents")
      val e = Tables.t(s, dir, "embeddings")
      d.join(e, d("doc_id") === e("vec_id"))
        .select(col("doc_id"), col("lang"), col("source"), col("label"),
          size(col("embedding")).cast(LongType).as("dim"),
          length(col("text")).cast(LongType).as("text_len"))
        .orderBy(col("doc_id"))
    }),

    // L5c: frame sampling over an opaque payload — the video analogue:
    // fixed-size frames (64 units), every 4th sampled, a per-frame
    // signature aggregated. The "decode" is character-frame arithmetic
    // (this container has no media libs); the sampling topology — frame
    // index sequence, stride filter, per-frame feature, rollup — is the
    // real thing and runs entirely inside whole-stage codegen.
    "llm_multimodal_frames" -> ((s, dir) =>
      Tables.t(s, dir, "documents")
        .select(col("doc_id"), col("text"))
        .withColumn("n_frames",
          ceil(length(col("text")).cast(DoubleType) / 64).cast(LongType))
        // empty-text guard: Spark sequence(0, -1) yields a DESCENDING
        // [0, -1] (DuckDB generate_series yields []) — mirror the
        // shinglesFromWords empty-case so both engines agree on []
        .withColumn("sampled", expr(
          """CASE WHEN n_frames < 1 THEN array() ELSE
               transform(filter(sequence(0, CAST(n_frames AS INT) - 1),
                 i -> i % 4 = 0), i -> substring(text, i*64 + 1, 64)) END"""))
        .select(col("doc_id"), col("n_frames"),
          size(col("sampled")).cast(LongType).as("n_sampled"),
          expr("""aggregate(transform(sampled,
                    f -> CAST(length(f)*31 + ascii(substring(f,1,1)) AS BIGINT)),
                  CAST(0 AS BIGINT), (a, x) -> a + x)""").as("frame_sig"))
        .orderBy(col("doc_id"))),

    // L5d: resize/downsample a dense tensor — 64-d embedding pooled to
    // 16-d by 4-block average (the image-resize analogue over the typed
    // array column). Pooled dims emit as rounded DOUBLE columns (the
    // agg_stats determinism pattern) rather than a float array the
    // driver's comparator cannot sort.
    // L5e: int8 symmetric quantization of embeddings — the storage lever
    // of a 100 TB embedding pipeline (4x smaller than float32). Scale =
    // 127 / max|v_i| per vector; q_i = floor(v_i * scale). floor, not
    // round: round-half semantics differ between engines, floor is
    // bit-portable. Reports the per-vector scale and the reconstruction
    // error actually achieved — the number a pipeline owner watches when
    // deciding whether int8 is safe for their recall target. One narrow
    // projection, no shuffle, fully codegen'd HOF arithmetic.
    "llm_embed_quantize" -> ((s, dir) =>
      vecs(s, dir)
        .withColumn("scale", lit(127.0) / array_max(transform(col("v"), x => abs(x))))
        .withColumn("max_err",
          array_max(transform(col("v"),
            x => abs(x - floor(x * col("scale")) / col("scale")))))
        .select(col("vec_id"), col("scale"), col("max_err"))
        .orderBy(col("vec_id"))),

    "llm_multimodal_resize" -> ((s, dir) => {
      val pooled = (0 until 16).map { i =>
        val r = round((element_at(col("v"), i * 4 + 1) + element_at(col("v"), i * 4 + 2) +
          element_at(col("v"), i * 4 + 3) + element_at(col("v"), i * 4 + 4)) / 4, 4)
        // fold IEEE -0.0 to +0.0: the engines agree on the value but not
        // the sign bit's textual form, which would desync row ordering
        when(r === 0.0, lit(0.0d)).otherwise(r).as(s"p$i")
      }
      vecs(s, dir)
        .select(col("vec_id") +: col("label") +: pooled: _*)
        .orderBy(col("vec_id"))
    }),

    // L5b: multimodal binary plumbing — text rendered to an opaque binary
    // column, then per-partition batch feature extraction via a typed
    // Dataset.mapPartitions (the Scala analogue of mapInPandas). The
    // "decode" is a deterministic stub (this container has no media libs);
    // the schema / partitioning / batch shape are the real thing.
    "llm_multimodal_features" -> ((s, dir) => {
      val sp = s
      import sp.implicits._
      val bin = Tables.t(s, dir, "documents")
        .select(col("doc_id"), encode(col("text"), "UTF-8").as("payload"))
        .as[(Long, Array[Byte])]
      bin.mapPartitions(_.map { case (id, bytes) =>
        // stub feature extraction: replace with a real decoder at the same
        // signature (Iterator[batch] -> Iterator[features]) in production.
        // n_bytes is true payload byte length; first/last are decoded
        // CODEPOINTS (BMP; empty -> 0) so the oracle's ascii() agrees on
        // non-ASCII text too — raw first-byte would diverge the moment a
        // multi-byte char leads the document.
        val nBytes = bytes.length.toLong
        val text = new String(bytes, java.nio.charset.StandardCharsets.UTF_8)
        val first = if (text.isEmpty) 0 else text.charAt(0).toInt
        val last = if (text.isEmpty) 0 else text.charAt(text.length - 1).toInt
        val stub = (nBytes * 31 + first) % 997
        (id, nBytes, first, last, stub)
      }).toDF("doc_id", "n_bytes", "first_byte", "last_byte", "stub_feature")
        .orderBy(col("doc_id"))
    }),

    // L8: URL canonicalization + dedup — the other standard web-corpus
    // dedup axis besides content (L1/L2): the same page arrives under
    // host-case variants, utm_* tracking params, and fragments. A noisy
    // URL is built deterministically per doc (variants keyed off doc_id,
    // the canonical target keyed off doc_id % 250 so collisions are
    // guaranteed), then canonicalized BY PATTERN — lowercase host, strip
    // fragment, drop utm params — and deduped by canonical form with
    // keep-lowest-doc_id. Spark's Java regex vs the oracle's RE2, like
    // L6g. Scan-local until the final small aggregate.
    "llm_url_canonicalize" -> ((s, dir) => {
      val base = col("doc_id") % 250
      val host = element_at(
        array(lit("alpha"), lit("beta"), lit("gamma"), lit("delta")),
        (base % 4 + 1).cast(IntegerType))
      val t = Tables.t(s, dir, "documents")
        .withColumn("url", concat(
          lit("https://"),
          when(col("doc_id") % 3 === 0,
            concat(upper(host), lit(".Example.COM")))
            .otherwise(concat(host, lit(".example.com"))),
          lit("/p/"), base.cast(StringType),
          lit("?id="), base.cast(StringType),
          when(col("doc_id") % 2 === 0, lit("&utm_source=feed"))
            .otherwise(lit("")),
          when(col("doc_id") % 4 === 0,
            concat(lit("#sec"), (col("doc_id") % 5).cast(StringType)))
            .otherwise(lit(""))))
      val noFrag = regexp_replace(col("url"), "#[A-Za-z0-9]*$", "")
      val noUtm = regexp_replace(noFrag, "&utm_[a-z]+=[a-z]*", "")
      t.withColumn("canon", concat(
          lit("https://"),
          lower(regexp_extract(noUtm, "^https://([^/]+)", 1)),
          regexp_extract(noUtm, "^https://[^/]+(.*)$", 1)))
        .groupBy(col("canon"))
        .agg(min(col("doc_id")).as("keep_id"),
          count(lit(1)).as("n_variants"))
        .orderBy(col("canon"))
    }),

    // L6: PII scrubbing — the redaction pass every training corpus runs
    // before shipping. The harness corpus carries no real PII, so a
    // deterministic synthetic layer (one email + one phone built from
    // table columns) is appended; redaction then happens BY PATTERN, not
    // by echo — Spark's Java-regex engine against patterns the oracle
    // re-implements independently in DuckDB's RE2 (a genuine differential
    // test of both regex engines on the shared dialect subset). Output:
    // per-doc match counts, the md5 of the scrubbed text, and redacted
    // span length. Scan-local and codegen'd; the only shuffle is the
    // final sort.
    "llm_pii_scrub" -> ((s, dir) => {
      val email = "[A-Za-z0-9._]+@[A-Za-z0-9.]+\\.[A-Za-z][A-Za-z]+"
      val phone = "555-[0-9][0-9][0-9][0-9]"
      Tables.t(s, dir, "documents")
        .withColumn("dirty", concat(
          col("text"),
          lit(" contact "), lower(col("source")),
          col("doc_id").cast(StringType), lit("@mail.example.org"),
          lit(" or call 555-"),
          lpad((col("doc_id") % 10000).cast(StringType), 4, "0")))
        .select(
          col("doc_id"),
          regexp_count(col("dirty"), lit(email)).cast(LongType).as("n_email"),
          regexp_count(col("dirty"), lit(phone)).cast(LongType).as("n_phone"),
          md5(regexp_replace(
            regexp_replace(col("dirty"), lit(email), lit("[EMAIL]")),
            lit(phone), lit("[PHONE]")).cast(BinaryType)).as("clean_md5"),
          (length(col("dirty")) -
            length(regexp_replace(col("dirty"), lit(email), lit(""))))
            .cast(LongType).as("email_span_len"))
        .orderBy(col("doc_id"))
    })
  )

  // ---- oracles -------------------------------------------------------

  private val nearDupDocsSql =
    """SELECT doc_id, text FROM documents
       UNION ALL
       SELECT doc_id + 100000, substring(text, instr(text, ' ') + 1)
       FROM documents WHERE doc_id % 5 = 0"""

  val oracle: Map[String, String] = Map(
    "llm_dedup_exact" ->
      """WITH all_docs AS (
           SELECT doc_id, text FROM documents
           UNION ALL
           SELECT doc_id + 100000, text FROM documents WHERE doc_id % 5 = 0)
         SELECT sha256(lower(trim(text))) AS text_hash,
                min(doc_id) AS keep_id, count(*) AS n_copies
         FROM all_docs GROUP BY 1 ORDER BY keep_id""",

    // mirrors the Spark pipeline hash-for-hash: md5-derived word hashes
    // mod P, linear-combination shingle hashes, 16 universal-family mins,
    // '|'-joined band keys, equi-join candidates, exact-Jaccard confirm
    // over the hashed-shingle sets
    "llm_dedup_minhash" ->
      s"""WITH $minhashPairCtes
         SELECT a_id, b_id, jaccard FROM confirmed ORDER BY a_id, b_id""",

    // incremental ingest == the full recompute's pairs touching a batch
    // doc (b_id is the pair max, so b_id >= 100000 iff either side is new)
    "llm_dedup_incremental" ->
      s"""WITH $minhashPairCtes
         SELECT a_id, b_id, jaccard FROM confirmed
         WHERE b_id >= 100000 ORDER BY a_id, b_id""",

    // exact-hash ingest: index hashes drop, novel hashes ship with the
    // lowest in-batch id winning
    "llm_dedup_exact_incremental" ->
      """WITH batch AS (
           SELECT doc_id + 100000 AS doc_id, text FROM documents
           WHERE doc_id % 5 = 0
           UNION ALL
           SELECT doc_id + 200000, reverse(text) FROM documents
           WHERE doc_id % 5 = 1
           UNION ALL
           SELECT doc_id + 300000, reverse(text) FROM documents
           WHERE doc_id % 5 = 1),
         snap_h AS (SELECT DISTINCT sha256(lower(trim(text))) AS h
                    FROM documents),
         bh AS (SELECT doc_id, sha256(lower(trim(text))) AS h FROM batch),
         fresh AS (SELECT doc_id, h FROM bh
                   WHERE h NOT IN (SELECT h FROM snap_h))
         SELECT min(doc_id) AS doc_id FROM fresh GROUP BY h
         ORDER BY doc_id""",

    // the shipped batch: arriving docs that are the GREATER member of a
    // confirmed pair are dropped; the novel (reversed-text) docs all ship
    "llm_dedup_ingest_apply" ->
      s"""WITH $minhashPairCtes
         SELECT doc_id FROM (
           SELECT doc_id FROM nd WHERE doc_id >= 100000
           UNION ALL
           SELECT doc_id + 200000 AS doc_id FROM documents
           WHERE doc_id % 5 = 1)
         WHERE doc_id NOT IN (SELECT b_id FROM confirmed)
         ORDER BY doc_id""",

    // retirement: the ingest's pairs are the incremental set minus
    // every pair whose index-side member is retired (%100 of the seed)
    "llm_dedup_retire" ->
      s"""WITH $minhashPairCtes
         SELECT a_id, b_id, jaccard FROM confirmed
         WHERE b_id >= 100000 AND NOT (a_id < 100000 AND a_id % 100 = 0)
         ORDER BY a_id, b_id""",

    // the streamed ingest unions to the same pair set for any wave split
    "llm_dedup_stream" ->
      s"""WITH $minhashPairCtes
         SELECT a_id, b_id, jaccard FROM confirmed
         WHERE b_id >= 100000 ORDER BY a_id, b_id""",

    // same confirmed-pair CTEs, then connected components to the SAME
    // fixpoint the Spark loop reaches: min-reachable-id via recursive CTE
    "llm_dedup_clusters" ->
      s"""WITH RECURSIVE $minhashPairCtes,
            edges AS (SELECT a_id AS src, b_id AS dst FROM confirmed
                      UNION ALL
                      SELECT b_id, a_id FROM confirmed),
            r AS (SELECT DISTINCT src AS doc_id, src AS lbl FROM edges
                  UNION
                  SELECT e.src, r.lbl FROM edges e JOIN r ON r.doc_id = e.dst)
         SELECT doc_id, min(lbl) AS cluster_id,
                min(lbl) = doc_id AS is_keeper
         FROM r GROUP BY doc_id ORDER BY doc_id""",

    // the incremental contraction must land on the SAME fixpoint as the
    // full recompute — identical SQL, identical hash
    "llm_dedup_clusters_incremental" ->
      s"""WITH RECURSIVE $minhashPairCtes,
            edges AS (SELECT a_id AS src, b_id AS dst FROM confirmed
                      UNION ALL
                      SELECT b_id, a_id FROM confirmed),
            r AS (SELECT DISTINCT src AS doc_id, src AS lbl FROM edges
                  UNION
                  SELECT e.src, r.lbl FROM edges e JOIN r ON r.doc_id = e.dst)
         SELECT doc_id, min(lbl) AS cluster_id,
                min(lbl) = doc_id AS is_keeper
         FROM r GROUP BY doc_id ORDER BY doc_id""",

    "llm_dedup_substring" ->
      s"""WITH nd AS ($nearDupDocsSql),
            win AS (SELECT doc_id,
                      unnest(list_distinct(list_transform(
                        list_filter(
                          generate_series(1, greatest(length(text) - 39, 0)),
                          i -> i = 1 OR substr(text, i - 1, 1) = ' '),
                        i -> CAST(('0x' || substr(md5(substr(text, i, 40)), 1, 15))
                                  AS BIGINT)))) AS h
                    FROM nd),
            keyed AS (SELECT doc_id, h FROM (
                        SELECT doc_id, h, count(*) OVER (PARTITION BY h) AS dfc
                        FROM win) WHERE dfc <= 100)
         SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS n_shared
         FROM keyed a JOIN keyed b ON a.h = b.h AND a.doc_id < b.doc_id
         GROUP BY 1, 2 ORDER BY a_id, b_id""",

    "llm_dedup_apply" ->
      s"""WITH RECURSIVE $minhashPairCtes,
            edges AS (SELECT a_id AS src, b_id AS dst FROM confirmed
                      UNION ALL
                      SELECT b_id, a_id FROM confirmed),
            r AS (SELECT DISTINCT src AS doc_id, src AS lbl FROM edges
                  UNION
                  SELECT e.src, r.lbl FROM edges e JOIN r ON r.doc_id = e.dst),
            dropped AS (SELECT doc_id
                        FROM (SELECT doc_id, min(lbl) AS lbl FROM r GROUP BY doc_id)
                        WHERE lbl <> doc_id)
         SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars
         FROM nd
         WHERE doc_id NOT IN (SELECT doc_id FROM dropped)
         ORDER BY doc_id""",

    "llm_decontaminate" -> {
      val terms = Gram8C.zipWithIndex
        .map { case (c, j) => s"wh[i+$j] * $c" }.mkString(" + ")
      s"""WITH whs AS (SELECT doc_id,
                         list_transform(string_split(text, ' '), w ->
                           CAST(('0x' || substr(md5(w), 1, 15)) AS BIGINT) % $MinhashP) AS wh
                       FROM documents),
            grams AS (SELECT doc_id,
                        unnest(CASE WHEN len(wh) >= 8 THEN
                          list_distinct(list_transform(
                            generate_series(1, len(wh) - 7),
                            i -> ($terms) % $MinhashP))
                        ELSE [] END) AS g
                      FROM whs),
            bench AS (SELECT DISTINCT g FROM grams WHERE doc_id % 37 = 0),
            hits AS (SELECT doc_id, count(*) AS n_hits
                     FROM grams JOIN bench USING (g)
                     WHERE doc_id % 37 <> 0 GROUP BY doc_id)
         SELECT d.doc_id, coalesce(h.n_hits, 0) AS n_hits,
                coalesce(h.n_hits, 0) > 0 AS contaminated
         FROM documents d LEFT JOIN hits h ON d.doc_id = h.doc_id
         WHERE d.doc_id % 37 <> 0
         ORDER BY d.doc_id"""
    },

    // the persisted-index ingest must produce the IDENTICAL report
    "llm_decontam_incremental" -> {
      val terms = Gram8C.zipWithIndex
        .map { case (c, j) => s"wh[i+$j] * $c" }.mkString(" + ")
      s"""WITH whs AS (SELECT doc_id,
                         list_transform(string_split(text, ' '), w ->
                           CAST(('0x' || substr(md5(w), 1, 15)) AS BIGINT) % $MinhashP) AS wh
                       FROM documents),
            grams AS (SELECT doc_id,
                        unnest(CASE WHEN len(wh) >= 8 THEN
                          list_distinct(list_transform(
                            generate_series(1, len(wh) - 7),
                            i -> ($terms) % $MinhashP))
                        ELSE [] END) AS g
                      FROM whs),
            bench AS (SELECT DISTINCT g FROM grams WHERE doc_id % 37 = 0),
            hits AS (SELECT doc_id, count(*) AS n_hits
                     FROM grams JOIN bench USING (g)
                     WHERE doc_id % 37 <> 0 GROUP BY doc_id)
         SELECT d.doc_id, coalesce(h.n_hits, 0) AS n_hits,
                coalesce(h.n_hits, 0) > 0 AS contaminated
         FROM documents d LEFT JOIN hits h ON d.doc_id = h.doc_id
         WHERE d.doc_id % 37 <> 0
         ORDER BY d.doc_id"""
    },

    "llm_sample_mix" ->
      """SELECT source,
           (CAST(substr(source, 4) AS INTEGER) % 10) * 10 + 5 AS rate_pct,
           count(*) AS n_total,
           count(CASE WHEN
             CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
               % 100 < (CAST(substr(source, 4) AS INTEGER) % 10) * 10 + 5
             THEN 1 END) AS n_sampled
         FROM documents GROUP BY 1, 2 ORDER BY source""",

    // exact stratified split: same rank-of-md5 arithmetic per stratum
    "llm_stratified_split" ->
      """WITH ranked AS (
           SELECT doc_id, source,
                  row_number() OVER (PARTITION BY source
                    ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn,
                  count(*) OVER (PARTITION BY source) AS n
           FROM documents)
         SELECT doc_id, source,
                CASE WHEN rn <= floor(n * 0.8) THEN 'train'
                     WHEN rn <= floor(n * 0.8) + floor(n * 0.1) THEN 'val'
                     ELSE 'test' END AS split
         FROM ranked ORDER BY doc_id""",

    // mirrors the Spark pipeline: portable word hash, per-bit ±1 vote
    // sums, packed 16-bit simhash, planted-pair hamming
    "llm_dedup_simhash" -> {
      val sums = (0 until 16)
        .map(b => s"sum(CASE WHEN (h >> $b) & 1 = 1 THEN 1 ELSE -1 END) AS s$b")
        .mkString(",\n                  ")
      val pack = (0 until 16)
        .map(b => s"CASE WHEN s$b > 0 THEN ${1 << b} ELSE 0 END")
        .mkString(" + ")
      s"""WITH nd AS ($nearDupDocsSql),
            words AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM nd),
            wh AS (SELECT doc_id,
                     CAST(('0x' || substr(md5(w), 1, 15)) AS BIGINT) AS h
                   FROM words),
            bits AS (SELECT doc_id,
                  $sums
                FROM wh GROUP BY doc_id),
            sim AS (SELECT doc_id, CAST($pack AS INTEGER) AS simhash FROM bits),
            orig AS (SELECT doc_id AS a_id, simhash AS a_sim FROM sim
                     WHERE doc_id < 100000),
            mut AS (SELECT doc_id - 100000 AS a_id, doc_id AS b_id,
                      simhash AS b_sim FROM sim WHERE doc_id >= 100000)
         SELECT o.a_id, m.b_id, o.a_sim, m.b_sim,
                CAST(bit_count(xor(CAST(o.a_sim AS BIGINT), CAST(m.b_sim AS BIGINT)))
                     AS INTEGER) AS hamming
         FROM orig o JOIN mut m ON o.a_id = m.a_id
         ORDER BY o.a_id"""
    },

    // the portable md5 shingle hashes, the inverted-index candidate
    // generation, the df-100 skew cap, AND the capped-set overlap
    // arithmetic (|A∪B| = |A|+|B|−|A∩B|) are replayed exactly — both
    // engines agree by construction
    "llm_dedup_ngram_jaccard" -> {
      val Seq(c1, c2, c3) = ShingleC
      s"""WITH nd AS ($nearDupDocsSql),
            whs AS (SELECT doc_id,
                      list_transform(string_split(text, ' '), w ->
                        CAST(('0x' || substr(md5(w), 1, 15)) AS BIGINT) % $MinhashP) AS wh
                    FROM nd),
            shf AS (SELECT doc_id,
                      list_distinct(list_transform(
                        generate_series(1, greatest(len(wh) - 2, 0)),
                        i -> (wh[i] * $c1 + wh[i+1] * $c2 + wh[i+2] * $c3) % $MinhashP)) AS sh
                    FROM whs),
            idx AS (SELECT doc_id, unnest(sh) AS g FROM shf),
            rare AS (SELECT g FROM idx GROUP BY g HAVING count(*) <= 100),
            keyed AS (SELECT doc_id, g FROM idx WHERE g IN (SELECT g FROM rare)),
            sizes AS (SELECT doc_id, count(*) AS n FROM keyed GROUP BY doc_id),
            pairs AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id,
                        CAST(count(*) AS BIGINT) AS n_common
                      FROM keyed a JOIN keyed b
                        ON a.g = b.g AND a.doc_id < b.doc_id
                      GROUP BY 1, 2)
         SELECT a_id, b_id, n_common,
                CAST(sa.n + sb.n - n_common AS BIGINT) AS n_union,
                CAST(n_common AS DOUBLE) / CAST(sa.n + sb.n - n_common AS DOUBLE)
                  AS jaccard
         FROM pairs
         JOIN sizes sa ON pairs.a_id = sa.doc_id
         JOIN sizes sb ON pairs.b_id = sb.doc_id
         WHERE CAST(n_common AS DOUBLE) / CAST(sa.n + sb.n - n_common AS DOUBLE) > 0.5
         ORDER BY a_id, b_id"""
    },

    "llm_dedup_embed_cosine" ->
      s"""WITH $vecsCte,
            planted AS (SELECT vec_id + 10000 AS vec_id,
                          list_concat([v[1] + 0.05], v[2:64]) AS v
                        FROM vecs WHERE vec_id % 5 = 0),
            allv AS (SELECT vec_id, v FROM vecs UNION ALL SELECT vec_id, v FROM planted),
            bk AS (SELECT vec_id, v, $bucketSql AS bucket FROM allv)
         SELECT a.vec_id AS a_id, b.vec_id AS b_id, ${cosSql("a.v", "b.v")} AS cos
         FROM bk a JOIN bk b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
         WHERE ${cosSql("a.v", "b.v")} > 0.9
         ORDER BY a_id, b_id""",

    // mirrors what ApproxSimJoinRewrite turns the naive cross join into:
    // bucket both sides, equi-join, exact-cosine confirm
    "llm_sim_join_rewrite" ->
      s"""WITH $vecsCte,
            planted AS (SELECT vec_id + 20000 AS vec_id,
                          list_concat(list_concat(v[1:1], [v[2] + 0.03]), v[3:64]) AS v
                        FROM vecs WHERE vec_id % 7 = 0),
            allv AS (SELECT vec_id, v FROM vecs UNION ALL SELECT vec_id, v FROM planted),
            bk AS (SELECT vec_id, v, $bucketSql AS bucket FROM allv)
         SELECT a.vec_id AS a_id, b.vec_id AS b_id, ${cosSql("a.v", "b.v")} AS cos
         FROM bk a JOIN bk b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
         WHERE ${cosSql("a.v", "b.v")} >= 0.9
         ORDER BY a_id, b_id""",

    "llm_sim_topk" ->
      s"""WITH $vecsCte,
            q AS (SELECT vec_id AS q_id, v AS q_v FROM vecs WHERE vec_id < 20),
            scored AS (SELECT q.q_id, n.vec_id AS n_id, ${cosSql("q.q_v", "n.v")} AS cos
                       FROM q JOIN vecs n ON q.q_id <> n.vec_id)
         SELECT q_id, rk, n_id, cos FROM (
           SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id ASC) rk
           FROM scored)
         WHERE rk <= 5 ORDER BY q_id, rk""",

    "llm_sim_lsh_topk" ->
      s"""WITH $vecsCte,
            bk AS (SELECT vec_id, v, $bucketSql AS bucket FROM vecs),
            q AS (SELECT vec_id AS q_id, v AS q_v, bucket FROM bk WHERE vec_id < 50),
            scored AS (SELECT q.q_id, n.vec_id AS n_id, ${cosSql("q.q_v", "n.v")} AS cos
                       FROM q JOIN bk n ON q.bucket = n.bucket AND q.q_id <> n.vec_id)
         SELECT q_id, rk, n_id, cos FROM (
           SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id ASC) rk
           FROM scored)
         WHERE rk <= 3 ORDER BY q_id, rk""",

    // mirrors the Spark pipeline: seed cells from the first 16 vectors,
    // one k-means refinement (DECIMAL(38,18) component sums -> means),
    // then assignment/probing against the refined centroids
    // the incremental ingest must equal the one-shot plan: snapshot-only
    // k-means (seeds = 16 lowest snapshot ids), batch assigned under the
    // SAME refined centroids, candidates = index ∪ batch in probed cells
    "llm_sim_incremental" ->
      s"""WITH $vecsCte,
            snap AS (SELECT vec_id, v FROM vecs WHERE vec_id % 10 <> 0),
            seeds AS (SELECT vec_id AS c_id, v AS c_v FROM snap
                      ORDER BY vec_id LIMIT 16),
            a0 AS (
              SELECT vec_id, v, c_id AS cell FROM (
                SELECT a.vec_id, a.v, c.c_id,
                  row_number() OVER (PARTITION BY a.vec_id
                    ORDER BY ${cosSql("a.v", "c.c_v")} DESC, c.c_id ASC) AS arn
                FROM snap a CROSS JOIN seeds c) WHERE arn = 1),
            comp AS (
              SELECT cell, j,
                CAST(sum(CAST(v[j] AS DECIMAL(38,18))) AS DOUBLE) /
                  CAST(count(*) AS DOUBLE) AS m
              FROM a0 CROSS JOIN generate_series(1, 64) t(j)
              GROUP BY cell, j),
            cents AS (SELECT cell AS c_id, list(m ORDER BY j) AS c_v
                      FROM comp GROUP BY cell),
            idx AS (
              SELECT vec_id AS n_id, v AS n_v, c_id AS cell FROM (
                SELECT a.vec_id, a.v, c.c_id,
                  row_number() OVER (PARTITION BY a.vec_id
                    ORDER BY ${cosSql("a.v", "c.c_v")} DESC, c.c_id ASC) AS arn
                FROM snap a CROSS JOIN cents c) WHERE arn = 1),
            batch AS (SELECT vec_id, v FROM vecs WHERE vec_id % 10 = 0),
            bidx AS (
              SELECT vec_id AS n_id, v AS n_v, c_id AS cell FROM (
                SELECT a.vec_id, a.v, c.c_id,
                  row_number() OVER (PARTITION BY a.vec_id
                    ORDER BY ${cosSql("a.v", "c.c_v")} DESC, c.c_id ASC) AS arn
                FROM batch a CROSS JOIN cents c) WHERE arn = 1),
            allidx AS (SELECT * FROM idx UNION ALL SELECT * FROM bidx),
            probes AS (
              SELECT q_id, q_v, cell FROM (
                SELECT q.n_id AS q_id, q.n_v AS q_v, c.c_id AS cell,
                  row_number() OVER (PARTITION BY q.n_id
                    ORDER BY ${cosSql("q.n_v", "c.c_v")} DESC, c.c_id ASC) AS prn
                FROM bidx q CROSS JOIN cents c) WHERE prn <= 4),
            scored AS (
              SELECT p.q_id, a.n_id, ${cosSql("p.q_v", "a.n_v")} AS cos
              FROM probes p JOIN allidx a ON p.cell = a.cell AND p.q_id <> a.n_id)
         SELECT q_id, rk, n_id, cos FROM (
           SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id ASC) AS rk
           FROM scored)
         WHERE rk <= 3 ORDER BY q_id, rk""",

    // the streamed ingest under the wave-visibility split: wave-1
    // queries score against idx ∪ wave-1, wave-2 against everything
    // (q_ids are wave-disjoint, so one ranking window serves both)
    "llm_sim_stream" ->
      s"""WITH $vecsCte,
            snap AS (SELECT vec_id, v FROM vecs WHERE vec_id % 10 <> 0),
            seeds AS (SELECT vec_id AS c_id, v AS c_v FROM snap
                      ORDER BY vec_id LIMIT 16),
            a0 AS (
              SELECT vec_id, v, c_id AS cell FROM (
                SELECT a.vec_id, a.v, c.c_id,
                  row_number() OVER (PARTITION BY a.vec_id
                    ORDER BY ${cosSql("a.v", "c.c_v")} DESC, c.c_id ASC) AS arn
                FROM snap a CROSS JOIN seeds c) WHERE arn = 1),
            comp AS (
              SELECT cell, j,
                CAST(sum(CAST(v[j] AS DECIMAL(38,18))) AS DOUBLE) /
                  CAST(count(*) AS DOUBLE) AS m
              FROM a0 CROSS JOIN generate_series(1, 64) t(j)
              GROUP BY cell, j),
            cents AS (SELECT cell AS c_id, list(m ORDER BY j) AS c_v
                      FROM comp GROUP BY cell),
            idx AS (
              SELECT vec_id AS n_id, v AS n_v, c_id AS cell FROM (
                SELECT a.vec_id, a.v, c.c_id,
                  row_number() OVER (PARTITION BY a.vec_id
                    ORDER BY ${cosSql("a.v", "c.c_v")} DESC, c.c_id ASC) AS arn
                FROM snap a CROSS JOIN cents c) WHERE arn = 1),
            b1 AS (SELECT vec_id, v FROM vecs WHERE vec_id % 20 = 0),
            b2 AS (SELECT vec_id, v FROM vecs
                   WHERE vec_id % 10 = 0 AND vec_id % 20 <> 0),
            bidx1 AS (
              SELECT vec_id AS n_id, v AS n_v, c_id AS cell FROM (
                SELECT a.vec_id, a.v, c.c_id,
                  row_number() OVER (PARTITION BY a.vec_id
                    ORDER BY ${cosSql("a.v", "c.c_v")} DESC, c.c_id ASC) AS arn
                FROM b1 a CROSS JOIN cents c) WHERE arn = 1),
            bidx2 AS (
              SELECT vec_id AS n_id, v AS n_v, c_id AS cell FROM (
                SELECT a.vec_id, a.v, c.c_id,
                  row_number() OVER (PARTITION BY a.vec_id
                    ORDER BY ${cosSql("a.v", "c.c_v")} DESC, c.c_id ASC) AS arn
                FROM b2 a CROSS JOIN cents c) WHERE arn = 1),
            probes1 AS (
              SELECT q_id, q_v, cell FROM (
                SELECT q.n_id AS q_id, q.n_v AS q_v, c.c_id AS cell,
                  row_number() OVER (PARTITION BY q.n_id
                    ORDER BY ${cosSql("q.n_v", "c.c_v")} DESC, c.c_id ASC) AS prn
                FROM bidx1 q CROSS JOIN cents c) WHERE prn <= 4),
            probes2 AS (
              SELECT q_id, q_v, cell FROM (
                SELECT q.n_id AS q_id, q.n_v AS q_v, c.c_id AS cell,
                  row_number() OVER (PARTITION BY q.n_id
                    ORDER BY ${cosSql("q.n_v", "c.c_v")} DESC, c.c_id ASC) AS prn
                FROM bidx2 q CROSS JOIN cents c) WHERE prn <= 4),
            cand1 AS (SELECT * FROM idx UNION ALL SELECT * FROM bidx1),
            cand2 AS (SELECT * FROM cand1 UNION ALL SELECT * FROM bidx2),
            scored AS (
              SELECT p.q_id, a.n_id, ${cosSql("p.q_v", "a.n_v")} AS cos
              FROM probes1 p JOIN cand1 a ON p.cell = a.cell AND p.q_id <> a.n_id
              UNION ALL
              SELECT p.q_id, a.n_id, ${cosSql("p.q_v", "a.n_v")} AS cos
              FROM probes2 p JOIN cand2 a ON p.cell = a.cell AND p.q_id <> a.n_id)
         SELECT q_id, rk, n_id, cos FROM (
           SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id ASC) AS rk
           FROM scored)
         WHERE rk <= 3 ORDER BY q_id, rk""",

    "llm_sim_ivf_topk" ->
      s"""WITH $vecsCte,
            cents0 AS (SELECT vec_id AS c_id, v AS c_v FROM vecs WHERE vec_id < 16),
            a0 AS (
              SELECT vec_id AS n_id, v AS n_v, c_id AS cell FROM (
                SELECT a.vec_id, a.v, c.c_id,
                  row_number() OVER (PARTITION BY a.vec_id
                    ORDER BY ${cosSql("a.v", "c.c_v")} DESC, c.c_id ASC) AS arn
                FROM vecs a CROSS JOIN cents0 c) WHERE arn = 1),
            comp AS (
              SELECT cell, j,
                CAST(sum(CAST(n_v[j] AS DECIMAL(38,18))) AS DOUBLE) /
                  CAST(count(*) AS DOUBLE) AS m
              FROM a0 CROSS JOIN generate_series(1, 64) t(j)
              GROUP BY cell, j),
            cents AS (SELECT cell AS c_id, list(m ORDER BY j) AS c_v
                      FROM comp GROUP BY cell),
            assigned AS (
              SELECT vec_id AS n_id, v AS n_v, c_id AS cell FROM (
                SELECT a.vec_id, a.v, c.c_id,
                  row_number() OVER (PARTITION BY a.vec_id
                    ORDER BY ${cosSql("a.v", "c.c_v")} DESC, c.c_id ASC) AS arn
                FROM vecs a CROSS JOIN cents c) WHERE arn = 1),
            probes AS (
              SELECT q_id, q_v, cell FROM (
                SELECT q.vec_id AS q_id, q.v AS q_v, c.c_id AS cell,
                  row_number() OVER (PARTITION BY q.vec_id
                    ORDER BY ${cosSql("q.v", "c.c_v")} DESC, c.c_id ASC) AS prn
                FROM vecs q CROSS JOIN cents c WHERE q.vec_id < 20) WHERE prn <= 4),
            scored AS (
              SELECT p.q_id, a.n_id, ${cosSql("p.q_v", "a.n_v")} AS cos
              FROM probes p JOIN assigned a ON p.cell = a.cell AND p.q_id <> a.n_id)
         SELECT q_id, rk, n_id, cos FROM (
           SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id ASC) AS rk
           FROM scored)
         WHERE rk <= 3 ORDER BY q_id, rk""",

    "llm_repetition" -> {
      val Seq(c1, c2, c3) = ShingleC
      s"""WITH whs AS (SELECT doc_id,
                         list_transform(string_split(text, ' '), w ->
                           CAST(('0x' || substr(md5(w), 1, 15)) AS BIGINT) % $MinhashP) AS wh
                       FROM documents),
            g AS (SELECT doc_id, CAST(len(wh) AS BIGINT) AS n_words,
                    list_transform(generate_series(1, greatest(len(wh) - 2, 0)),
                      i -> (wh[i] * $c1 + wh[i+1] * $c2 + wh[i+2] * $c3) % $MinhashP)
                      AS sh_all
                  FROM whs),
            m AS (SELECT doc_id, n_words,
                    CAST(len(sh_all) AS BIGINT) AS n_grams,
                    CAST(len(list_distinct(sh_all)) AS BIGINT) AS n_distinct
                  FROM g)
         SELECT doc_id, n_words, n_grams, n_distinct,
           CASE WHEN n_grams > 0 THEN
             1.0 - CAST(n_distinct AS DOUBLE) / CAST(n_grams AS DOUBLE)
           ELSE 0.0 END AS rep_ratio,
           (CASE WHEN n_grams > 0 THEN
             1.0 - CAST(n_distinct AS DOUBLE) / CAST(n_grams AS DOUBLE)
           ELSE 0.0 END) > 0.2 AS rep_flag
         FROM m ORDER BY doc_id"""
    },

    "llm_entropy" ->
      """WITH words AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w
                        FROM documents),
            wc AS (SELECT doc_id, w, count(*) AS c FROM words GROUP BY 1, 2),
            wn AS (SELECT doc_id, w, c,
                     sum(c) OVER (PARTITION BY doc_id) AS n_tok FROM wc),
            d AS (SELECT doc_id, CAST(max(n_tok) AS BIGINT) AS n_tok,
                    list((c / CAST(n_tok AS DOUBLE)) *
                         log2(c / CAST(n_tok AS DOUBLE)) ORDER BY w) AS terms
                  FROM wn GROUP BY doc_id)
         SELECT doc_id, n_tok,
           round(list_reduce(list_prepend(CAST(0.0 AS DOUBLE), terms),
             (acc, t) -> acc - t), 6) AS entropy
         FROM d ORDER BY doc_id""",

    "llm_filter_pipeline" -> {
      val Seq(c1, c2, c3) = ShingleC
      s"""WITH whs AS (SELECT doc_id, text,
                         list_transform(string_split(text, ' '), w ->
                           CAST(('0x' || substr(md5(w), 1, 15)) AS BIGINT) % $MinhashP) AS wh
                       FROM documents),
            g AS (SELECT doc_id, text, CAST(len(wh) AS BIGINT) AS n_words,
                    list_transform(generate_series(1, greatest(len(wh) - 2, 0)),
                      i -> (wh[i] * $c1 + wh[i+1] * $c2 + wh[i+2] * $c3) % $MinhashP)
                      AS sh_all
                  FROM whs),
            f AS (SELECT doc_id,
                    n_words BETWEEN 50 AND 100000 AS pass_len,
                    (CASE WHEN len(sh_all) > 0 THEN
                       1.0 - CAST(len(list_distinct(sh_all)) AS DOUBLE) /
                         CAST(len(sh_all) AS DOUBLE)
                     ELSE 0.0 END) <= 0.2 AS pass_rep,
                    (CAST(length(text) - (n_words - 1) AS DOUBLE) /
                       CAST(n_words AS DOUBLE)) BETWEEN 3.0 AND 12.0 AS pass_wlen
                  FROM g)
         SELECT count(*) AS n_docs,
                count(CASE WHEN NOT pass_len THEN 1 END) AS drop_len,
                count(CASE WHEN NOT pass_rep THEN 1 END) AS drop_rep,
                count(CASE WHEN NOT pass_wlen THEN 1 END) AS drop_wlen,
                count(CASE WHEN pass_len AND pass_rep AND pass_wlen THEN 1 END)
                  AS n_kept
         FROM f"""
    },

    "llm_global_shuffle" ->
      """WITH t AS (SELECT doc_id,
              md5('epoch0:' || CAST(doc_id AS VARCHAR)) AS h
            FROM documents),
            s AS (SELECT doc_id, h,
              CAST(strpos('0123456789abcdef', substr(h, 1, 1)) - 1 AS BIGINT)
                AS shard FROM t)
         SELECT doc_id, shard,
                CAST(row_number() OVER (PARTITION BY shard
                  ORDER BY h, doc_id) AS BIGINT) AS pos
         FROM s ORDER BY shard, pos""",

    "llm_pack_shards" ->
      """WITH t AS (SELECT doc_id,
                      CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
                    FROM documents),
            c AS (SELECT doc_id, n_tok,
                    coalesce(sum(n_tok) OVER (ORDER BY doc_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                      AS cum_before
                  FROM t)
         SELECT doc_id, n_tok, CAST(cum_before // 4096 AS BIGINT) AS shard_id
         FROM c ORDER BY doc_id""",

    "llm_chunk" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS words
                    FROM documents),
              st AS (SELECT doc_id, words,
                       unnest(generate_series(1, greatest(len(words), 1), 48))
                         AS start
                     FROM w)
         SELECT doc_id,
           CAST((start - 1) // 48 AS BIGINT) AS chunk_idx,
           CAST(start AS BIGINT) AS start_tok,
           CAST(len(list_slice(words, start, start + 63)) AS BIGINT) AS n_tok,
           md5(array_to_string(list_slice(words, start, start + 63), ' '))
             AS chunk_hash
         FROM st ORDER BY doc_id, chunk_idx""",

    "llm_text_stats" ->
      """SELECT lang, count(*) AS n_docs,
           CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS total_tok_ws,
           CAST(sum(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]'))) AS BIGINT)
             AS total_tok_re,
           min(n_chars) AS min_chars, max(n_chars) AS max_chars
         FROM documents GROUP BY lang ORDER BY lang""",

    "llm_ngram_topk" ->
      """WITH toks AS (SELECT list_filter(string_split(text, ' '), x -> x <> '') AS t
                       FROM documents),
            idx AS (SELECT t, unnest(generate_series(1, len(t) - 1)) AS i FROM toks),
            grams AS (SELECT t[i] || ' ' || t[i + 1] AS g FROM idx)
         SELECT g, count(*) AS n FROM grams
         GROUP BY g ORDER BY n DESC, g LIMIT 20""",

    "llm_tfidf" ->
      """WITH words AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w
                        FROM documents),
            doclen AS (SELECT doc_id, count(*) AS n_words FROM words GROUP BY doc_id),
            tf AS (SELECT doc_id, w, count(*) AS tf_n FROM words
                   WHERE doc_id < 30 GROUP BY doc_id, w),
            dfreq AS (SELECT w, count(*) AS df FROM
                        (SELECT DISTINCT doc_id, w FROM words) GROUP BY w),
            n AS (SELECT count(*) AS n_docs FROM documents)
         SELECT tf.doc_id, tf.w, tf_n, n_words, df,
           round((CAST(tf_n AS DOUBLE) / CAST(n_words AS DOUBLE)) *
                 ln(CAST(n_docs AS DOUBLE) / CAST(df AS DOUBLE)), 6) AS tfidf
         FROM tf JOIN doclen USING (doc_id) JOIN dfreq USING (w) CROSS JOIN n
         ORDER BY doc_id, w""",

    "llm_lang_id" ->
      """WITH words AS (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS w
                        FROM documents),
            profile AS (SELECT * FROM (
              SELECT lang AS plang, w, count(*) AS c FROM words GROUP BY 1, 2) t
              QUALIFY row_number() OVER (PARTITION BY plang ORDER BY c DESC, w ASC) <= 10),
            docwords AS (SELECT DISTINCT doc_id, lang, w FROM words),
            scores AS (SELECT d.doc_id, d.lang, p.plang, count(*) AS cnt
                       FROM docwords d JOIN profile p ON d.w = p.w
                       GROUP BY 1, 2, 3)
         SELECT doc_id, lang, plang AS predicted, cnt FROM scores
         QUALIFY row_number() OVER (PARTITION BY doc_id ORDER BY cnt DESC, plang ASC) = 1
         ORDER BY doc_id""",

    "llm_quality_score" ->
      """SELECT doc_id,
           CAST(length(text) AS BIGINT) AS text_len,
           CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
           CAST(len(list_filter(string_split(text, ' '),
                w -> w IN ('key', 'row', 'value', 'table'))) AS BIGINT) AS n_stop,
           CAST(len(list_filter(string_split(text, ' '),
                w -> length(w) > 4)) AS BIGINT) AS n_long,
           CAST(length(text) - (len(string_split(text, ' ')) - 1) AS DOUBLE) /
             CAST(len(string_split(text, ' ')) AS DOUBLE) AS avg_word_len,
           CAST(len(list_filter(string_split(text, ' '),
                w -> w IN ('key', 'row', 'value', 'table'))) AS DOUBLE) /
             CAST(len(string_split(text, ' ')) AS DOUBLE) AS stop_ratio,
           (len(string_split(text, ' ')) >= 50 AND
            CAST(len(list_filter(string_split(text, ' '),
                 w -> w IN ('key', 'row', 'value', 'table'))) AS DOUBLE) /
              CAST(len(string_split(text, ' ')) AS DOUBLE) < 0.5) AS quality_pass
         FROM documents ORDER BY doc_id""",

    "llm_fingerprint" ->
      """SELECT doc_id,
           list_reduce(
             list_prepend(CAST(0 AS BIGINT),
               list_transform(string_split(text, ' '),
                 w -> CAST(length(w) * 131 + ascii(substring(w, 1, 1)) AS BIGINT))),
             (h, x) -> (h * 31 + x) % 1000000007) AS fp
         FROM documents ORDER BY doc_id""",

    "llm_multimodal_cols" ->
      """SELECT doc_id, lang, source, label,
           CAST(len(embedding) AS BIGINT) AS dim,
           CAST(length(text) AS BIGINT) AS text_len
         FROM documents JOIN embeddings ON doc_id = vec_id
         ORDER BY doc_id""",

    "llm_multimodal_frames" ->
      """SELECT doc_id, n_frames,
           CAST(len(sampled) AS BIGINT) AS n_sampled,
           list_reduce(list_prepend(CAST(0 AS BIGINT),
             list_transform(sampled,
               f -> CAST(length(f)*31 + ascii(substring(f, 1, 1)) AS BIGINT))),
             (a, x) -> a + x) AS frame_sig
         FROM (
           SELECT doc_id,
             CAST(ceil(length(text) / 64.0) AS BIGINT) AS n_frames,
             list_transform(
               list_filter(generate_series(0, CAST(ceil(length(text) / 64.0) AS BIGINT) - 1),
                 i -> i % 4 = 0),
               i -> substring(text, CAST(i*64 + 1 AS INT), 64)) AS sampled
           FROM documents)
         ORDER BY doc_id""",

    "llm_embed_quantize" ->
      s"""WITH $vecsCte,
            sc AS (SELECT vec_id, v,
                     127.0 / list_max(list_transform(v, x -> abs(x))) AS scale
                   FROM vecs)
         SELECT vec_id, scale,
                list_max(list_transform(v,
                  x -> abs(x - floor(x * scale) / scale))) AS max_err
         FROM sc ORDER BY vec_id""",

    "llm_multimodal_resize" -> {
      val pooled = (0 until 16).map { i =>
        val r = s"round((v[${i * 4 + 1}] + v[${i * 4 + 2}] + v[${i * 4 + 3}] + v[${i * 4 + 4}]) / 4, 4)"
        s"CASE WHEN $r = 0 THEN CAST(0 AS DOUBLE) ELSE $r END AS p$i"
      }.mkString(",\n           ")
      s"""WITH $vecsCte
         SELECT vec_id, label,
           $pooled
         FROM vecs ORDER BY vec_id"""
    },

    "llm_multimodal_features" ->
      """SELECT doc_id,
           CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
           ascii(substring(text, 1, 1)) AS first_byte,
           ascii(substring(text, length(text), 1)) AS last_byte,
           (CAST(octet_length(encode(text)) AS BIGINT) * 31 +
            ascii(substring(text, 1, 1))) % 997 AS stub_feature
         FROM documents ORDER BY doc_id""",

    "llm_url_canonicalize" ->
      """WITH t AS (SELECT doc_id,
             doc_id % 250 AS base,
             (['alpha', 'beta', 'gamma', 'delta'])[(doc_id % 250) % 4 + 1]
               AS h
           FROM documents),
         u AS (SELECT doc_id,
             'https://' ||
             CASE WHEN doc_id % 3 = 0 THEN upper(h) || '.Example.COM'
                  ELSE h || '.example.com' END ||
             '/p/' || CAST(base AS VARCHAR) ||
             '?id=' || CAST(base AS VARCHAR) ||
             CASE WHEN doc_id % 2 = 0 THEN '&utm_source=feed' ELSE '' END ||
             CASE WHEN doc_id % 4 = 0
                  THEN '#sec' || CAST(doc_id % 5 AS VARCHAR) ELSE '' END
               AS url
           FROM t),
         c AS (SELECT doc_id,
             'https://' ||
             lower(regexp_extract(
               regexp_replace(regexp_replace(url, '#[A-Za-z0-9]*$', ''),
                 '&utm_[a-z]+=[a-z]*', '', 'g'),
               '^https://([^/]+)', 1)) ||
             regexp_extract(
               regexp_replace(regexp_replace(url, '#[A-Za-z0-9]*$', ''),
                 '&utm_[a-z]+=[a-z]*', '', 'g'),
               '^https://[^/]+(.*)$', 1) AS canon
           FROM u)
         SELECT canon, min(doc_id) AS keep_id, count(*) AS n_variants
         FROM c GROUP BY canon ORDER BY canon""",

    "llm_pii_scrub" ->
      """WITH d AS (SELECT doc_id,
             text || ' contact ' || lower(source) ||
             CAST(doc_id AS VARCHAR) || '@mail.example.org' ||
             ' or call 555-' ||
             lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS dirty
           FROM documents)
         SELECT doc_id,
           CAST(len(regexp_extract_all(dirty,
             '[A-Za-z0-9._]+@[A-Za-z0-9.]+\.[A-Za-z][A-Za-z]+'))
             AS BIGINT) AS n_email,
           CAST(len(regexp_extract_all(dirty, '555-[0-9][0-9][0-9][0-9]'))
             AS BIGINT) AS n_phone,
           md5(regexp_replace(
             regexp_replace(dirty,
               '[A-Za-z0-9._]+@[A-Za-z0-9.]+\.[A-Za-z][A-Za-z]+',
               '[EMAIL]', 'g'),
             '555-[0-9][0-9][0-9][0-9]', '[PHONE]', 'g')) AS clean_md5,
           CAST(length(dirty) - length(regexp_replace(dirty,
             '[A-Za-z0-9._]+@[A-Za-z0-9.]+\.[A-Za-z][A-Za-z]+', '', 'g'))
             AS BIGINT) AS email_span_len
         FROM d ORDER BY doc_id"""
  )
}
