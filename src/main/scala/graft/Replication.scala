package graft

import graft.sources.TableSource
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** The reference tool's three entry points (SURVEY.md §3.1) as a library
  * facade, composing the pieces the operator inventory proves one by one:
  * S3 snapshot sources, ST1's streaming CDC apply with the epoch-delta
  * state layout, A8 latest-wins collapse, and A1/A2/O5/O6-shaped
  * consistency checking. A user of the reference drives `--full`,
  * `--increment`, and a checksum compare; a user of this library calls
  * [[fullSync]], [[incrementalSync]], and [[consistencyCheck]].
  */
object Replication {

  /** The tool class's config surface: replicate-table include/exclude. */
  final case class TableFilter(include: Set[String] = Set.empty,
      exclude: Set[String] = Set.empty) {
    def admits(table: String): Boolean =
      (include.isEmpty || include(table)) && !exclude(table)
  }

  /** Full sync (`--full`): snapshot every admitted table through the
    * pluggable source into a parquet destination. PK-chunked parallelism
    * is the source's concern (JdbcSource.snapshotPartitioned in
    * production); this layer only sequences tables. Returns per-table
    * row counts (the reference logs the same). */
  def fullSync(spark: SparkSession, source: TableSource, tables: Seq[String],
      destDir: String, filter: TableFilter = TableFilter(),
      parallelism: Int = 1): Map[String, Long] = {
    require(parallelism >= 1, "parallelism must be at least 1")
    val admitted = tables.filter(filter.admits)
    def one(t: String): (String, Long) = {
      source.snapshot(spark, t).write.mode("overwrite").parquet(s"$destDir/$t")
      // the count re-reads what actually landed — a write verification,
      // not bookkeeping off the in-flight frame
      t -> spark.read.parquet(s"$destDir/$t").count()
    }
    if (parallelism == 1) admitted.map(one).toMap
    else {
      // `parallelism` table snapshots in flight at once: Spark schedules
      // concurrent jobs submitted from separate threads, so the
      // dimension-table tail no longer serializes behind the fact
      // table's snapshot — at snapshot scale the cluster stays busy for
      // the whole sync, not just the widest table's job. Each table's
      // job is still fully distributed on its own.
      import scala.concurrent.{Await, ExecutionContext, Future}
      import scala.concurrent.duration.Duration
      val pool = java.util.concurrent.Executors.newFixedThreadPool(parallelism)
      implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
      try Await.result(Future.traverse(admitted)(t => Future(one(t))),
        Duration.Inf).toMap
      catch {
        case e: Throwable =>
          // one table's snapshot failed: the OTHER futures are still
          // writing into destDir (shutdown() alone does not cancel
          // running tasks), and a caller's immediate retry would overlap
          // with those still-running overwrite jobs on the same table
          // paths — drain the pool before propagating, so the failure
          // the caller sees is also the moment the dest dir is quiet
          pool.shutdownNow()
          val drained =
            pool.awaitTermination(10, java.util.concurrent.TimeUnit.MINUTES)
          if (!drained)
            // surface the broken guarantee instead of silently voiding
            // it: a caller's immediate retry would overlap the
            // still-running overwrite jobs on the same table paths
            e.addSuppressed(new IllegalStateException(
              "fullSync drain timed out after 10 minutes — snapshot " +
                s"writers may still be writing into $destDir; do not " +
                "retry until they quiesce"))
          throw e
      }
      finally { pool.shutdown(); () }
    }
  }

  /** Per-pass sync progress — the operational surface a replication user
    * watches (the reference logs rows/s and the applied position; here:
    * rows applied, epoch deltas written, and the applied POSITION this
    * pass reached — the newest applied-or-resolved sequence number, the
    * binlog-position analogue; None when the pass applied no rows).
    * Single- and multi-table syncs report the same semantics. `pendingRows` is the txn-gated uncommitted tail left
    * after the pass (0 when gating is off): a value that grows pass
    * over pass is the signature of an ABANDONED transaction — a client
    * that died mid-txn and will never commit — pinning pending state;
    * the operator's remediation is upstream (roll the source txn back),
    * so the engine surfaces the number instead of guessing a timeout.
    * In a multi-table sync the tail is topology-level (one binlog, one
    * gate) and every table's row reports the same value.
    *
    * `sourceMaxSeq` is the newest sequence number the pass SAW — applied
    * or not — so [[SyncProgress.lag]] (`sourceMaxSeq - lastSeq`) is the
    * REPLICATION LAG in binlog positions: 0 when the destination is
    * caught up, positive exactly while a PENDING transaction holds
    * consumed events back from state (the txn tail is the one thing
    * that can still apply later). Resolved-but-unapplied events advance
    * the position instead of lagging: a commit marker is resolved the
    * batch it arrives, position-skipped events are applied by
    * definition, and filter-excluded events will never apply by
    * configuration. A pass that saw no rows reports None and lag 0.
    * In a multi-table sync the seen horizon is topology-level (one
    * binlog, one number for every table's row); per-table lag reads
    * against that table's own applied position, so a table whose slice
    * of a pending transaction is held back lags while its neighbors
    * read 0. */
  final case class SyncProgress(rowsApplied: Long, epochs: Long,
      lastSeq: Option[Long], pendingRows: Long = 0L,
      sourceMaxSeq: Option[Long] = None) {
    def lag: Long = (for (sm <- sourceMaxSeq)
      yield math.max(0L, sm - lastSeq.getOrElse(0L))).getOrElse(0L)
  }

  // deltas only: negative epoch ids are compaction baselines, counting
  // them would re-trigger a full rewrite one delta early forever after
  private def deltaCount(stateDir: String): Int =
    streaming.StateFs.epochIds(stateDir).count(_ >= 0)

  /** Incremental sync (`--increment`): tail the ordered change-event log
    * under `inDir` as a stream and apply per-epoch latest-wins deltas to
    * `stateDir` — resume-safe via `ckptDir` (the binlog-position analogue).
    * Once the accumulated epoch-delta count passes `compactEvery`, the
    * deltas are folded into one baseline epoch so the read-time collapse
    * never scans an unbounded epoch list. Returns the pass's
    * [[SyncProgress]]; rows/epochs come free from StreamingQueryProgress,
    * lastSeq from observations on the writes each micro-batch already
    * makes — never a scan of the accumulated state. Each epoch is
    * staged under `ckptDir/_staging` and renamed into `stateDir`: keep
    * `ckptDir` on `stateDir`'s filesystem, or every epoch is copied
    * byte for byte instead of renamed.
    *
    * `fromSeq` is the reference's `--position`: start applying strictly
    * AFTER the given sequence number — consumed-but-skipped events count
    * toward rowsApplied (they flowed through the pass) but never reach
    * state; epochs counts only deltas actually written; lastSeq reports
    * the applied POSITION (skipped events are applied by definition, so
    * the position advances through them — see [[SyncProgress]]'s lag
    * notes). A pass whose events all sit at or below the position writes
    * nothing — [[appliedState]] needs at least one applied delta before
    * it can serve.
    *
    * `txnCol` names the transaction-id column for transaction-boundary
    * apply (the GTID analogue): only complete transactions — events
    * whose `op = "C"` commit marker has arrived — reach state; the
    * uncommitted tail carries across batches and passes. The named
    * column is CONSUMED as bookkeeping (never served); in a non-gated
    * sync no column is reserved — every column beyond the core envelope
    * is treated as evolved payload, so a log carrying a transaction-id
    * column must either gate on it or strip it upstream. `tombstoneGc`
    * sets the compaction tombstone horizon in epochs: deletes whose
    * winning epoch is at least that far behind the newest delta are
    * purged from the baseline (see StreamingOps.compactState for the
    * resurrection-safety mechanics).
    *
    * `renameCols` (old name → new name) declares `ALTER TABLE … RENAME
    * COLUMN` DDLs this pass's envelope carries: the published column is
    * renamed IN PLACE — keys last touched before the rename keep serving
    * their old values under the new name (see
    * StreamingOps.applyRenameDdl) — instead of forking into a stale old
    * column plus NULLs under the new one. Renaming onto a different type
    * is still the type-change class and fails loudly, unless the change
    * is an allowlisted safe widening.
    *
    * `truncateAtSeq` declares a `TRUNCATE TABLE` QueryEvent at the given
    * binlog position: every event at or below it is dead — keys whose
    * history fully predates the truncate vanish from [[appliedState]],
    * keys rewritten after it serve their post-truncate image — and the
    * next compaction physically reclaims the dead rows. O(1) metadata at
    * declare time; nothing is eagerly rewritten.
    *
    * `defaultCols` declares `ADD COLUMN … DEFAULT` clauses
    * (StreamingOps.ColumnDefault: the DDL's binlog position + the
    * default as a SQL literal): keys last touched BEFORE the DDL serve
    * the default instead of NULL — MySQL's backfill — while a row
    * written after it serves what it wrote, explicit NULL included. The
    * backfill is lazy (read-time fill, materialized by the next
    * compaction), the INSTANT ADD COLUMN shape a 100 TB table needs.
    *
    * `rowFilter`/`maskCols` are the single-table forms of
    * [[incrementalSyncMulti]]'s per-table filters: only matching events
    * replicate (deletes always bypass the predicate) and masked payload
    * columns ship as NULL.
    *
    * `partialImageCol` names the columns-present list of a
    * `binlog_row_image=MINIMAL` stream: each batch completes into full
    * row images against the prior state at apply time (see
    * StreamingOps.completePartialImages), so the replica and every
    * downstream consumer hold full rows.
    *
    * `ddlSql` is the RAW-TEXT alternative to the structured DDL
    * arguments: the gap's `QueryEvent` statements as the binlog ships
    * them — `(binlog position, SQL text)` pairs — parsed and folded
    * onto `renameCols`/`defaultCols`/`dropCols`/`truncateAtSeq` by
    * [[streaming.DdlSql]] (unsupported statements refuse loudly, see
    * its dialect notes). Mutually exclusive with declaring those four
    * structurally: merging two sources of the same DDL silently is how
    * a rename gets applied twice. `ddlTable` scopes the fold to this
    * sync's table — pass it whenever the feed carries a topology's
    * interleaved DDL (e.g. straight from `BinlogText.parseDdl`);
    * without it every statement is treated as this table's, which is
    * only right for a pre-filtered feed. Statement-level table renames
    * (`RENAME TABLE`) are NOT absorbed here — they rebind whole state
    * dirs, not columns; apply them via [[renameTables]] before the
    * pass, as the refusal message directs. */
  def incrementalSync(spark: SparkSession, schema: StructType, inDir: String,
      ckptDir: String, stateDir: String, compactEvery: Int = 16,
      fromSeq: Option[Long] = None, txnCol: Option[String] = None,
      tombstoneGc: Option[Int] = None,
      renameCols: Map[String, String] = Map.empty,
      truncateAtSeq: Option[Long] = None,
      defaultCols: Map[String, streaming.StreamingOps.ColumnDefault] = Map.empty,
      rowFilter: Option[String] = None,
      maskCols: Seq[String] = Seq.empty,
      keyCols: Seq[String] = Seq("okey"),
      dropCols: Map[String, Long] = Map.empty,
      keepHistory: Boolean = false,
      computedCols: Seq[(String, String)] = Seq.empty,
      positionToken: Option[String] = None,
      partialImageCol: Option[String] = None,
      heartbeats: Boolean = false,
      strictBefore: Option[(String, String)] = None,
      conflictDlq: Option[String] = None,
      ddlSql: Seq[(Long, String)] = Seq.empty,
      ddlTable: Option[String] = None)
      : SyncProgress = {
    val (renames2, truncate2, defaults2, drops2) =
      if (ddlSql.isEmpty) (renameCols, truncateAtSeq, defaultCols, dropCols)
      else {
        require(renameCols.isEmpty && truncateAtSeq.isEmpty &&
          defaultCols.isEmpty && dropCols.isEmpty,
          "ddlSql and structured DDL arguments are mutually exclusive — " +
            "the fold would silently double-apply whichever verb both " +
            "declare; pass the gap's DDL one way")
        // a real binlog interleaves EVERY table's DDL: `ddlTable` scopes
        // the fold to this sync's table (other tables' statements skip;
        // in-scope unsupported ones still refuse). An unscoped fold is
        // for pre-filtered feeds — a multi-table gap without the scope
        // would fold a neighbor's rename onto THIS table's columns.
        val cfg = streaming.DdlSql.fold(ddlSql, tableFilter = ddlTable)
        require(cfg.tableRenames.isEmpty,
          "ddlSql carries RENAME TABLE statement(s) " +
            cfg.tableRenames.map { case (a, b) => s"'$a'->'$b'" }
              .mkString(", ") +
            " — table renames rebind state dirs, not columns: apply " +
            "them via Replication.renameTables BEFORE this pass")
        // same contract for the lifecycle pair: a single-table pass
        // cannot open or retire state dirs — the topology layer does
        require(cfg.createTables.isEmpty && cfg.dropTables.isEmpty,
          "ddlSql carries table lifecycle statement(s) " +
            (cfg.createTables.map(c => s"CREATE '${c._2.table}'") ++
              cfg.dropTables.map(d => s"DROP '${d._2}'")).mkString(", ") +
            " — CREATE/DROP TABLE bootstrap or retire whole state " +
            "dirs: apply them via Replication.applyTableLifecycle " +
            "BEFORE this pass")
        requireNoNarrowing(Seq(stateDir), cfg.modifyCols)
        (cfg.renameCols, cfg.truncateAtSeq, cfg.defaultCols, cfg.dropCols)
      }
    val progress = streaming.StreamingOps.runCdcPass(spark,
      sources.FileCdcSource(schema, inDir), ckptDir, stateDir, trackSeq = true,
      startAfterSeq = fromSeq, txnCol = txnCol, renameCols = renames2,
      truncateAtSeq = truncate2, defaultCols = defaults2,
      rowFilter = rowFilter, maskCols = maskCols, keyCols = keyCols,
      dropCols = drops2, keepHistory = keepHistory,
      computedCols = computedCols, partialImageCol = partialImageCol,
      heartbeats = heartbeats, strictBefore = strictBefore,
      conflictDlq = conflictDlq)
    if (deltaCount(stateDir) > compactEvery)
      streaming.StreamingOps.compactState(spark, stateDir, tombstoneGc)
    // the connector reported this pass's horizon under its own dialect:
    // persist token → applied seq so a later `--position` resume decodes
    // offline ([[PositionCatalog]]); a no-rows pass records nothing (its
    // horizon is whatever the previous pass already recorded)
    for (t <- positionToken; sq <- progress.lastSeq)
      PositionCatalog.record(ckptDir, t, sq)
    progress
  }

  /** Incremental sync that ALSO keeps an aggregate VIEW in step — the
    * ClickHouse "replicated table + MV" pair as one facade call, against
    * a full CDC stream (updates and deletes included, which insert-only
    * MVs cannot absorb — see the IVM passes in [[streaming.StreamingOps]]).
    * `minMax = false` maintains `groupCol → (n_rows, total = sum(price))`
    * by retraction deltas; `minMax = true` maintains
    * `groupCol → (n_rows, mn, mx)` by dirty-group recompute over a
    * group-partitioned snapshot (kept under `mvDir/_snap`). `enrich`
    * (sum mode only) joins each delta image against broadcast static
    * dimensions before grouping — the join-MV shape. Returns the pass's
    * progress and the SERVED view.
    *
    * `renameCols`/`defaultCols` are the MV-across-DDL surface in BOTH
    * modes — the same RENAME COLUMN / ADD COLUMN … DEFAULT declarations
    * [[incrementalSync]] takes. The state side stays lazy; a rename
    * hitting the view's group column migrates the O(groups) view
    * eagerly, and in minMax mode also the group-partitioned snapshot
    * (directory moves only — see StreamingOps.migrateSnapRename), with
    * pre-DDL snapshot partitions filling declared defaults at read.
    * `measureCol` (sum mode only) is the summed column of the enriched
    * image frame — the min/max view is fixed to price. */
  def incrementalSyncWithView(spark: SparkSession, schema: StructType,
      inDir: String, ckptDir: String, stateDir: String, mvDir: String,
      groupCol: String = "status", minMax: Boolean = false,
      keyCols: Seq[String] = Seq("okey"),
      enrich: DataFrame => DataFrame = identity,
      txnCol: Option[String] = None,
      measureCol: String = "price",
      renameCols: Map[String, String] = Map.empty,
      defaultCols: Map[String, streaming.StreamingOps.ColumnDefault] = Map.empty)
      : (SyncProgress, DataFrame) = {
    if (minMax) require(measureCol == "price",
      "a custom measure is sum-mode surface — the min/max view is fixed " +
        "to price (declare an arbitrary view via runMvRecomputePass)")
    val src = sources.FileCdcSource(schema, inDir)
    val progress =
      if (minMax) streaming.StreamingOps.runMvMinMaxPass(spark, src,
        ckptDir, stateDir, s"$mvDir/_snap", mvDir, keyCols, groupCol,
        txnCol = txnCol, trackSeq = true,
        renameCols = renameCols, defaultCols = defaultCols)
      else streaming.StreamingOps.runMvSumPass(spark, src,
        ckptDir, stateDir, mvDir, keyCols, groupCol, enrich,
        txnCol = txnCol, trackSeq = true, measureCol = measureCol,
        renameCols = renameCols, defaultCols = defaultCols)
    (progress, streaming.StreamingOps.readMv(spark, mvDir))
  }

  /** One-call operational readout of a replica state dir — the SHOW
    * REPLICA STATUS surface of this tool class, read from the control
    * files the passes maintain. `appliedSeq` folds each epoch dir's
    * applied-position record (`epoch=N/_maxseq`, written with the epoch
    * at no extra job); only epochs without one — written before records
    * existed, or by a pass that crashed between an MV delta write and
    * its record — are scanned, in one partition-pruned max over just
    * those dirs. The only other Spark jobs are the txn tail's count
    * (`txnCol`) and the DLQ epochs that predate their count sidecar
    * (`conflictDlq`). */
  final case class ReplicaStatus(
      appliedSeq: Option[Long],
      deltaEpochs: Int,
      baselineEpochs: Int,
      keyCols: Seq[String],
      columns: Seq[String],
      pendingRows: Long,
      purgeFloor: Option[Long],
      truncateFloor: Option[Long],
      compactHorizon: Option[Long],
      historyRetained: Boolean,
      conflictRows: Option[Long] = None,
      secondsBehindSource: Option[Double] = None)

  /** `txnCol`/`pendingRoot` mirror the sync's own configuration: a
    * single-table txn-gated sync roots its `_pending` tail under the
    * STATE dir (the default here), but a txn-gated MULTI-TABLE topology
    * roots it under the sync's `ckptDir` — status for such a replica
    * must pass `pendingRoot = ckptDir`, or the readout would silently
    * report pendingRows = 0 and mask an abandoned-transaction backlog.
    * The mismatch fails loudly: a txn-gated pass ALWAYS leaves a pending
    * snapshot behind (an empty carry is still written), so asking for
    * txn accounting against a root with no `_pending` at all means the
    * root is wrong (or the table was never txn-synced). */
  def replicaStatus(spark: SparkSession, stateDir: String,
      txnCol: Option[String] = None,
      pendingRoot: Option[String] = None,
      conflictDlq: Option[String] = None): ReplicaStatus = {
    import streaming.{StateFs, StreamingOps}
    txnCol.foreach { _ =>
      val root = pendingRoot.getOrElse(stateDir)
      require(StateFs.exists(s"$root/_pending"),
        s"txn accounting requested but $root holds no _pending tail — " +
          "for a multi-table topology pass pendingRoot = the sync's " +
          "ckptDir (that is where the topology roots _pending); for a " +
          "table never synced with txnCol, drop the txnCol argument")
    }
    // an ABSENT DLQ dir is the healthy steady state, not a wrong root:
    // the gate writes an epoch only when a batch actually conflicts, so
    // a strict replica that never diverged has no dir at all — report 0
    // (unlike the txn root, which a txn-gated pass always materializes)
    val epochs = StateFs.epochIds(stateDir)
    val purgeFloor = StreamingOps.readPurgeFloor(stateDir)
    val truncFloor = StreamingOps.readTruncFloor(stateDir)
    // applied position = the newest seq any applied event carries — the
    // raw (pre-collapse, tombstone-inclusive) rows, per epoch its
    // `_maxseq` record — FOLDED with the purge/truncate floors: a GC'ing
    // compaction physically reclaims trailing tombstones' rows, but
    // their seqs were applied and the floor records exactly that
    val applied = (StreamingOps.maxSeqOf(spark, stateDir, epochs).toSeq ++
      purgeFloor ++ truncFloor).maxOption
    ReplicaStatus(
      appliedSeq = applied,
      deltaEpochs = epochs.count(_ >= 0),
      baselineEpochs = epochs.count(_ < 0),
      keyCols = StreamingOps.readKeyCols(stateDir),
      columns = StreamingOps.readStateSchema(stateDir)
        .map(_.fieldNames.toSeq).getOrElse(Seq.empty),
      pendingRows = StreamingOps.pendingCount(spark,
        pendingRoot.getOrElse(stateDir), txnCol),
      purgeFloor = purgeFloor,
      truncateFloor = truncFloor,
      compactHorizon = StreamingOps.readCompactHorizon(stateDir),
      historyRetained =
        StateFs.readSmall(s"$stateDir/_history").isDefined,
      conflictRows = conflictDlq.map { d =>
        // absent OR drained (operator deleted resolved epoch dirs) both
        // read as zero. Live epochs read their `_counts` sidecar
        // (written with each conflict epoch) — O(epochs) metadata per
        // poll, never a growing parquet re-scan; epochs a pre-sidecar
        // writer left behind fall back to counting just themselves.
        val live = StateFs.epochIds(d)
        if (!StateFs.exists(d) || live.isEmpty) 0L
        else {
          val counted = StreamingOps.readDlqCounts(d)
          val (known, unknown) = live.partition(counted.contains)
          known.map(counted).sum + unknown.map(e =>
            spark.read.parquet(s"$d/epoch=$e").count()).sum
        }
      },
      // the Seconds_Behind_Master analogue: newest event-time the sync
      // SAW minus newest it RESOLVED (StreamingOps.writeLagMarks — O(1)
      // metadata, maintained by every trackSeq pass). Caught-up reads
      // 0 even when only heartbeats trail (a heartbeat resolves the
      // source's wall-clock); a held-back transaction tail reads as
      // exactly its event-time gap. None means NO RESOLVED CLOCK YET —
      // either no tracked pass ever ran, or every event seen so far is
      // still held (a first pass that ingested only an uncommitted
      // tail): MySQL's NULL Seconds_Behind_Master ambiguity. The
      // disambiguator is pendingRows — a fresh dir reads 0 pending, a
      // held-tail replica reads its tail size — so the operator's
      // check is (secondsBehindSource, pendingRows) together.
      secondsBehindSource = {
        val (applied, seen) = StreamingOps.readLagMarks(stateDir)
        for (a <- applied; s2 <- seen)
          yield math.max(0.0, (s2 - a) / 1e6)
      })
  }

  /** Verdict of [[viewConsistencyCheck]]. */
  final case class ViewCheckReport(groupsChecked: Long, groupsDiverged: Long) {
    def consistent: Boolean = groupsDiverged == 0
  }

  /** Fail loudly — by name — when `mvDir` does not hold a SUM view of
    * the expected (groupCol, n_rows, total) shape: a minMax-mode view
    * (n_rows, mn, mx) or a mismatched groupCol would otherwise surface
    * as an opaque analysis error (or worse, a wrong comparison). MinMax
    * views are non-retractable and rebuild through their own
    * dirty-group pass, not this one. */
  private def requireSumView(mvDir: String, groupCol: String): Unit = {
    val published = streaming.StreamingOps.readStateSchema(mvDir)
      .getOrElse(throw new IllegalArgumentException(
        s"$mvDir has no published _schema — not an MV dir maintained by " +
          "incrementalSyncWithView"))
    val names = published.fieldNames.toSeq
    require(names == Seq(groupCol, "n_rows", "total"),
      s"$mvDir publishes columns (${names.mkString(", ")}), but the SUM " +
        s"view check/rebuild expects ($groupCol, n_rows, total) — a " +
        "minMax view (n_rows, mn, mx) recovers through its own " +
        "dirty-group recompute pass, and a different groupCol means " +
        "this is a different view")
  }

  /** The MODIFY narrowing gate of the `ddlSql` facades: each declared
    * MODIFY is checked against every state dir's PUBLISHED schema, and a
    * narrowing (or cross-family) one refuses HERE, naming the statement
    * and the dir — MySQL rewrites (truncates) source data on a narrowing
    * MODIFY, so a replica that kept serving wide values for untouched
    * keys would silently diverge; the envelope-layer guardrail alone
    * would refuse later with no statement to point at. Widenings and
    * same-type modifies pass through to the widening guardrail.
    * Declarations whose MySQL type has no engine mapping SKIP the gate
    * (a metadata-only MODIFY of an exotic type must not hard-fail the
    * sync) — the envelope guardrail still owns the actual type change. */
  private def requireNoNarrowing(stateDirs: Seq[String],
      modifyCols: Map[String, (Long, String)]): Unit =
    for (dirPath <- stateDirs.sorted;
         published <- streaming.StreamingOps.readStateSchema(dirPath);
         (colName, (atSeq, tpe)) <- modifyCols;
         pf <- published.fields.find(_.name == colName);
         declared <- scala.util.Try(
           streaming.DdlSql.sparkType(tpe)).toOption) {
      require(declared == pf.dataType ||
        streaming.StreamingOps.widensForDdl(pf.dataType, declared),
        s"MODIFY COLUMN '$colName' $tpe (at seq $atSeq) would " +
          s"narrow or change the published ${pf.dataType.simpleString}" +
          s" of $dirPath — the source rewrites its data on such a " +
          "MODIFY while untouched replica keys would keep serving " +
          "the old-typed values; resync instead of replicating " +
          "the statement")
    }

  /** Does the maintained SUM view still equal the group-by over the
    * served state? The one divergence a correctly-running pass cannot
    * prevent: a row-level REPAIR ([[repairSync]]) writes correction
    * epochs straight into the state dir — the next MV batch's old-image
    * lookup will read them, but the view's AGGREGATE was never adjusted
    * by the correction delta, so the view is permanently off by exactly
    * that delta until rebuilt. The operator flow is repair → check →
    * [[viewRebuild]] if red. One aggregate scan of the state + one read
    * of the O(groups) view, compared null-safe per group. */
  def viewConsistencyCheck(spark: SparkSession, stateDir: String,
      mvDir: String, groupCol: String = "status"): ViewCheckReport = {
    requireSumView(mvDir, groupCol)
    val truth = appliedState(spark, stateDir)
      .groupBy(col(groupCol))
      .agg(count(lit(1)).as("n_rows"),
        sum(Tables.dec2(col("price"))).cast(Tables.D2).as("total"))
    val served = streaming.StreamingOps.readMv(spark, mvDir)
    val j = truth.as("t").join(served.as("v"),
      col(s"t.$groupCol") <=> col(s"v.$groupCol"), "full_outer")
    val r = j.agg(count(lit(1)),
      count(when(!(col("t.n_rows") <=> col("v.n_rows")) ||
        !(col("t.total") <=> col("v.total")), lit(1)))).collect()(0)
    ViewCheckReport(r.getLong(0), r.getLong(1))
  }

  /** Rebuild the SUM view from the served state — the repair-recovery
    * path ([[viewConsistencyCheck]]'s red case): one group-by over the
    * state REPLACES the view's NEWEST epoch snapshot in place, and
    * maintenance resumes incrementally on top. In place, not at a new
    * epoch id, because MV epoch ids ARE the stream's checkpoint batch
    * ids: a rebuild written at max+1 would collide with the next
    * batch's own id — that batch's strictly-below prior lookup would
    * read the stale pre-rebuild snapshot and then overwrite the
    * rebuild, silently discarding the repair delta (spec: MvSpec
    * "maintenance after viewRebuild resumes on the rebuilt snapshot").
    * O(table scan) — paid only on the repair path, never in steady
    * state. */
  def viewRebuild(spark: SparkSession, stateDir: String, mvDir: String,
      groupCol: String = "status"): Unit = {
    requireSumView(mvDir, groupCol)
    import streaming.StateFs
    val trash = s"$mvDir/_rebuild_old"
    val marker = s"$mvDir/_rebuild_at"
    // the replace is a staged swap ([[StateFs.replaceDir]]), never a
    // direct overwrite of the serving epoch: a Spark overwrite deletes
    // the live files before the job commits, so a crash mid-rebuild
    // would leave the only snapshot empty (readMv would silently serve
    // an empty view). The target id is recorded in a marker file BEFORE
    // the swap, because the heal must restore a crashed swap's trash to
    // its ORIGINAL id — the epoch listing alone cannot tell which id
    // that was. Crash-safe, not concurrent-safe: run between passes
    // (the repair flow is an operator maintenance window by nature).
    StateFs.readSmall(marker).map(_.trim.toLong).foreach { crashedAt =>
      StateFs.healSwap(s"$mvDir/epoch=$crashedAt", trash)
      StateFs.deleteRecursive(marker)
    }
    val at = StateFs.epochIds(mvDir).maxOption.getOrElse(0L)
    StateFs.replaceDir(s"$mvDir/epoch=$at", s"$mvDir/_rebuilding", trash) {
      stage =>
        appliedState(spark, stateDir)
          .groupBy(col(groupCol))
          .agg(count(lit(1)).as("n_rows"),
            sum(Tables.dec2(col("price"))).cast(Tables.D2).as("total"))
          .write.mode("overwrite").parquet(stage)
        StateFs.writeAtomic(marker, at.toString)
    }
    StateFs.deleteRecursive(marker)
    StateFs.epochIds(mvDir).filter(_ < at - 1)
      .foreach(e => StateFs.deleteRecursive(s"$mvDir/epoch=$e"))
  }

  /** An opaque source-native POSITION token decoded to the engine's
    * monotone `seq` — the reference's `--position` surface. A real
    * source names positions in its own dialect:
    *
    *  - binlog file + offset (`"binlog.000042:1337"`): the file ordinal
    *    and byte offset order events totally, so the decoder returns
    *    the seq the source assigned to the last event at or below that
    *    offset (the source assigned seqs as it serialized the binlog,
    *    so it owns exactly this mapping);
    *  - GTID set (`"3e11fa47-…:1-77"`): the decoder returns the seq of
    *    the newest transaction's commit covered by the set — with
    *    transaction-boundary apply (`txnCol`) the seq of that txn's
    *    commit marker, so every covered transaction is skipped whole.
    *
    * The engine stays dialect-agnostic on purpose: it orders by one
    * monotone seq, and whoever produced the change log (the CDC source
    * connector) is the only party that can translate its native tokens
    * into that order. Implementations should throw on a token they
    * cannot decode — a silently-guessed position replays or skips
    * history. */
  trait PositionCodec {
    def toSeq(token: String): Long
  }

  /** The trivial dialect: the token IS the decimal seq (what a
    * file-based harness or a connector that exposes its own seq would
    * hand back). Throws on anything non-numeric. */
  object SeqPositionCodec extends PositionCodec {
    override def toSeq(token: String): Long =
      token.trim.toLongOption.getOrElse(throw new IllegalArgumentException(
        s"not a seq-encoded position token: '$token'"))
  }

  /** The GTID dialect — the position vocabulary every modern MySQL
    * deployment replicates by (`gtid_mode=ON`): a token is an executed
    * GTID SET like `3e11fa47-71ca-11e1-9e33-c80aa9429562:1-77` (interval
    * lists `:1-40:42-77` and multi-source UUIDs comma-separated). The
    * engine's seq is a TOTAL order, so only a set this replica can
    * actually stand at maps: the declared source's intervals must be
    * gap-free from 1 (`uuid:1-N` → seq N; `1-40:42-77` REFUSES — the
    * hole at 41 is history this replica would silently skip, the exact
    * corruption GTID auto-positioning exists to prevent). Singleton
    * intervals (`:5` = `:5-5`) parse; UUIDs other than the declared
    * source refuse by name (cross-source ids share no seq axis — run
    * one channel per source); case-insensitive UUID match, as MySQL
    * treats them. */
  final case class GtidSetCodec(sourceUuid: String) extends PositionCodec {
    require(sourceUuid.trim.nonEmpty, "empty source UUID")
    override def toSeq(token: String): Long = {
      val mine = GtidSet.parse(token).collect {
        case (u, ranges) if u.equalsIgnoreCase(sourceUuid.trim) => ranges
      }
      require(mine.nonEmpty,
        s"GTID set '$token' carries no transactions from source " +
          s"'$sourceUuid' — wrong channel, or resume by seq instead")
      // gap-freedom is checked for THIS channel only: foreign parts of
      // a multi-source set are another replica's business
      GtidSet.horizon(sourceUuid.trim, mine.head, token)
    }
  }

  /** Shared GTID-SET text parser: token → per-UUID sorted interval
    * lists, in the set's declared order. SHAPE is validated globally
    * (malformed bounds, inverted ranges, duplicate UUIDs — garbage is
    * garbage whichever channel it names), but GAP-freedom is the
    * CALLER's per-channel call via [[horizon]]: a multi-source set may
    * legitimately carry gapped intervals for channels this replica
    * does not map (parallel appliers, filtered co-sources), and
    * refusing those would break resumes the single-channel codec
    * always accepted. Every refusal is a loud IllegalArgumentException
    * naming the offending piece — nothing escapes as a bare
    * NumberFormatException. */
  private[graft] object GtidSet {
    private def bound(iv: String, token: String, s: String): Long =
      s.trim.toLongOption.getOrElse(throw new IllegalArgumentException(
        s"malformed GTID interval '$iv' in '$token'"))

    def parse(token: String): Seq[(String, Seq[(Long, Long)])] = {
      val parts = token.trim.split(',').map(_.trim).filter(_.nonEmpty)
      require(parts.nonEmpty, s"empty GTID set: '$token'")
      val byUuid = parts.map { p =>
        // a MariaDB position slipped into a MySQL channel is the
        // flavor mismatch class — name it instead of the generic
        // "no interval list" shape error
        require(!MariaGtid.looksLike(p),
          s"GTID '$p' in '$token' is a MariaDB position " +
            "(domain-server-seq) but this channel speaks MySQL GTID " +
            "sets (uuid:intervals) — flavor mismatch; use the " +
            "MariaDB codec (MariaGtidCodec / flavor = MariaGtidFlavor)")
        val uuid = p.takeWhile(_ != ':')
        require(uuid.nonEmpty, s"GTID '$p' in '$token' has no source UUID")
        val ivls = p.split(':').drop(1)
        require(ivls.nonEmpty, s"GTID '$p' in '$token' has no interval list")
        val ranges = ivls.map { iv =>
          iv.split('-') match {
            case Array(a) => (bound(iv, token, a), bound(iv, token, a))
            case Array(a, b) => (bound(iv, token, a), bound(iv, token, b))
            case _ => throw new IllegalArgumentException(
              s"malformed GTID interval '$iv' in '$token'")
          }
        }.sortBy(_._1).toSeq
        ranges.foreach { case (a, b) => require(a >= 1 && b >= a,
          s"malformed GTID interval '$a-$b' in '$token'") }
        uuid -> ranges
      }.toSeq
      val dups = byUuid.groupBy(_._1.toLowerCase).filter(_._2.length > 1)
      require(dups.isEmpty,
        s"GTID set '$token' names source(s) ${dups.keys.mkString(", ")} twice")
      byUuid
    }

    /** A MAPPED channel's gap-free horizon: the intervals must cover
      * 1..N with no hole, or resuming at the max would silently skip
      * the holes' history — the corruption GTID auto-positioning
      * exists to prevent. */
    def horizon(uuid: String, ranges: Seq[(Long, Long)],
        token: String): Long =
      ranges.foldLeft(0L) { case (h, (a, b)) =>
        require(a <= h + 1,
          s"GTID set '$token' has a gap before txn $a of '$uuid' " +
            s"(covered through $h) — this replica cannot stand at a " +
            "gapped set; repair the source's executed set or resync")
        math.max(h, b)
      }
  }

  /** The MULTI-CHANNEL GTID dialect — resume-by-GTID across a PRIMARY
    * FAILOVER. After a failover the binlog stream continues under the
    * NEW primary's server UUID, so a replica's executed set names several
    * UUIDs (`old:1-77,new:1-12`), each numbering its own transactions
    * from 1. The engine's seq stays ONE total order; `channels` declares
    * the failover chain in stream order with each RETIRED channel's
    * transaction count (how many seqs it contributed — the old primary's
    * final executed horizon). The LAST channel is the active one; its
    * count is open-ended.
    *
    * Decode: the deepest named channel anchors the position —
    * `seq = sum(counts of all earlier channels) + that channel's
    * horizon` — and the set must actually STAND there: every channel
    * before the anchor must be named and covered to exactly its full
    * count (a shortfall is a gap in history; an overshoot claims
    * transactions the chain says never existed), and channels after the
    * anchor must be absent (covering the new primary while missing the
    * old one is the same gap, worded differently). A UUID outside the
    * chain refuses by name — cross-chain ids share no seq axis. */
  final case class GtidChannelCodec(channels: Seq[(String, Long)])
      extends PositionCodec {
    require(channels.nonEmpty, "empty channel chain")
    channels.foreach { case (u, n) =>
      require(u.trim.nonEmpty, "empty channel UUID")
      require(n >= 0, s"negative transaction count for channel '$u'") }
    require(channels.map(_._1.trim.toLowerCase).distinct.length ==
      channels.length, "channel chain names a UUID twice")

    override def toSeq(token: String): Long = {
      val parsed = GtidSet.parse(token)
        .map { case (u, r) => u.toLowerCase -> r }.toMap
      val chain = channels.map { case (u, n) => (u.trim.toLowerCase, n) }
      parsed.keys.foreach { u =>
        require(chain.exists(_._1 == u),
          s"GTID set '$token' names source '$u' outside this replica's " +
            s"channel chain (${chain.map(_._1).mkString(" -> ")}) — " +
            "wrong replica, or the chain declaration is stale")
      }
      // every named channel is MAPPED here, so each must be gap-free
      val horizons = parsed.map { case (u, r) =>
        u -> GtidSet.horizon(u, r, token) }
      val anchorIdx = chain.lastIndexWhere { case (u, _) => horizons.contains(u) }
      require(anchorIdx >= 0,
        s"GTID set '$token' names no channel of this chain")
      chain.take(anchorIdx).foreach { case (u, n) =>
        val h = horizons.getOrElse(u, 0L)
        require(h == n,
          s"GTID set '$token' covers channel '$u' through $h but the " +
            s"chain retired it at $n — " +
            (if (h < n) "the set is missing history below the failover"
             else "the set claims transactions past the channel's end"))
      }
      // the anchor itself must respect its retirement too: a RETIRED
      // anchor covered past its count would decode onto seqs that
      // belong to the NEXT channel's transactions (the active tail
      // channel is open-ended by definition)
      val (anchorUuid, anchorN) = chain(anchorIdx)
      val anchorH = horizons(anchorUuid)
      require(anchorIdx == chain.length - 1 || anchorH <= anchorN,
        s"GTID set '$token' covers retired channel '$anchorUuid' " +
          s"through $anchorH but the chain retired it at $anchorN — " +
          "the set claims transactions past the channel's end")
      chain.take(anchorIdx).map(_._2).sum + anchorH
    }
  }

  /** GTID FLAVOR — which dialect a channel's position tokens and
    * binlog stamps speak. MySQL (uuid executed SETS, per-source
    * transaction numbering) and MariaDB (`domain-server-seq`
    * POSITIONS, per-DOMAIN seq numbering that continues across server
    * failovers) share no token syntax, and decoding one as the other
    * is the silently-wrong-position class — every codec refuses the
    * foreign flavor BY NAME. */
  sealed trait GtidFlavor
  case object MySqlGtidFlavor extends GtidFlavor
  case object MariaGtidFlavor extends GtidFlavor

  /** Shared MariaDB-GTID text parser: `domain-server-seq` entries,
    * comma-separated, at most one per domain (a MariaDB position names
    * each domain's watermark once — seq N implies 1..N executed in
    * that domain; the server id is WHO wrote it last, not a numbering
    * axis, because MariaDB seq_no is per-domain monotone across
    * failovers). */
  private[graft] object MariaGtid {
    private val Shape = """(\d+)-(\d+)-(\d+)""".r

    /** Cheap shape probe for flavor-mismatch refusals. */
    def looksLike(part: String): Boolean = part.trim match {
      case Shape(_, _, _) => true
      case _ => false
    }

    /** token → (domain, server, seqno) entries in declared order. */
    def parse(token: String): Seq[(Long, Long, Long)] = {
      val parts = token.trim.split(',').map(_.trim).filter(_.nonEmpty)
      require(parts.nonEmpty, s"empty MariaDB GTID position: '$token'")
      val entries = parts.toSeq.map {
        case Shape(d, s, n) =>
          val seq = n.toLongOption.getOrElse(
            throw new IllegalArgumentException(
              s"MariaDB GTID seq '$n' in '$token' overflows"))
          require(seq >= 1,
            s"MariaDB GTID '$d-$s-$n' in '$token': seq numbers start at 1")
          (d.toLong, s.toLong, seq)
        case p if p.contains(':') => throw new IllegalArgumentException(
          s"GTID '$p' in '$token' is a MySQL uuid set but this channel " +
            "speaks MariaDB positions (domain-server-seq) — flavor " +
            "mismatch; use the MySQL codec (GtidSetCodec / " +
            "GtidChannelCodec)")
        case p => throw new IllegalArgumentException(
          s"malformed MariaDB GTID '$p' in '$token' — expected " +
            "domain-server-seq")
      }
      val dups = entries.groupBy(_._1).filter(_._2.length > 1)
      require(dups.isEmpty,
        s"MariaDB GTID position '$token' names domain(s) " +
          s"${dups.keys.mkString(", ")} twice — a position carries one " +
          "watermark per domain")
      entries
    }
  }

  /** The MariaDB-GTID dialect — `gtid_slave_pos`-style POSITION tokens
    * (`0-1-77`, multi-domain comma-separated) against a DOMAIN chain,
    * the structural mirror of [[GtidChannelCodec]]'s uuid chain: the
    * engine's seq is one total order, `domains` declares the stream's
    * domain history in order with each RETIRED domain's transaction
    * count, the LAST domain is active/open-ended. Unlike MySQL uuids,
    * a server failover does NOT start a new channel — MariaDB seq_no
    * is per-domain and keeps counting under the new server id, so the
    * server field decodes as provenance, not position. Refusals
    * mirror the MySQL codec: a domain outside the chain, a retired
    * domain covered short or past its count, and MySQL-flavored
    * tokens refuse by name. */
  final case class MariaGtidCodec(domains: Seq[(Long, Long)])
      extends PositionCodec {
    require(domains.nonEmpty, "empty domain chain")
    domains.foreach { case (_, n) =>
      require(n >= 0, "negative transaction count for a domain") }
    require(domains.map(_._1).distinct.length == domains.length,
      "domain chain names a domain twice")

    override def toSeq(token: String): Long = {
      val byDomain = MariaGtid.parse(token)
        .map { case (d, _, n) => d -> n }.toMap
      byDomain.keys.foreach { d =>
        require(domains.exists(_._1 == d),
          s"MariaDB GTID position '$token' names domain $d outside " +
            s"this replica's domain chain " +
            s"(${domains.map(_._1).mkString(" -> ")}) — wrong replica, " +
            "or the chain declaration is stale")
      }
      val anchorIdx = domains.lastIndexWhere { case (d, _) =>
        byDomain.contains(d) }
      require(anchorIdx >= 0,
        s"MariaDB GTID position '$token' names no domain of this chain")
      domains.take(anchorIdx).foreach { case (d, n) =>
        val h = byDomain.getOrElse(d, 0L)
        require(h == n,
          s"MariaDB GTID position '$token' covers domain $d through " +
            s"$h but the chain retired it at $n — " +
            (if (h < n) "the position is missing history below the " +
              "domain switch"
             else "the position claims transactions past the domain's " +
               "end"))
      }
      val (anchorD, anchorN) = domains(anchorIdx)
      val anchorH = byDomain(anchorD)
      require(anchorIdx == domains.length - 1 || anchorH <= anchorN,
        s"MariaDB GTID position '$token' covers retired domain " +
          s"$anchorD through $anchorH but the chain retired it at " +
          s"$anchorN — the position claims transactions past the " +
          "domain's end")
      domains.take(anchorIdx).map(_._2).sum + anchorH
    }
  }

  /** Persisted POSITION CATALOG — token→seq mappings under the
    * checkpoint (`_positions`: the `_schema` pattern, a tiny atomic
    * control file living with the artifact whose lifecycle it shares).
    * The source CONNECTOR is the only party that can translate its
    * native tokens (binlog file:offset, GTID sets) into the engine's
    * monotone seq — but it is only present while its pass runs.
    * Recording each pass's (reported token, applied seq) horizon here
    * makes `--position` resume self-contained: a later operator resumes
    * by the token the connector reported at the time, with no connector
    * round-trip — [[codec]] decodes strictly from the catalog and
    * throws on a token no pass ever recorded (a guessed position
    * replays or skips history). O(recorded positions) driver-side
    * metadata, like every control file here. */
  object PositionCatalog {
    private def path(ckptDir: String) = s"$ckptDir/_positions"

    // record() is a read-modify-write of the catalog file: atomic per
    // WRITE but not per UPDATE — two passes sharing one ckptDir (a table
    // sync next to its MV facade) recording concurrently could lose one
    // entry (last writer over a stale read). The catalog is driver-side
    // metadata, so a JVM-level lock per canonical path serializes the
    // RMW; cross-PROCESS writers remain the single-writer assumption
    // every control file here carries.
    private val recordLocks =
      new java.util.concurrent.ConcurrentHashMap[String, Object]()

    /** Upsert one token→seq mapping (atomic rewrite of the tiny file —
      * concurrent readers see the old or new catalog, never a torn one;
      * concurrent RECORDERS in this JVM are serialized per ckptDir).
      * Re-recording a token at a NEW seq is legal: a reused
      * binlog filename after a source rotation means the newest
      * recording wins, exactly like the connector would re-answer. */
    def record(ckptDir: String, token: String, seq: Long): Unit = {
      val t = token.trim
      require(t.nonEmpty && !t.contains('\t') && !t.contains('\n'),
        s"unusable position token '$token'")
      val lock = recordLocks.computeIfAbsent(
        new java.io.File(ckptDir).getAbsolutePath, _ => new Object)
      lock.synchronized {
        val m = read(ckptDir) + (t -> seq)
        streaming.StateFs.writeAtomic(path(ckptDir),
          m.toSeq.sorted.map { case (tk, sq) => s"$tk\t$sq" }.mkString("\n"))
      }
    }

    def read(ckptDir: String): Map[String, Long] =
      streaming.StateFs.readSmall(path(ckptDir))
        .map(_.split('\n').filter(_.nonEmpty).map { l =>
          val i = l.lastIndexOf('\t')
          l.substring(0, i) -> l.substring(i + 1).toLong
        }.toMap).getOrElse(Map.empty)

    /** Codec backed by the catalog alone. */
    def codec(ckptDir: String): PositionCodec = new PositionCodec {
      override def toSeq(token: String): Long =
        read(ckptDir).getOrElse(token.trim,
          throw new IllegalArgumentException(
            s"position token '$token' was never recorded in " +
              s"${path(ckptDir)} — resume by a token a prior pass " +
              "reported, or supply the source's own codec"))
    }
  }

  /** [[incrementalSync]] starting from an OPAQUE position token —
    * `--position`/GTID resume with the token in the source's dialect.
    * Exactly `incrementalSync(fromSeq = Some(codec.toSeq(position)))`;
    * see [[PositionCodec]] for the dialect mappings. */
  def incrementalSyncFromPosition(spark: SparkSession, schema: StructType,
      inDir: String, ckptDir: String, stateDir: String,
      position: String, codec: PositionCodec,
      compactEvery: Int = 16, txnCol: Option[String] = None,
      tombstoneGc: Option[Int] = None,
      keyCols: Seq[String] = Seq("okey")): SyncProgress =
    incrementalSync(spark, schema, inDir, ckptDir, stateDir, compactEvery,
      fromSeq = Some(codec.toSeq(position)), txnCol = txnCol,
      tombstoneGc = tombstoneGc, keyCols = keyCols)

  /** Multi-table incremental sync (SURVEY §3.1 #2): ONE change stream
    * whose envelope carries a `table` column fans out to per-table
    * destination state dirs in a single pass — the reference tool tails
    * one binlog and applies to N destination tables the same way.
    * `stateDirs` maps each replicated table to its own state dir (tables
    * absent from the map are skipped — the TableFilter analogue);
    * compaction runs independently per table. Returns per-table
    * [[SyncProgress]] (tables that saw no rows report zeros). Epochs
    * are staged under `ckptDir/_staging` and renamed into each state
    * dir: keep `ckptDir` on the state dirs' filesystem, or every epoch
    * is copied byte for byte instead of renamed.
    *
    * `txnCol` enables transaction-boundary apply across the WHOLE
    * topology (the GTID case: one binlog transaction touching N tables):
    * no table applies any slice of a transaction until its single
    * `op = "C"` commit marker arrives — then every touched table applies
    * its slice in the same epoch, so no per-table read ever observes a
    * half-applied transaction. The named column is consumed as
    * bookkeeping; the uncommitted tail lives with the checkpoint
    * (`ckptDir/_pending`) because both share one lifecycle.
    *
    * `renameCols` declares RENAME COLUMN DDLs as in [[incrementalSync]];
    * the shared envelope means one rename carries EVERY table's history
    * (one binlog, one DDL, one fan-out). `truncateAt` (table → binlog
    * position) declares per-table TRUNCATE TABLE QueryEvents — a
    * truncate, unlike a rename, targets one table.
    *
    * `rowFilters` (table → SQL predicate) replicates only matching
    * events for that table — the sharded/subset replication config of
    * this tool class. Deletes always replicate (a filtered tombstone
    * could strand a deleted row at the destination forever); filter on
    * effectively-immutable columns (key ranges, tenant routing).
    * `maskCols` (table → payload columns) NULLs the named columns
    * before anything is staged — the masked values never leave the
    * source side (the PII column-masking config).
    *
    * `keyColsByTable` declares PER-TABLE primary keys (tables absent
    * from the map use `keyCols`): one binlog routinely fans out to
    * tables whose PKs differ — a header table keyed by order id next
    * to a lines table keyed by (order id, line no) — and the single
    * fan-out job collapses each table under its own key (see
    * StreamingOps.runCdcPassMulti).
    *
    * `ddlSql` is the RAW-TEXT DDL surface for the TOPOLOGY, mirroring
    * [[incrementalSync]]'s: the gap's QueryEvents fold through
    * [[streaming.DdlSql.foldTopology]] scoped to the replicated set —
    * column verbs fold ENVELOPE-WIDE (one binlog, one shared envelope,
    * one fan-out: a rename declared on any replicated table renames
    * the column in every state dir, the multi pass's documented
    * model), TRUNCATE folds per table, foreign tables' noise skips.
    * Mutually exclusive with the structured DDL arguments; RENAME
    * TABLE refuses toward [[renameTables]] and CREATE/DROP TABLE
    * toward [[applyTableLifecycle]] — run both BEFORE this pass.
    * Narrowing/cross-family MODIFY declarations refuse at this gate
    * against EVERY replicated table's published schema that carries
    * the column. */
  def incrementalSyncMulti(spark: SparkSession, schema: StructType,
      inDir: String, ckptDir: String, stateDirs: Map[String, String],
      compactEvery: Int = 16,
      txnCol: Option[String] = None,
      tombstoneGc: Option[Int] = None,
      renameCols: Map[String, String] = Map.empty,
      truncateAt: Map[String, Long] = Map.empty,
      defaultCols: Map[String, streaming.StreamingOps.ColumnDefault] = Map.empty,
      rowFilters: Map[String, String] = Map.empty,
      maskCols: Map[String, Seq[String]] = Map.empty,
      keyCols: Seq[String] = Seq("okey"),
      keyColsByTable: Map[String, Seq[String]] = Map.empty,
      dropCols: Map[String, Long] = Map.empty,
      keepHistory: Boolean = false,
      positionToken: Option[String] = None,
      ddlSql: Seq[(Long, String)] = Seq.empty)
      : Map[String, SyncProgress] = {
    val (renames2, truncate2, defaults2, drops2) =
      if (ddlSql.isEmpty) (renameCols, truncateAt, defaultCols, dropCols)
      else {
        require(renameCols.isEmpty && truncateAt.isEmpty &&
          defaultCols.isEmpty && dropCols.isEmpty,
          "ddlSql and structured DDL arguments are mutually exclusive — " +
            "the fold would silently double-apply whichever verb both " +
            "declare; pass the gap's DDL one way")
        val (cfg, truncates) = streaming.DdlSql.foldTopology(
          ddlSql, stateDirs.keySet)
        require(cfg.tableRenames.isEmpty,
          "ddlSql carries RENAME TABLE statement(s) " +
            cfg.tableRenames.map { case (a, b) => s"'$a'->'$b'" }
              .mkString(", ") +
            " — table renames rebind state dirs, not columns: apply " +
            "them via Replication.renameTables BEFORE this pass")
        // lifecycle statements the topology ALREADY REFLECTS are
        // acknowledged, so the documented composition — run
        // applyTableLifecycle on the gap, then hand the SAME gap's
        // ddlSql to this pass — needs no hand-filtering: a recorded
        // CreateTable is in scope only because its table IS declared
        // in stateDirs (the lifecycle layer put it there, or the
        // operator declared it deliberately), which is exactly the
        // applied state. A recorded DropTable is the opposite — its
        // table still being declared means the retire has NOT run —
        // and refuses toward the lifecycle API as before.
        require(cfg.dropTables.isEmpty,
          "ddlSql carries DROP TABLE statement(s) " +
            cfg.dropTables.map(d => s"'${d._2}'").mkString(", ") +
            " for table(s) still declared in this topology — retire " +
            "them via Replication.applyTableLifecycle BEFORE this pass")
        // topology-wide: the envelope is shared, so a declared type must
        // not narrow ANY table's published column
        requireNoNarrowing(stateDirs.values.toSeq, cfg.modifyCols)
        (cfg.renameCols, truncates, cfg.defaultCols, cfg.dropCols)
      }
    val progress = streaming.StreamingOps.runCdcPassMulti(spark,
      sources.FileCdcSource(schema, inDir), ckptDir, stateDirs, txnCol,
      renames2, truncate2, defaults2, rowFilters, maskCols, keyCols,
      trackSourceSeq = true, keyColsByTable = keyColsByTable,
      dropCols = drops2, keepHistory = keepHistory)
    // the topology shares ONE binlog, so its position catalog entry is
    // topology-level: the newest seq any table applied (the binlog is
    // applied up to there; a table absent from this pass's waves simply
    // had no events below it)
    for (tk <- positionToken;
         mx <- progress.values.flatMap(_.lastSeq).maxOption)
      PositionCatalog.record(ckptDir, tk, mx)
    for (dir <- stateDirs.values if deltaCount(dir) > compactEvery)
      streaming.StreamingOps.compactState(spark, dir, tombstoneGc,
        // the topology-level pending tail, not the (absent) per-table
        // one, must hold down each table's purge floor
        pendingRoot = if (txnCol.isDefined) Some(ckptDir) else None)
    progress
  }

  /** The reference tool's full replication config surface: which source
    * tables replicate ([[TableFilter]]), what each is called at the
    * destination (rename mapping; unmapped tables keep their name),
    * which ROWS of each replicate (`rowFilters`, table → SQL predicate;
    * deletes always replicate — see [[incrementalSyncMulti]]), and which
    * payload columns are MASKED to NULL before anything ships
    * (`maskCols` — the PII column-exclusion block). The
    * `only_tables` / `skip_tables` / table-mapping / filter / mask
    * blocks of a replicator config file, keyed by SOURCE table name. */
  final case class SyncConfig(filter: TableFilter = TableFilter(),
      remap: Map[String, String] = Map.empty,
      rowFilters: Map[String, String] = Map.empty,
      maskCols: Map[String, Seq[String]] = Map.empty) {
    def dest(table: String): String = remap.getOrElse(table, table)
  }

  /** Config-driven multi-table incremental sync: the [[SyncConfig]] layer
    * over [[incrementalSyncMulti]]. `tables` lists the source tables the
    * binlog may carry; admitted ones land under
    * `destRoot/<dest-name>` (rename mapping applied), excluded ones are
    * skipped inside the single shared pass; row filters and column masks
    * apply to the admitted set (declaring one for an excluded table is
    * the loud config error the underlying pass raises). Progress is
    * keyed by DEST table name — the name an operator watches on the
    * destination side. */
  def incrementalSyncConfigured(spark: SparkSession, schema: StructType,
      inDir: String, ckptDir: String, destRoot: String, tables: Seq[String],
      config: SyncConfig = SyncConfig(),
      compactEvery: Int = 16): Map[String, SyncProgress] = {
    val admitted = tables.filter(config.filter.admits)
    // N:1 shard-merge is NOT this API: two sources renamed onto one dest
    // dir would overwrite each other's epoch deltas (latest rename wins)
    // and collapse their progress rows — reject instead of losing data
    val dests = admitted.map(config.dest)
    require(dests.distinct.size == dests.size,
      s"rename mapping collides on destination name(s): " +
        dests.groupBy(identity).collect { case (d, v) if v.size > 1 => d }
          .mkString(", "))
    val dirs = admitted.map(t => t -> s"$destRoot/${config.dest(t)}").toMap
    incrementalSyncMulti(spark, schema, inDir, ckptDir, dirs, compactEvery,
      rowFilters = config.rowFilters, maskCols = config.maskCols)
      .map { case (t, p) => config.dest(t) -> p }
  }

  /** MySQL `RENAME TABLE a TO b [, c TO d …]` applied to the DESTINATION:
    * atomically re-bind whole table state dirs under `root` — the verb
    * behind every online-schema-change cutover (gh-ost / pt-osc end with
    * `RENAME TABLE orders TO _orders_del, _orders_gho TO orders` as ONE
    * statement). MySQL semantics exactly: the list executes
    * left-to-right under one lock, so each source must exist and each
    * target must be free AT ITS TURN — which is what lets the cutover
    * pair work (the live name is moved away before the shadow lands on
    * it) while `a TO b, b TO c` correctly refuses (b still occupied at
    * a's turn).
    *
    * Each step is ONE directory rename — O(1) metadata at any table
    * size; the dir carries its epochs, `_schema`, `_keycols`, floors and
    * DDL records with it, so the swapped-in table serves immediately
    * under the new name with its OWN key declaration (the re-key an OSC
    * exists to deliver needs no further migration). Crash safety is a
    * cursored journal, not staging: the FULL plan plus a done-cursor
    * publishes atomically to `root/_rename_tables` BEFORE the first
    * move, the cursor re-publishes after EVERY step, and the journal is
    * deleted after the last — so [[healTableRenames]] resumes a crashed
    * plan at its cursor with no layout inference (the one ambiguous
    * window, a crash between a step's move and its cursor publish, is
    * resolved by the step's source being gone — under the validated
    * plan with all prior steps done, the source exists iff the move has
    * not run; later steps can only recreate the name after this one
    * completes). Like MySQL, the statement either fully applies or
    * (validation) refuses up front; unlike a half-written multi-file
    * swap, a crash mid-plan is completed — never rolled back — because
    * the journal IS the commit point. */
  def renameTables(root: String, renames: Seq[(String, String)]): Unit = {
    // a crashed earlier statement completes first: its journal committed
    // it, so the new statement validates against the healed layout
    healTableRenames(root)
    require(renames.nonEmpty, "RENAME TABLE with an empty rename list")
    renames.foreach { case (o, n) =>
      require(o != n, s"RENAME TABLE '$o' onto itself")
      Seq(o, n).foreach { t =>
        require(
          t.nonEmpty && !t.exists(c => c == '/' || c == '\t' || c == '\n'),
          s"malformed table name '$t'")
        // the journal slot is the protocol's, not a table's: a plan
        // touching it (or writeAtomic's '.tmp' sibling) would occupy its
        // own commit record and wedge the root behind a heal that can
        // never complete
        require(!t.startsWith("_rename_tables"),
          s"'$t' collides with the rename journal's namespace " +
            "('_rename_tables*'), which the protocol reserves")
      }
    }
    // validate the WHOLE statement left-to-right against a simulated
    // layout before touching anything — MySQL's all-or-nothing refusal
    val involved = renames.flatMap { case (o, n) => Seq(o, n) }.distinct
    var present = involved
      .filter(t => streaming.StateFs.exists(s"$root/$t")).toSet
    renames.foreach { case (o, n) =>
      require(present.contains(o),
        s"RENAME TABLE source '$o' does not exist at its turn")
      require(!present.contains(n),
        s"RENAME TABLE target '$n' already exists at its turn")
      present = present - o + n
    }
    executeRenamePlan(root, renames, from = 0)
  }

  /** Complete a crashed [[renameTables]] statement: if a journal exists
    * under `root`, its plan committed — resume at its cursor and retire
    * the journal. A deployment calls this at startup (every
    * [[renameTables]] call also heals first); with no journal it is a
    * no-op. */
  def healTableRenames(root: String): Unit =
    streaming.StateFs.readSmall(s"$root/_rename_tables").foreach { text =>
      val lines = text.split('\n').toSeq.filter(_.nonEmpty)
      val cursor = lines.head.stripPrefix("done=").toInt
      val steps = lines.tail.map { line =>
        val Array(o, n) = line.split('\t')
        (o, n)
      }
      executeRenamePlan(root, steps, from = cursor)
    }

  private def executeRenamePlan(root: String,
      renames: Seq[(String, String)], from: Int): Unit = {
    val journal = s"$root/_rename_tables"
    val planText = renames.map { case (o, n) => s"$o\t$n" }.mkString("\n")
    if (from == 0)
      streaming.StateFs.writeAtomic(journal, s"done=0\n$planText")
    for (i <- from until renames.size) {
      val (o, n) = renames(i)
      val src = s"$root/$o"
      val dst = s"$root/$n"
      if (streaming.StateFs.exists(src)) {
        // pending step: under the validated left-to-right plan the
        // target slot is free by now (any occupant moved away in an
        // earlier step) — occupied means an outside writer raced the
        // statement, which the protocol's single-writer contract forbids
        require(!streaming.StateFs.exists(dst),
          s"RENAME TABLE step '$o' -> '$n': target occupied mid-plan " +
            "(outside writer raced the statement)")
        streaming.StateFs.moveDir(src, dst)
      } else require(streaming.StateFs.exists(dst),
        s"RENAME TABLE step '$o' -> '$n': neither side exists — the " +
          "journal does not match the directory layout")
      streaming.StateFs.writeAtomic(journal, s"done=${i + 1}\n$planText")
    }
    streaming.StateFs.deleteRecursive(journal)
  }

  /** What [[applyTableLifecycle]] did: per created table its generated
    * destination bootstrap DDL, per dropped table the retired dir name
    * under the root (empty seq entries never occur — a table created
    * and dropped inside one gap simply vanishes from `stateDirs` with
    * nothing on disk to retire), and the UPDATED topology map to hand
    * the next multi-table pass. */
  final case class TableLifecycleReport(
      created: Seq[(String, String)],
      retired: Seq[(String, String)],
      stateDirs: Map[String, String])

  /** TABLE LIFECYCLE from a DDL gap — the topology-level verbs a real
    * binlog feed ships mid-stream: `CREATE TABLE` (a new table appears,
    * then its row events follow) and `DROP TABLE` (an old one
    * retires). Scans the gap's QueryEvents (straight from
    * `BinlogText.parseDdl` or any `(pos, sql)` feed) and applies, in
    * position order:
    *
    *  - an in-scope CREATE TABLE **bootstraps** the table: its parsed
    *    column list maps through [[streaming.DdlSql.sparkType]] onto
    *    the engine schema, [[sources.DestinationDdl.createTable]]
    *    generates the destination DDL (returned for the operator to
    *    run), and `root/<table>` joins the topology map so the next
    *    [[incrementalSyncMulti]] pass fans its row events out. A
    *    CREATE without a PRIMARY KEY refuses — a keyless table has no
    *    replication identity to collapse on. Re-creating a replicated
    *    table refuses — no safe mapping, same as before.
    *  - an in-scope DROP TABLE **retires** the table's state dir via
    *    the journaled rename protocol ([[renameTables]]) to
    *    `_<table>_dropped_<seq>` — crash-safe, neighbors untouched,
    *    the frozen dir left for the operator to audit or delete.
    *
    * Everything else — column-level verbs, out-of-scope noise — is the
    * per-pass fold's business and is skipped here; run this BEFORE the
    * pass, exactly like [[renameTables]]. `inScope` is the replication
    * scope predicate (a whole-database channel passes `_ => true`;
    * an include-list topology passes its filter). The topology's state
    * dirs must live at `root/<table>` — the layout the rename/retire
    * protocol operates on. Driver-side metadata work throughout. */
  def applyTableLifecycle(spark: SparkSession, root: String,
      events: Seq[(Long, String)],
      replicated: Map[String, String],
      inScope: String => Boolean = _ => true): TableLifecycleReport = {
    replicated.foreach { case (t, d) =>
      require(d == s"$root/$t",
        s"table '$t' state dir '$d' is not root-relative ('$root/$t') — " +
          "the lifecycle retire protocol renames dirs under one root")
    }
    var dirs = replicated
    var gapBorn = Set.empty[String]
    var created = Seq.empty[(String, String)]
    val retired = Seq.newBuilder[(String, String)]
    for ((seq, sql) <- events.sortBy(_._1);
         st <- streaming.DdlSql.parse(sql)) st match {
      case ct: streaming.DdlSql.CreateTable if inScope(ct.table) =>
        require(!dirs.contains(ct.table),
          s"CREATE TABLE '${ct.table}' at seq $seq but the table is " +
            "already replicated — re-creating it has no safe mapping " +
            "(drop it first, or resync)")
        require(!streaming.StateFs.exists(s"$root/${ct.table}"),
          s"CREATE TABLE '${ct.table}' at seq $seq but $root already " +
            "holds a dir of that name — an undeclared leftover the " +
            "bootstrap must not silently adopt")
        require(ct.keyCols.nonEmpty,
          s"CREATE TABLE '${ct.table}' declares no PRIMARY KEY — a " +
            "keyless table has no replication identity to collapse on")
        val schema = StructType(ct.columns.map { case (n, tp) =>
          org.apache.spark.sql.types.StructField(n,
            streaming.DdlSql.sparkType(tp),
            nullable = !ct.keyCols.exists(_.equalsIgnoreCase(n)))
        })
        created :+= ct.table ->
          sources.DestinationDdl.createTable(ct.table, schema, ct.keyCols)
        dirs += ct.table -> s"$root/${ct.table}"
        gapBorn += ct.table
      case streaming.DdlSql.DropTable(t) if inScope(t) =>
        require(dirs.contains(t),
          s"DROP TABLE '$t' at seq $seq but the table is not " +
            "replicated here — scope the gap, or the chain is stale")
        if (gapBorn(t)) {
          // born and dropped inside the gap: never synced, nothing on
          // disk — both entries cancel (the column-add/drop rule, one
          // level up), INCLUDING the bootstrap DDL: a report listing a
          // CREATE for a table absent from stateDirs would invite the
          // operator to bootstrap an orphan destination table
          gapBorn -= t
          created = created.filterNot(_._1 == t)
        } else if (streaming.StateFs.exists(s"$root/$t")) {
          val dest = s"_${t}_dropped_$seq"
          renameTables(root, Seq(t -> dest))
          retired += t -> dest
        }
        // declared-but-never-synced tables have no dir to retire —
        // they only leave the topology map
        dirs -= t
      case streaming.DdlSql.Unsupported(t, "CREATE TABLE")
        if inScope(t) =>
        // an in-scope CREATE whose body the dialect could not parse
        // (LIKE / AS SELECT / exotic attributes) must REFUSE here, not
        // skip: silently ignoring it would leave the new table out of
        // the topology and the multi pass would then silently filter
        // its row events — the exact corruption the in-scope-refusal
        // discipline exists to prevent
        throw new IllegalArgumentException(
          s"CREATE TABLE '$t' at seq $seq is outside the parseable " +
            s"dialect (LIKE / AS SELECT / exotic column attributes) — " +
            "the table cannot be bootstrapped from the statement; " +
            s"declare it by hand and resync — in: $sql")
      case _ => () // column verbs / out-of-scope noise: not ours
    }
    TableLifecycleReport(created, retired.result(), dirs)
  }

  /** What [[resnapshotTable]] did: rows seeded, where the OLD state dir
    * was parked (None for a first snapshot), and the destination
    * bootstrap DDL for the table's NEW shape (the operator re-creates
    * the destination table under the new key before pointing readers
    * at it — the same contract as [[TableLifecycleReport.created]]). */
  final case class ResyncReport(table: String, rows: Long,
      parkedAs: Option[String], bootstrapDdl: String)

  /** SINGLE-TABLE RE-SNAPSHOT — the heal for the DDL classes this
    * engine REFUSES to replicate statement-wise: a PRIMARY KEY change
    * (replication identity — `ensureKeyCols` and the DDL-text parser
    * both refuse it), a narrowing MODIFY (the source rewrites its
    * data), a partition-clause rewrite. The refusal message says
    * "resync the table"; this is that verb: snapshot the source of
    * truth under the NEW key columns into a STAGED state dir
    * ([[streaming.StreamingOps.seedStateFromTruth]] — baseline-shaped,
    * bucket-clustered, `_schema`/`_keycols` published), then swap it
    * live via the journaled rename protocol ([[renameTables]]) — the
    * old dir parks as `_<table>_replaced_<seq>` in the same atomic
    * statement, so a crash anywhere heals forward and readers never
    * see a half-built dir. Neighbors are untouched: the swap renames
    * exactly one table's dirs under the root.
    *
    * `truth` is the table itself (e.g. a fresh
    * `JdbcSource.snapshotPartitioned` read, or the filtered/masked
    * view for a table synced with filters — same rule as
    * [[repairSyncMulti]]); `snapshotSeq` is the binlog position the
    * snapshot was cut at — the next [[incrementalSync]] resumes with
    * `fromSeq = snapshotSeq` and the NEW `keyCols`. Returns the
    * [[ResyncReport]] with the destination bootstrap DDL for the new
    * shape. */
  def resnapshotTable(spark: SparkSession, root: String, table: String,
      truth: DataFrame, keyCols: Seq[String], snapshotSeq: Long)
      : ResyncReport = {
    require(table.nonEmpty && !table.startsWith("_"),
      s"bad table name '$table' — underscore-prefixed names are the " +
        "protocol namespace (parked/staged dirs)")
    healTableRenames(root)
    // the parked slot is claimed UP FRONT, before the expensive
    // snapshot: a retry after a COMPLETED swap (crash between swap and
    // report) would otherwise re-run the whole seed only to refuse at
    // the rename's validation — refuse cheaply here, naming the state
    val parked =
      if (streaming.StateFs.exists(s"$root/$table"))
        Some(s"_${table}_replaced_$snapshotSeq")
      else None
    parked.foreach(p => require(!streaming.StateFs.exists(s"$root/$p"),
      s"$root/$p already exists — a resync of '$table' at snapshot " +
        s"position $snapshotSeq already swapped (the heal completed; " +
        "a retry has nothing to do), or an older parked dir occupies " +
        "the slot — audit and remove it, or resync at the current " +
        "snapshot position"))
    val stage = s"_resync_${table}_stage"
    // a dead earlier attempt's stage dir is torn by definition (the
    // swap below is the only thing that makes a seed live) — rebuild it
    streaming.StateFs.deleteRecursive(s"$root/$stage")
    val rows = streaming.StreamingOps.seedStateFromTruth(spark, truth,
      s"$root/$stage", keyCols, snapshotSeq)
    renameTables(root,
      parked.map(p => Seq(table -> p, stage -> table))
        .getOrElse(Seq(stage -> table)))
    ResyncReport(table, rows, parked,
      sources.DestinationDdl.createTable(table, truth.schema, keyCols))
  }

  /** The currently applied destination state (latest row per key,
    * tombstones dropped) — what the ClickHouse-side table would serve.
    * `asOfSeq` serves the state AS OF a binlog position instead (time
    * travel — see [[streaming.StreamingOps.readLatestState]] for the
    * DDL-clock and compaction-horizon semantics). */
  def appliedState(spark: SparkSession, stateDir: String,
      asOfSeq: Option[Long] = None): DataFrame =
    streaming.StreamingOps.readLatestState(spark, stateDir, asOfSeq)

  /** CHANGELOG RE-EXPORT: one row per key changed since `sinceSeq`,
    * carrying the key's current image — deletes included as `op = 'D'`
    * tombstones. What a downstream consumer chained off this replica
    * polls (see [[streaming.StreamingOps.readStateChanges]] for the
    * retention guards: positions past a tombstone GC or a truncate
    * refuse — the downstream needs a re-snapshot, exactly like polling
    * past MySQL's binlog retention). The rows come in no particular
    * order; a caller that wants key order adds its own `orderBy`. */
  def changesSince(spark: SparkSession, stateDir: String,
      sinceSeq: Long): DataFrame =
    streaming.StreamingOps.readStateChanges(spark, stateDir, sinceSeq)

  /** The incident-window audit: per-key net change over `(p1, p2]` —
    * each key's image as of the window's end, deletes as tombstones.
    * Needs the dir synced with `keepHistory` (a fold may have displaced
    * an in-window image with a later one — see
    * [[streaming.StreamingOps.readStateChanges]]). Unordered, like
    * [[changesSince]]. */
  def changesBetween(spark: SparkSession, stateDir: String,
      p1: Long, p2: Long): DataFrame = {
    require(p1 <= p2, s"empty window: ($p1, $p2]")
    streaming.StreamingOps.readStateChanges(spark, stateDir, p1, Some(p2))
  }

  /** Outcome of a row-level repair (§3.1 #3's fix flow). */
  final case class RepairReport(inserted: Long, updated: Long, deleted: Long) {
    def repaired: Long = inserted + updated + deleted
  }

  /** Row-level REPAIR of a diverged destination — the consistency-fix
    * flow a replication operator runs after [[consistencyCheck]] comes
    * back inconsistent, instead of a full re-snapshot: one distributed
    * diff of the source-of-truth table against the served state, one
    * correction epoch carrying inserts for lost keys, updates for
    * drifted values, tombstones for keys the source dropped. The
    * correction wins every touched key's latest-wins collapse and
    * survives compaction/purge like any other epoch; untouched keys
    * are untouched (O(divergence) write, never O(table)). `src` must
    * carry the key and exactly the served value columns (schema drift
    * in either direction fails loudly — a row repair cannot retrofit
    * DDL). For a table synced through [[incrementalSyncMulti]] with
    * `txnCol`, pass the sync's `ckptDir` as `pendingRoot` so the
    * correction seq clears the topology's uncommitted tail. */
  def repairSync(spark: SparkSession, src: DataFrame, stateDir: String,
      keyCols: Seq[String] = Seq("okey"),
      pendingRoot: Option[String] = None): RepairReport =
    repairOne(spark, src, stateDir, keyCols, pendingRoot, None, None)

  /** [[repairSyncMulti]]'s one-table topology: the table is named by its
    * state dir, and its pending tail defaults to that dir's own. */
  private def repairOne(spark: SparkSession, src: DataFrame,
      stateDir: String, keyCols: Seq[String], pendingRoot: Option[String],
      restrict: Option[Column], restrictBuckets: Option[Seq[Long]])
      : RepairReport =
    streaming.StreamingOps.repairState(spark, Map(stateDir -> src),
      Map(stateDir -> stateDir), keyCols, pendingRoot.orElse(Some(stateDir)),
      restrict = restrict, restrictBuckets = restrictBuckets)(stateDir)

  /** One key-hash chunk's verdict from [[consistencyCheckChunked]]. */
  final case class ChunkReport(chunk: Long, nSrc: Long, nDst: Long,
      sumMatch: Boolean, xorMatch: Boolean) {
    def consistent: Boolean = nSrc == nDst && sumMatch && xorMatch
  }

  /** The deterministic chunk id both the check and the repair key on:
    * `xxhash64(key columns) mod nChunks` — a pure function of the key,
    * identical on either side and in any engine run. */
  private def chunkOf(keyCols: Seq[String], nChunks: Int) =
    pmod(xxhash64(keyCols.map(col): _*), lit(nChunks.toLong))

  /** CHUNKED consistency check — the pt-table-checksum shape: instead
    * of one table-wide verdict ([[consistencyCheck]]), the key space
    * splits into `nChunks` deterministic key-hash chunks and each gets
    * its own count + order-independent sum/xor checksum fold, ALL from
    * one aggregate scan per side (one shuffle of nChunks tiny rows —
    * at 100 TB the cost is the same two scans the global check pays,
    * but the verdict now LOCALIZES divergence). The operator flow:
    * chunked check → dirty chunk list → [[repairSyncChunked]] diffs
    * only those chunks' rows. Chunks absent on a side (no keys hashed
    * into them) report zero counts and match vacuously. */
  def consistencyCheckChunked(src: DataFrame, dst: DataFrame,
      keyCols: Seq[String] = Seq("okey"), nChunks: Int = 64)
      : Seq[ChunkReport] = {
    require(nChunks > 0, "nChunks must be positive")
    val common = src.columns.intersect(dst.columns).sorted.toSeq
    require(common.nonEmpty, "no shared columns to checksum")
    def side(df: DataFrame, n: String, sm: String, xr: String): DataFrame =
      df.select(chunkOf(keyCols, nChunks).as("chunk"),
          xxhash64(common.map(col): _*).as("h"))
        .groupBy(col("chunk"))
        .agg(count(lit(1)).as(n),
          sum(col("h").cast(org.apache.spark.sql.types.DecimalType(38, 0))).as(sm),
          expr("bit_xor(h)").as(xr))
    side(src.select(common.map(col): _*), "ns", "ss", "xs")
      .join(side(dst.select(common.map(col): _*), "nd", "sd", "xd"),
        Seq("chunk"), "full_outer")
      .collect().map { r =>
        def l(i: Int) = if (r.isNullAt(i)) 0L else r.getLong(i)
        def dec(i: Int) = if (r.isNullAt(i)) BigDecimal(0)
          else BigDecimal(r.getDecimal(i))
        ChunkReport(r.getLong(0), l(1), l(4),
          sumMatch = dec(2) == dec(5), xorMatch = l(3) == l(6))
      }.sortBy(_.chunk).toSeq
  }

  /** Chunk-bounded repair — [[repairSync]] restricted to the chunks a
    * [[consistencyCheckChunked]] flagged dirty: the same key-hash chunk
    * function gates BOTH diff sides, so the full-outer diff joins only
    * the dirty chunks' rows and a clean chunk's keys can never enter
    * the repair. An empty dirty list is a no-op by construction. */
  def repairSyncChunked(spark: SparkSession, src: DataFrame,
      stateDir: String, dirtyChunks: Seq[Long], nChunks: Int = 64,
      keyCols: Seq[String] = Seq("okey"),
      pendingRoot: Option[String] = None): RepairReport = {
    if (dirtyChunks.isEmpty) return RepairReport(0, 0, 0)
    // chunk ids translate to physical state BUCKETS when the chunk count
    // divides the bucket count (both are pmod(xxhash64(key), n) over the
    // same key columns): every key in dirty chunk c lives in a bucket b
    // with b % nChunks == c, so the bucket set below covers the dirty
    // keys exactly — the diff's state read then prunes to those buckets
    // instead of scanning the table. Other chunk counts fall back to the
    // exact-but-unpruned predicate alone.
    val B = streaming.StreamingOps.StateBuckets
    val buckets =
      if (nChunks <= B && B % nChunks == 0)
        Some((0L until B).filter(b => dirtyChunks.contains(b % nChunks)).toSeq)
      else None
    repairOne(spark, src, stateDir, keyCols, pendingRoot,
      Some(chunkOf(keyCols, nChunks).isin(dirtyChunks: _*)), buckets)
  }

  /** Topology-level repair for a multi-table sync
    * ([[incrementalSyncMulti]]'s fix flow): ONE diff pass heals every
    * diverged per-table state dir — per-table truths union in, a single
    * full-outer diff over (table, key) emits every divergence, and one
    * partitioned write fans per-table correction epochs back out; the
    * txn pending tail is consulted once for the whole topology. For a
    * txn-gated sync pass the sync's `ckptDir` as `pendingRoot` (that is
    * where the topology roots `_pending`). Without this, an operator
    * loops [[repairSync]] by hand and each call re-reads the pending
    * tail. For a table synced with row filters or column masks
    * ([[SyncConfig]]), the source of truth must be the FILTERED/MASKED
    * view — diffing the raw source against a masked destination would
    * "repair" every mask back to its live value. Returns per-table
    * [[RepairReport]]s. */
  def repairSyncMulti(spark: SparkSession, srcByTable: Map[String, DataFrame],
      stateDirs: Map[String, String], keyCols: Seq[String] = Seq("okey"),
      pendingRoot: Option[String] = None,
      keyColsByTable: Map[String, Seq[String]] = Map.empty)
      : Map[String, RepairReport] =
    streaming.StreamingOps.repairState(spark, srcByTable, stateDirs,
      keyCols, pendingRoot, keyColsByTable)

  /** Outcome of a source↔destination consistency check (§3.1 #3). */
  final case class ConsistencyReport(nSrc: Long, nDst: Long,
      missingInDst: Long, extraInDst: Long, schemaMatches: Boolean,
      checksumsMatch: Boolean) {
    def consistent: Boolean =
      nSrc == nDst && missingInDst == 0 && extraInDst == 0 &&
        schemaMatches && checksumsMatch
  }

  /** Consistency check: column-set compare, row counts, key-set diff in
    * both directions, and an order-independent value checksum over the
    * shared columns. A destination that lost or gained whole columns is
    * inconsistent even when every shared value matches — silently
    * narrowing to the intersection would green-light schema drift.
    *
    * Scan economy at 100 TB: each side is scanned exactly TWICE — one
    * fused aggregate (count + both checksum folds in a single pass; the
    * naive form pays a scan per probe) and one shared key scan into a
    * single full-outer key join that yields BOTH diff directions at
    * once (two `except`s would be two full joins). Nothing row-wise
    * ever reaches the driver. */
  def consistencyCheck(src: DataFrame, dst: DataFrame,
      key: String): ConsistencyReport = consistencyCheck(src, dst, Seq(key))

  /** Composite-primary-key form of [[consistencyCheck]]: the key-set
    * diff runs over the FULL key tuple (null-safe per column, matching
    * the single-column form's `<=>` semantics); counts and checksums
    * are key-independent and unchanged. */
  def consistencyCheck(src: DataFrame, dst: DataFrame,
      keyCols: Seq[String]): ConsistencyReport = {
    require(keyCols.nonEmpty, "keyCols must name at least one column")
    val common = src.columns.intersect(dst.columns).sorted.toSeq
    // Order-independent value checksum: two combined folds of a 64-bit
    // row hash. A wrapping sum alone is weak — value swaps between rows
    // that preserve the sum pass undetected — so the XOR fold is compared
    // too; a silent corruption must now preserve BOTH the sum and the
    // xor of 64-bit row hashes simultaneously. The sum is carried in
    // DECIMAL(38,0) because Spark 4's ANSI mode raises on BIGINT
    // overflow, which a sum of xxhash64 values reaches almost surely.
    def stats(df: DataFrame): (Long, BigDecimal, Long) = {
      val r = df.select(xxhash64(common.map(col): _*).as("h"))
        .agg(count(lit(1)),
          sum(col("h").cast(org.apache.spark.sql.types.DecimalType(38, 0))),
          expr("bit_xor(h)")).collect()(0)
      (r.getLong(0),
        if (r.isNullAt(1)) BigDecimal(0) else BigDecimal(r.getDecimal(1)),
        if (r.isNullAt(2)) 0L else r.getLong(2))
    }
    // disjoint schemas: no shared column to hash — counts still compare
    val (nSrc, srcSum, srcXor) =
      if (common.isEmpty) (src.count(), BigDecimal(0), 0L)
      else stats(src.select(common.map(col): _*))
    val (nDst, dstSum, dstXor) =
      if (common.isEmpty) (dst.count(), BigDecimal(0), 0L)
      else stats(dst.select(common.map(col): _*))
    // both diff directions from ONE distinct-key full-outer join. The
    // presence MARKERS (not key nullness) decide absence, and the join
    // is null-safe — `except` set-semantics treats a NULL key present
    // on both sides as matched, and so must this
    val sk = keyCols.map(k => s"__sk_$k")
    val dk = keyCols.map(k => s"__dk_$k")
    val diff = src.select(keyCols.zip(sk).map { case (k, a) =>
        col(k).as(a) }: _*).distinct()
      .withColumn("sm", lit(true))
      .join(dst.select(keyCols.zip(dk).map { case (k, a) =>
          col(k).as(a) }: _*).distinct()
          .withColumn("dm", lit(true)),
        sk.zip(dk).map { case (a, b) => col(a) <=> col(b) }.reduce(_ && _),
        "full_outer")
      .agg(count(when(col("dm").isNull, 1)).as("missing"),
        count(when(col("sm").isNull, 1)).as("extra")).collect()(0)
    ConsistencyReport(
      nSrc = nSrc,
      nDst = nDst,
      missingInDst = diff.getLong(0),
      extraInDst = diff.getLong(1),
      schemaMatches = src.columns.sorted.sameElements(dst.columns.sorted),
      checksumsMatch = common.nonEmpty &&
        (srcSum, srcXor) == (dstSum, dstXor))
  }
}
