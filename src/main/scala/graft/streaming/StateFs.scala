package graft.streaming

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileContext, FileSystem, FileUtil, Options, Path}

/** The streaming state layer's ONLY filesystem surface. Every piece of
  * state bookkeeping — `_pending` txn-tail discovery, `_purge_floor`
  * publication, compaction baseline renames, multi-table staging moves —
  * goes through the Hadoop `FileSystem`/`FileContext` API, so a state
  * dir can live on HDFS/S3A/GCS exactly as it does on the local
  * filesystem the harness tests against (a 100 TB state dir is never
  * local). `java.io.File` is banned from state paths; it survives only
  * in the HARNESS wave-writer (mtime stamping to order a local
  * FileStreamSource's input — test scaffolding, inherently local).
  *
  * Rename semantics: [[moveDir]] is a metadata move when source and
  * destination share a filesystem and degrades to copy+delete across
  * filesystems (the staging dir is co-located with the checkpoint
  * precisely so the production path never degrades). Two publish
  * protocols sit on it, one helper each: a state epoch lands by
  * `StreamingOps.publishEpoch` (record written in the stage, a crashed
  * attempt's dir removed, one [[renameDir]]); a live dir is swapped by
  * [[replaceDir]] (stage → live, old live via trash, healed by
  * [[healSwap]]). [[writeAtomic]] publishes small control files via
  * `FileContext.rename(OVERWRITE)` — atomic on HDFS and local POSIX, so
  * a concurrent reader sees either the old or the new content, never a
  * missing or partial file. On
  * object stores (S3A/GCS) rename is NOT atomic — a concurrent reader
  * can observe the control file mid-replace — so deployments there must
  * serialize control-file readers against the single writer (the
  * harness and the HDFS production shape never hit this; the txn docs'
  * "epoch rename is atomic" invariant is scoped to HDFS/POSIX).
  */
private[graft] object StateFs {

  // built once per FILESYSTEM (scheme+authority), not per call:
  // newHadoopConf() clones the full SparkConf every time, and a
  // txn-gated micro-batch makes several StateFs calls — thousands of
  // batches would pay thousands of redundant conf constructions. Keying
  // by URI (not one JVM-wide conf) keeps two differently-credentialed
  // sessions in one JVM from cross-contaminating: each filesystem's conf
  // is pinned by whichever session touches it FIRST, never leaked onto
  // other filesystems. The bare-Configuration fallback (no session on
  // this thread at all) is deliberately NOT cached, so a later session
  // can still supply the real fs impls/credentials.
  private val confByFs =
    new java.util.concurrent.ConcurrentHashMap[String, Configuration]()

  private def conf(p: Path): Configuration = {
    val key = {
      val u = p.toUri
      s"${u.getScheme}://${Option(u.getAuthority).getOrElse("")}"
    }
    val cached = confByFs.get(key)
    if (cached != null) cached
    else {
      val session = org.apache.spark.sql.SparkSession.getActiveSession
        .orElse(org.apache.spark.sql.SparkSession.getDefaultSession)
      session match {
        case Some(s) =>
          val built = s.sessionState.newHadoopConf()
          val prior = confByFs.putIfAbsent(key, built)
          if (prior != null) prior else built
        case None => new Configuration()
      }
    }
  }

  private def fs(p: Path): FileSystem = p.getFileSystem(conf(p))

  /** Ids of `epoch=<id>` child directories under `root` (empty when the
    * dir does not exist — state dirs appear lazily with the first
    * delta). */
  def epochIds(root: String): Seq[Long] = {
    val p = new Path(root)
    val f = fs(p)
    if (!f.exists(p)) Seq.empty
    else f.listStatus(p).toSeq
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("epoch="))
      .map(_.getPath.getName.stripPrefix("epoch=").toLong)
  }

  /** Ids of `epoch=<id>` child FILES under `root` — small epoch-keyed
    * control artifacts (e.g. the MV snapshot pointer maps), as opposed
    * to [[epochIds]]'s delta directories. `writeAtomic`'s transient
    * `.tmp` names fail the strict id parse and are ignored. */
  def epochFileIds(root: String): Seq[Long] = {
    val p = new Path(root)
    val f = fs(p)
    if (!f.exists(p)) Seq.empty
    else f.listStatus(p).toSeq
      .filter(st => st.isFile && st.getPath.getName.startsWith("epoch="))
      .flatMap(_.getPath.getName.stripPrefix("epoch=").toLongOption)
  }

  /** Names of child DIRECTORIES under `root` starting with `prefix`
    * (empty when `root` is absent) — the partition-directory listing
    * the snapshot rename migration walks. */
  def childDirNames(root: String, prefix: String): Seq[String] = {
    val p = new Path(root)
    val f = fs(p)
    if (!f.exists(p)) Seq.empty
    else f.listStatus(p).toSeq
      .filter(st => st.isDirectory && st.getPath.getName.startsWith(prefix))
      .map(_.getPath.getName)
  }

  def exists(path: String): Boolean = {
    val p = new Path(path)
    fs(p).exists(p)
  }

  /** Recursive delete; absent paths are a no-op (idempotent cleanup). */
  def deleteRecursive(path: String): Unit = {
    val p = new Path(path)
    fs(p).delete(p, true); ()
  }

  def mkdirs(path: String): Unit = {
    val p = new Path(path)
    fs(p).mkdirs(p); ()
  }

  /** Move a directory into place: a metadata rename on one filesystem,
    * copy + delete-source across filesystems. The destination must not
    * exist. */
  def moveDir(src: String, dst: String): Unit = {
    renameDir(src, dst)
    bumpIfGated(dst)
  }

  /** [[moveDir]] without its gate probe — for a dir that never holds DDL
    * gate files (a state epoch dir). */
  def renameDir(src: String, dst: String): Unit = {
    val sp = new Path(src)
    val dp = new Path(dst)
    val sfs = fs(sp)
    val dfs = fs(dp)
    require(sfs.exists(sp), s"staged dir missing: $src")
    Option(dp.getParent).foreach(dfs.mkdirs(_))
    val renamed = (sfs.getUri == dfs.getUri) && sfs.rename(sp, dp)
    if (!renamed)
      require(FileUtil.copy(sfs, sp, dfs, dp, true, conf(dp)),
        s"cannot move $src -> $dst")
  }

  /** Crash-safe swap of a live dir: [[healSwap]], drop a stale `stage`,
    * `write` it whole, move live → trash and stage → live, drop the
    * trash. At no instant is the data absent from disk; a reader between
    * the two moves finds no live dir, so swap between passes. */
  def replaceDir(live: String, stage: String, trash: String)(
      write: String => Unit): Unit = {
    healSwap(live, trash)
    deleteRecursive(stage)
    write(stage)
    if (exists(live)) moveDir(live, trash)
    moveDir(stage, live)
    deleteRecursive(trash)
  }

  /** The heal rule of a swap: trash beside live crashed before its drop
    * — drop it; trash alone crashed between the moves — restore it. */
  def healSwap(live: String, trash: String): Unit =
    if (exists(trash)) {
      if (exists(live)) deleteRecursive(trash) else moveDir(trash, live)
    }

  /** Recursive directory COPY (source untouched) — the fixture-clone
    * primitive: a cached synced-state prefix is copied into a fresh
    * dir so a scenario can corrupt/resume its own copy while every
    * other consumer replays the pristine original. Byte copy, no Spark
    * job, O(state bytes) — at harness scale milliseconds vs the
    * seconds of re-running the streaming sync it replaces. The
    * destination must not exist. */
  def copyDir(src: String, dst: String): Unit = {
    val sp = new Path(src)
    val dp = new Path(dst)
    val sfs = fs(sp)
    val dfs = fs(dp)
    require(sfs.exists(sp), s"copy source missing: $src")
    require(!dfs.exists(dp), s"copy destination occupied: $dst")
    Option(dp.getParent).foreach(dfs.mkdirs(_))
    require(FileUtil.copy(sfs, sp, dfs, dp, false, conf(dp)),
      s"cannot copy $src -> $dst")
    bumpIfGated(dst)
  }

  /** A WHOLE state dir can arrive at `dst` by [[moveDir]]/[[copyDir]]
    * (table rename cutover, fixture clone) carrying its DDL gate files —
    * a clean verdict memoized for that path would then skip gates the
    * arriving dir needs. Only such a dir can turn the verdict stale, so
    * one listing of its root decides: an epoch dir (every per-trigger
    * move) bumps nothing and leaves no generation entry behind. Bumped
    * AFTER the move is visible (see gateGen): a concurrent clean probe
    * either sees the arrived files or fails the generation check at
    * cache time. */
  private def bumpIfGated(dst: String): Unit = {
    val p = new Path(dst)
    if (fs(p).listStatus(p).exists(st => DdlGateFiles(st.getPath.getName)))
      bumpGate(normDir(dst))
  }

  /** Contents of a small control file, None when absent. */
  def readSmall(path: String): Option[String] = {
    val p = new Path(path)
    val f = fs(p)
    if (!f.exists(p)) None
    else {
      val len = f.getFileStatus(p).getLen.toInt
      val bytes = new Array[Byte](len)
      val in = f.open(p)
      try in.readFully(0, bytes) finally in.close()
      Some(new String(bytes, java.nio.charset.StandardCharsets.UTF_8))
    }
  }

  /** The control files whose ABSENCE makes a state dir "clean": no DDL
    * record to coalesce/gate and no serving floors to filter — the
    * overwhelmingly common per-trigger case, where every pinned read can
    * skip the whole gate stack. */
  private val DdlGateFiles: Set[String] =
    Set("_renames", "_defaults", "_drops", "_purge_floor", "_trunc_floor")

  /** Per-process memo of state dirs KNOWN clean (no [[DdlGateFiles]]
    * present). A hit saves five control-file probes plus the
    * rename/default/drop/floor parses on EVERY pinned read — the MV
    * passes pay that per trigger, pure overhead on dirs that never saw
    * a DDL. Only the CLEAN verdict is cached (a dirty dir re-reads its
    * record each call — the record can grow); [[writeAtomic]] of any
    * gate file invalidates its parent, so even a spec publishing a
    * floor directly is caught. Sound under the state protocol's
    * standing single-writer assumption: the one pass that writes a
    * dir's epochs is the only writer of its control files, so no other
    * PROCESS can dirty a dir behind this JVM's cache. Keys are
    * Hadoop-normalized path strings. */
  private val cleanDirs =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  // per-dir invalidation GENERATION, bumped after every gate-file write
  // or whole-dir move: a reader that probed clean but raced a writer
  // (probe before the gate file landed, cache after the writer's
  // invalidation) would otherwise memoize a stale CLEAN verdict forever
  // — the generation check at cache time closes the window, because the
  // writer bumps strictly AFTER its file is visible, so either the
  // reader's probe sees the file or its cache attempt sees the bump.
  private val gateGen =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()

  private def genOf(key: String): Long =
    Option(gateGen.get(key)).map(_.longValue).getOrElse(0L)

  private def bumpGate(key: String): Unit = {
    gateGen.merge(key, 1L, (a, b) => java.lang.Long.valueOf(a + b))
    cleanDirs.remove(key); ()
  }

  private def normDir(state: String): String = new Path(state).toString

  private[graft] def dirHasNoDdl(state: String): Boolean = {
    val key = normDir(state)
    cleanDirs.contains(key) || {
      val g0 = genOf(key)
      val clean = DdlGateFiles.forall(f => !exists(s"$state/$f"))
      if (clean && genOf(key) == g0) {
        // add-then-revalidate: a writer's bump landing entirely between
        // the pre-add check and the add would otherwise strand a stale
        // CLEAN verdict (its remove ran before our add). After the add,
        // either our re-check sees the bump (we evict ourselves) or the
        // writer's remove runs after our add (it evicts us) — no
        // interleaving leaves the stale entry cached.
        cleanDirs.add(key)
        if (genOf(key) != g0) { cleanDirs.remove(key); () }
      }
      clean
    }
  }

  /** Atomically publish a small control file: write `<path>.tmp`, then
    * rename it over the destination — `Files.move(ATOMIC_MOVE)` on the
    * local scheme (the POSIX rename(2), atomic-overwrite by definition,
    * and fork-free: the FileContext route's `AbstractFileSystem.rename`
    * probes the source's link status, which without a native Hadoop
    * library shells out a `readlink` per call — a measured per-trigger
    * fixed cost, see OPTIMIZATION_r21.md), `FileContext.rename(OVERWRITE)`
    * everywhere else (atomic on HDFS; the object-store caveat in the
    * header stands unchanged). */
  def writeAtomic(path: String, content: String): Unit = {
    val dst = new Path(path)
    val tmp = new Path(path + ".tmp")
    val f = fs(dst)
    val local = "file".equals(f.getUri.getScheme)
    if (local) {
      val dstNio = java.nio.file.Paths.get(dst.toUri.getPath)
      val tmpNio = java.nio.file.Paths.get(tmp.toUri.getPath)
      Option(dstNio.getParent)
        .foreach(java.nio.file.Files.createDirectories(_))
      java.nio.file.Files.write(tmpNio,
        content.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      java.nio.file.Files.move(tmpNio, dstNio,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      // the nio move bypasses ChecksumFileSystem, but [[copyDir]]/
      // [[moveDir]] route through the checksummed LocalFileSystem and
      // leave a `.<name>.crc` sidecar per control file — overwriting the
      // file while that sidecar survives makes the next fs.open throw
      // ChecksumException (r21 ADVICE). Drop any stale sidecar with the
      // publish.
      java.nio.file.Files.deleteIfExists(dstNio.resolveSibling(
        "." + dstNio.getFileName.toString + ".crc"))
      ()
    } else {
      val out = f.create(tmp, true)
      try out.write(content.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      finally out.close()
      // resolve the FileContext through the FileSystem's URI (a schemeless
      // local path has no URI authority of its own)
      FileContext.getFileContext(f.getUri, conf(dst))
        .rename(tmp, dst, Options.Rename.OVERWRITE)
      ()
    }
    // invalidate AFTER the file is visible (see gateGen): bumping first
    // would let a racing reader probe clean post-bump, pre-file, and
    // cache the stale verdict with no later invalidation to evict it
    if (DdlGateFiles.contains(dst.getName))
      Option(dst.getParent).foreach(p => bumpGate(p.toString))
  }
}
