package graft

import graft.streaming.{StateFs, StreamingOps}

/** The local filesystem under a second scheme name — registered ONLY in
  * the test session's hadoop conf, so resolving it proves StateFs
  * consults the session (and never a cached bare `new Configuration()`,
  * which has no idea the scheme exists). */
class MockFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("mockfs:///")
}

/** Contract tests for the state layer's filesystem surface (StateFs) —
  * the semantics every state-dir invariant rests on: epoch discovery,
  * atomic control-file publication, metadata directory moves.
  */
class StateFsSpec extends SparkTestBase {

  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("graft_statefs").toString

  test("epochIds lists only epoch= dirs; an absent root is empty, not an error") {
    val base = tmp()
    assert(StateFs.epochIds(s"$base/nope") == Seq.empty)
    StateFs.mkdirs(s"$base/epoch=0")
    StateFs.mkdirs(s"$base/epoch=7")
    StateFs.mkdirs(s"$base/epoch=-3") // compaction baseline
    StateFs.mkdirs(s"$base/_pending") // non-epoch dirs are invisible
    StateFs.mkdirs(s"$base/_compacting")
    assert(StateFs.epochIds(base).sorted == Seq(-3L, 0L, 7L))
  }

  test("writeAtomic publishes over an existing file; readSmall round-trips") {
    val base = tmp()
    val p = s"$base/_purge_floor"
    assert(StateFs.readSmall(p).isEmpty)
    StateFs.writeAtomic(p, "41")
    assert(StateFs.readSmall(p).contains("41"))
    StateFs.writeAtomic(p, "42") // the OVERWRITE path
    assert(StateFs.readSmall(p).contains("42"))
    // no .tmp residue: the publish is rename-based, not copy-based
    assert(!StateFs.exists(p + ".tmp"))
  }

  test("moveDir relocates a directory tree and refuses a missing source") {
    val base = tmp()
    StateFs.mkdirs(s"$base/src/inner")
    StateFs.writeAtomic(s"$base/src/inner/part-0", "data")
    StateFs.moveDir(s"$base/src", s"$base/dst/epoch=3")
    assert(!StateFs.exists(s"$base/src"))
    assert(StateFs.readSmall(s"$base/dst/epoch=3/inner/part-0").contains("data"))
    val e = intercept[IllegalArgumentException] {
      StateFs.moveDir(s"$base/absent", s"$base/dst2")
    }
    assert(e.getMessage.contains("staged dir missing"))
  }

  test("moveDir of a dir carrying DDL gate files onto a path memoized clean reads dirty") {
    val base = tmp()
    StateFs.mkdirs(s"$base/state")
    assert(StateFs.dirHasNoDdl(s"$base/state")) // memoizes the clean verdict
    StateFs.deleteRecursive(s"$base/state")
    StateFs.mkdirs(s"$base/renamed")
    StateFs.writeAtomic(s"$base/renamed/_renames", "price\tcost\t7")
    StateFs.moveDir(s"$base/renamed", s"$base/state")
    assert(!StateFs.dirHasNoDdl(s"$base/state"),
      "a stale clean verdict would skip the arrived dir's rename gate")
  }

  test("per-URI conf: a scheme registered only in the session's hadoop conf resolves") {
    // two schemes over one directory: the default (schemeless → local)
    // and mockfs, which exists ONLY in the session conf — each gets its
    // own cached Configuration, so neither can contaminate the other
    spark.sparkContext.hadoopConfiguration
      .set("fs.mockfs.impl", classOf[MockFs].getName)
    val base = tmp()
    StateFs.mkdirs(s"mockfs:$base/epoch=5")
    assert(StateFs.exists(s"mockfs:$base/epoch=5"))
    assert(StateFs.epochIds(s"mockfs:$base") == Seq(5L))
    // it IS the local filesystem underneath — the schemeless view of the
    // same directory agrees, through its separately-cached conf
    assert(StateFs.epochIds(base) == Seq(5L))
    StateFs.writeAtomic(s"$base/epoch=5/_marker", "42")
    assert(StateFs.readSmall(s"mockfs:$base/epoch=5/_marker").contains("42"))
    StateFs.deleteRecursive(s"mockfs:$base/epoch=5")
    assert(!StateFs.exists(s"$base/epoch=5"))
  }

  test("writeAtomic over a checksum-sidecarred file drops the stale .crc") {
    // copyDir routes through the checksummed LocalFileSystem, which
    // writes a `.<name>.crc` sidecar per file; writeAtomic's local nio
    // fast path bypasses ChecksumFileSystem, so without the sidecar
    // cleanup the next fs.open (readSmall) would throw ChecksumException
    // on the stale sidecar (r21 ADVICE).
    val base = tmp()
    StateFs.mkdirs(s"$base/src")
    StateFs.writeAtomic(s"$base/src/_lag", "1\t2")
    StateFs.copyDir(s"$base/src", s"$base/dst")
    assert(new java.io.File(s"$base/dst/._lag.crc").exists,
      "precondition: the checksummed copy must leave a .crc sidecar")
    StateFs.writeAtomic(s"$base/dst/_lag", "3\t4") // same length: a stale
    // sidecar would fail on CONTENT, not length, making the repro exact
    assert(StateFs.readSmall(s"$base/dst/_lag").contains("3\t4"))
    assert(!new java.io.File(s"$base/dst/._lag.crc").exists)
  }

  test("deleteRecursive is idempotent and total") {
    val base = tmp()
    StateFs.mkdirs(s"$base/a/b/c")
    StateFs.writeAtomic(s"$base/a/b/f", "x")
    StateFs.deleteRecursive(s"$base/a")
    assert(!StateFs.exists(s"$base/a"))
    StateFs.deleteRecursive(s"$base/a") // absent -> no-op
  }

  private def rows(dir: String): Set[(Long, String)] =
    spark.read.parquet(dir).collect()
      .map(r => r.getAs[Long]("okey") -> r.getAs[String]("v")).toSet

  test("publishEpoch onto a crashed attempt's dir serves only the new rows and record") {
    import spark.implicits._
    val base = tmp()
    val state = s"$base/state"
    // the crashed attempt: stale rows plus a stale _maxseq at the target
    Seq((1L, "stale"), (9L, "stale")).toDF("okey", "v")
      .write.parquet(s"$state/epoch=5")
    StateFs.writeAtomic(s"$state/epoch=5/_maxseq", "99")
    // the replay's partitioned stage; the table name needs escaping
    val stage = s"$base/ckpt/_staging/epoch=5"
    Seq((1L, "new", "t:1"), (2L, "new", "t:1")).toDF("okey", "v", "table")
      .write.partitionBy("table").parquet(stage)
    StreamingOps.publishEpoch(stage, Some("t:1"), state, 5L, Some(7L))
    assert(rows(s"$state/epoch=5") == Set(1L -> "new", 2L -> "new"))
    assert(StreamingOps.readMaxSeq(s"$state/epoch=5") == Some(Some(7L)))
    assert(!StateFs.exists(s"$stage/table=t%3A1"))
  }

  test("publishEpoch onto an absent destination creates the state dir") {
    import spark.implicits._
    val base = tmp()
    val stage = s"$base/ckpt/_staging/epoch=-1"
    Seq((3L, "a")).toDF("okey", "v").write.parquet(stage)
    assert(!StateFs.exists(s"$base/state"))
    StreamingOps.publishEpoch(stage, None, s"$base/state", -1L, None)
    assert(rows(s"$base/state/epoch=-1") == Set(3L -> "a"))
    assert(StreamingOps.readMaxSeq(s"$base/state/epoch=-1") == Some(None))
    assert(!StateFs.exists(stage))
    assert(StateFs.epochIds(s"$base/state") == Seq(-1L))
  }

  test("replaceDir heals every crash leftover and ends with only the new content live") {
    // `served`: what live must hold when the write starts (the heal ran)
    def swap(base: String, served: String): Unit = {
      StateFs.replaceDir(s"$base/live", s"$base/stage", s"$base/trash") { st =>
        assert(StateFs.readSmall(s"$base/live/f").contains(served))
        StateFs.writeAtomic(s"$st/f", "new")
      }
      assert(StateFs.readSmall(s"$base/live/f").contains("new"))
      assert(!StateFs.exists(s"$base/live/junk"))
      assert(!StateFs.exists(s"$base/trash") && !StateFs.exists(s"$base/stage"))
    }
    // trash + live: a swap that crashed before its trash drop
    val b1 = tmp()
    StateFs.writeAtomic(s"$b1/live/f", "live")
    StateFs.writeAtomic(s"$b1/trash/f", "old")
    swap(b1, "live")
    // trash, no live: a swap that crashed between its two moves
    val b2 = tmp()
    StateFs.writeAtomic(s"$b2/trash/f", "old")
    swap(b2, "old")
    // a stale stage from a crashed write
    val b3 = tmp()
    StateFs.writeAtomic(s"$b3/live/f", "live")
    StateFs.writeAtomic(s"$b3/stage/f", "stale")
    StateFs.writeAtomic(s"$b3/stage/junk", "stale")
    swap(b3, "live")
  }
}
