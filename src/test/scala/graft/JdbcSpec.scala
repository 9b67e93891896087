package graft

import java.sql.DriverManager

import graft.sources.{EpochParquetSink, FileCdcSource, JdbcBatchSink, JdbcSource}
import org.apache.spark.sql.functions._

/** The JDBC PRODUCTION path executed for real against embedded Derby (on
  * the Spark classpath) — the harness's declared queries snapshot through
  * parquet (no live MySQL), so this is where the actual
  * `spark.read.format("jdbc")` / `df.write.format("jdbc")` plumbing is
  * proven: round-trip fidelity, PK-chunked parallel reads, and the
  * documented idempotent-replay contract of [[JdbcBatchSink]] (append-mode
  * JDBC duplicates on replay BY DESIGN — dedup is the destination DB's
  * job, e.g. ReplacingMergeTree collapse — while the harness's
  * [[EpochParquetSink]] is replay-idempotent by overwrite). */
class JdbcSpec extends SparkTestBase {

  /** Fresh embedded-Derby database under a temp dir (one per test; the
    * embedded engine allows many databases per JVM). */
  private def freshUrl(): String = {
    val dir = java.nio.file.Files.createTempDirectory("graft_derby").toString
    s"jdbc:derby:$dir/db;create=true"
  }

  private def withConn[T](url: String)(body: java.sql.Connection => T): T = {
    val conn = DriverManager.getConnection(url)
    try body(conn) finally conn.close()
  }

  private def seedOrders(url: String, n: Int): Unit = withConn(url) { conn =>
    val st = conn.createStatement()
    st.executeUpdate(
      "CREATE TABLE t_orders (okey BIGINT NOT NULL PRIMARY KEY, " +
        "price DOUBLE NOT NULL, status VARCHAR(8) NOT NULL)")
    val ps = conn.prepareStatement("INSERT INTO t_orders VALUES (?, ?, ?)")
    (1 to n).foreach { i =>
      ps.setLong(1, i.toLong)
      ps.setDouble(2, i * 1.25)
      ps.setString(3, if (i % 3 == 0) "P" else "O")
      ps.addBatch()
    }
    ps.executeBatch()
    st.close(); ps.close()
  }

  test("JdbcSource snapshots a Derby table; values and schema round-trip") {
    val url = freshUrl()
    seedOrders(url, 100)
    val df = new JdbcSource(url, "", "").snapshot(spark, "t_orders")
    assert(df.schema.fieldNames.map(_.toLowerCase).toSeq ==
      Seq("okey", "price", "status"))
    assert(df.count() == 100)
    val got = df.collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getString(2))).toSet
    val expect = (1 to 100)
      .map(i => (i.toLong, i * 1.25, if (i % 3 == 0) "P" else "O")).toSet
    assert(got == expect)
  }

  test("PK-chunked snapshot parallelizes the read and loses nothing") {
    val url = freshUrl()
    seedOrders(url, 200)
    val src = new JdbcSource(url, "", "", numPartitions = 8)
    val df = src.snapshotPartitioned(spark, "t_orders", "okey", 1L, 200L)
    // the scale path's point: N concurrent connections, each reading one
    // PK range — not one connection funneling the whole table
    assert(df.rdd.getNumPartitions == 8)
    assert(df.count() == 200)
    // chunk boundaries must partition, not drop or duplicate: the row set
    // equals the unchunked snapshot's exactly
    val plain = src.snapshot(spark, "t_orders")
    assert(df.collect().map(_.toSeq).toSet == plain.collect().map(_.toSeq).toSet)
  }

  test("JdbcBatchSink appends; a replayed epoch DUPLICATES (the documented contract)") {
    val url = freshUrl()
    withConn(url) { conn =>
      val st = conn.createStatement()
      st.executeUpdate("CREATE TABLE t_dest (okey BIGINT NOT NULL, " +
        "price DOUBLE NOT NULL, status VARCHAR(8) NOT NULL)")
      st.close()
    }
    val batch = spark.createDataFrame(
      (1 to 50).map(i => (i.toLong, i * 2.5, "O"))).toDF("okey", "price", "status")
    val sink = new JdbcBatchSink(url, "t_dest", "", "")
    sink.write(batch, epochId = 0L)
    def destCount(): Long = withConn(url) { conn =>
      val rs = conn.createStatement().executeQuery("SELECT COUNT(*) FROM t_dest")
      rs.next(); rs.getLong(1)
    }
    assert(destCount() == 50L)
    // at-least-once replay of the SAME epoch: append-mode JDBC has no
    // epoch key, so the rows duplicate — exactly the caveat the scaladoc
    // documents (idempotence is the destination DB's job: a
    // ReplacingMergeTree keyed on (pk, version) collapses the replay at
    // merge time). This spec pins the contract so a future "fix" that
    // silently changes the write mode shows up as a test failure.
    sink.write(batch, epochId = 0L)
    assert(destCount() == 100L)
    // ...while the harness's epoch-keyed parquet sink IS replay-idempotent:
    // the same replay overwrites, not duplicates
    val pdir = java.nio.file.Files.createTempDirectory("graft_psink").toString
    val psink = new EpochParquetSink(pdir)
    psink.write(batch, epochId = 0L)
    psink.write(batch, epochId = 0L)
    assert(spark.read.parquet(s"$pdir/epoch=0").count() == 50L)
  }

  test("served state lands in the S17 DDL shape and Derby collapses it back") {
    // the S17↔S5 loop: the bootstrap DDL promises a destination of
    // (payload..., _version, _is_deleted) under ReplacingMergeTree —
    // stateToDestination must produce EXACTLY that row shape from the
    // engine's own state, and a (key, max _version) collapse over the
    // landed rows must equal the engine's serving view.
    val base = java.nio.file.Files.createTempDirectory("graft_jstate").toString
    val ev = spark.createDataFrame(Seq(
        ("I", 1L, 1L, 10.0, "O"), ("I", 2L, 2L, 20.0, "O"),
        ("I", 3L, 3L, 30.0, "O"),
        ("U", 4L, 2L, 25.0, "P"),   // key 2 drifts
        ("D", 5L, 3L, 0.0, null)))  // key 3 dies — tombstone must export
      .toDF("op", "seq", "okey", "price", "status")
      .withColumn("ts", timestamp_seconds(lit(1700000000L) + col("seq")))
      .select(col("op"), col("seq"), col("ts"), col("okey"), col("price"),
        col("status"))
    graft.streaming.StreamingOps.writeWave(ev, s"$base/in", 0)
    graft.streaming.StreamingOps.runCdcPass(spark,
      FileCdcSource(ev.schema, s"$base/in"),
      s"$base/ckpt", s"$base/state")
    // export = the collapse WITH tombstones + seq (the changes shape)
    val changes = graft.streaming.StreamingOps
      .readStateChanges(spark, s"$base/state", sinceSeq = 0L)
    val dest = graft.sources.DestinationDdl
      .stateToDestination(changes, Seq("okey"))
    // the projected row shape IS the DDL's declared column order
    val ddl = graft.sources.DestinationDdl.createTable("t_orders",
      org.apache.spark.sql.types.StructType(
        changes.schema.filterNot(f => Seq("op", "seq").contains(f.name))),
      Seq("okey"))
    val declared = "`([^`]+)`".r.findAllMatchIn(
      ddl.substring(ddl.indexOf('('), ddl.indexOf("ENGINE")))
      .map(_.group(1)).toSeq
    assert(declared == dest.columns.toSeq,
      s"DDL declares ${declared.mkString(",")} but the projection emits " +
        dest.columns.mkString(","))
    // land it in Derby through the production sink
    val url = freshUrl()
    withConn(url) { conn =>
      val st = conn.createStatement()
      // status is CLOB, not VARCHAR: Spark's Derby dialect maps
      // StringType to CLOB, and a tombstone's NULL status goes through
      // setNull(CLOB) — a VARCHAR column rejects that type code
      st.executeUpdate("CREATE TABLE t_dest (okey BIGINT NOT NULL, " +
        "price DOUBLE, status CLOB, ts TIMESTAMP, " +
        "\"_version\" BIGINT NOT NULL, \"_is_deleted\" SMALLINT NOT NULL)")
      st.close()
    }
    new JdbcBatchSink(url, "t_dest", "", "").writeState(changes, Seq("okey"),
      epochId = 0L)
    val landed = new JdbcSource(url, "", "").snapshot(spark, "t_dest")
    // tombstone flagged, not dropped; version = the winning seq
    val dead = landed.filter(col("okey") === 3L).collect()
    assert(dead.length == 1 && dead(0).getAs[Number]("_is_deleted")
      .intValue == 1 && dead(0).getAs[Long]("_version") == 5L)
    // the destination's ReplacingMergeTree semantics (latest _version
    // wins, _is_deleted winners drop at FINAL) reproduce the engine's
    // serving view exactly
    val collapsed = landed
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("okey"))
          .orderBy(col("_version").desc)))
      .filter(col("rn") === 1 && col("_is_deleted") === 0)
      .select(col("okey"), col("price"), col("status"))
    val served = graft.streaming.StreamingOps
      .readLatestState(spark, s"$base/state")
      .select(col("okey"), col("price"), col("status"))
    assert(collapsed.collect().map(_.toSeq).toSet ==
      served.collect().map(_.toSeq).toSet)
  }

  test("fullSync drives a JdbcSource end-to-end into parquet") {
    val url = freshUrl()
    seedOrders(url, 60)
    val dest = java.nio.file.Files.createTempDirectory("graft_jfull").toString
    val counts = Replication.fullSync(spark, new JdbcSource(url, "", ""),
      Seq("t_orders"), dest)
    assert(counts == Map("t_orders" -> 60L))
    assert(spark.read.parquet(s"$dest/t_orders").count() == 60L)
  }
}
