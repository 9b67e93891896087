package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Streaming-ingest abstraction (SURVEY.md §1.2): the reference tails a
  * MySQL binlog (prod: Kafka+Debezium); the harness plays parquet waves
  * through a file stream. Every `runCdcPass*` topology consumes its
  * change events through this trait, so swapping the transport — file,
  * in-memory test stream, Kafka — is a constructor argument, not a
  * rewrite of the apply machinery. Mirrors the batch side's
  * [[TableSource]].
  */
trait CdcSource {
  /** The envelope schema the stream declares (drives the state dir's
    * published `_schema` and the DDL guardrails at pass start). */
  def schema: StructType

  /** Open the streaming DataFrame. Each unit of arrival (file, memory
    * block, Kafka batch) becomes one micro-batch under the pass's
    * trigger policy. */
  def open(spark: SparkSession): DataFrame
}

/** Harness/default backend: parquet files under `path` played one file
  * per trigger — mtime order makes wave arrival deterministic (see
  * StreamingOps.writeWave). */
final case class FileCdcSource(schema: StructType, path: String)
    extends CdcSource {
  override def open(spark: SparkSession): DataFrame =
    spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(path)
}

/** BINLOG-TEXT transport as a first-class streaming source: TAIL a
  * `mysqlbinlog --verbose` dump directory and decode each binlog
  * ROTATION file as it lands — one file per micro-batch, which is
  * exactly how a binlog tail advances (a rotation is the source's
  * natural arrival unit; blocks are self-positioned so arrival order
  * never matters). The decode is [[BinlogText.parse]]'s, unchanged —
  * `cols` is the TABLE_MAP column list, `beforeCols`/`changedCol` the
  * FULL/MINIMAL image surfaces — so every `runCdcPass*` topology
  * consumes dump bytes through the same trait plug as parquet waves,
  * MemoryStream, or Kafka: the transport is a constructor argument,
  * not a rewrite. */
final case class BinlogTextCdcSource(dir: String,
    cols: Seq[(String, org.apache.spark.sql.types.DataType)],
    beforeCols: Seq[String] = Nil,
    changedCol: Option[String] = None,
    /** Torn-rotation gate: every tailed file must END with the
      * `# End of log file` footer mysqlbinlog writes when it finishes
      * — a partial snapshot of an in-flight rotation would otherwise
      * decode truncated bytes as final and the file source would never
      * re-read the rest. Disable ONLY for a writer that provably
      * stages rotations atomically (write elsewhere + rename in). */
    requireTerminator: Boolean = true) extends CdcSource {
  private val sd = BinlogText.singleEnvelope(cols, beforeCols, changedCol)
  override def schema: StructType = sd._1
  override def open(spark: SparkSession): DataFrame =
    BinlogText.streamDecode(spark, dir, sd._1, sd._2, requireTerminator)
}

/** [[BinlogTextCdcSource]] for a MULTI-TABLE dump: one tailed dir
  * carries N tables' interleaved row events (the reference's actual
  * topology), each block dispatching on its verb line's table under
  * [[BinlogText.parseMulti]]'s rules — the natural feed for
  * `runCdcPassMulti`'s per-table fan-out. */
final case class BinlogTextMultiCdcSource(dir: String,
    colsByTable: Map[String, Seq[(String, org.apache.spark.sql.types.DataType)]],
    ignoreTables: Set[String] = Set.empty,
    changedCol: Option[String] = None,
    /** See [[BinlogTextCdcSource.requireTerminator]]. */
    requireTerminator: Boolean = true) extends CdcSource {
  // the table column is PINNED to "table": runCdcPassMulti* dispatches
  // on exactly that name (groupBy/partitionBy/filters), so a
  // configurable name here would either break analysis or — if a
  // payload column happened to be named 'table' — silently mis-dispatch
  // every row; the pinned name also activates multiEnvelope's collision
  // check against payload columns named 'table'
  private val sd = BinlogText.multiEnvelope(colsByTable,
    tableCol = "table", ignoreTables, changedCol)
  override def schema: StructType = sd._1
  override def open(spark: SparkSession): DataFrame =
    BinlogText.streamDecode(spark, dir, sd._1, sd._2, requireTerminator)
}

/** BINLOG-BINARY transport as a first-class streaming source: TAIL a
  * directory of RAW binlog files and decode each rotation as it lands
  * — one file per micro-batch, the tail's natural arrival unit, no
  * mysqlbinlog in between. The decode is [[BinlogBinary.parse]]'s,
  * unchanged (CRC-verified, TABLE_MAP-validated), so every
  * `runCdcPass*` topology consumes raw wire bytes through the same
  * trait plug as parquet waves, dump text, or Kafka. */
final case class BinlogBinaryCdcSource(dir: String,
    cols: Seq[(String, org.apache.spark.sql.types.DataType)],
    /** Torn-rotation gate: every tailed file must END with a ROTATE
      * (finished rotation) or STOP (clean shutdown) event — a partial
      * snapshot of an in-flight rotation would otherwise decode
      * truncated bytes as final and the file source would never
      * re-read the rest. Disable ONLY for a writer that provably
      * stages rotations atomically. */
    requireRotate: Boolean = true,
    /** The MINIMAL-row-image surface ([[BinlogBinary.parse]]'s
      * `changedCol`) — declare it to tail `binlog_row_image=MINIMAL`
      * rotations; without it, partial bitmaps refuse loudly. */
    changedCol: Option[String] = None,
    /** Per-column wire hints — the full-type-map surface
      * ([[BinlogBinary.WireHint]]): ENUM value lists, raw-text
      * temporal decodes, render disambiguation. */
    hints: Map[String, BinlogBinary.WireHint] = Map.empty)
    extends CdcSource {
  override def schema: StructType =
    BinlogText.singleEnvelope(cols, Nil, changedCol,
      textTypes = false)._1
  override def open(spark: SparkSession): DataFrame =
    BinlogBinary.streamDecode(spark, dir, cols, requireRotate,
      changedCol, hints)
}

/** [[BinlogBinaryCdcSource]] for CAPTURED REPLICATION-SOCKET bytes:
  * each tailed file is one COM_BINLOG_DUMP capture —
  * [[BinlogSocket.depacketize]] strips the packet framing (sequence
  * continuity, >16 MiB reassembly, EOF/ERR gate — its own
  * torn-capture rule, so no rotate gate applies) and the SAME binary
  * decoder produces the envelope, one capture per micro-batch. */
final case class BinlogSocketCdcSource(dir: String,
    cols: Seq[(String, org.apache.spark.sql.types.DataType)],
    /** MINIMAL surface — see [[BinlogBinaryCdcSource.changedCol]]. */
    changedCol: Option[String] = None,
    /** Per-column wire hints — see [[BinlogBinaryCdcSource.hints]]. */
    hints: Map[String, BinlogBinary.WireHint] = Map.empty,
    /** The captures come from a `rpl_semi_sync` connection — see
      * [[BinlogSocket.parse]]; a connection property, so every socket
      * entry point accepts the declaration (round-20 ADVICE). */
    semiSync: Boolean = false)
    extends CdcSource {
  override def schema: StructType =
    BinlogText.singleEnvelope(cols, Nil, changedCol,
      textTypes = false)._1
  override def open(spark: SparkSession): DataFrame =
    BinlogSocket.streamDecode(spark, dir, cols, changedCol, hints,
      semiSync)
}

/** [[BinlogBinaryCdcSource]] for a MULTI-TABLE raw dump: one tailed
  * dir carries N tables' interleaved row events, each dispatching on
  * the table name its TABLE_MAP carries on the wire under
  * [[BinlogBinary.parseMulti]]'s rules — the natural raw-bytes feed
  * for `runCdcPassMulti`'s per-table fan-out. */
final case class BinlogBinaryMultiCdcSource(dir: String,
    colsByTable: Map[String, Seq[(String, org.apache.spark.sql.types.DataType)]],
    ignoreTables: Set[String] = Set.empty,
    /** See [[BinlogBinaryCdcSource.requireRotate]]. */
    requireRotate: Boolean = true,
    /** MINIMAL surface — see [[BinlogBinaryCdcSource.changedCol]]. */
    changedCol: Option[String] = None,
    /** Per-table wire hints — see [[BinlogBinaryCdcSource.hints]]. */
    hintsByTable: Map[String, Map[String, BinlogBinary.WireHint]] =
      Map.empty) extends CdcSource {
  // table column PINNED to "table" — see BinlogTextMultiCdcSource
  private val sd = BinlogText.multiEnvelope(colsByTable,
    tableCol = "table", ignoreTables, changedCol, textTypes = false)
  override def schema: StructType = sd._1
  override def open(spark: SparkSession): DataFrame =
    BinlogBinary.streamDecodeMulti(spark, dir, sd._1, colsByTable,
      ignoreTables, requireRotate, changedCol, hintsByTable)
}

/** NON-VERBOSE dump transport as a first-class streaming source: TAIL
  * a dir of default-`mysqlbinlog` output (row events only as
  * `BINLOG '…'` base64 statements) and decode each rotation through
  * the binary wire path as it lands — one file per micro-batch, the
  * same torn-rotation gate as the verbose text tail (the terminator
  * line prints in every dump mode). The operator tails whatever dump
  * they already have; no re-dump, no format knowledge in the pass. */
final case class BinlogBase64CdcSource(dir: String,
    cols: Seq[(String, org.apache.spark.sql.types.DataType)],
    /** MINIMAL surface — see [[BinlogBinaryCdcSource.changedCol]]. */
    changedCol: Option[String] = None,
    /** See [[BinlogTextCdcSource.requireTerminator]]. */
    requireTerminator: Boolean = true) extends CdcSource {
  private val sd = BinlogText.singleEnvelope(cols, Nil, changedCol)
  override def schema: StructType = sd._1
  override def open(spark: SparkSession): DataFrame =
    BinlogText.streamDecodeBase64(spark, dir, sd._1,
      (bytes, path) => BinlogBinary.decodeEventStream(
        bytes, path, cols, changedCol),
      requireTerminator)
}

/** [[BinlogBase64CdcSource]] for a MULTI-TABLE non-verbose dump: one
  * tailed dir, N tables dispatched on the TABLE_MAP names the base64
  * payloads carry on the wire — `runCdcPassMulti`'s fan-out
  * from the default mysqlbinlog output. */
final case class BinlogBase64MultiCdcSource(dir: String,
    colsByTable: Map[String, Seq[(String, org.apache.spark.sql.types.DataType)]],
    ignoreTables: Set[String] = Set.empty,
    /** See [[BinlogTextCdcSource.requireTerminator]]. */
    requireTerminator: Boolean = true,
    /** MINIMAL surface — see [[BinlogBinaryCdcSource.changedCol]]. */
    changedCol: Option[String] = None) extends CdcSource {
  // table column PINNED to "table" — see BinlogTextMultiCdcSource
  private val sd = BinlogText.multiEnvelope(colsByTable,
    tableCol = "table", ignoreTables, changedCol)
  override def schema: StructType = sd._1
  override def open(spark: SparkSession): DataFrame =
    BinlogText.streamDecodeBase64(spark, dir, sd._1,
      (bytes, path) => BinlogBinary.decodeMultiEventStream(
        bytes, path, sd._1, colsByTable, ignoreTables, changedCol),
      requireTerminator)
}

/** Test/embedded backend over an already-constructed streaming DataFrame
  * (e.g. a MemoryStream's `toDF` — StreamingSpec proves the pass runs
  * unchanged over it). `schema` is taken from the DataFrame itself. */
final class WrappedCdcSource(df: DataFrame) extends CdcSource {
  override def schema: StructType = df.schema
  override def open(spark: SparkSession): DataFrame = df
}

/** PRODUCTION transport: Kafka carrying Debezium-style JSON envelopes —
  * the ingest path this tool class actually deploys behind (MySQL →
  * Debezium → Kafka → here). The sandbox ships no broker and no
  * `spark-sql-kafka` jar, so this class is compile-proven wiring (the
  * `format("kafka")` lookup is string-based and resolves at stream
  * start); the projection below is the full value→envelope mapping and
  * runs unchanged the moment the connector jar is on the classpath.
  *
  * Ordering contract (how topic/partition/offset become the engine's
  * `seq`): the engine requires `seq` STRICTLY MONOTONE PER KEY, not
  * globally. Debezium keys each record by the row's primary key, so a
  * key's events all land in ONE partition, where the Kafka offset is
  * strictly increasing — `seq = offset * maxPartitions + partition` is
  * therefore per-key monotone (and collision-free across partitions)
  * for any topic with ≤ `maxPartitions` partitions. A single-partition
  * topic (Debezium's per-table default) degenerates to `seq = offset`,
  * which is globally monotone and also supports the transaction gate
  * (`txnCol` needs commit markers totally ordered against their
  * transaction's events — only guaranteed within one partition).
  *
  * The Debezium `op` dialect (`c`/`r` create-read, `u` update, `d`
  * delete) maps onto the engine's `I`/`U`/`D`; payload columns project
  * from the `after` image (`before` for deletes, matching the
  * before-image delete fixture Tables.cdcLogBeforeImage models). */
final case class KafkaCdcSource(schema: StructType,
    bootstrapServers: String, topic: String,
    startingOffsets: String = "earliest",
    maxPartitions: Int = 1024,
    maxOffsetsPerTrigger: Option[Long] = None) extends CdcSource {
  import org.apache.spark.sql.functions._

  override def open(spark: SparkSession): DataFrame = {
    val reader = spark.readStream.format("kafka")
      .option("kafka.bootstrap.servers", bootstrapServers)
      .option("subscribe", topic)
      .option("startingOffsets", startingOffsets)
      // a replayed/compacted topic can reference aborted offsets;
      // failing the stream on data loss is the engine's at-least-once
      // posture (the epoch-keyed sink absorbs re-delivery, not gaps)
      .option("failOnDataLoss", "true")
    val raw = maxOffsetsPerTrigger
      .fold(reader)(n => reader.option("maxOffsetsPerTrigger", n.toString))
      .load()
    projectEnvelope(raw)
  }

  /** Decode this source's native POSITION tokens (`"partition:offset"`,
    * e.g. `"3:1017"`) into the engine's monotone seq — the SAME
    * arithmetic [[projectEnvelope]] stamps on every record, so a resume
    * by token lands exactly where the named record's seq does. Owned by
    * the source because only it knows `maxPartitions`; a pass records
    * the token it was driven with via `PositionCatalog` and a later
    * operator resumes with either this codec (connector present) or the
    * catalog (offline). Throws on garbage and on a partition at or above
    * `maxPartitions` — the same bound the projection enforces, because a
    * token outside it decodes to a seq that collides with another
    * partition's range. */
  def positionCodec: graft.Replication.PositionCodec =
    new graft.Replication.PositionCodec {
      override def toSeq(token: String): Long = {
        val t = token.trim
        val i = t.indexOf(':')
        val parsed = for {
          p <- if (i <= 0) None else t.substring(0, i).toLongOption
          o <- t.substring(i + 1).toLongOption
        } yield (p, o)
        val (p, o) = parsed.getOrElse(throw new IllegalArgumentException(
          s"not a Kafka 'partition:offset' position token: '$token'"))
        require(p >= 0 && p < maxPartitions && o >= 0,
          s"position token '$token' outside this source's bounds " +
            s"(partition in [0, $maxPartitions), offset >= 0)")
        o * maxPartitions + p
      }
    }

  /** The value→envelope projection, split from the broker wiring so the
    * mapping is EXECUTED in spec over record-shaped batch frames (the
    * sandbox ships no broker; the stream and a batch frame share this
    * exact plan). `raw` must carry Kafka's (value, partition, offset). */
  private[graft] def projectEnvelope(raw: DataFrame): DataFrame =
    DebeziumEnvelope.project(schema, maxPartitions, raw,
      col("value").cast("string"))
}

/** The ONE Debezium-envelope → engine-envelope projection behind the
  * Kafka-shaped sources — JSON and Confluent-Avro wire formats differ
  * only in how `value` becomes the envelope's JSON text, so the
  * tombstone gate, the op-dialect gate, and the partition/offset → seq
  * arithmetic are shared here (a rule added to one transport gates the
  * other). */
private[sources] object DebeziumEnvelope {
  import org.apache.spark.sql.Column
  import org.apache.spark.sql.functions._

  def project(schema: StructType, maxPartitions: Int, raw: DataFrame,
      jsonValue: Column): DataFrame = {
    // payload columns = the declared envelope minus the bookkeeping the
    // transport itself supplies
    val payloadFields = StructType(schema.fields.filterNot(f =>
      Seq("op", "seq").contains(f.name)))
    val dbz = StructType(Seq(
      org.apache.spark.sql.types.StructField("op",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("before", payloadFields),
      org.apache.spark.sql.types.StructField("after", payloadFields)))
    val e = raw.select(
      from_json(jsonValue, dbz).as("e"),
      col("partition").cast("long").as("_p"),
      col("offset").as("_o"))
      // Kafka-level TOMBSTONES (null-value records Debezium appends
      // after every delete for log compaction, at a HIGHER offset than
      // the delete event) parse to a null struct; letting one through
      // would emit an op-NULL all-NULL row that WINS the key's
      // latest-wins collapse — the destination would serve a phantom
      // null image instead of the flagged delete. Same gate for op
      // codes outside the DML dialect (truncate 't', message 'm'):
      // they carry no row image and must not reach the collapse.
      .filter(col("e").isNotNull &&
        col("e.op").isin("c", "r", "u", "d"))
    val img = when(col("e.op") === "d", col("e.before"))
      .otherwise(col("e.after"))
    // the ordering contract stands on partition < maxPartitions: a topic
    // whose partition count outgrew the configured bound would silently
    // interleave seq ranges across partitions (offset 1 of p1024 ==
    // offset 2 of p0), breaking per-key monotonicity — fail the record
    // loudly instead of emitting a colliding position
    val seqCol = when(col("_p") < maxPartitions,
        col("_o") * maxPartitions + col("_p"))
      .otherwise(raise_error(concat(
        lit(s"Kafka partition "), col("_p").cast("string"),
        lit(s" is at or above the configured maxPartitions=$maxPartitions" +
          " — seq values would collide across partitions; raise" +
          " maxPartitions (constant for the topic's lifetime)"))))
    e.select(
      when(col("e.op").isin("c", "r"), "I")
        .when(col("e.op") === "u", "U")
        .when(col("e.op") === "d", "D").as("op") +:
      seqCol.as("seq") +:
      payloadFields.fieldNames.toSeq.map(f => img.getField(f).as(f)): _*)
      .select(schema.fieldNames.map(col).toSeq: _*)
  }
}

/** PRODUCTION transport: Kafka carrying Debezium envelopes in the
  * CONFLUENT AVRO wire format — `[magic 0x00][schema id: 4-byte
  * big-endian][Avro binary body]`, the framing every Schema-Registry
  * deployment ships. The registry itself is DECLARED, not dialed (zero
  * egress, and a replica should pin the schemas it decodes anyway):
  * `schemaById` maps each expected schema id to its Avro schema JSON;
  * a record naming an id outside the map REFUSES loudly — guessing a
  * reader schema is the silent-corruption class this engine refuses
  * throughout. Broker wiring is identical to [[KafkaCdcSource]]; the
  * value decode differs: the Avro body decodes executor-side
  * (avro-core `GenericDatumReader`, per-JVM parsed-schema cache) into
  * the SAME Debezium-shaped JSON text, and from there the ONE shared
  * projection ([[DebeziumEnvelope]]) applies — tombstone gate, op
  * dialect, partition/offset seq arithmetic, all identical. Kafka-level
  * tombstones (null value) pass through as NULL and fall to the shared
  * gate, exactly like the JSON transport's unparseable-null rows. */
final case class KafkaAvroCdcSource(schema: StructType,
    bootstrapServers: String, topic: String,
    schemaById: Map[Int, String],
    startingOffsets: String = "earliest",
    maxPartitions: Int = 1024,
    maxOffsetsPerTrigger: Option[Long] = None) extends CdcSource {
  import org.apache.spark.sql.functions._

  require(schemaById.nonEmpty,
    "no Avro schemas declared — an empty registry map can decode nothing")
  // parse eagerly at construction so a malformed schema JSON refuses at
  // declare time, not first-record time on an executor
  schemaById.foreach { case (id, json) =>
    try ConfluentAvro.schemaOf(json)
    catch {
      case e: Exception => throw new IllegalArgumentException(
        s"Avro schema for id $id does not parse: ${e.getMessage}")
    }
  }

  override def open(spark: SparkSession): DataFrame = {
    val reader = spark.readStream.format("kafka")
      .option("kafka.bootstrap.servers", bootstrapServers)
      .option("subscribe", topic)
      .option("startingOffsets", startingOffsets)
      .option("failOnDataLoss", "true")
    val raw = maxOffsetsPerTrigger
      .fold(reader)(n => reader.option("maxOffsetsPerTrigger", n.toString))
      .load()
    projectEnvelope(raw)
  }

  /** See [[KafkaCdcSource.positionCodec]] — identical arithmetic. */
  def positionCodec: graft.Replication.PositionCodec =
    KafkaCdcSource(schema, bootstrapServers, topic,
      maxPartitions = maxPartitions).positionCodec

  /** The value→envelope projection, spec-executable over record-shaped
    * batch frames exactly like the JSON transport's. */
  private[graft] def projectEnvelope(raw: DataFrame): DataFrame = {
    val reg = schemaById // serializable capture (id -> schema JSON)
    val decode = udf { bytes: Array[Byte] =>
      ConfluentAvro.decodeToJson(bytes, reg)
    }.asNondeterministic()
    // nondeterministic for two load-bearing reasons: (1) it THROWS on
    // malformed frames, so the optimizer must not reorder it past
    // filters (the BinlogText.assign precedent); (2) predicate
    // pushdown would otherwise substitute the expression into the
    // projection's own filter and run the per-record Avro decode
    // TWICE on the ingest hot path
    DebeziumEnvelope.project(schema, maxPartitions, raw,
      decode(col("value")))
  }
}

/** The Confluent wire decode: framing checks, declared-registry lookup,
  * avro-core binary decode, and a Debezium-shaped JSON rendering of the
  * GenericRecord (Avro's own JSON encoding wraps union values —
  * `{"string": "x"}` — which `from_json` cannot address; this renders
  * PLAIN JSON so the shared projection reads it like the JSON wire).
  * Executor-side, per-record; the parsed-schema cache is per JVM. */
private[graft] object ConfluentAvro {
  import org.apache.avro.Schema
  import org.apache.avro.generic.{GenericDatumReader, GenericRecord}
  import org.apache.avro.io.DecoderFactory

  private val cache =
    new java.util.concurrent.ConcurrentHashMap[String, Schema]()

  def schemaOf(json: String): Schema =
    cache.computeIfAbsent(json, s => new Schema.Parser().parse(s))

  /** Null in (a Kafka tombstone) → null out; the shared projection's
    * tombstone gate drops it. Everything malformed refuses loudly. */
  def decodeToJson(bytes: Array[Byte], schemaById: Map[Int, String]): String = {
    if (bytes == null) return null
    require(bytes.length >= 5,
      s"Confluent Avro frame is ${bytes.length} bytes — shorter than " +
        "the 5-byte magic + schema-id header; truncated or not " +
        "Confluent-framed")
    require(bytes(0) == 0,
      s"bad Confluent wire magic byte ${bytes(0)} (expected 0x00) — " +
        "this topic is not Confluent-Avro-framed; use the JSON source " +
        "or fix the producer")
    val id = ((bytes(1) & 0xff) << 24) | ((bytes(2) & 0xff) << 16) |
      ((bytes(3) & 0xff) << 8) | (bytes(4) & 0xff)
    val schemaJson = schemaById.getOrElse(id,
      throw new IllegalArgumentException(
        s"record names Avro schema id $id, which is not declared in " +
          "schemaById — a producer-side schema evolution this consumer " +
          "has not reviewed; register the id (and its schema) " +
          "explicitly rather than decoding under a guessed reader " +
          "schema"))
    val schema = schemaOf(schemaJson)
    val reader = new GenericDatumReader[Any](schema)
    val dec = DecoderFactory.get.binaryDecoder(
      bytes, 5, bytes.length - 5, null)
    val rec = reader.read(null, dec)
    val sb = new StringBuilder
    renderJson(rec, sb)
    sb.result()
  }

  /** Plain-JSON rendering of an avro-core generic value — records,
    * maps, arrays, strings, numbers, booleans, enums, null. Bytes and
    * fixed refuse (no canonical JSON carrier; the engine's envelopes
    * don't ride binary through Kafka JSON either). */
  private def renderJson(v: Any, sb: StringBuilder): Unit = v match {
    case null => sb.append("null"); ()
    case r: GenericRecord =>
      sb.append('{')
      val fields = r.getSchema.getFields
      var first = true
      (0 until fields.size()).foreach { i =>
        if (!first) sb.append(',')
        first = false
        quote(fields.get(i).name(), sb)
        sb.append(':')
        renderJson(r.get(i), sb)
      }
      sb.append('}')
      ()
    case s: CharSequence => quote(s.toString, sb)
    case b: java.lang.Boolean => sb.append(b.toString); ()
    case n @ (_: java.lang.Integer | _: java.lang.Long) =>
      sb.append(n.toString); ()
    case d: java.lang.Double =>
      require(!d.isNaN && !d.isInfinite,
        s"non-finite double $d has no JSON carrier — refuse")
      sb.append(d.toString); ()
    case f: java.lang.Float =>
      require(!f.isNaN && !f.isInfinite,
        s"non-finite float $f has no JSON carrier — refuse")
      sb.append(f.toString); ()
    case e: org.apache.avro.generic.GenericEnumSymbol[_] =>
      quote(e.toString, sb)
    case l: java.util.List[_] =>
      sb.append('[')
      (0 until l.size()).foreach { i =>
        if (i > 0) sb.append(',')
        renderJson(l.get(i), sb)
      }
      sb.append(']')
      ()
    case m: java.util.Map[_, _] =>
      sb.append('{')
      var first = true
      m.forEach { (k, mv) =>
        if (!first) sb.append(',')
        first = false
        quote(String.valueOf(k), sb)
        sb.append(':')
        renderJson(mv, sb)
      }
      sb.append('}')
      ()
    case other => throw new IllegalArgumentException(
      s"Avro value of ${other.getClass.getName} has no JSON envelope " +
        "carrier (bytes/fixed don't ride the Debezium JSON shape) — " +
        "extend the mapping explicitly rather than guessing")
  }

  private def quote(s: String, sb: StringBuilder): Unit = {
    sb.append('"')
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case '\n' => sb.append("\\n")
      case '\r' => sb.append("\\r")
      case '\t' => sb.append("\\t")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"')
    ()
  }
}
