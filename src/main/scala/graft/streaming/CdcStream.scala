package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.Trace
import graft.cdc.{CdcApply, CdcSchema, Changelog}

/** The live CDC path: Structured Streaming over the envelope stream,
  * sharing every transformation with the batch replay (SURVEY.md §3 —
  * "batch-mode replay over the changelog = same code path").
  *
  * Topology (mirrors `/root/reference/kafka-consumer-service/main.py:34-93`):
  *
  *   source (kafka / files) ──► tombstone filter ──► narrow from_json
  *        ├──► audit sink: every non-tombstone envelope, appended raw
  *        │    (reference `main.py:44-45` — the event-sourcing log)
  *        └──► foreachBatch: segment append into the LSM replica
  *
  * In production the source is `format("kafka")` with
  * `subscribe=source.dev.invoice` (reference `main.py:25-29`); tests use the
  * file source with the same value-column contract, which exercises an
  * identical plan. Exactly-once: the merge is idempotent (max-pos-per-key
  * over a monotonic binlog position), so at-least-once redelivery and
  * micro-batch replay after checkpoint recovery converge to the same state.
  */
object CdcStream {

  /** Per-key typed state for [[typedLatestPerKey]]: latest position and
    * after-image (None = delete marker, kept for idempotent re-merge).
    */
  final case class KeyState(pos: Long, after: Option[CdcSchema.Invoice])

  /** Kafka ingress (production): value bytes → normalized changelog.
    *
    * Environment boundary: the sandbox ships neither the
    * `spark-sql-kafka` connector nor any broker, so this source cannot be
    * exercised end-to-end here (no jar, no egress — `format("kafka")`
    * would not even resolve). The tested boundary is
    * [[fromKafkaRelation]]: everything after `.load()` is a pure function
    * over the connector's documented output relation (key/value binary,
    * topic, partition, offset, timestamp, timestampType), and
    * KafkaContractSpec drives it with exactly that schema — tombstones,
    * golden envelopes, and the record-timestamp conversion included.
    */
  def fromKafka(spark: SparkSession, bootstrap: String, topic: String): DataFrame =
    fromKafkaRelation(spark.readStream
      .format("kafka")
      .option("kafka.bootstrap.servers", bootstrap)
      .option("subscribe", topic)
      .option("startingOffsets", "latest") // reference main.py:27 auto_offset_reset
      .load())

  /** Kafka source relation → normalized changelog (value bytes cast to
    * string, record timestamp to epoch-ms for the audit log — reference
    * `main.py:35` pairs each message with its Kafka ingest timestamp).
    */
  def fromKafkaRelation(raw: DataFrame): DataFrame = {
    // unix_millis is an exact integer conversion; a double round-trip
    // (cast(ts as double) * 1000) can land 1ms low when the double
    // representation of the epoch rounds down, making the audit log
    // disagree with the Kafka record timestamp
    val vals = raw.select(col("value").cast("string").as("value"),
      unix_millis(col("timestamp")).as("kafka_ts"))
    Changelog.fromEnvelopeJson(vals, "value", Some("kafka_ts"))
  }

  /** File ingress (tests / replay): one envelope JSON per line.
    * `maxFilesPerTrigger` bounds each micro-batch (AvailableNow otherwise
    * swallows the whole backlog in one batch — fine for replay, but
    * incremental-merge behavior only shows under multiple batches).
    */
  def fromFiles(spark: SparkSession, dir: String,
                maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    val reader = spark.readStream
    val withOpt = maxFilesPerTrigger
      .fold(reader)(n => reader.option("maxFilesPerTrigger", n))
    Changelog.fromEnvelopeJson(
      withOpt.text(dir).withColumnRenamed("value", "raw"), "raw")
  }

  /** Audit-log projection of the raw stream — every non-tombstone message,
    * truncates included, re-serialized (reference P4: `to_json` of the
    * payload paired with the ingest timestamp).
    */
  def auditProjection(changelog: DataFrame): DataFrame =
    changelog.select(
      col("ts_ms").as("timestamp"),
      to_json(struct(col("pos"), col("op"), col("before"), col("after"))).as("kafka_message"))

  /** One incremental merge step: fold a micro-batch of changelog events
    * into the keyed state. Pure (DataFrame → DataFrame), so it is unit-
    * testable and usable from `foreachBatch` verbatim.
    *
    * Semantics: new truncate horizon = max(old, batch's); rows (state and
    * batch alike) at or below the horizon are erased; survivors resolve by
    * max pos per key. Delete markers stay in state so a late-redelivered
    * older event cannot resurrect a deleted key — which makes the step
    * idempotent and insensitive to batch boundaries (proven by
    * CdcPropertySpec: any split of the changelog folds to the same state).
    * The state holds one row per key (latest pos and after-image) plus one
    * `key IS NULL` row carrying the truncate horizon. `JdbcSink` folds each
    * micro-batch to one row per key with it.
    *
    * `spec` is the table shape (like `CdcApply.snapshotFor`): key column
    * read from the spec, image type inferred from the batch's `after`
    * column, so the same fold maintains any table.
    */
  def mergeBatch(state: DataFrame, batch: DataFrame,
                 spec: CdcSchema.CdcTableSpec = CdcSchema.invoiceSpec): DataFrame = {
    val imageType = batch.schema("after").dataType
      .asInstanceOf[org.apache.spark.sql.types.StructType]
    val isTruncate = col("before").isNull && col("after").isNull
    // the greater of the two horizons: a key whose max-pos winner is at
    // or below it has every event at or below it, so resolving first and
    // filtering the winners (resolveSegments) equals filtering first
    val horizon = horizonOf(batch.filter(isTruncate).select(col("pos"))
      .unionByName(state.filter(col("key").isNull).select(col("pos"))))
    val batchEvents = batch
      .filter(!isTruncate)
      .select(
        coalesce(col(s"after.${spec.key}"), col(s"before.${spec.key}")).as("key"),
        col("pos"), col("after"))
      // key IS NULL is reserved for the horizon row; the ingress gate
      // (Changelog.isValidEnvelope) already rejects keyless events, this
      // keeps a hand-built batch from poisoning the horizon
      .filter(col("key").isNotNull)
    val stateEvents = state.filter(col("key").isNotNull)
      .select(col("key"), col("pos"), col("after"))
    resolveSegments(stateEvents.unionByName(batchEvents), Some(horizon))
      .unionByName(horizon.select(
        lit(null).cast(imageType(spec.key).dataType).as("key"), col("h").as("pos"),
        lit(null).cast(imageType).as("after")))
  }

  /** The truncate horizon of `rows` (their max `pos`, `Long.MinValue`
    * when there are none) as a one-row `h` frame.
    */
  private def horizonOf(rows: DataFrame): DataFrame =
    rows.agg(coalesce(max(col("pos")), lit(Long.MinValue)).as("h"))

  /** Empty state (schema only) for an arbitrary table shape. */
  def emptyStateFor(spark: SparkSession, spec: CdcSchema.CdcTableSpec,
                    imageType: org.apache.spark.sql.types.StructType): DataFrame =
    spark.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("key", imageType(spec.key).dataType),
        org.apache.spark.sql.types.StructField("pos",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("after", imageType))))

  /** Empty state for the reference's invoice table. */
  def emptyState(spark: SparkSession): DataFrame =
    emptyStateFor(spark, CdcSchema.invoiceSpec, CdcSchema.invoiceType)

  /** Replica view of a state for an arbitrary spec: live keys, natural
    * column types, key-ordered.
    */
  def snapshotOfFor(state: DataFrame, spec: CdcSchema.CdcTableSpec): DataFrame =
    state.filter(col("key").isNotNull && col("after").isNotNull)
      .select(spec.allCols.map(c => col(s"after.$c").as(c)): _*)
      .orderBy(col(spec.key))

  /** Replica view of an invoice state (the sink's UInt64 widening). */
  def snapshotOf(state: DataFrame): DataFrame =
    snapshotOfFor(state, CdcSchema.invoiceSpec)
      .select(
        col("order_id").cast("long").as("order_id"),
        col("invoice_number").cast("long").as("invoice_number"))

  /** The complete live ingress topology in one stream, from raw envelope
    * values (Kafka record values / file lines) into the LSM replica, with
    * the table's column DDL applied live. The reference's capture scope is
    * the whole `dev` database with schema-change events on (its
    * `debezium-config-push.sh:16-21`); this runner lets a live replica
    * follow those statements.
    *
    * Per batch: (1) schema-change events route to
    * `schemaHistoryDir/batch=<id>`; (2) the accumulated history —
    * `tableName`'s own statements, pos-ordered — folds via
    * [[graft.cdc.SchemaEvolution.evolveFull]] into the final (spec, type)
    * plus the epoch list (a bounded driver-side read: O(schema changes),
    * never O(events)); (3) malformed envelopes fork off to
    * `deadLetterDir/batch=<id>` ([[Changelog.deadLettersEpochs]]); (4) the
    * batch parses once, epoch-sliced ([[Changelog.fromEnvelopeJsonEpochs]]
    * — each event under the schema its pos lived in, normalized to the
    * final shape by logical column identity); (5) the LSM step appends
    * the batch and folds at the default segment bound, exactly as
    * [[runPartitionedLsm]] does. Add-only evolution is the case where the
    * history holds only ADD/MODIFY, which `evolveFull` folds as `evolve`
    * does; a DDL-free history is the plain replica. Every sink is
    * idempotent under checkpoint replay (per-batch partition dirs, the
    * manifest's replay fingerprint), so the topology keeps the
    * exactly-once argument.
    *
    * Segments written under an older schema cannot be read back by a
    * null-filling schema pin alone: a RENAME changes the at-rest field
    * name and a re-added namesake must not inherit pre-drop values. So
    * every segment and every compaction output is stamped with a schema
    * watermark (the max DDL pos folded when it was written) before the
    * manifest names it, and every read goes through
    * [[remappedBucketRead]]. Read the replica with
    * [[partitionedSnapshotEvolved]].
    */
  def runRouted(raw: DataFrame, valueCol: String,
                deadLetterDir: String, schemaHistoryDir: String,
                auditDir: String, stateDir: String, checkpointDir: String,
                nBuckets: Int = 64,
                spec: CdcSchema.CdcTableSpec = CdcSchema.invoiceSpec,
                imageType: org.apache.spark.sql.types.StructType =
                  CdcSchema.invoiceType,
                tableName: String = "invoice"): StreamingQuery =
    BucketState.runIngest(raw, stateDir, checkpointDir, CompactWhenSegments,
        async = false) { (rawBatch, batchId) =>
      val spark = rawBatch.sparkSession
      val cached = rawBatch.persist() // history route + sliced parse + dead letters
      try {
        Changelog.schemaHistory(cached, valueCol)
          .write.mode("overwrite").parquet(s"$schemaHistoryDir/batch=$batchId")
        val ddls = fullHistory(spark, schemaHistoryDir, tableName)
        val (espec, etype, epochs) =
          graft.cdc.SchemaEvolution.evolveFull(spec, imageType, ddls)
        Changelog.deadLettersEpochs(cached, epochs, etype, valueCol)
          .write.mode("overwrite").parquet(s"$deadLetterDir/batch=$batchId")
        val watermark = ddls.map(_._1).maxOption.getOrElse(Long.MinValue)
        val onStaged = Some(writeSchemaWatermark(spark, _: String, watermark))
        applyLsmBatch(Changelog.fromEnvelopeJsonEpochs(cached, epochs, etype, valueCol),
          batchId, auditDir, stateDir, nBuckets, espec, onStaged)
        // the fold reads through this batch's schema history and stamps
        // its output like a segment
        lsmFold(nBuckets, Some(remappedBucketRead(
          spark, stateDir, _, spec, imageType, ddls, espec, etype)), onStaged)
      } finally cached.unpersist()
    }

  /** `tableName`'s own full-DDL history implied by a schema-history dir:
    * (pos, statement) in pos order — the bounded driver-side read
    * (O(schema changes), never O(events)) the live runner, the snapshot
    * reader and [[evolvedSpec]] fold.
    */
  private def fullHistory(spark: SparkSession, schemaHistoryDir: String,
                          tableName: String): Seq[(Long, String)] = {
    val fs = BucketState.hadoopFs(spark, schemaHistoryDir)
    if (!fs.exists(new org.apache.hadoop.fs.Path(schemaHistoryDir))) Seq.empty
    else spark.read.parquet(schemaHistoryDir)
      .orderBy("pos").select("pos", "ddl").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
      .filter(t => graft.cdc.SchemaEvolution.targetTable(t._2).contains(tableName))
  }

  /** Sidecar file stamping a staged version dir with the schema
    * watermark (max folded DDL pos) it was written under. Written by
    * [[runRouted]]'s `onStaged` hook into every segment and every
    * compaction output — after the version's parquet, BEFORE the manifest
    * commit — so a committed version always carries it; a replayed batch
    * re-stages the dir and re-stamps identically.
    */
  private val SchemaWatermarkFile = "_SCHEMA_WATERMARK"

  private def writeSchemaWatermark(spark: SparkSession, versionDir: String,
                                   watermark: Long): Unit = {
    val fs = BucketState.hadoopFs(spark, versionDir)
    val out = fs.create(
      new org.apache.hadoop.fs.Path(s"$versionDir/$SchemaWatermarkFile"), true)
    try out.write(watermark.toString.getBytes("UTF-8")) finally out.close()
  }

  private def readSchemaWatermark(spark: SparkSession,
                                  versionDir: String): Option[Long] = {
    val fs = BucketState.hadoopFs(spark, versionDir)
    val p = new org.apache.hadoop.fs.Path(s"$versionDir/$SchemaWatermarkFile")
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try Some(scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim.toLong)
      finally in.close()
    }
  }

  /** The routed replica's segment reader: `relevant`'s version dirs
    * grouped by schema watermark, each group one [[BucketState.readBuckets]]
    * call under its own at-rest (footer) schema, projected to the CURRENT
    * shape through the identity map at that watermark — a renamed
    * column's values follow the identity to the new name, a dropped
    * column's values retire, a re-added namesake null-fills (pre-drop
    * values must not resurface). A version dir with no watermark (written
    * by [[runPartitionedLsm]] or [[retractLsmKeys]]) reads under current
    * names. A read therefore builds one relation per schema epoch, not
    * one per segment.
    */
  private def remappedBucketRead(spark: SparkSession, stateDir: String,
                                 relevant: Map[Long, Set[Long]],
                                 spec: CdcSchema.CdcTableSpec,
                                 imageType: org.apache.spark.sql.types.StructType,
                                 ddls: Seq[(Long, String)],
                                 espec: CdcSchema.CdcTableSpec,
                                 etype: org.apache.spark.sql.types.StructType): DataFrame = {
    import org.apache.spark.sql.types.StructType
    val watermarks = relevant.values.flatten.toSeq.distinct
      .map(v => v -> readSchemaWatermark(spark, s"$stateDir/v=$v")).toMap
    val groups = relevant.toSeq
      .flatMap { case (b, vs) => vs.map(v => (watermarks(v), b, v)) }
      .groupBy(_._1).toSeq.sortBy(_._1)
    if (groups.isEmpty)
      return emptyStateFor(spark, espec, etype).withColumn("p", lit(-1L))
    val keyType = etype(espec.key).dataType
    groups.map { case (w, entries) =>
      val remap: Map[String, Option[String]] = w match {
        case Some(wm) =>
          graft.cdc.SchemaEvolution.identityRemapAt(spec, imageType, ddls, wm)
        case None => etype.fieldNames.map(n => n -> Option(n)).toMap
      }
      val df = BucketState.readBuckets(spark, stateDir,
        entries.groupBy(_._2).map { case (b, es) => b -> es.map(_._3).toSet },
        sys.error("unreachable — group has buckets"))
      val physAfter = df.schema("after").dataType.asInstanceOf[StructType]
      val afterCol = when(col("after").isNull, lit(null).cast(etype)).otherwise(struct(
        etype.fields.map { f =>
          remap.get(f.name).flatten match {
            case Some(old) if physAfter.fieldNames.contains(old) =>
              col(s"after.$old").cast(f.dataType).as(f.name)
            case _ => lit(null).cast(f.dataType).as(f.name)
          }
        }: _*))
      df.select(col("key").cast(keyType).as("key"), col("pos"),
        afterCol.as("after"), col("p"))
    }.reduce(_.unionByName(_))
  }

  /** Replica snapshot of a [[runRouted]] state dir under the schema its
    * history dir implies: segments read through [[remappedBucketRead]]
    * and folded like [[partitionedSnapshotLsm]].
    */
  def partitionedSnapshotEvolved(spark: SparkSession, stateDir: String,
                                 schemaHistoryDir: String,
                                 spec: CdcSchema.CdcTableSpec = CdcSchema.invoiceSpec,
                                 imageType: org.apache.spark.sql.types.StructType =
                                   CdcSchema.invoiceType,
                                 tableName: String = "invoice"): DataFrame = {
    val ddls = fullHistory(spark, schemaHistoryDir, tableName)
    val (espec, etype, _) =
      graft.cdc.SchemaEvolution.evolveFull(spec, imageType, ddls)
    val segs = readLsm(spark, stateDir, BucketState.readManifest(spark, stateDir),
      emptyStateFor(spark, espec, etype),
      Some(remappedBucketRead(spark, stateDir, _, spec, imageType, ddls, espec, etype)))
    snapshotOfFor(resolveSegments(segs.events, segs.horizon()), espec)
  }

  /** The evolved (spec, imageType) implied by a schema-history dir — the
    * base shape when the dir is absent/empty. The history is a
    * WHOLE-DATABASE capture (`database.include.list=dev`), so statements
    * are routed by their parsed target table and only `tableName`'s own
    * DDL evolves this spec — another table's ALTER cannot desync it
    * (statements with no parseable ALTER TABLE target were already inert
    * in the fold and stay filtered here). Folded by
    * [[graft.cdc.SchemaEvolution.evolveFull]], like [[runRouted]].
    */
  def evolvedSpec(spark: SparkSession, schemaHistoryDir: String,
                  spec: CdcSchema.CdcTableSpec = CdcSchema.invoiceSpec,
                  imageType: org.apache.spark.sql.types.StructType =
                    CdcSchema.invoiceType,
                  tableName: String = "invoice")
      : (CdcSchema.CdcTableSpec, org.apache.spark.sql.types.StructType) = {
    val (espec, etype, _) = graft.cdc.SchemaEvolution.evolveFull(
      spec, imageType, fullHistory(spark, schemaHistoryDir, tableName))
    (espec, etype)
  }

  /** Idempotent audit append: each micro-batch owns the partition dir
    * `batch=<id>` and overwrites it, so a checkpoint-recovery replay of the
    * batch cannot double-append events (a plain append would). Readers see
    * the extra `batch` partition column.
    */
  private def writeAudit(batch: DataFrame, auditDir: String, batchId: Long): Unit =
    auditProjection(batch).write.mode("overwrite")
      .parquet(s"$auditDir/batch=$batchId")

  /** Typed per-key state via `flatMapGroupsWithState` — the
    * KeyValueGroupedDataset alternative to the foreachBatch merge for
    * latencies where per-batch parquet rewrites are too coarse. State per
    * key is (pos, after): max-pos-wins, delete markers retained, so
    * redelivery is idempotent — identical semantics to [[mergeBatch]].
    *
    * Scope note: cross-key TRUNCATE cannot be expressed inside a
    * per-key state function (groups are isolated by design); feed this
    * from `CdcApply.afterTruncateHorizon` (batch) or handle truncates as
    * a state-store generation upstream. Emits (order_id, invoice_number
    * nullable) per updated key, update-mode.
    */
  def typedLatestPerKey(changelog: org.apache.spark.sql.Dataset[CdcSchema.CdcEvent])
      : DataFrame = {
    import CdcStream.KeyState
    import changelog.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    changelog
      .groupByKey(e => e.after.orElse(e.before).map(_.order_id).getOrElse(Int.MinValue))
      .flatMapGroupsWithState[KeyState, (Int, Option[Int])](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (key: Int, events: Iterator[CdcSchema.CdcEvent], state: GroupState[KeyState]) =>
          val incoming = events.maxByOption(_.pos)
          val best = (incoming.map(e => KeyState(e.pos, e.after)).toSeq ++
            state.getOption.toSeq).maxByOption(_.pos)
          best match {
            case Some(b) if !state.getOption.exists(_.pos >= b.pos) =>
              state.update(b)
              Iterator.single((key, b.after.map(_.invoice_number)))
            case _ => Iterator.empty
          }
      }
      .toDF("order_id", "invoice_number")
  }

  /** Bucket function by key type: integral keys bucket by value modulus
    * (deterministic, human-inspectable `p=` dirs, and the layout the
    * partition specs pin); any other key type hashes first. Both are pure
    * functions of the key, so batch-side and state-side bucketing agree.
    */
  private def bucketFn(nBuckets: Int)(key: org.apache.spark.sql.Column,
                                      keyType: org.apache.spark.sql.types.DataType) = {
    import org.apache.spark.sql.types._
    keyType match {
      case ByteType | ShortType | IntegerType | LongType =>
        pmod(key.cast("long"), lit(nBuckets.toLong))
      case _ => pmod(xxhash64(key.cast("string")), lit(nBuckets.toLong))
    }
  }

  // ---------------------------------------------------------------- LSM

  /** The LSM replica — the one live CDC state engine. A batch appends
    * ONLY its own events as one immutable segment per touched bucket —
    * commit cost O(delta), independent of state size — and the per-key
    * winner is resolved at READ time across a bucket's segments
    * (max-pos-per-key, the [[mergeBatch]] fold), exactly the LSM trade the
    * incremental dedup index already runs ([[graft.operators.IncrementalDedup]]).
    * The state is hash-partitioned by `p = pmod(key, nBuckets)` for
    * integral keys, `p = pmod(xxhash64(key), nBuckets)` otherwise
    * ([[bucketFn]]), generic over the table via `spec`.
    * Segments hold the RAW events (not a per-batch net effect), so the
    * retained log also answers position-granular time travel —
    * [[partitionedSnapshotLsmAsOf]] — until a compaction folds history
    * and advances the floor.
    *
    * Commit protocol ([[BucketState]]): stage the segments under a
    * reserved `v=<n>` dir → one atomic `_CURRENT` rename naming them →
    * the conditional GC of unreferenced dirs (a stream start sweeps once
    * for a crashed writer's orphans). A crash before the rename leaves
    * readers on complete pre-batch state; the manifest's recorded input
    * fingerprint tells a replay of the committed batch (no-op) from a
    * checkpoint reset against retained state (fails loudly).
    *
    * A truncate APPENDS a horizon row in `p = -1` — no rewrite at all,
    * the read filters `pos > max(horizon)` across segments and
    * compaction erases below-horizon rows for good; delete markers
    * resolve by max pos like every other row. Read amplification grows
    * one raw-log segment per touched bucket per batch until [[compactLsm]]
    * folds them — bounded adaptively at `compactWhenSegments` by the
    * measured max segments-per-bucket, the same policy (and argument) as
    * the dedup index. A read is one scan at any segment count
    * ([[readLsm]]).
    *
    * `asyncCompaction = true` moves the fold OFF the hot path: when the
    * segment bound trips, compaction runs on a background thread while
    * the stream keeps committing O(delta) batches (the manifest-lock /
    * reserved-version / in-flight-GC protocol in [[BucketState]] makes
    * the interleaving safe — see [[compactLsm]]); at most one compaction
    * runs per state dir at a time, and a still-running fold at stream
    * stop simply finishes or dies staged-only (crash-equivalent: the
    * orphan dir is GC'd later, the manifest never referenced it).
    * Default stays synchronous — deterministic segment counts for specs
    * and batch-mode callers.
    */
  def runPartitionedLsm(changelog: DataFrame, auditDir: String, stateDir: String,
                        checkpointDir: String, nBuckets: Int = 64,
                        spec: CdcSchema.CdcTableSpec = CdcSchema.invoiceSpec,
                        compactWhenSegments: Int = CompactWhenSegments,
                        asyncCompaction: Boolean = false): StreamingQuery =
    BucketState.runIngest(changelog, stateDir, checkpointDir, compactWhenSegments,
        asyncCompaction) { (rawBatch, batchId) =>
      applyLsmBatch(rawBatch, batchId, auditDir, stateDir, nBuckets, spec)
      lsmFold(nBuckets)
    }

  /** Max segments per bucket at which both runners fold by default. */
  private[graft] val CompactWhenSegments = 8

  /** Run [[compactLsm]]'s fold through the one dispatcher,
    * [[BucketState.maybeCompactConcurrent]]: now (sync) or on a
    * background thread (async, at most one in flight per state dir).
    */
  private[graft] def maybeCompact(spark: SparkSession, stateDir: String,
                                  nBuckets: Int, spec: CdcSchema.CdcTableSpec,
                                  async: Boolean,
                                  stateReader: Option[Map[Long, Set[Long]] => DataFrame] = None,
                                  onStaged: Option[String => Unit] = None): Unit =
    BucketState.maybeCompactConcurrent(spark, stateDir, async,
      lsmFold(nBuckets, stateReader, onStaged))

  /** One LSM micro-batch: audit + stats + the raw-log segment write all
    * CONCURRENT (three driver threads, three Spark jobs over the same
    * cached batch), then manifest append-commit. No state read in the hot
    * path at all.
    *
    * The stats action (the batch's [[BucketState.inputFingerprint]]) does
    * not gate the segment write: the staging version
    * ([[BucketState.stagingVersion]]) needs no fingerprint, and the
    * replay/stale-checkpoint decision ([[BucketState.checkBatch]]) only
    * gates the COMMIT. So the write is staged optimistically in parallel
    * with the stats pass; on the rare replay of an already-committed
    * batch the staged dir is abandoned (released uncommitted, which marks
    * the dir GC-dirty, and swept by this batch's conditional GC) — the
    * common path saves a full serialized Spark-job round-trip, which at
    * micro-batch cadence is pure commit latency (LatencySoak measures it,
    * its [[graft.Trace]] spans itemize it). This order is why the replica
    * does not run [[BucketState.appendBatch]], which checks first: that
    * would serialize the stats job onto the commit latency, and the
    * curation stores must not stage first (a replay would re-claim a
    * committed batch's answer against post-commit state). It shares the
    * staging version, [[BucketState.commitAppend]], the release rule and
    * the conditional sweep instead.
    *
    * `onStaged` runs with the staged version dir BEFORE the manifest
    * commit ([[runRouted]] stamps its schema watermark there), so a
    * commit can never name a version that lacks its stamp. The audit is
    * awaited before the commit too, so it is durable before the rename.
    */
  private[graft] def applyLsmBatch(rawBatch: DataFrame, batchId: Long,
                                   auditDir: String, stateDir: String,
                                   nBuckets: Int,
                                   spec: CdcSchema.CdcTableSpec,
                                   onStaged: Option[String => Unit] = None): Unit = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    val spark = rawBatch.sparkSession
    val bucketOf = bucketFn(nBuckets) _
    val batch = rawBatch.persist()
    val auditF = Future { writeAudit(batch, auditDir, batchId) }
    try {
      val keyType = batch.schema("after").dataType
        .asInstanceOf[org.apache.spark.sql.types.StructType](spec.key).dataType
      val statF = Future(BucketState.inputFingerprint(batch))
      val m = BucketState.readManifest(spark, stateDir)
      // Version reserved (not manifest-derived): unique vs a concurrent
      // background compaction, and in-flight-registered so the
      // compaction's GC spares the staged dir while it is being written.
      val newVersion =
        BucketState.reserveVersion(stateDir, BucketState.stagingVersion(m, batchId))
      var committed = false
      try {
        // the RAW per-event rows — the segment IS the log. No in-batch
        // fold at all: resolution (max-pos winner, horizon filter)
        // happens once, at read/compaction time, so the commit is a
        // map-only bucket-partitioned write AND every mid-batch
        // position stays answerable by the as-of read (a net-effect
        // write would fold in-batch history away at append time —
        // batch-granular time travel only). Truncates project to the
        // key-null horizon-row shape directly; the key gate keeps a
        // hand-built keyless non-truncate event from poisoning the
        // horizon (same guard as mergeBatch's ingress).
        // repartition(nBuckets): no job computes the touched-bucket
        // count before this write; at LSM bucket counts (≤64)
        // the empty shuffle partitions cost scheduling-only, and the
        // parquet writer emits no dir for them.
        Trace.span("lsm", "segment_write", batchId)(batch
          .filter(
            coalesce(col(s"after.${spec.key}"), col(s"before.${spec.key}"))
              .isNotNull ||
              (col("before").isNull && col("after").isNull))
          .select(
            coalesce(col(s"after.${spec.key}"), col(s"before.${spec.key}"))
              .as("key"),
            col("pos"), col("after"))
          .withColumn("p",
            when(col("key").isNull, lit(-1L))
              .otherwise(bucketOf(col("key"), keyType)))
          .repartition(nBuckets, col("p"))
          .write.mode("overwrite").partitionBy("p")
          .parquet(s"$stateDir/v=$newVersion"))
        onStaged.foreach(_(s"$stateDir/v=$newVersion"))
        val batchFp =
          Trace.span("lsm", "stats_await", batchId)(Await.result(statF, Duration.Inf))
        BucketState.checkBatch(m, batchId, batchFp) match {
          case BucketState.AlreadyCommitted =>
            // Replay of a committed batch: the optimistically staged dir
            // is surplus — fall through to the finally, which releases
            // it uncommitted so the GC below removes it.
            Await.result(auditF, Duration.Inf)
          case BucketState.Proceed(_) =>
            Trace.span("lsm", "audit_await", batchId)(Await.result(auditF, Duration.Inf))
            BucketState.commitAppend(spark, stateDir, newVersion,
              Some((batchId + 1) -> batchFp), "lsm", batchId)
            committed = true
        }
      } finally BucketState.releaseVersion(stateDir, newVersion, committed)
      // GC after release: on the commit path the new dir is manifest-
      // referenced (live) and the sweep runs only if something else left
      // garbage; on the abandon path the release marked the dir dirty,
      // so this sweep removes the staged dir like any crash orphan.
      Trace.span("lsm", "gc", batchId, (_: Unit) =>
          if (committed) Nil else Seq("abandoned_v" -> newVersion))(
        BucketState.gcVersionsIfDirty(spark, stateDir))
    } finally {
      Await.ready(auditF, Duration.Inf)
      batch.unpersist()
    }
    ()
  }

  // ---- out-of-band key retraction (GDPR-style takedown) ---------------
  //
  // The changelog's OWN deletes flow through the stream (a delete marker
  // resolves by max pos); a RETRACTION is different: an out-of-band
  // order to stop serving a key's stored history — including time-travel
  // views — that does not ride the binlog at all (the reference's delete
  // semantics, /root/reference/main.py:75-86, extended to "erase the
  // history too"). The design is the Retraction pattern the four
  // curation stores share, adapted to a keyed replica: a tombstone row
  // `(key, pos = throughPos)` in the reserved bucket [[LsmRetractBucket]]
  // is a PER-KEY TRUNCATE HORIZON — every stored event of that key at or
  // below `throughPos` is erased from every read (snapshot, as-of,
  // change feed), and the next compaction removes the rows physically.
  //
  //  - Pos-scoped, not key-forever: an event of the key ABOVE the
  //    retraction position is new data and serves normally (the subject
  //    may return; the same primary key may be legitimately reborn).
  //    Masking is retroactive across time travel BY DESIGN — an as-of
  //    read below the retraction point must not resurrect erased data —
  //    which is exactly the global horizon's semantics applied per key.
  //  - The change feed treats both prefix views as masked, so a
  //    retracted key reports NO net change: a retraction is not a CDC
  //    event, and shipping a 'd' row would leak that the key existed.
  //    Downstream stores receive the takedown out-of-band (the same
  //    key list that fed this call), exactly how the curation pipeline
  //    distributes retractIds to all four indexes.
  //  - Compaction erases the covered rows PHYSICALLY but keeps the
  //    tombstones (deduped to one per-key max-rpos row): events may be
  //    delivered out of order across micro-batches, so no fold can
  //    prove a horizon will never mask a straggler — the tombstone is
  //    the store's standing mask, bounded by lifetime takedowns (the
  //    same stance as the near-dup index's fold, which keeps its
  //    tombstones).
  //  - Zero cost when unused: no `p = -3` manifest entry ⇔ no tombstone
  //    exists, and every read skips the bucket read and the mask join
  //    (the hasTombs discipline).
  //
  // Commit protocol: reserved version + the one append commit with the
  // manifest fp kept (a retraction is not a stream batch and must not
  // disturb the batchId replay chain).
  // Safe concurrent with the live apply path and a background fold; a
  // crash before the rename leaves an invisible staged dir (GC'd), a
  // re-issued retraction just stacks duplicate tombstones (the mask
  // takes max rpos per key — idempotent).

  /** Reserved bucket for retraction tombstones. Horizon rows keep `-1`;
    * hashed data buckets are non-negative.
    */
  val LsmRetractBucket = -3L

  /** Commit an out-of-band retraction: erase every stored event of
    * `keys` (first column, cast to the table's key type) at or below
    * `throughPos` from all reads; the next [[compactLsm]] removes the
    * rows physically. `throughPos` is pinned by the caller (typically
    * the replica's current max position) so replays and duplicate
    * issues are deterministic.
    */
  def retractLsmKeys(spark: SparkSession, stateDir: String, keys: DataFrame,
                     throughPos: Long,
                     spec: CdcSchema.CdcTableSpec = CdcSchema.invoiceSpec,
                     imageType: org.apache.spark.sql.types.StructType =
                       CdcSchema.invoiceType): Unit = {
    val keyType = imageType(spec.key).dataType
    val kcol = keys.columns.head
    val tombs = keys.select(col(kcol).cast(keyType).as("key"))
      .filter(col("key").isNotNull).distinct()
      .select(col("key"), lit(throughPos).as("pos"),
        lit(null).cast(imageType).as("after"),
        lit(LsmRetractBucket).as("p"))
    val m0 = BucketState.readManifest(spark, stateDir)
    // an empty replica has nothing to erase — and committing a
    // tombstone-only version there would be misread as batch progress
    // by checkBatch's pre-fingerprint bucket-max fallback
    require(m0.fp.isDefined,
      s"retractLsmKeys($stateDir): retract after the first data batch " +
        "has committed — an empty replica has no history to erase")
    val newVersion = BucketState.reserveVersion(stateDir,
      BucketState.stagingVersion(m0, -1L))
    var committed = false
    try {
      tombs.coalesce(1).write.mode("overwrite").partitionBy("p")
        .parquet(s"$stateDir/v=$newVersion")
      // an empty key frame stages no partition, so the commit adds nothing
      BucketState.commitAppend(spark, stateDir, newVersion, None, "lsm", -1L)
      committed = true
    } finally BucketState.releaseVersion(stateDir, newVersion, committed)
    BucketState.gcVersionsIfDirty(spark, stateDir)
  }

  /** One LSM read's inputs, split by reserved bucket:
    *  - `events`: the keyed rows of every referenced `(version, p ≥ 0)`
    *    dir, retraction-masked;
    *  - `horizonRows`: the truncate rows of the `p = -1` dirs — None when
    *    the manifest has no horizon bucket (no truncate ever reached the
    *    store: the horizon is `Long.MinValue` and no scan runs);
    *  - `tombs`: the per-key retraction horizon `(_rkey, rpos)` — max over
    *    duplicate tombstones — or None on a retraction-free store.
    */
  private final case class LsmSegments(events: DataFrame,
                                       horizonRows: Option[DataFrame],
                                       tombs: Option[DataFrame]) {
    /** The truncate horizon at `through` (the largest truncate position
      * ≤ it, `Long.MinValue` if none) as a one-row `h` frame.
      */
    def horizon(through: Long = Long.MaxValue): Option[DataFrame] =
      horizonRows.map(r => horizonOf(r.filter(col("pos") <= through)))
  }

  /** One LSM read, split by reserved bucket: the events (`p ≥ 0`),
    * horizon (`p = -1`) and tombstone buckets are each one
    * [[BucketState.readBuckets]] call under one footer schema, so the
    * read's job count does not grow with the segment count. The horizon
    * and tombstone scans run only when the manifest holds those buckets.
    * `empty` is the zero-state of an empty store. `stateReader`, when
    * given, replaces that bucket read: it receives a slice of the manifest
    * and returns its rows (with `p`) in the current schema — the routed
    * replica's [[remappedBucketRead]].
    */
  private def readLsm(spark: SparkSession, stateDir: String,
                      m: BucketState.Manifest, empty: => DataFrame,
                      stateReader: Option[Map[Long, Set[Long]] => DataFrame] = None)
      : LsmSegments = {
    if (m.buckets.isEmpty) return LsmSegments(empty, None, None)
    val read = stateReader.getOrElse {
      val schema = BucketState.segmentSchema(spark, stateDir, m.buckets)
      (sub: Map[Long, Set[Long]]) => BucketState.readBuckets(spark, stateDir, sub,
        spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](), schema),
        Some(schema))
    }
    def scan(inBucket: Long => Boolean): Option[DataFrame] = {
      val sub = m.buckets.filter { case (b, _) => inBucket(b) }
      if (sub.isEmpty) None else Some(read(sub).drop("p"))
    }
    val tombs = scan(_ == LsmRetractBucket).map(_
      .groupBy(col("key")).agg(max(col("pos")).as("rpos"))
      .withColumnRenamed("key", "_rkey"))
    val events = read(m.buckets.filter { case (b, _) => b >= 0 }).drop("p")
    LsmSegments(maskRetracted(events, tombs),
      scan(_ == -1L).map(_.select(col("pos"))), tombs)
  }

  /** Erase rows at or below each key's retraction horizon (broadcast
    * left join — takedown sets are bounded).
    */
  private def maskRetracted(segs: DataFrame,
                            tombs: Option[DataFrame]): DataFrame =
    tombs.fold(segs) { t =>
      segs.join(broadcast(t), segs("key") === col("_rkey"), "left")
        .filter(col("rpos").isNull || col("pos") > col("rpos"))
        .drop("_rkey", "rpos")
    }

  /** Per-key resolution across LSM segments — the read-side half of the
    * fold: max-pos winner per key, winners at or below `horizon` (a
    * one-row `h` frame, broadcast; None ≡ `Long.MinValue`) erased, delete
    * markers retained. Buckets partition the keyspace, so per-bucket
    * resolution ≡ global resolution.
    */
  private[graft] def resolveSegments(events: DataFrame,
                                     horizon: Option[DataFrame]): DataFrame = {
    val winners = events
      .groupBy(col("key"))
      .agg(max_by(struct(col("pos"), col("after")), col("pos")).as("m"))
      .select(col("key"), col("m.pos").as("pos"), col("m.after").as("after"))
    horizon.fold(winners.withColumn("h", lit(Long.MinValue)))(h =>
        winners.crossJoin(broadcast(h)))
      .filter(col("pos") > col("h"))
      .select(col("key"), col("pos"), col("after"))
  }

  /** Replica snapshot of an LSM state dir (manifest-resolved, segments
    * folded at read).
    */
  def partitionedSnapshotLsm(spark: SparkSession, stateDir: String,
                             spec: CdcSchema.CdcTableSpec = CdcSchema.invoiceSpec,
                             imageType: org.apache.spark.sql.types.StructType =
                               CdcSchema.invoiceType): DataFrame = {
    val segs = readLsm(spark, stateDir, BucketState.readManifest(spark, stateDir),
      emptyStateFor(spark, spec, imageType))
    snapshotOfFor(resolveSegments(segs.events, segs.horizon()), spec)
  }

  /** Time-travel snapshot: the replica as of position `asOfPos`, read
    * straight off the retained segments — `resolveSegments` over the rows
    * with `pos <= asOfPos` is exactly a replay of the stream's prefix
    * (max-pos winner per key among events ≤ asOfPos, horizon = the
    * largest truncate ≤ asOfPos). The append-only layout gets this for
    * free; a replace-merge replica could not answer it at all (each
    * merge overwrites per-key history in place).
    *
    * Validity floor: [[compactLsm]] collapses each key's history to its
    * single winner, so every compaction ADVANCES the oldest answerable
    * as-of to the max position it folded (the same trade as checkpoint/
    * vacuum retention in log-structured table formats). The floor is
    * recorded in a `_TTFLOOR` sidecar at compaction commit; a read below
    * it fails loudly rather than returning a silently incomplete
    * prefix. Deployments that need deep time travel run compaction less
    * often (read amplification vs retention — the LSM knob).
    */
  def partitionedSnapshotLsmAsOf(spark: SparkSession, stateDir: String,
                                 asOfPos: Long,
                                 spec: CdcSchema.CdcTableSpec = CdcSchema.invoiceSpec,
                                 imageType: org.apache.spark.sql.types.StructType =
                                   CdcSchema.invoiceType): DataFrame = {
    val floor = readTtFloor(spark, stateDir)
    require(asOfPos >= floor,
      s"as-of position $asOfPos precedes the compaction floor $floor: " +
        "per-key history at or below the floor was folded away by " +
        "compactLsm and a prefix read there would be silently wrong — " +
        "retain more history by compacting less often (compactWhenSegments)")
    // the retraction mask applies UNFILTERED by the as-of point: erased
    // history must not resurrect in any time-travel view (see the
    // retraction section — per-key truncate semantics)
    val segs = readLsm(spark, stateDir, BucketState.readManifest(spark, stateDir),
      emptyStateFor(spark, spec, imageType))
    snapshotOfFor(
      resolveSegments(segs.events.filter(col("pos") <= asOfPos),
        segs.horizon(asOfPos)),
      spec)
  }

  /** Change-data feed off the retained LSM log: the NET per-key state
    * transitions between two positions, `fromPos` exclusive → `toPos`
    * inclusive — what a downstream incremental consumer applies to catch
    * up from one checkpoint to the next without replaying the stream.
    * One segment read serves BOTH prefix resolutions; the keyed
    * full-outer join classifies:
    *
    *  - `i` — invisible at fromPos, live at toPos (insert or rebirth);
    *  - `u` — live at both with a DIFFERENT visible image (an update to
    *    an identical image is NOT a net change — this is a state diff,
    *    not an event replay, which is exactly why it stays O(|changed|)
    *    instead of O(|events|));
    *  - `d` — live at fromPos, gone at toPos (delete marker or a
    *    truncate horizon crossed in the window).
    *
    * Output: (key, change_op, old image, new image). Same compaction
    * floor contract as [[partitionedSnapshotLsmAsOf]], checked on
    * `fromPos` (the older prefix).
    */
  def lsmChangesBetween(spark: SparkSession, stateDir: String,
                        fromPos: Long, toPos: Long,
                        spec: CdcSchema.CdcTableSpec = CdcSchema.invoiceSpec,
                        imageType: org.apache.spark.sql.types.StructType =
                          CdcSchema.invoiceType): DataFrame = {
    require(fromPos <= toPos, s"fromPos $fromPos > toPos $toPos")
    val floor = readTtFloor(spark, stateDir)
    require(fromPos >= floor,
      s"fromPos $fromPos precedes the compaction floor $floor: history " +
        "below the floor was folded away by compactLsm — compact less " +
        "often (compactWhenSegments) to retain a deeper change feed")
    // masked on BOTH prefix views: a retracted key reports no net change
    // (a retraction is not a CDC event — downstream stores receive the
    // takedown out-of-band; see the retraction section)
    val segs = readLsm(spark, stateDir, BucketState.readManifest(spark, stateDir),
      emptyStateFor(spark, spec, imageType))
    // BOTH prefix winners from ONE keyed aggregation over ONE segment
    // scan (two resolveSegments calls would read the log twice): the
    // fromPos winner uses a conditional ordering column — rows past
    // fromPos order as null and are never chosen — and both horizons
    // come from one tiny agg over the horizon bucket, broadcast.
    val winners = segs.events.filter(col("pos") <= toPos)
      .groupBy(col("key"))
      .agg(
        max_by(struct(col("pos"), col("after")),
          when(col("pos") <= fromPos, col("pos"))).as("w1"),
        max_by(struct(col("pos"), col("after")), col("pos")).as("w2"))
    segs.horizonRows.map(_.filter(col("pos") <= toPos).agg(
        coalesce(max(when(col("pos") <= fromPos, col("pos"))), lit(Long.MinValue))
          .as("h1"),
        coalesce(max(col("pos")), lit(Long.MinValue)).as("h2")))
      .fold(winners.withColumn("h1", lit(Long.MinValue))
        .withColumn("h2", lit(Long.MinValue)))(h => winners.crossJoin(broadcast(h)))
      .select(col("key"),
        when(col("w1.pos") > col("h1"), col("w1.after")).as("old_img"),
        when(col("w2.pos") > col("h2"), col("w2.after")).as("new_img"))
      .filter(!(col("old_img") <=> col("new_img")))
      .select(col("key"),
        when(col("old_img").isNull, lit("i"))
          .when(col("new_img").isNull, lit("d"))
          .otherwise(lit("u")).as("change_op"),
        col("old_img"), col("new_img"))
  }

  /** Oldest answerable as-of position (Long.MinValue until a compaction
    * has folded history).
    */
  def readTtFloor(spark: SparkSession, stateDir: String): Long = {
    val fs = BucketState.hadoopFs(spark, stateDir)
    val p = new org.apache.hadoop.fs.Path(s"$stateDir/_TTFLOOR")
    if (!fs.exists(p)) Long.MinValue
    else {
      val in = fs.open(p)
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim.toLong
      finally in.close()
    }
  }

  /** Fold an LSM state's segment lists back to one resolved version per
    * bucket: below-horizon rows are erased for good, delete markers and
    * retraction tombstones survive, and the whole manifest repoints in one
    * atomic rename. A horizon row is written only when a truncate was
    * folded — an absent `p = -1` bucket already reads as `Long.MinValue`.
    *
    * This is [[BucketState.compactConcurrent]] with the replica's fold
    * ([[lsmFold]]), so it is SAFE TO RUN CONCURRENTLY with the apply path
    * (the "compaction off the hot path" contract): segments a concurrent
    * batch appends mid-fold survive the swap verbatim (resolution is
    * max-pos-per-key and max-horizon, both associative), and the replay
    * fingerprint is preserved. `beforeSwap` is a test seam: it runs after
    * the fold, before the locked swap. `stateReader` and `onStaged` are
    * the [[readLsm]] / [[applyLsmBatch]] hooks: the fold reads through the
    * first and stamps its output dir with the second before the swap.
    */
  def compactLsm(spark: SparkSession, stateDir: String, nBuckets: Int,
                 spec: CdcSchema.CdcTableSpec = CdcSchema.invoiceSpec,
                 beforeSwap: () => Unit = () => (),
                 stateReader: Option[Map[Long, Set[Long]] => DataFrame] = None,
                 onStaged: Option[String => Unit] = None): Unit =
    BucketState.compactConcurrent(spark, stateDir,
      lsmFold(nBuckets, stateReader, onStaged), beforeSwap)

  /** The replica's fold for [[BucketState.compactConcurrent]]: [[readLsm]]
    * then [[resolveSegments]] under the horizon, plus the horizon row and
    * the kept tombstones; before the swap, the `onStaged` stamp and the
    * raised `_TTFLOOR`.
    */
  private[graft] def lsmFold(nBuckets: Int,
                             stateReader: Option[Map[Long, Set[Long]] => DataFrame] = None,
                             onStaged: Option[String => Unit] = None): BucketState.Fold =
    BucketState.Fold("lsm", (spark, stateDir, m) =>
      // nothing to fold on an empty store, or one holding only retraction
      // tombstones (a takedown can precede the first data batch)
      if (!m.buckets.keys.exists(_ != LsmRetractBucket)) None
      else {
        val bucketOf = bucketFn(nBuckets) _
        // the fold applies the retraction mask, so erased rows leave the
        // disk here; tombstones themselves are read separately (they are
        // not events — a null-image tombstone reaching resolveSegments
        // would read as a delete marker)
        val segs = readLsm(spark, stateDir, m,
          sys.error("unreachable — manifest non-empty"), stateReader)
        val horizon = segs.horizon()
        val winners = resolveSegments(segs.events, horizon)
        // (a `Long.MinValue` row — written by older folds — is dropped too)
        val resolved = horizon.fold(winners)(h => winners.unionByName(h
          .filter(col("h") > Long.MinValue).select(
            lit(null).cast(winners.schema("key").dataType).as("key"),
            col("h").as("pos"),
            lit(null).cast(winners.schema("after").dataType).as("after"))))
        // tombstones SURVIVE the fold, deduped to one per-key max-rpos
        // row: events may arrive out of order (the file-source batches
        // shuffle the keyspace), so no fold can prove a horizon will
        // never mask again — a straggler at or below rpos delivered
        // after the fold must still be erased. The at-rest cost is one
        // narrow row per lifetime takedown (the standing-mask stance of
        // the near-dup index's fold); the rows the
        // horizon already covers DO leave the disk here.
        val keptTombs = segs.tombs.map(_
          .select(col("_rkey").as("key"), col("rpos").as("pos"),
            lit(null).cast(resolved.schema("after").dataType).as("after"),
            lit(LsmRetractBucket).as("p")))
        val outRows = resolved.withColumn("p",
          when(col("key").isNull, lit(-1L))
            .otherwise(bucketOf(col("key"), resolved.schema("key").dataType)))
        Some(BucketState.Folded(keptTombs.fold(outRows)(outRows.unionByName(_)),
          staged = dir => {
            onStaged.foreach(_(dir))
            // Per-key history at or below every folded position is gone
            // now: advance the time-travel floor to the max folded
            // position. That is the max pos of the resolved rows, which is
            // the max over the (masked) events and horizon rows: the
            // global max event is its key's winner unless the horizon
            // covers it, and then the horizon row carries the max. Read
            // off the pos column alone, not the resolution. Written
            // BEFORE the manifest rename — a crash between the two leaves
            // the floor conservatively high, never an answerable-looking
            // but history-less as-of. (Positions a concurrent batch
            // appends mid-fold are strictly above the folded max — stream
            // positions are monotone — so the floor never covers unfolded
            // history. With a retraction mask the max is over SURVIVING
            // rows — still correct: every masked row above it is erased
            // from every as-of view too, so no read between the two
            // maxima can differ.)
            val pos = segs.events.select(col("pos"))
            val folded = segs.horizonRows.fold(pos)(pos.union)
              .agg(coalesce(max(col("pos")), lit(Long.MinValue)))
              .collect()(0).getLong(0)
            BucketState.writeAtomically(spark, s"$stateDir/_TTFLOOR",
              math.max(folded, readTtFloor(spark, stateDir)).toString)
          }))
      })
}
