package graft.cdc

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** CDC ingress: changelog construction.
  *
  * Two ways into the normalized changelog schema (`CdcSchema.changelogType`):
  *
  *  1. [[fromEnvelopeJson]] — parse Debezium envelope JSON strings (the wire
  *     format, `/root/reference/kafka-consumer-service/example/{insert,update,delete,truncate}.json`) with a
  *     narrow `from_json`. This is the path both the batch replay and the
  *     Structured Streaming ingest share.
  *  2. [[synthetic]] — a deterministic batch changelog derived from the
  *     `orders` fixture table, standing in for the reference's workload
  *     generator (`/root/reference/sequencer.py:42-47`: ~1/3 insert / update
  *     / delete over a bounded key domain, plus a truncate). No `rand()` and
  *     no wall clock anywhere (driver verify constraint): ops are routed by
  *     modular arithmetic on the key and `pos` is derived from the key, so
  *     DuckDB can recompute the identical stream relationally.
  *
  * Workload shape of [[synthetic]] (k = orderkey, v = custkey % 100000):
  *  - every key:       INSERT  (pos k*10+1)  after = (k, v)
  *  - keys k%3==0:     UPDATE  (pos k*10+2)  after = (k, v+1000)
  *  - keys k%9==0:     UPDATE  (pos k*10+3)  after = (k, v+2000)   [second writer — exercises last-writer-wins]
  *  - keys k%7==0:     DELETE  (pos k*10+4)  before = latest image, after = null
  *  - one TRUNCATE at pos = (max(k)*10) div 4 — both images null; events at or
  *    before this horizon are erased from the snapshot (reference C4,
  *    `main.py:88-90`).
  */
object Changelog {

  /** Parse raw envelope JSON (one string per Kafka record value) into the
    * normalized changelog. Null input strings are Kafka delete *tombstones*
    * and are dropped here, mirroring `main.py:37-40` — the real delete is the
    * before!=null/after==null envelope, which is not a tombstone.
    *
    * `kafkaTs` is the Kafka record timestamp (epoch ms) used by the audit
    * log; callers without one pass the payload ts.
    */
  /** Envelope validity: a positioned payload whose row images are each
    * either absent or COMPLETE. Partial images (e.g. a mistyped field that
    * PERMISSIVE `from_json` nulled) are rejected at ingress rather than
    * allowed to flow: a null `order_id` downstream would masquerade as the
    * engine's null-key truncate-horizon row and silently erase state, and
    * a null `invoice_number` would kill the typed (`Dataset[CdcEvent]`)
    * path at decode. One gate, both hazards closed.
    */
  private def isValidEnvelope(e: org.apache.spark.sql.Column,
                              spec: CdcSchema.CdcTableSpec = CdcSchema.invoiceSpec)
      : org.apache.spark.sql.Column = {
    // Image completeness is derived from the table spec (absent or every
    // spec column present), not a hard-coded column pair.
    def completeImage(img: org.apache.spark.sql.Column) =
      img.isNull || spec.allCols
        .map(c => img.getField(c).isNotNull).reduce(_ && _)
    // A schema-change event is NOT a data event: it has source.pos and no
    // row images, so without the ddl exclusion the nullity dispatch would
    // read it as a TRUNCATE and silently erase state below its pos.
    e.isNotNull && e.getField("payload").isNotNull &&
      !isSchemaChange(e) &&
      e.getField("payload").getField("source").getField("pos").isNotNull &&
      completeImage(e.getField("payload").getField("before")) &&
      completeImage(e.getField("payload").getField("after"))
  }

  private def isSchemaChange(e: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    e.isNotNull && e.getField("payload").isNotNull &&
      e.getField("payload").getField("ddl").isNotNull

  def fromEnvelopeJson(df: DataFrame, valueCol: String = "value",
                       kafkaTsCol: Option[String] = None): DataFrame =
    changelogOfParsed(parsedEnvelopes(df, valueCol), kafkaTsCol)

  /** [[fromEnvelopeJson]] for an arbitrary table shape: the narrow parse
    * schema embeds `imageType` and image completeness derives from `spec` —
    * the whole ingress, not just the fold, is generic over the table.
    */
  def fromEnvelopeJsonFor(df: DataFrame, spec: CdcSchema.CdcTableSpec,
                          imageType: org.apache.spark.sql.types.StructType,
                          valueCol: String = "value",
                          kafkaTsCol: Option[String] = None): DataFrame =
    changelogOfParsed(parsedEnvelopes(df, valueCol, imageType), kafkaTsCol, spec)

  /** The three routing heads over an ALREADY-PARSED envelope frame (from
    * [[parsedEnvelopes]]); the JSON parse is the dominant ingress cost at
    * scale (CdcSchema's narrow-schema rationale), so a caller routing one
    * frame to several sinks parses once and filters the parse.
    */
  private[graft] def changelogOfParsed(parsed: DataFrame,
                                       kafkaTsCol: Option[String] = None,
                                       spec: CdcSchema.CdcTableSpec =
                                         CdcSchema.invoiceSpec): DataFrame = {
    val ts = kafkaTsCol.map(col).getOrElse(col("e.payload.ts_ms"))
    parsed.filter(isValidEnvelope(col("e"), spec))          // dead letters excluded
      .select(
        col("e.payload.source.pos").as("pos"),
        col("e.payload.op").as("op"),
        col("e.payload.before").as("before"),
        col("e.payload.after").as("after"),
        ts.as("ts_ms"))
  }

  /** Multi-table variant of [[fromEnvelopeJson]]: keeps the wire's
    * `source.db`/`source.table` routing columns for
    * `CdcApply.snapshotByTable`.
    */
  def fromEnvelopeJsonMulti(df: DataFrame, valueCol: String = "value"): DataFrame =
    parsedEnvelopes(df, valueCol)
      .filter(isValidEnvelope(col("e")))
      .select(
        col("e.payload.source.db").as("db"),
        col("e.payload.source.table").as("table"),
        col("e.payload.source.pos").as("pos"),
        col("e.payload.op").as("op"),
        col("e.payload.before").as("before"),
        col("e.payload.after").as("after"),
        col("e.payload.ts_ms").as("ts_ms"))

  /** [[fromEnvelopeJsonMulti]] for heterogeneous per-table shapes: one
    * parse under the MERGED image type (each table's events null-fill the
    * other tables' columns), with validity gated PER TABLE on that
    * table's own base spec — table names compare lower-cased, matching
    * [[SchemaEvolution.targetTable]]. Events of uncaptured tables fail
    * the gate (no spec to certify their image completeness) and flow to
    * dead letters, never silently into the fold.
    */
  def fromEnvelopeJsonMultiFor(df: DataFrame,
                               baseSpecs: Map[String, CdcSchema.CdcTableSpec],
                               imageType: org.apache.spark.sql.types.StructType,
                               valueCol: String = "value"): DataFrame = {
    val tbl = lower(col("e.payload.source.table"))
    val valid = baseSpecs
      .map { case (t, sp) => tbl === t && isValidEnvelope(col("e"), sp) }
      .reduce(_ || _)
    parsedEnvelopes(df, valueCol, imageType)
      .filter(valid)
      .select(
        col("e.payload.source.db").as("db"),
        col("e.payload.source.table").as("table"),
        col("e.payload.source.pos").as("pos"),
        col("e.payload.op").as("op"),
        col("e.payload.before").as("before"),
        col("e.payload.after").as("after"),
        col("e.payload.ts_ms").as("ts_ms"))
  }

  /** EPOCH-SLICED parse for full-DDL evolution
    * ([[SchemaEvolution.evolveFull]]): the DDL history divides the
    * stream into pos-ranges that each lived under a different table
    * schema — a RENAMEd column's events carry the old name before the
    * DDL and the new name after; a DROPped column simply stops existing.
    * One parse under one schema cannot represent that, so each event is
    * parsed under ITS OWN epoch's image type and normalized to the final
    * shape via the epoch's logical-identity column map.
    *
    * Still a SINGLE map-only scan: the epoch is chosen per row by a
    * cheap positional pre-read (`get_json_object` on `payload.source.pos`
    * — one scalar extraction, no shuffle), and the per-epoch `from_json`
    * sits inside a CASE branch, so exactly one full parse runs per row
    * regardless of epoch count. Epochs are O(schema changes) — human-
    * initiated DDL, the same bound as the history collect — so the plan
    * stays small. Validity gates per epoch on that epoch's OWN required
    * columns (base-required logical columns still alive, under their
    * epoch names); events that fail it, DDL envelopes, and events with
    * no parseable pos all normalize to null and drop here, exactly like
    * the single-schema ingress.
    */
  def fromEnvelopeJsonEpochs(df: DataFrame,
                             epochs: Seq[SchemaEvolution.Epoch],
                             finalType: org.apache.spark.sql.types.StructType,
                             valueCol: String = "value"): DataFrame =
    normalizedEpochs(df, epochs, finalType, valueCol)
      .filter(col("n").isNotNull)
      .select(col("n.pos").as("pos"), col("n.op").as("op"),
        col("n.before").as("before"), col("n.after").as("after"),
        col("n.ts_ms").as("ts_ms"))

  /** Dead letters under the epoch-sliced parse: a non-tombstone value that
    * normalizes to null under ITS epoch's schema+gate and is not a
    * schema-change event (checked by an exact scalar pre-read of
    * `payload.ddl` — no second full parse). The live routed ingress
    * ([[graft.streaming.CdcStream.runRouted]]) forks this off
    * the same cached batch the changelog head reads.
    */
  def deadLettersEpochs(df: DataFrame,
                        epochs: Seq[SchemaEvolution.Epoch],
                        finalType: org.apache.spark.sql.types.StructType,
                        valueCol: String = "value"): DataFrame =
    normalizedEpochs(df, epochs, finalType, valueCol)
      .filter(col("n").isNull &&
        get_json_object(col(valueCol), "$.payload.ddl").isNull)
      .select(col(valueCol).as("raw"), lit("unparseable_envelope").as("reason"))

  /** Shared body of the epoch-sliced heads: tombstones dropped, each row
    * carrying its normalized changelog struct in `n` (null = DDL event,
    * dead letter, or no parseable pos) alongside the raw value column.
    */
  private def normalizedEpochs(df: DataFrame,
                               epochs: Seq[SchemaEvolution.Epoch],
                               finalType: org.apache.spark.sql.types.StructType,
                               valueCol: String): DataFrame = {
    import org.apache.spark.sql.types._
    require(epochs.nonEmpty, "epoch list must be non-empty")
    val outType = StructType(Seq(
      StructField("pos", LongType), StructField("op", StringType),
      StructField("before", finalType), StructField("after", finalType),
      StructField("ts_ms", LongType)))
    def norm(img: org.apache.spark.sql.Column,
             ep: SchemaEvolution.Epoch): org.apache.spark.sql.Column =
      when(img.isNull, lit(null).cast(finalType)).otherwise(struct(
        finalType.fields.map { f =>
          ep.colMap.get(f.name) match {
            case Some(n) => img.getField(n).cast(f.dataType).as(f.name)
            case None => lit(null).cast(f.dataType).as(f.name)
          }
        }: _*))
    val posRaw = get_json_object(col(valueCol), "$.payload.source.pos").cast("long")
    val normalized = epochs.foldRight(lit(null).cast(outType)) { (ep, acc) =>
      val e = from_json(col(valueCol), CdcSchema.envelopeTypeFor(ep.imageType))
      val inEpoch = posRaw.isNotNull &&
        (if (ep.fromPos == Long.MinValue) lit(true) else posRaw > ep.fromPos) &&
        (if (ep.toPos == Long.MaxValue) lit(true) else posRaw <= ep.toPos)
      when(inEpoch,
        when(isValidEnvelope(e, ep.gateSpec), struct(
          e.getField("payload").getField("source").getField("pos").as("pos"),
          e.getField("payload").getField("op").as("op"),
          norm(e.getField("payload").getField("before"), ep).as("before"),
          norm(e.getField("payload").getField("after"), ep).as("after"),
          e.getField("payload").getField("ts_ms").as("ts_ms")))
          .otherwise(lit(null).cast(outType)))
        .otherwise(acc)
    }
    df.filter(col(valueCol).isNotNull)                      // P1 tombstone filter
      .withColumn("n", normalized)
  }

  /** Malformed-envelope dead-letter routing — the engine's live analogue of
    * the reference's unreachable fallback branch (`main.py:92-93` C5): a
    * non-tombstone message that does not parse to a positioned payload is
    * quarantined with its raw bytes instead of being silently dropped or
    * crashing the stream. Fork both [[fromEnvelopeJson]] and this from one
    * source; at scale the dead-letter sink is an append-only table that is
    * monitored, not a log line.
    */
  def deadLetters(df: DataFrame, valueCol: String = "value"): DataFrame =
    deadLettersOfParsed(parsedEnvelopes(df, valueCol), valueCol)

  private[graft] def deadLettersOfParsed(parsed: DataFrame, valueCol: String): DataFrame =
    parsed
      .filter(!isValidEnvelope(col("e")) && !isSchemaChange(col("e")))
      .select(col(valueCol).as("raw"), lit("unparseable_envelope").as("reason"))

  /** Schema-history routing: DDL events (captured because the reference
    * config sets `include.schema.changes: "true"`,
    * `/root/reference/debezium-config-push.sh:20-21`) are logged to a typed
    * schema-history table — neither quarantined as dead letters (they are
    * well-formed) nor allowed into the changelog (where their dual-null
    * images would masquerade as a truncate). Ingress forks three ways:
    * [[fromEnvelopeJson]] ∪ [[schemaHistory]] ∪ [[deadLetters]] partition
    * the non-tombstone stream.
    */
  def schemaHistory(df: DataFrame, valueCol: String = "value"): DataFrame =
    // cheap substring pre-gate before the JSON parse: an envelope whose
    // payload.ddl is non-null must contain the literal key `"ddl"` in its
    // wire text, and DDL events are vanishingly rare next to data events —
    // at scale this turns the history scan from a full-corpus JSON parse
    // into a full-corpus substring test + a parse of the few survivors.
    // (Superset filter only: the parse below still decides.)
    schemaHistoryOfParsed(parsedEnvelopes(
      df.filter(col(valueCol).contains("\"ddl\"")), valueCol))

  private[graft] def schemaHistoryOfParsed(parsed: DataFrame): DataFrame =
    parsed
      .filter(isSchemaChange(col("e")))
      .select(
        col("e.payload.databaseName").as("db"),
        col("e.payload.source.pos").as("pos"),
        col("e.payload.ts_ms").as("ts_ms"),
        col("e.payload.ddl").as("ddl"))

  private[graft] def parsedEnvelopes(df: DataFrame, valueCol: String,
                                     imageType: org.apache.spark.sql.types.StructType =
                                       CdcSchema.invoiceType): DataFrame =
    df.filter(col(valueCol).isNotNull)                      // P1 tombstone filter
      .withColumn("e", from_json(col(valueCol), CdcSchema.envelopeTypeFor(imageType)))

  /** Deterministic synthetic changelog over the `orders` fixture (see object
    * doc). Emits the normalized schema. The unions are narrow (no shuffle);
    * the whole stream scans `orders` once per branch with only
    * (o_orderkey, o_custkey) in the ReadSchema.
    */
  def synthetic(spark: SparkSession, sfDir: String): DataFrame = {
    val base = graft.Tables.orders(spark, sfDir)
      .select(
        col("o_orderkey").cast("int").as("k"),
        (col("o_custkey") % 100000).cast("int").as("v"))

    def img(id: org.apache.spark.sql.Column, inv: org.apache.spark.sql.Column) =
      struct(id.as("order_id"), inv.as("invoice_number"))
    val nullImg = lit(null).cast(CdcSchema.invoiceType)

    // Four narrow union branches over the (2-column) source scan. Measured
    // against a single-scan explode(array(...)) formulation at sf0.1: the
    // union is ~25% faster locally — per-branch whole-stage codegen is
    // simple column arithmetic, while the exploded variant pays per-row
    // struct-array allocation; the re-scanned source is 2 pruned columns,
    // so extra I/O is negligible at any scale.
    val inserts = base.select(
      (col("k").cast("long") * 10 + 1).as("pos"), lit("c").as("op"),
      nullImg.as("before"), img(col("k"), col("v")).as("after"))
    val updates1 = base.filter(col("k") % 3 === 0).select(
      (col("k").cast("long") * 10 + 2).as("pos"), lit("u").as("op"),
      img(col("k"), col("v")).as("before"),
      img(col("k"), col("v") + 1000).as("after"))
    val updates2 = base.filter(col("k") % 9 === 0).select(
      (col("k").cast("long") * 10 + 3).as("pos"), lit("u").as("op"),
      img(col("k"), col("v") + 1000).as("before"),
      img(col("k"), col("v") + 2000).as("after"))
    val lastInv = when(col("k") % 9 === 0, col("v") + 2000)
      .when(col("k") % 3 === 0, col("v") + 1000)
      .otherwise(col("v"))
    val deletes = base.filter(col("k") % 7 === 0).select(
      (col("k").cast("long") * 10 + 4).as("pos"), lit("d").as("op"),
      img(col("k"), lastInv).as("before"), nullImg.as("after"))
    val perKey = inserts.unionByName(updates1).unionByName(updates2)
      .unionByName(deletes)

    // Scalar truncate horizon: a 1-row agg kept in-plan (no collect); `div`
    // matches the oracle's integer `//`.
    val truncates = base.agg(max(col("k").cast("long")).as("mk"))
      .select(
        expr("(mk * 10) div 4").as("pos"), lit("t").as("op"),
        nullImg.as("before"), nullImg.as("after"))

    perKey.unionByName(truncates)
      .withColumn("ts_ms", lit(1700000000000L) + col("pos"))
  }

  /** Deterministic changelog over a 4-column table shape
    * (`CdcSchema.wideType`: int PK + two int values + a string status) —
    * exercises `CdcApply.snapshotFor` with a spec the reference never had.
    * Workload (k = orderkey, v = custkey % 100000):
    *  - every key:    INSERT (pos k*10+1)  (k, v, (k*7)%1000, open|closed by parity)
    *  - keys k%4==0:  UPDATE (pos k*10+2)  amount += 5000, status = 'paid'
    *  - keys k%11==0: DELETE (pos k*10+3)
    *  - one TRUNCATE at pos = (max(k)*10) div 3
    */
  def syntheticWide(spark: SparkSession, sfDir: String): DataFrame = {
    val base = graft.Tables.orders(spark, sfDir)
      .select(
        col("o_orderkey").cast("int").as("k"),
        (col("o_custkey") % 100000).cast("int").as("v"))
    def img(id: org.apache.spark.sql.Column, inv: org.apache.spark.sql.Column,
            amt: org.apache.spark.sql.Column, st: org.apache.spark.sql.Column) =
      struct(id.as("order_id"), inv.as("invoice_number"), amt.as("amount"), st.as("status"))
    val nullImg = lit(null).cast(CdcSchema.wideType)
    // widen before multiplying: k*7 overflows Int at sf100 (k up to 6e8)
    // and ANSI mode makes that a crash, not a wrap
    val amt0 = ((col("k").cast("long") * 7) % 1000).cast("int")
    val st0 = when(col("k") % 2 === 0, "open").otherwise("closed")
    val inserts = base.select(
      (col("k").cast("long") * 10 + 1).as("pos"), lit("c").as("op"),
      nullImg.as("before"), img(col("k"), col("v"), amt0, st0).as("after"))
    val updates = base.filter(col("k") % 4 === 0).select(
      (col("k").cast("long") * 10 + 2).as("pos"), lit("u").as("op"),
      img(col("k"), col("v"), amt0, st0).as("before"),
      img(col("k"), col("v"), amt0 + 5000, lit("paid")).as("after"))
    val lastImg = img(col("k"), col("v"),
      when(col("k") % 4 === 0, amt0 + 5000).otherwise(amt0),
      when(col("k") % 4 === 0, lit("paid")).otherwise(st0))
    val deletes = base.filter(col("k") % 11 === 0).select(
      (col("k").cast("long") * 10 + 3).as("pos"), lit("d").as("op"),
      lastImg.as("before"), nullImg.as("after"))
    val truncates = base.agg(max(col("k").cast("long")).as("mk"))
      .select(
        expr("(mk * 10) div 3").as("pos"), lit("t").as("op"),
        nullImg.as("before"), nullImg.as("after"))
    inserts.unionByName(updates).unionByName(deletes).unionByName(truncates)
      .withColumn("ts_ms", lit(1700000000000L) + col("pos"))
  }

  /** [[synthetic]] re-emitted as WIRE-FORMAT envelope JSON with one
    * mid-stream DDL event — the fixture for schema-change application
    * ([[SchemaEvolution]]). Deterministic like [[synthetic]] so the DuckDB
    * oracle recomputes the widened snapshot relationally.
    *
    * Producer-upgrade model: the DDL `ALTER TABLE invoice ADD COLUMN
    * region VARCHAR(16)` lands at pos H = (max(k)*10) div 2; envelopes
    * with pos > H carry `region = 'r' || (k % 3)` in their after-image,
    * envelopes at-or-before H predate the column (to_json drops null
    * fields, so their JSON genuinely lacks the key — the old wire shape,
    * not a null-valued field). The evolved snapshot therefore shows
    * region for keys whose LAST surviving event is post-DDL and null for
    * rows never rewritten since — MySQL's nullable-ADD-COLUMN backfill.
    *
    * One JSON-serialization pass over the same narrow branches as
    * [[synthetic]]; the DDL row is a 1-row aggregate, unioned in.
    */
  // Wire-format scaffolding shared by the evolved/widened generators —
  // one definition of the envelope/truncate/DDL JSON shapes so the two
  // fixtures cannot drift apart.
  private def wireEnvelope(pos: org.apache.spark.sql.Column, op: String,
                           before: org.apache.spark.sql.Column,
                           after: org.apache.spark.sql.Column,
                           table: org.apache.spark.sql.Column = lit("invoice")) =
    to_json(struct(struct(
      before.as("before"), after.as("after"),
      struct((lit(1700000000000L) + pos).as("ts_ms"), pos.as("pos"),
        lit("dev").as("db"), table.as("table")).as("source"),
      lit(op).as("op"), (lit(1700000000000L) + pos).as("ts_ms")).as("payload")))

  /** One truncate envelope at pos = (max(k)·10) div 4. */
  private def wireTruncate(base: DataFrame,
                           table: org.apache.spark.sql.Column = lit("invoice")): DataFrame =
    base.agg(max(col("k").cast("long")).as("mk"))
      .select(expr("(mk * 10) div 4").as("pos"))
      .select(to_json(struct(struct(
        struct((lit(1700000000000L) + col("pos")).as("ts_ms"), col("pos").as("pos"),
          lit("dev").as("db"), table.as("table")).as("source"),
        lit("t").as("op"),
        (lit(1700000000000L) + col("pos")).as("ts_ms")).as("payload"))).as("value"))

  /** One schema-change envelope carrying `ddl` at the `hp` position. */
  private def wireDdl(hp: DataFrame, ddl: String): DataFrame =
    hp.select(to_json(struct(struct(
      struct((lit(1700000000000L) + col("hp")).as("ts_ms"),
        col("hp").as("pos")).as("source"),
      (lit(1700000000000L) + col("hp")).as("ts_ms"),
      lit("dev").as("databaseName"),
      lit(ddl).as("ddl")).as("payload"))).as("value"))

  def syntheticEvolvedJson(spark: SparkSession, sfDir: String): DataFrame = {
    val base = graft.Tables.orders(spark, sfDir)
      .select(
        col("o_orderkey").cast("int").as("k"),
        (col("o_custkey") % 100000).cast("int").as("v"))
    val hp = base.agg(expr("(max(cast(k as bigint)) * 10) div 2").as("hp"))

    def img(id: org.apache.spark.sql.Column, inv: org.apache.spark.sql.Column,
            pos: org.apache.spark.sql.Column) =
      struct(id.as("order_id"), inv.as("invoice_number"),
        when(pos > col("hp"), concat(lit("r"), (col("k") % 3).cast("string")))
          .otherwise(lit(null).cast("string")).as("region"))
    val evolvedNull = lit(null).cast(org.apache.spark.sql.types.StructType(
      CdcSchema.invoiceType.fields :+ org.apache.spark.sql.types.StructField(
        "region", org.apache.spark.sql.types.StringType)))
    val withH = base.crossJoin(broadcast(hp))
    def posC(o: Int) = col("k").cast("long") * 10 + o
    val inserts = withH.select(
      wireEnvelope(posC(1), "c", evolvedNull, img(col("k"), col("v"), posC(1))).as("value"))
    val updates1 = withH.filter(col("k") % 3 === 0).select(
      wireEnvelope(posC(2), "u", img(col("k"), col("v"), posC(1)),
        img(col("k"), col("v") + 1000, posC(2))).as("value"))
    val updates2 = withH.filter(col("k") % 9 === 0).select(
      wireEnvelope(posC(3), "u", img(col("k"), col("v") + 1000, posC(2)),
        img(col("k"), col("v") + 2000, posC(3))).as("value"))
    val lastInv = when(col("k") % 9 === 0, col("v") + 2000)
      .when(col("k") % 3 === 0, col("v") + 1000)
      .otherwise(col("v"))
    val deletes = withH.filter(col("k") % 7 === 0).select(
      wireEnvelope(posC(4), "d", img(col("k"), lastInv, posC(4)), evolvedNull).as("value"))

    inserts.unionByName(updates1).unionByName(updates2)
      .unionByName(deletes).unionByName(wireTruncate(base))
      .unionByName(wireDdl(hp,
        "ALTER TABLE invoice ADD COLUMN region VARCHAR(16)"))
  }

  /** Wire-format JSON changelog over TWO tables (`alpha` = even keys,
    * `beta` = odd) with a mid-stream `ALTER TABLE alpha ADD COLUMN` at
    * the midpoint position and an alpha-only truncate at the quarter
    * position: the per-table evolution fixture. Alpha events after the
    * DDL carry `region`; beta events NEVER carry it (their image struct
    * has no such field — `to_json` emits what a non-evolved producer
    * physically emits), so a fold that let alpha's DDL evolve beta's
    * spec would be visibly wrong, not silently compatible.
    */
  def syntheticMultitableEvolvedJson(spark: SparkSession, sfDir: String): DataFrame = {
    val base = graft.Tables.orders(spark, sfDir)
      .select(
        col("o_orderkey").cast("int").as("k"),
        (col("o_custkey") % 100000).cast("int").as("v"))
    val hp = base.agg(expr("(max(cast(k as bigint)) * 10) div 2").as("hp"))
    val tbl = when(col("k") % 2 === 0, "alpha").otherwise("beta")

    val evolvedType = org.apache.spark.sql.types.StructType(
      CdcSchema.invoiceType.fields :+ org.apache.spark.sql.types.StructField(
        "region", org.apache.spark.sql.types.StringType))
    // alpha images carry region post-DDL; beta images are the BASE struct
    def imgA(inv: org.apache.spark.sql.Column, pos: org.apache.spark.sql.Column) =
      struct(col("k").as("order_id"), inv.as("invoice_number"),
        when(pos > col("hp"), concat(lit("r"), (col("k") % 3).cast("string")))
          .otherwise(lit(null).cast("string")).as("region"))
    def imgB(inv: org.apache.spark.sql.Column) =
      struct(col("k").as("order_id"), inv.as("invoice_number"))
    val nullA = lit(null).cast(evolvedType)
    val nullB = lit(null).cast(CdcSchema.invoiceType)

    val withH = base.crossJoin(broadcast(hp))
    val alpha = withH.filter(col("k") % 2 === 0)
    val beta = withH.filter(col("k") % 2 =!= 0)
    def posC(o: Int) = col("k").cast("long") * 10 + o
    val lastInv = when(col("k") % 3 === 0, col("v") + 1000).otherwise(col("v"))

    val events =
      alpha.select(wireEnvelope(posC(1), "c", nullA,
          imgA(col("v"), posC(1)), tbl).as("value"))
        .unionByName(alpha.filter(col("k") % 3 === 0).select(
          wireEnvelope(posC(2), "u", imgA(col("v"), posC(1)),
            imgA(col("v") + 1000, posC(2)), tbl).as("value")))
        .unionByName(alpha.filter(col("k") % 7 === 0).select(
          wireEnvelope(posC(4), "d", imgA(lastInv, posC(4)), nullA, tbl).as("value")))
        .unionByName(beta.select(
          wireEnvelope(posC(1), "c", nullB, imgB(col("v")), tbl).as("value")))
        .unionByName(beta.filter(col("k") % 3 === 0).select(
          wireEnvelope(posC(2), "u", imgB(col("v")),
            imgB(col("v") + 1000), tbl).as("value")))
        .unionByName(beta.filter(col("k") % 7 === 0).select(
          wireEnvelope(posC(4), "d", imgB(lastInv), nullB, tbl).as("value")))
    events
      .unionByName(wireTruncate(base, lit("alpha")))
      .unionByName(wireDdl(hp, "ALTER TABLE alpha ADD COLUMN region VARCHAR(16)"))
  }

  /** Wire-format JSON changelog with a mid-stream widening
    * `MODIFY COLUMN invoice_number BIGINT` at the midpoint position:
    * events AFTER the DDL carry values past int32 range (+4e9), events
    * before stay narrow — the type-widening companion to
    * [[syntheticEvolvedJson]]. Same orders-derived pos/op scheme, so
    * the oracle recomputes the widened snapshot relationally.
    */
  def syntheticWidenedJson(spark: SparkSession, sfDir: String): DataFrame = {
    val base = graft.Tables.orders(spark, sfDir)
      .select(
        col("o_orderkey").cast("int").as("k"),
        (col("o_custkey") % 100000).cast("int").as("v"))
    val hp = base.agg(expr("(max(cast(k as bigint)) * 10) div 2").as("hp"))

    // value scheme: base bump (+1000 first update, +2000 second) plus the
    // post-DDL wide offset — only positions past the DDL may exceed int32
    def inv(bump: Long, pos: org.apache.spark.sql.Column) =
      (col("v").cast("long") + bump +
        when(pos > col("hp"), lit(4000000000L)).otherwise(lit(0L))).as("invoice_number")
    def img(bump: Long, pos: org.apache.spark.sql.Column) =
      struct(col("k").as("order_id"), inv(bump, pos))
    val nullImg = lit(null).cast(org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("order_id",
        org.apache.spark.sql.types.IntegerType),
      org.apache.spark.sql.types.StructField("invoice_number",
        org.apache.spark.sql.types.LongType))))

    val withH = base.crossJoin(broadcast(hp))
    def posC(o: Int) = col("k").cast("long") * 10 + o
    val inserts = withH.select(
      wireEnvelope(posC(1), "c", nullImg, img(0, posC(1))).as("value"))
    val updates1 = withH.filter(col("k") % 3 === 0).select(
      wireEnvelope(posC(2), "u", img(0, posC(1)), img(1000, posC(2))).as("value"))
    val updates2 = withH.filter(col("k") % 9 === 0).select(
      wireEnvelope(posC(3), "u", img(1000, posC(2)), img(2000, posC(3))).as("value"))
    // before-image of the delete carries the value AS WRITTEN at its last
    // write position (not re-evaluated at the delete's own pos)
    val lastBump = when(col("k") % 9 === 0, lit(2000L))
      .when(col("k") % 3 === 0, lit(1000L)).otherwise(lit(0L))
    val lastPos = when(col("k") % 9 === 0, posC(3))
      .when(col("k") % 3 === 0, posC(2)).otherwise(posC(1))
    val deletes = withH.filter(col("k") % 7 === 0).select(
      wireEnvelope(posC(4), "d",
        struct(col("k").as("order_id"),
          (col("v").cast("long") + lastBump +
            when(lastPos > col("hp"), lit(4000000000L)).otherwise(lit(0L)))
            .as("invoice_number")),
        nullImg).as("value"))

    inserts.unionByName(updates1).unionByName(updates2)
      .unionByName(deletes).unionByName(wireTruncate(base))
      .unionByName(wireDdl(hp,
        "ALTER TABLE invoice MODIFY COLUMN invoice_number BIGINT"))
  }

  /** Wire-format JSON changelog exercising FULL column DDL
    * ([[SchemaEvolution.evolveFull]]): the table starts as
    * (order_id, invoice_number, memo), a `DROP COLUMN memo` lands at the
    * one-third position and a `RENAME COLUMN invoice_number TO
    * invoice_no` at two-thirds. Every event's images are emitted in the
    * shape the table had AT THAT POS — pre-drop events carry `memo`,
    * post-rename events carry `invoice_no` and no `invoice_number` — so
    * a single-schema parse physically cannot fold this stream: the
    * epoch-sliced ingress must carry `invoice_number` values across the
    * rename boundary by logical identity and retire `memo` everywhere.
    * Data events mirror [[synthetic]]'s pos/op scheme exactly, so the
    * oracle is [[oracleEventsCte]] with the output column renamed.
    */
  def syntheticRenamedJson(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.types._
    val base = graft.Tables.orders(spark, sfDir)
      .select(
        col("o_orderkey").cast("int").as("k"),
        (col("o_custkey") % 100000).cast("int").as("v"))
    val hps = base.agg(
      expr("(max(cast(k as bigint)) * 10) div 3").as("hp1"),
      expr("(max(cast(k as bigint)) * 10 * 2) div 3").as("hp2"))
    val withH = base.crossJoin(broadcast(hps))

    val type0 = StructType(CdcSchema.invoiceType.fields :+
      StructField("memo", StringType))
    val type2 = StructType(Seq(
      StructField("order_id", IntegerType), StructField("invoice_no", IntegerType)))
    type C = org.apache.spark.sql.Column
    // image builders + null literals per epoch shape (0: with memo,
    // 1: base, 2: renamed)
    val imgs: Seq[C => C] = Seq(
      inv => struct(col("k").as("order_id"), inv.as("invoice_number"),
        concat(lit("m"), (col("k") % 5).cast("string")).as("memo")),
      inv => struct(col("k").as("order_id"), inv.as("invoice_number")),
      inv => struct(col("k").as("order_id"), inv.as("invoice_no")))
    val nulls: Seq[C] = Seq(lit(null).cast(type0),
      lit(null).cast(CdcSchema.invoiceType), lit(null).cast(type2))

    def posC(o: Int) = col("k").cast("long") * 10 + o
    // one family of events in all three epoch shapes, sliced by pos
    def sliced(rows: DataFrame, posO: Int, op: String,
               befV: Option[C], aftV: Option[C]): Seq[DataFrame] = {
      val p = posC(posO)
      Seq(p <= col("hp1"),
        p > col("hp1") && p <= col("hp2"),
        p > col("hp2")).zipWithIndex.map { case (cond, i) =>
        rows.filter(cond).select(wireEnvelope(p, op,
          befV.map(imgs(i)).getOrElse(nulls(i)),
          aftV.map(imgs(i)).getOrElse(nulls(i))).as("value"))
      }
    }
    val lastInv = when(col("k") % 9 === 0, col("v") + 2000)
      .when(col("k") % 3 === 0, col("v") + 1000)
      .otherwise(col("v"))
    val families =
      sliced(withH, 1, "c", None, Some(col("v"))) ++
        sliced(withH.filter(col("k") % 3 === 0), 2, "u",
          Some(col("v")), Some(col("v") + 1000)) ++
        sliced(withH.filter(col("k") % 9 === 0), 3, "u",
          Some(col("v") + 1000), Some(col("v") + 2000)) ++
        sliced(withH.filter(col("k") % 7 === 0), 4, "d",
          Some(lastInv), None)
    families.reduce(_ unionByName _)
      .unionByName(wireTruncate(base))
      .unionByName(wireDdl(hps.select(col("hp1").as("hp")),
        "ALTER TABLE invoice DROP COLUMN memo"))
      .unionByName(wireDdl(hps.select(col("hp2").as("hp")),
        "ALTER TABLE invoice RENAME COLUMN invoice_number TO invoice_no"))
  }

  /** [[synthetic]] as a shared materialization: the `cdc_*` family all
    * fold over the same deterministic changelog, so the generator runs
    * once per (session, sfDir) and every query reads the checkpointed
    * blocks — the changelog is pipeline state, not per-query scratch.
    */
  def syntheticShared(spark: SparkSession, sfDir: String): DataFrame =
    graft.Shared.materialize(spark, sfDir, "cdc_changelog")(synthetic(spark, sfDir))

  /** DuckDB SQL fragment recomputing [[synthetic]] flattened to
    * (pos, op, key, a_inv, is_del, is_trunc) — the shape the oracle queries
    * fold over. Kept here so every cdc_* oracle shares one definition.
    */
  val oracleEventsCte: String =
    """WITH base AS (
      |  SELECT CAST(o_orderkey AS INTEGER) AS k,
      |         CAST(o_custkey % 100000 AS INTEGER) AS v
      |  FROM orders
      |), ev AS (
      |  SELECT CAST(k AS BIGINT)*10+1 AS pos, 'c' AS op, k AS key, v AS a_inv,
      |         FALSE AS is_del, FALSE AS is_trunc FROM base
      |  UNION ALL
      |  SELECT CAST(k AS BIGINT)*10+2, 'u', k, v+1000, FALSE, FALSE FROM base WHERE k % 3 = 0
      |  UNION ALL
      |  SELECT CAST(k AS BIGINT)*10+3, 'u', k, v+2000, FALSE, FALSE FROM base WHERE k % 9 = 0
      |  UNION ALL
      |  SELECT CAST(k AS BIGINT)*10+4, 'd', k, NULL, TRUE, FALSE FROM base WHERE k % 7 = 0
      |  UNION ALL
      |  SELECT (CAST(MAX(k) AS BIGINT)*10)//4, 't', NULL, NULL, FALSE, TRUE FROM base
      |), hor AS (
      |  SELECT COALESCE(MAX(pos), -9223372036854775808) AS h FROM ev WHERE is_trunc
      |), live AS (
      |  SELECT ev.* FROM ev, hor WHERE ev.pos > hor.h AND NOT ev.is_trunc
      |)""".stripMargin
}
