package graft.cdc

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types._

/** Schema-change APPLICATION: evolve the table spec from captured DDL.
  *
  * The reference captures schema-change events (`include.schema.changes:
  * "true"`, `/root/reference/debezium-config-push.sh:20-21`) but never
  * consumes them — a mid-stream `ALTER TABLE … ADD COLUMN` would silently
  * desync its hard-coded column list (`main.py:52`). Here the captured
  * history DRIVES the fold: `ADD COLUMN` DDL is parsed into an evolved
  * [[CdcSchema.CdcTableSpec]] + image `StructType`, the whole changelog —
  * events from BEFORE and AFTER the DDL — is re-parsed once under the
  * evolved image schema (`from_json` null-fills the added columns on old
  * envelopes, exactly MySQL's ADD-COLUMN backfill semantics for a nullable
  * column without default), and the ordinary spec-parameterized fold
  * ([[CdcApply.snapshotFor]]) produces the widened snapshot. No new fold
  * code, no second pass over the data.
  *
  * Scale: the DDL history is collected to the driver before planning — a
  * deliberate BOUNDED collect (schema changes are human-initiated, O(10s)
  * of rows against billions of data events; same convention as the
  * truncate-horizon and manifest reads elsewhere in the engine). The data
  * path stays one parse + one keyed fold regardless of history length.
  *
  * Envelope validity under evolution: completeness is still gated on the
  * BASE spec's columns only. Added columns are nullable by construction
  * (MySQL `ADD COLUMN` without `NOT NULL`), so a null/absent value in any
  * event — pre- or post-DDL — is legitimate data, not a partial parse.
  *
  * Scope of the DEFAULT fold ([[evolve]], deliberate): ADD COLUMN and
  * widening MODIFY COLUMN (int → bigint; VARCHAR growth is a no-op at
  * the engine's string type), single-table ingress. EVERYTHING ELSE in
  * the captured history is INERT — DROP COLUMN, RENAME, CHANGE (these
  * three have an OPT-IN application path: [[evolveFull]] +
  * [[evolvedIngressFull]], which slice the stream into schema epochs at
  * DDL positions and track columns by logical identity so renames carry
  * values across the boundary and drops retire them for all rows — see
  * the full-DDL section below), a MODIFY that does not widen (the replica's type lattice only moves UP: a column that
  * ever held longs keeps representing every future int exactly, so
  * ignoring an upstream narrowing loses nothing), a MODIFY of a column
  * the image never tracked, and ADD/MODIFY with types outside the
  * engine's int32/int64/string carrier. Inertness here is an
  * OPERABILITY invariant, not laxity: the history is persisted before
  * it is folded (`CdcStream.runRouted` writes
  * `schemaHistoryDir` first), so a fold that THREW on an out-of-scope
  * statement would wedge the stream permanently — every restart
  * re-reads the same poison DDL. The full statement stays in the
  * history for audit; the spec simply does not move.
  *
  * Multi-table ingress (the reference's actual capture scope is the
  * whole `dev` database — `database.include.list=dev`,
  * `/root/reference/debezium-config-push.sh:16-17`): DDL is routed by
  * its parsed target table ([[targetTable]]) and evolves ONLY that
  * table's spec ([[evolveByTable]] / [[evolvedIngressByTable]]) — a
  * second table's `ALTER TABLE` cannot evolve the wrong spec. A
  * statement naming an uncaptured table, or one with no parseable
  * `ALTER TABLE` target, is inert under the same operability stance
  * as out-of-scope clauses.
  */
object SchemaEvolution {

  /** MySQL column type → Spark type, for the narrow set the envelope
    * carries (SURVEY §1.2: int32 / int64 / string); None for anything
    * outside the carrier — the clause is then inert (see the scope note).
    */
  private def sparkTypeOf(mysqlType: String): Option[DataType] =
    mysqlType.toUpperCase match {
      case "INT" | "INTEGER" | "SMALLINT" | "TINYINT" | "MEDIUMINT" => Some(IntegerType)
      case "BIGINT" => Some(LongType)
      case "VARCHAR" | "CHAR" | "TEXT" | "TINYTEXT" | "MEDIUMTEXT" | "LONGTEXT" => Some(StringType)
      case _ => None
    }

  private val AlterTableRe =
    """(?i)ALTER\s+TABLE\s+(?:`?(\w+)`?\s*\.\s*)?`?(\w+)`?""".r

  /** Target table of an `ALTER TABLE` statement — database qualifier and
    * backticks stripped, lower-cased (MySQL table identifiers compare
    * case-insensitively on the default collations); None when the
    * statement has no parseable target (CREATE/DROP INDEX etc.).
    */
  def targetTable(ddl: String): Option[String] =
    Option(ddl).flatMap(AlterTableRe.findFirstMatchIn(_))
      .map(_.group(2).toLowerCase)

  private val AddColRe =
    """(?i)ADD\s+(?:COLUMN\s+)?`?(\w+)`?\s+([A-Za-z]+)(?:\s*\(\s*\d+\s*\))?""".r

  private val ModifyColRe =
    """(?i)MODIFY\s+(?:COLUMN\s+)?`?(\w+)`?\s+([A-Za-z]+)(?:\s*\(\s*\d+\s*\))?""".r

  /** Columns added by one DDL statement; empty for any non-ADD-COLUMN DDL
    * (CREATE TABLE, DROP INDEX, … are captured history too — they don't
    * widen the image) and for ADDs of out-of-carrier types (inert).
    * Multiple `ADD COLUMN` clauses in one statement all apply, in clause
    * order.
    */
  def addedColumns(ddl: String): Seq[StructField] =
    if (ddl == null) Seq.empty
    else AddColRe.findAllMatchIn(ddl).flatMap { m =>
      sparkTypeOf(m.group(2)).map(t => StructField(m.group(1), t, nullable = true))
    }.toSeq

  /** Columns re-typed by one DDL statement (`MODIFY [COLUMN] name TYPE`);
    * out-of-carrier types are inert. `CHANGE` (rename + retype) stays
    * inert like RENAME — the safe rename is ADD + backfill.
    */
  def modifiedColumns(ddl: String): Seq[StructField] =
    if (ddl == null) Seq.empty
    else ModifyColRe.findAllMatchIn(ddl).flatMap { m =>
      sparkTypeOf(m.group(2)).map(t => StructField(m.group(1), t, nullable = true))
    }.toSeq

  /** true iff `to` can represent every value of `from` (the replica may
    * only ever widen).
    */
  private def widens(from: DataType, to: DataType): Boolean = (from, to) match {
    case (a, b) if a == b => true // VARCHAR(16)→VARCHAR(64) lands here
    case (IntegerType, LongType) => true
    case _ => false
  }

  /** Fold a pos-ordered DDL history into the evolved (spec, imageType).
    * Idempotent per column: a replayed or duplicated ADD of an existing
    * column is a no-op (so at-least-once re-processing cannot
    * double-append), and a replayed widening MODIFY finds the column
    * already wide. A MODIFY that does not widen — narrowing, unknown
    * column, out-of-carrier type — is INERT (see the scope note above:
    * the wide replica type already represents every future value, and
    * throwing on persisted history would wedge the stream).
    */
  def evolve(spec: CdcSchema.CdcTableSpec, imageType: StructType,
             ddls: Seq[String]): (CdcSchema.CdcTableSpec, StructType) =
    ddls.foldLeft((spec, imageType)) { case ((sp0, ty0), ddl) =>
      val added = addedColumns(ddl).foldLeft((sp0, ty0)) {
        case ((sp, ty), f) if !ty.fieldNames.contains(f.name) =>
          (sp.copy(valueCols = sp.valueCols :+ f.name), StructType(ty.fields :+ f))
        case (acc, _) => acc
      }
      modifiedColumns(ddl).foldLeft(added) { case ((sp, ty), f) =>
        val i = ty.fieldNames.indexOf(f.name)
        if (i >= 0 && ty.fields(i).dataType != f.dataType &&
            widens(ty.fields(i).dataType, f.dataType))
          (sp, StructType(ty.fields.updated(i, ty.fields(i).copy(dataType = f.dataType))))
        else (sp, ty) // replay, VARCHAR growth, narrowing, unknown: inert
      }
    }

  // ------------------------------------------------------------------
  // FULL-DDL mode (opt-in): DROP / RENAME / CHANGE COLUMN applied via
  // epoch-sliced parse
  // ------------------------------------------------------------------

  private val RenameColRe =
    """(?i)RENAME\s+COLUMN\s+`?(\w+)`?\s+TO\s+`?(\w+)`?""".r

  private val ChangeColRe =
    """(?i)CHANGE\s+(?:COLUMN\s+)?`?(\w+)`?\s+`?(\w+)`?\s+([A-Za-z]+)(?:\s*\(\s*\d+\s*\))?""".r

  // the lookahead keeps DROP PRIMARY KEY / DROP INDEX / DROP FOREIGN KEY /
  // DROP CONSTRAINT / DROP PARTITION / DROP CHECK / DROP DEFAULT (the
  // `ALTER COLUMN x DROP DEFAULT` form — not a column drop) from reading
  // as columns; `IF EXISTS` (MariaDB) is consumed so the real column name
  // is captured, not `IF`
  private val DropColRe =
    """(?i)DROP\s+(?:COLUMN\s+)?(?:IF\s+EXISTS\s+)?(?!(?:PRIMARY|FOREIGN|INDEX|KEY|CONSTRAINT|PARTITION|CHECK|DEFAULT)\b)`?(\w+)`?""".r

  /** `RENAME COLUMN a TO b` clauses as (old, new) pairs. */
  def renamedColumns(ddl: String): Seq[(String, String)] =
    if (ddl == null) Seq.empty
    else RenameColRe.findAllMatchIn(ddl).map(m => (m.group(1), m.group(2))).toSeq

  /** `CHANGE [COLUMN] old new TYPE` clauses as (old, new, type); an
    * out-of-carrier type keeps the rename but leaves the type untouched
    * (the lattice still only moves up).
    */
  def changedColumns(ddl: String): Seq[(String, String, Option[DataType])] =
    if (ddl == null) Seq.empty
    else ChangeColRe.findAllMatchIn(ddl)
      .map(m => (m.group(1), m.group(2), sparkTypeOf(m.group(3)))).toSeq

  /** `DROP [COLUMN] c` clauses (constraint/index forms excluded). */
  def droppedColumns(ddl: String): Seq[String] =
    if (ddl == null) Seq.empty
    else DropColRe.findAllMatchIn(ddl).map(_.group(1)).toSeq

  /** One pos-range of the stream sharing a single table schema, produced
    * by [[evolveFull]]: events with `fromPos < pos <= toPos` parse under
    * `imageType` (the columns as THEY WERE NAMED then), gate validity on
    * `gateSpec` (the base-required columns still alive in this epoch,
    * under their epoch names), and normalize into the final schema via
    * `colMap` (final column name → this epoch's name for the same
    * LOGICAL column; absent = the logical column does not exist in this
    * epoch — e.g. not yet added, or a re-add after a drop whose earlier
    * namesake must NOT resurface).
    */
  final case class Epoch(fromPos: Long, toPos: Long, imageType: StructType,
                         gateSpec: CdcSchema.CdcTableSpec,
                         colMap: Map[String, String])

  private final case class ColSt(id: Int, name: String, dt: DataType)

  /** One DDL statement applied to the identity-tracked column vector —
    * the single fold step under [[evolveFull]] and [[identityRemapAt]]
    * (both must agree on identity assignment, so there is exactly one
    * implementation).
    */
  private def applyFullDdl(keyId: Int)(cols: Vector[ColSt], nextId: Int,
                                       ddl: String): (Vector[ColSt], Int) = {
    var cs = cols; var nid = nextId
    addedColumns(ddl).foreach { f =>
      if (!cs.exists(_.name == f.name)) { cs = cs :+ ColSt(nid, f.name, f.dataType); nid += 1 }
    }
    modifiedColumns(ddl).foreach { f =>
      cs = cs.map(c => if (c.name == f.name && widens(c.dt, f.dataType))
        c.copy(dt = f.dataType) else c)
    }
    (renamedColumns(ddl) ++ changedColumns(ddl).map(c => (c._1, c._2))).foreach {
      case (from, to) =>
        if (cs.exists(_.name == from) && !cs.exists(_.name == to))
          cs = cs.map(c => if (c.name == from) c.copy(name = to) else c)
    }
    changedColumns(ddl).foreach { case (_, to, t) =>
      t.foreach(dt => cs = cs.map(c =>
        if (c.name == to && widens(c.dt, dt)) c.copy(dt = dt) else c))
    }
    droppedColumns(ddl).foreach { d =>
      cs = cs.filterNot(c => c.name == d && c.id != keyId) // key drop inert
    }
    (cs, nid)
  }

  private def baseColsOf(imageType: StructType): Vector[ColSt] =
    imageType.fields.zipWithIndex
      .map { case (f, i) => ColSt(i, f.name, f.dataType) }.toVector

  /** Identity remap between the FULL history's final schema and its
    * prefix at `watermark` (statements with pos ≤ watermark applied):
    * final column name → the SAME logical column's name at the
    * watermark, None when the identity did not exist then (added — or
    * re-added after a drop — later; state written at the watermark must
    * null-fill it, never resurrect a dropped namesake). Identity
    * assignment is deterministic in pos order, so the prefix fold sees
    * exactly the ids the full fold assigned to those statements — this
    * is what lets a bucket-state version dir stamped with its history
    * watermark ([[graft.streaming.CdcStream.runRouted]]) be
    * read back under ANY later schema.
    */
  def identityRemapAt(spec: CdcSchema.CdcTableSpec, imageType: StructType,
                      ddls: Seq[(Long, String)], watermark: Long)
      : Map[String, Option[String]] = {
    val base = baseColsOf(imageType)
    val keyId = base(imageType.fieldNames.indexOf(spec.key)).id
    val step = applyFullDdl(keyId) _
    def fold(stmts: Seq[(Long, String)]): Vector[ColSt] =
      stmts.sortBy(_._1).foldLeft((base, base.length)) {
        case ((cs, nid), (_, ddl)) => step(cs, nid, ddl)
      }._1
    val atW = fold(ddls.filter(_._1 <= watermark))
    val atWById = atW.map(c => c.id -> c.name).toMap
    fold(ddls).map(c => c.name -> atWById.get(c.id)).toMap
  }

  /** Fold a pos-ordered DDL history with FULL column DDL applied — the
    * opt-in companion to [[evolve]] for deployments that want DROP /
    * RENAME / CHANGE reflected in the replica rather than held inert.
    *
    * Columns are tracked by LOGICAL IDENTITY, not name: RENAME (and the
    * rename half of CHANGE) keeps the column's identity under a new
    * name; DROP ends the identity (MySQL semantics: the data is gone for
    * ALL rows, instantly); a later ADD of the same name is a FRESH
    * column — pre-drop values must not resurface, which is exactly what
    * the per-epoch `colMap` encodes (the old epochs simply have no
    * mapping into the re-added column). The type lattice still only
    * moves up (a CHANGE that narrows keeps the wide type); dropping or
    * type-narrowing the KEY column is inert — a keyed replica cannot
    * lose its key mid-stream, and the statement stays in the audit
    * history like every other inert clause.
    *
    * Returns the final (spec, imageType) plus the epoch list for the
    * sliced parse ([[Changelog.fromEnvelopeJsonEpochs]]); adjacent
    * epochs an inert statement failed to distinguish are merged, so the
    * epoch count is O(effective schema changes).
    */
  def evolveFull(spec: CdcSchema.CdcTableSpec, imageType: StructType,
                 ddls: Seq[(Long, String)])
      : (CdcSchema.CdcTableSpec, StructType, Seq[Epoch]) = {
    val baseCols = baseColsOf(imageType)
    val keyId = baseCols(imageType.fieldNames.indexOf(spec.key)).id
    val requiredIds = spec.allCols.map(c =>
      baseCols(imageType.fieldNames.indexOf(c)).id).toSet
    val applyDdl = applyFullDdl(keyId) _

    // fold: collect (epochUpperBound, colsInEffectUpTo) snapshots
    val sorted = ddls.sortBy(_._1)
    val (snaps, finalCols, _) =
      sorted.foldLeft((Vector.empty[(Long, Vector[ColSt])], baseCols, baseCols.length)) {
        case ((acc, cols, nid), (pos, ddl)) =>
          val (ncols, nnid) = applyDdl(cols, nid, ddl)
          (acc :+ (pos, cols), ncols, nnid)
      }

    val finalType = StructType(finalCols.map(c => StructField(c.name, c.dt, nullable = true)))
    val finalKeyName = finalCols.find(_.id == keyId).get.name
    val finalSpec = CdcSchema.CdcTableSpec(finalKeyName,
      finalCols.filterNot(_.id == keyId).map(_.name))
    val finalById = finalCols.map(c => c.id -> c.name).toMap

    def epochOf(from: Long, to: Long, cols: Vector[ColSt]): Epoch = {
      // epoch columns take the FINAL (widest) type their identity ever
      // reaches — from_json upcasts narrow wire values exactly, the same
      // one-parse widening the MODIFY path relies on
      val ty = StructType(cols.map(c => StructField(c.name,
        finalCols.find(_.id == c.id).map(_.dt).getOrElse(c.dt), nullable = true)))
      val aliveRequired = cols.filter(c => requiredIds.contains(c.id))
      val gate = CdcSchema.CdcTableSpec(
        cols.find(_.id == keyId).get.name,
        aliveRequired.filterNot(_.id == keyId).map(_.name))
      Epoch(from, to,
        ty, gate,
        cols.flatMap(c => finalById.get(c.id).map(_ -> c.name)).toMap)
    }

    val bounds = snaps.map(_._1)
    val raw = (snaps :+ (Long.MaxValue, finalCols)).zipWithIndex.map {
      case ((to, cols), i) =>
        epochOf(if (i == 0) Long.MinValue else bounds(i - 1), to, cols)
    }
    // merge adjacent epochs an inert statement failed to distinguish
    val merged = raw.foldLeft(Vector.empty[Epoch]) { (acc, e) =>
      acc.lastOption match {
        case Some(p) if p.imageType == e.imageType && p.gateSpec == e.gateSpec &&
            p.colMap == e.colMap =>
          acc.init :+ p.copy(toPos = e.toPos)
        case _ => acc :+ e
      }
    }
    (finalSpec, finalType, merged)
  }

  /** Full-DDL evolved ingress: route the schema history, fold it with
    * [[evolveFull]], and parse the stream ONCE with the epoch-sliced
    * dispatch — each event under the schema its pos lived in, normalized
    * to the final shape. Opt-in counterpart of [[evolvedIngress]]; same
    * bounded driver-side history read, same `stage` hook.
    */
  def evolvedIngressFull(raw: DataFrame, spec: CdcSchema.CdcTableSpec,
                         imageType: StructType, valueCol: String = "value",
                         stage: (String, DataFrame) => DataFrame = (_, df) => df)
      : (CdcSchema.CdcTableSpec, StructType, DataFrame) = {
    // bounded driver-side read: O(schema changes), never O(events)
    val ddls = stage("hist", Changelog.schemaHistory(raw, valueCol))
      .orderBy("pos").select("pos", "ddl").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    val (espec, etype, epochs) = evolveFull(spec, imageType, ddls)
    (espec, etype,
      stage("log", Changelog.fromEnvelopeJsonEpochs(raw, epochs, etype, valueCol)))
  }

  /** [[snapshotEvolved]] with full column DDL applied. */
  def snapshotEvolvedFull(raw: DataFrame,
                          spec: CdcSchema.CdcTableSpec = CdcSchema.invoiceSpec,
                          imageType: StructType = CdcSchema.invoiceType,
                          valueCol: String = "value"): DataFrame = {
    val (espec, _, log) = evolvedIngressFull(raw, spec, imageType, valueCol)
    CdcApply.snapshotFor(log, espec)
  }

  /** Per-table evolution over a DDL history from a WHOLE-DATABASE capture:
    * each statement evolves only the spec of its parsed target table.
    * `specs` maps lower-cased table name → (base spec, base image type);
    * statements targeting uncaptured tables are inert. Same fold, same
    * idempotence, same lattice-only-up rules as [[evolve]] — routing is
    * the only addition.
    */
  def evolveByTable(specs: Map[String, (CdcSchema.CdcTableSpec, StructType)],
                    ddls: Seq[String])
      : Map[String, (CdcSchema.CdcTableSpec, StructType)] =
    ddls.foldLeft(specs) { (acc, ddl) =>
      targetTable(ddl).filter(acc.contains) match {
        case Some(t) =>
          val (sp, ty) = acc(t)
          acc.updated(t, evolve(sp, ty, Seq(ddl)))
        case None => acc // uncaptured table / no ALTER TABLE target: inert
      }
    }

  /** Union of several image types by field NAME, for the single shared
    * parse of a multi-table stream: a field present in any table's image
    * appears once; a name carried at both int and long resolves to long
    * (the only widening in the carrier — a table whose events stay narrow
    * parses exactly under the wide type, the same upcast the evolved
    * single-table parse relies on). Field order: first appearance, so
    * the shared base columns stay in base order.
    *
    * A same-name field at IRRECONCILABLE types (e.g. string vs int —
    * neither direction widens) THROWS rather than silently keeping the
    * first-seen type: under a silent resolution the losing table's
    * envelopes would fail `from_json`/the per-table gate and vanish from
    * the fold with no error. The conflict is structural — one shared
    * parse cannot carry both types — so it must surface at ingress
    * setup, where the operator can split those tables onto separate
    * ingresses, not as invisible data loss downstream.
    */
  def mergedImageType(types: Seq[StructType]): StructType =
    types.foldLeft(StructType(Nil)) { (acc, ty) =>
      ty.fields.foldLeft(acc) { (a, f) =>
        a.fieldNames.indexOf(f.name) match {
          case -1 => StructType(a.fields :+ f)
          case i if a.fields(i).dataType != f.dataType &&
              widens(a.fields(i).dataType, f.dataType) =>
            StructType(a.fields.updated(i, a.fields(i).copy(dataType = f.dataType)))
          case i if a.fields(i).dataType != f.dataType &&
              !widens(f.dataType, a.fields(i).dataType) =>
            throw new IllegalArgumentException(
              s"column '${f.name}' is carried at irreconcilable types " +
                s"${a.fields(i).dataType.simpleString} and ${f.dataType.simpleString} " +
                "by different captured tables: one shared parse cannot represent " +
                "both — ingest these tables on separate (per-table) ingresses")
          case _ => a
        }
      }
    }

  /** Multi-table evolved ingress: route the schema history, evolve each
    * captured table's spec from ITS OWN statements, and parse the stream
    * ONCE under the merged evolved image type (each table's events
    * null-fill the other tables' columns — to_json drops null fields on
    * the wire, so this is also what a heterogeneous topic physically
    * looks like). Validity stays gated per table on that table's BASE
    * spec. Returns the evolved spec map (for per-table sinks — e.g.
    * `JdbcSink.ensureTable` per table), the merged type, and the
    * normalized changelog with `db`/`table` routing columns
    * (fold with `CdcApply.snapshotByTableFor`).
    */
  def evolvedIngressByTable(raw: DataFrame,
                            specs: Map[String, (CdcSchema.CdcTableSpec, StructType)],
                            valueCol: String = "value",
                            stage: (String, DataFrame) => DataFrame = (_, df) => df)
      : (Map[String, (CdcSchema.CdcTableSpec, StructType)], StructType, DataFrame) = {
    // bounded driver-side read: O(schema changes), never O(events)
    val ddls = stage("hist", Changelog.schemaHistory(raw, valueCol))
      .orderBy("pos").select("ddl").collect().map(_.getString(0)).toSeq
    val especs = evolveByTable(specs, ddls)
    val merged = mergedImageType(especs.valuesIterator.map(_._2).toSeq)
    (especs, merged,
      stage("log", Changelog.fromEnvelopeJsonMultiFor(
        raw, specs.map { case (t, (sp, _)) => t -> sp }, merged, valueCol)))
  }

  /** End-to-end evolved ingress: route the schema history out of the raw
    * envelope stream, evolve the spec, and re-parse the SAME stream under
    * the evolved image schema. Returns the evolved spec + type alongside
    * the normalized changelog so callers can fold, project, or DDL further
    * downstream sinks (e.g. `JdbcSink.ensureTable` with the widened type).
    *
    * `stage` wraps the two ingest-time frames (the routed DDL history and
    * the parsed changelog) so a caller can pin them — e.g.
    * `graft.Shared.materialize` in the query registry, where the parse
    * must not be re-paid per fold. Identity by default.
    */
  def evolvedIngress(raw: DataFrame, spec: CdcSchema.CdcTableSpec,
                     imageType: StructType, valueCol: String = "value",
                     stage: (String, DataFrame) => DataFrame = (_, df) => df)
      : (CdcSchema.CdcTableSpec, StructType, DataFrame) = {
    // bounded driver-side read: O(schema changes), never O(events)
    val ddls = stage("hist", Changelog.schemaHistory(raw, valueCol))
      .orderBy("pos").select("ddl").collect().map(_.getString(0)).toSeq
    val (espec, etype) = evolve(spec, imageType, ddls)
    // validity stays gated on the BASE spec (added cols are nullable);
    // the parse schema is the EVOLVED type (old events null-fill)
    (espec, etype,
      stage("log", Changelog.fromEnvelopeJsonFor(raw, spec, etype, valueCol)))
  }

  /** Widened replica snapshot from a raw envelope stream containing data
    * events and DDL interleaved: the operator form of "the consumer keeps
    * up with ALTER TABLE" — the capability the reference's captured-but-
    * dropped schema topic was built for.
    */
  def snapshotEvolved(raw: DataFrame, spec: CdcSchema.CdcTableSpec = CdcSchema.invoiceSpec,
                      imageType: StructType = CdcSchema.invoiceType,
                      valueCol: String = "value"): DataFrame = {
    val (espec, _, log) = evolvedIngress(raw, spec, imageType, valueCol)
    CdcApply.snapshotFor(log, espec)
  }
}
