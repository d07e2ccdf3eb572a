package graft.cdc

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Wire-format forward/backward compatibility. The reference captures
  * schema-change events but never consumes them (SURVEY §1.3); our narrow
  * `from_json` parse must therefore tolerate envelope drift without code
  * changes: extra fields (producer upgraded first) are ignored, missing
  * optional fields (older producer) parse as null, and only the engine's
  * contract fields (payload.source.pos + images) decide validity.
  */
class SchemaEvolutionSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def parse(lines: Seq[String]) =
    Changelog.fromEnvelopeJson(
      spark.createDataset(lines)(org.apache.spark.sql.Encoders.STRING).toDF("value"))

  test("extra envelope fields from a newer producer are ignored") {
    val withExtras =
      """{"payload":{"before":null,
        |"after":{"order_id":1,"invoice_number":10,"new_col":"surprise"},
        |"source":{"ts_ms":1,"pos":7,"db":"dev","table":"invoice","sequence":"[null,\"123\"]","extra_source_field":42},
        |"op":"c","ts_ms":1,"transaction":{"id":"tx-9","total_order":1},
        |"brand_new_top_level":{"a":1}}}""".stripMargin.replace("\n", "")
    val rows = parse(Seq(withExtras)).collect()
    assert(rows.length === 1)
    assert(rows.head.getAs[Long]("pos") === 7L)
    assert(rows.head.getAs[org.apache.spark.sql.Row]("after")
      .getAs[Int]("order_id") === 1)
  }

  test("missing optional fields from an older producer parse as null") {
    val minimal =
      """{"payload":{"after":{"order_id":2,"invoice_number":20},"source":{"pos":8}}}"""
    val rows = parse(Seq(minimal)).collect()
    assert(rows.length === 1)
    val r = rows.head
    assert(r.getAs[Long]("pos") === 8L)
    assert(r.getAs[String]("op") === null)      // op absent — dispatch is by nullity anyway
    assert(r.getAs[java.lang.Long]("ts_ms") === null)
    assert(r.getAs[org.apache.spark.sql.Row]("before") === null)
  }

  test("snapshot semantics are unchanged under mixed producer versions") {
    val mixed = Seq(
      """{"payload":{"after":{"order_id":5,"invoice_number":50},"source":{"pos":1}}}""",
      """{"payload":{"before":{"order_id":5,"invoice_number":50},"after":{"order_id":5,"invoice_number":51,"extra":true},"source":{"ts_ms":2,"pos":2,"db":"dev","table":"invoice"},"op":"u","ts_ms":2,"future_field":1}}""")
    val snap = CdcApply.snapshot(parse(mixed)).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(snap.toSeq === Seq((5L, 51L)))
  }

  test("ADD COLUMN DDL parses to evolved spec + image type; non-ADD DDL is inert") {
    import org.apache.spark.sql.types._
    val fields = SchemaEvolution.addedColumns(
      "ALTER TABLE `invoice` ADD COLUMN `region` VARCHAR(16), ADD amount BIGINT, ADD n INT")
    assert(fields === Seq(
      StructField("region", StringType), StructField("amount", LongType),
      StructField("n", IntegerType)))
    assert(SchemaEvolution.addedColumns("CREATE TABLE invoice (order_id INT)") === Seq.empty)
    assert(SchemaEvolution.addedColumns("DROP INDEX idx ON invoice") === Seq.empty)
    assert(SchemaEvolution.addedColumns(null) === Seq.empty)
    // out-of-carrier type: inert, never a throw (the history is persisted
    // before it is folded — a poison DDL must not wedge the stream)
    assert(SchemaEvolution.addedColumns("ALTER TABLE t ADD COLUMN b BLOB") === Seq.empty)
    val (spec, ty) = SchemaEvolution.evolve(CdcSchema.invoiceSpec,
      CdcSchema.invoiceType,
      Seq("ALTER TABLE invoice ADD COLUMN region VARCHAR(16)",
        "ALTER TABLE invoice ADD COLUMN region VARCHAR(16)")) // replayed: idempotent
    assert(spec.valueCols === Seq("invoice_number", "region"))
    assert(ty.fieldNames.toSeq === Seq("order_id", "invoice_number", "region"))
  }

  test("MODIFY COLUMN widens int->bigint; non-widening MODIFY is inert") {
    import org.apache.spark.sql.types._
    // widen: the image type re-types in place, valueCols unchanged
    val (spec, ty) = SchemaEvolution.evolve(CdcSchema.invoiceSpec,
      CdcSchema.invoiceType,
      Seq("ALTER TABLE invoice MODIFY COLUMN invoice_number BIGINT",
        "ALTER TABLE invoice MODIFY COLUMN invoice_number BIGINT")) // replay: no-op
    assert(spec.valueCols === Seq("invoice_number"))
    assert(ty("invoice_number").dataType === LongType)
    // VARCHAR growth is a no-op at the engine's string type
    val (_, ty2) = SchemaEvolution.evolve(spec, ty,
      Seq("ALTER TABLE invoice ADD COLUMN region VARCHAR(16)",
        "ALTER TABLE invoice MODIFY COLUMN region VARCHAR(64)"))
    assert(ty2("region").dataType === StringType)
    // the replica's type lattice only moves UP; everything non-widening
    // in the persisted history is inert so a restart never re-throws:
    // narrowing (long already represents every future int exactly),
    // unknown column, out-of-carrier type
    assert(SchemaEvolution.evolve(spec, ty,
      Seq("ALTER TABLE invoice MODIFY COLUMN invoice_number INT")) === ((spec, ty)))
    assert(SchemaEvolution.evolve(CdcSchema.invoiceSpec, CdcSchema.invoiceType,
      Seq("ALTER TABLE invoice MODIFY COLUMN ghost BIGINT"))
      === ((CdcSchema.invoiceSpec, CdcSchema.invoiceType)))
    assert(SchemaEvolution.evolve(spec, ty,
      Seq("ALTER TABLE invoice MODIFY COLUMN invoice_number DECIMAL(10,2)"))
      === ((spec, ty)))
  }

  test("mid-stream MODIFY widens the snapshot; post-DDL values exceed int32") {
    def raw(lines: Seq[String]) =
      spark.createDataset(lines)(org.apache.spark.sql.Encoders.STRING).toDF("value")
    val stream = Seq(
      """{"payload":{"after":{"order_id":1,"invoice_number":10},"source":{"pos":1}}}""",
      """{"payload":{"after":{"order_id":2,"invoice_number":20},"source":{"pos":2}}}""",
      """{"payload":{"source":{"pos":5},"ts_ms":5,"databaseName":"dev","ddl":"ALTER TABLE invoice MODIFY COLUMN invoice_number BIGINT"}}""",
      // post-DDL: key 1 rewritten past int32 range; key 2 untouched
      """{"payload":{"before":{"order_id":1,"invoice_number":10},"after":{"order_id":1,"invoice_number":4000000010},"source":{"pos":6}}}""")
    val snap = SchemaEvolution.snapshotEvolved(raw(stream))
    assert(snap.schema("invoice_number").dataType ===
      org.apache.spark.sql.types.LongType)
    val rows = snap.collect().map(r => (r.getInt(0), r.getLong(1)))
    assert(rows.toSeq === Seq((1, 4000000010L), (2, 20L)))
  }

  test("mid-stream ADD COLUMN widens the snapshot; pre-DDL rows null-fill") {
    def raw(lines: Seq[String]) =
      spark.createDataset(lines)(org.apache.spark.sql.Encoders.STRING).toDF("value")
    val stream = Seq(
      // pre-DDL inserts (old wire shape: no region key at all)
      """{"payload":{"after":{"order_id":1,"invoice_number":10},"source":{"pos":1}}}""",
      """{"payload":{"after":{"order_id":2,"invoice_number":20},"source":{"pos":2}}}""",
      // the DDL lands
      """{"payload":{"source":{"pos":5},"ts_ms":5,"databaseName":"dev","ddl":"ALTER TABLE invoice ADD COLUMN region VARCHAR(16)"}}""",
      // post-DDL: key 1 rewritten with the new column; key 2 untouched
      """{"payload":{"before":{"order_id":1,"invoice_number":10,"region":null},"after":{"order_id":1,"invoice_number":11,"region":"emea"},"source":{"pos":6}}}""")
    val snap = SchemaEvolution.snapshotEvolved(raw(stream))
    assert(snap.columns.toSeq === Seq("order_id", "invoice_number", "region"))
    val rows = snap.collect().map(r =>
      (r.getInt(0), r.getInt(1), r.getAs[String]("region")))
    assert(rows.toSeq === Seq((1, 11, "emea"), (2, 20, null)))
  }

  test("evolution survives the full replay ladder: delete + truncate after DDL") {
    def raw(lines: Seq[String]) =
      spark.createDataset(lines)(org.apache.spark.sql.Encoders.STRING).toDF("value")
    val stream = Seq(
      """{"payload":{"after":{"order_id":1,"invoice_number":10},"source":{"pos":1}}}""",
      """{"payload":{"after":{"order_id":2,"invoice_number":20},"source":{"pos":2}}}""",
      """{"payload":{"after":{"order_id":3,"invoice_number":30},"source":{"pos":3}}}""",
      """{"payload":{"source":{"pos":4},"databaseName":"dev","ddl":"ALTER TABLE invoice ADD COLUMN region VARCHAR(16)"}}""",
      // truncate erases everything at-or-below pos 5 (keys 1..3)
      """{"payload":{"source":{"pos":5},"op":"t"}}""",
      """{"payload":{"after":{"order_id":4,"invoice_number":40,"region":"apac"},"source":{"pos":6}}}""",
      """{"payload":{"before":{"order_id":4,"invoice_number":40,"region":"apac"},"source":{"pos":7}}}""",
      """{"payload":{"after":{"order_id":5,"invoice_number":50,"region":"amer"},"source":{"pos":8}}}""")
    val snap = SchemaEvolution.snapshotEvolved(raw(stream)).collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getAs[String]("region")))
    // 1-3 truncated, 4 deleted post-DDL: only 5 survives, widened
    assert(snap.toSeq === Seq((5, 50, "amer")))
  }

  test("streaming evolution: mid-stream ADD COLUMN widens the live replica lazily") {
    import java.nio.file.{Files, Paths}
    val base = Files.createTempDirectory("graft-evolve").toString
    val in = s"$base/in"; Files.createDirectories(Paths.get(in))
    // micro-batch 1: two keys inserted pre-DDL (narrow wire shape — no
    // region key anywhere), landing in different buckets
    Files.write(Paths.get(s"$in/b1.json"), Seq(
      """{"payload":{"after":{"order_id":1,"invoice_number":10},"source":{"pos":1}}}""",
      """{"payload":{"after":{"order_id":2,"invoice_number":20},"source":{"pos":2}}}"""
    ).mkString("\n").getBytes("UTF-8"))
    // micro-batch 2: the DDL plus a widened rewrite of key 1 ONLY — key
    // 2's bucket is never touched post-DDL, so its state file stays
    // narrow and must null-fill at read time
    Files.write(Paths.get(s"$in/b2.json"), Seq(
      """{"payload":{"source":{"pos":5},"ts_ms":5,"databaseName":"dev","ddl":"ALTER TABLE invoice ADD COLUMN region VARCHAR(16)"}}""",
      """{"payload":{"before":{"order_id":1,"invoice_number":10,"region":null},"after":{"order_id":1,"invoice_number":11,"region":"emea"},"source":{"pos":6}}}"""
    ).mkString("\n").getBytes("UTF-8"))
    // two triggers in file-mtime order
    assert(new java.io.File(s"$in/b1.json").setLastModified(
      new java.io.File(s"$in/b2.json").lastModified() - 60000))
    val q = graft.streaming.CdcStream.runRouted(
      spark.readStream.option("maxFilesPerTrigger", 1).text(in)
        .withColumnRenamed("value", "raw"), "raw",
      s"$base/dead", s"$base/schema", s"$base/audit", s"$base/state", s"$base/ckpt")
    q.awaitTermination(120000)

    val snap = graft.streaming.CdcStream.partitionedSnapshotEvolved(
      spark, s"$base/state", s"$base/schema")
    assert(snap.columns.toSeq === Seq("order_id", "invoice_number", "region"))
    val rows = snap.collect().map(r =>
      (r.getInt(0), r.getInt(1), r.getAs[String]("region")))
    assert(rows.toSeq === Seq((1, 11, "emea"), (2, 20, null)))
    // the history dir drives the evolved spec
    val (espec, _) = graft.streaming.CdcStream.evolvedSpec(spark, s"$base/schema")
    assert(espec.valueCols === Seq("invoice_number", "region"))
  }

  test("streaming evolution: mid-stream MODIFY widens live int32 bucket state lazily") {
    import java.nio.file.{Files, Paths}
    val base = Files.createTempDirectory("graft-widen").toString
    val in = s"$base/in"; Files.createDirectories(Paths.get(in))
    // micro-batch 1: two keys inserted narrow (int32 state files on disk)
    Files.write(Paths.get(s"$in/b1.json"), Seq(
      """{"payload":{"after":{"order_id":1,"invoice_number":10},"source":{"pos":1}}}""",
      """{"payload":{"after":{"order_id":2,"invoice_number":20},"source":{"pos":2}}}"""
    ).mkString("\n").getBytes("UTF-8"))
    // micro-batch 2: the widening DDL plus a rewrite of key 1 past int32
    // range — key 2's bucket file stays int32 at rest and must read back
    // widened without a rewrite
    Files.write(Paths.get(s"$in/b2.json"), Seq(
      """{"payload":{"source":{"pos":5},"ts_ms":5,"databaseName":"dev","ddl":"ALTER TABLE invoice MODIFY COLUMN invoice_number BIGINT"}}""",
      """{"payload":{"before":{"order_id":1,"invoice_number":10},"after":{"order_id":1,"invoice_number":4000000010},"source":{"pos":6}}}"""
    ).mkString("\n").getBytes("UTF-8"))
    assert(new java.io.File(s"$in/b1.json").setLastModified(
      new java.io.File(s"$in/b2.json").lastModified() - 60000))
    val q = graft.streaming.CdcStream.runRouted(
      spark.readStream.option("maxFilesPerTrigger", 1).text(in)
        .withColumnRenamed("value", "raw"), "raw",
      s"$base/dead", s"$base/schema", s"$base/audit", s"$base/state", s"$base/ckpt")
    q.awaitTermination(120000)

    val snap = graft.streaming.CdcStream.partitionedSnapshotEvolved(
      spark, s"$base/state", s"$base/schema")
    assert(snap.schema("invoice_number").dataType ===
      org.apache.spark.sql.types.LongType)
    val rows = snap.collect().map(r => (r.getInt(0), r.getLong(1)))
    assert(rows.toSeq === Seq((1, 4000000010L), (2, 20L)))
  }

  test("full-schema envelopes (embedded Connect schema block) parse identically") {
    // the wire's ~90%-dead-weight `schema` sibling is pruned by omission
    val withSchemaBlock =
      """{"schema":{"type":"struct","fields":[{"type":"struct","fields":[{"type":"int32","optional":false,"field":"order_id"}],"optional":true,"field":"after"}],"optional":false,"name":"source.dev.invoice.Envelope"},"payload":{"before":null,"after":{"order_id":9,"invoice_number":90},"source":{"ts_ms":3,"pos":3,"db":"dev","table":"invoice"},"op":"c","ts_ms":3}}"""
    val rows = parse(Seq(withSchemaBlock)).collect()
    assert(rows.length === 1 && rows.head.getAs[Long]("pos") === 3L)
  }

  test("targetTable: plain / backticked / db-qualified / non-ALTER statements") {
    assert(SchemaEvolution.targetTable("ALTER TABLE invoice ADD COLUMN r INT")
      === Some("invoice"))
    assert(SchemaEvolution.targetTable("alter table `Invoice` add column r int")
      === Some("invoice"))
    assert(SchemaEvolution.targetTable("ALTER TABLE dev.invoice ADD COLUMN r INT")
      === Some("invoice"))
    assert(SchemaEvolution.targetTable("ALTER TABLE `dev`.`orders` DROP COLUMN x")
      === Some("orders"))
    assert(SchemaEvolution.targetTable("CREATE INDEX idx ON invoice(order_id)")
      === None)
    assert(SchemaEvolution.targetTable(null) === None)
  }

  test("evolveByTable: a second table's ALTER cannot evolve the wrong spec") {
    import org.apache.spark.sql.types._
    val base = Map(
      "alpha" -> ((CdcSchema.invoiceSpec, CdcSchema.invoiceType)),
      "beta" -> ((CdcSchema.invoiceSpec, CdcSchema.invoiceType)))
    val out = SchemaEvolution.evolveByTable(base, Seq(
      "ALTER TABLE alpha ADD COLUMN region VARCHAR(16)",
      "ALTER TABLE gamma ADD COLUMN ghost INT", // uncaptured: inert
      "ALTER TABLE beta MODIFY COLUMN invoice_number BIGINT"))
    assert(out("alpha")._1.valueCols === Seq("invoice_number", "region"))
    assert(out("beta")._1.valueCols === Seq("invoice_number")) // no region
    assert(out("beta")._2("invoice_number").dataType === LongType) // widened
    assert(out("alpha")._2("invoice_number").dataType === IntegerType) // not
    assert(!out.contains("gamma"))
  }

  test("mergedImageType: union by name, int/long conflict resolves wide") {
    import org.apache.spark.sql.types._
    val a = StructType(Seq(StructField("order_id", IntegerType),
      StructField("invoice_number", LongType), StructField("region", StringType)))
    val b = StructType(Seq(StructField("order_id", IntegerType),
      StructField("invoice_number", IntegerType), StructField("note", StringType)))
    val m = SchemaEvolution.mergedImageType(Seq(b, a))
    assert(m.fieldNames.toSeq === Seq("order_id", "invoice_number", "note", "region"))
    assert(m("invoice_number").dataType === LongType)
  }

  test("evolvedIngressByTable: per-table evolution + one merged parse end-to-end") {
    val lines = Seq(
      """{"payload":{"after":{"order_id":1,"invoice_number":10},"source":{"pos":1,"db":"dev","table":"alpha"}}}""",
      """{"payload":{"after":{"order_id":2,"invoice_number":20},"source":{"pos":2,"db":"dev","table":"beta"}}}""",
      """{"payload":{"source":{"pos":3},"ts_ms":3,"databaseName":"dev","ddl":"ALTER TABLE alpha ADD COLUMN region VARCHAR(16)"}}""",
      """{"payload":{"after":{"order_id":3,"invoice_number":30,"region":"emea"},"source":{"pos":4,"db":"dev","table":"alpha"}}}""",
      // uncaptured table: fails the per-table validity gate, never folds
      """{"payload":{"after":{"order_id":9,"invoice_number":90},"source":{"pos":5,"db":"dev","table":"gamma"}}}""")
    val raw = spark.createDataset(lines)(
      org.apache.spark.sql.Encoders.STRING).toDF("value")
    val specs = Map(
      "alpha" -> ((CdcSchema.invoiceSpec, CdcSchema.invoiceType)),
      "beta" -> ((CdcSchema.invoiceSpec, CdcSchema.invoiceType)))
    val (especs, merged, log) = SchemaEvolution.evolvedIngressByTable(raw, specs)
    assert(especs("alpha")._1.valueCols === Seq("invoice_number", "region"))
    assert(especs("beta")._1.valueCols === Seq("invoice_number"))
    assert(merged.fieldNames.toSeq === Seq("order_id", "invoice_number", "region"))
    val snap = CdcApply.snapshotByTableFor(log,
      CdcSchema.CdcTableSpec("order_id", Seq("invoice_number", "region"))).collect()
      .map(r => (r.getString(1), r.getInt(2), r.getInt(3), r.getAs[String]("region")))
    assert(snap.toSeq === Seq(
      ("alpha", 1, 10, null), ("alpha", 3, 30, "emea"), ("beta", 2, 20, null)))
  }

  test("streaming evolution routes DDL by table: foreign ALTER stays inert") {
    import java.nio.file.{Files, Paths}
    val base = Files.createTempDirectory("graft-evolve-route").toString
    val in = s"$base/in"; Files.createDirectories(Paths.get(in))
    Files.write(Paths.get(s"$in/b1.json"), Seq(
      """{"payload":{"after":{"order_id":1,"invoice_number":10},"source":{"pos":1}}}"""
    ).mkString("\n").getBytes("UTF-8"))
    // batch 2: invoice's own DDL + a FOREIGN table's DDL that would add a
    // column if mis-routed
    Files.write(Paths.get(s"$in/b2.json"), Seq(
      """{"payload":{"source":{"pos":5},"ts_ms":5,"databaseName":"dev","ddl":"ALTER TABLE invoice ADD COLUMN region VARCHAR(16)"}}""",
      """{"payload":{"source":{"pos":6},"ts_ms":6,"databaseName":"dev","ddl":"ALTER TABLE other ADD COLUMN junk INT"}}""",
      """{"payload":{"before":{"order_id":1,"invoice_number":10},"after":{"order_id":1,"invoice_number":11,"region":"emea"},"source":{"pos":7}}}"""
    ).mkString("\n").getBytes("UTF-8"))
    assert(new java.io.File(s"$in/b1.json").setLastModified(
      new java.io.File(s"$in/b2.json").lastModified() - 60000))
    val q = graft.streaming.CdcStream.runRouted(
      spark.readStream.option("maxFilesPerTrigger", 1).text(in)
        .withColumnRenamed("value", "raw"), "raw",
      s"$base/dead", s"$base/schema", s"$base/audit", s"$base/state", s"$base/ckpt")
    q.awaitTermination(120000)
    // both DDLs are in the persisted history (audit), but only invoice's
    // own statement evolved the spec
    val hist = spark.read.parquet(s"$base/schema").collect()
    assert(hist.length === 2)
    val (espec, _) = graft.streaming.CdcStream.evolvedSpec(spark, s"$base/schema")
    assert(espec.valueCols === Seq("invoice_number", "region")) // no junk
    val snap = graft.streaming.CdcStream.partitionedSnapshotEvolved(
      spark, s"$base/state", s"$base/schema")
    assert(snap.columns.toSeq === Seq("order_id", "invoice_number", "region"))
    assert(snap.collect().map(r => (r.getInt(0), r.getInt(1), r.getString(2))).toSeq
      === Seq((1, 11, "emea")))
  }

  // ---------------------------------------------------------- full DDL

  test("full-DDL clause parsers: RENAME / CHANGE / DROP, constraint forms excluded") {
    import org.apache.spark.sql.types._
    assert(SchemaEvolution.renamedColumns(
      "ALTER TABLE t RENAME COLUMN `a` TO `b`, RENAME COLUMN c TO d")
      === Seq(("a", "b"), ("c", "d")))
    assert(SchemaEvolution.changedColumns(
      "ALTER TABLE t CHANGE COLUMN old_n new_n BIGINT, CHANGE x y GEOMETRY")
      === Seq(("old_n", "new_n", Some(LongType)), ("x", "y", None)))
    assert(SchemaEvolution.droppedColumns(
      "ALTER TABLE t DROP COLUMN memo, DROP old_flag") === Seq("memo", "old_flag"))
    assert(SchemaEvolution.droppedColumns(
      "ALTER TABLE t DROP PRIMARY KEY, DROP INDEX idx, DROP FOREIGN KEY fk, " +
        "DROP CONSTRAINT ck, DROP PARTITION p0") === Seq.empty)
  }

  test("evolveFull: rename keeps logical identity; drop retires it; re-add is fresh") {
    import org.apache.spark.sql.types._
    val baseTy = StructType(Seq(
      StructField("order_id", IntegerType), StructField("inv", IntegerType),
      StructField("memo", StringType)))
    val baseSpec = CdcSchema.CdcTableSpec("order_id", Seq("inv", "memo"))
    val (espec, etype, epochs) = SchemaEvolution.evolveFull(baseSpec, baseTy, Seq(
      100L -> "ALTER TABLE t DROP COLUMN memo",
      200L -> "ALTER TABLE t RENAME COLUMN inv TO invoice_no",
      300L -> "ALTER TABLE t ADD COLUMN memo VARCHAR(8)"))
    assert(espec === CdcSchema.CdcTableSpec("order_id", Seq("invoice_no", "memo")))
    assert(etype.fieldNames.toSeq === Seq("order_id", "invoice_no", "memo"))
    assert(epochs.map(e => (e.fromPos, e.toPos)) === Seq(
      (Long.MinValue, 100L), (100L, 200L), (200L, 300L), (300L, Long.MaxValue)))
    // epoch 0: inv feeds invoice_no by identity; its memo does NOT feed
    // the re-added memo (fresh column — pre-drop values must not resurface)
    assert(epochs(0).colMap === Map("order_id" -> "order_id", "invoice_no" -> "inv"))
    assert(epochs(1).colMap === Map("order_id" -> "order_id", "invoice_no" -> "inv"))
    assert(epochs(2).colMap === Map("order_id" -> "order_id", "invoice_no" -> "invoice_no"))
    assert(epochs(3).colMap === Map("order_id" -> "order_id",
      "invoice_no" -> "invoice_no", "memo" -> "memo"))
    // gate: memo was base-required, so epoch 0 gates on it; after the drop
    // it is gone from the gate; the RE-ADDED memo is nullable, never gated
    assert(epochs(0).gateSpec === CdcSchema.CdcTableSpec("order_id", Seq("inv", "memo")))
    assert(epochs(1).gateSpec === CdcSchema.CdcTableSpec("order_id", Seq("inv")))
    assert(epochs(3).gateSpec === CdcSchema.CdcTableSpec("order_id", Seq("invoice_no")))
  }

  test("evolveFull: key drop is inert, key rename applies; inert DDL merges epochs") {
    import org.apache.spark.sql.types._
    val baseTy = StructType(Seq(
      StructField("order_id", IntegerType), StructField("inv", IntegerType)))
    val baseSpec = CdcSchema.CdcTableSpec("order_id", Seq("inv"))
    val (espec, _, epochs) = SchemaEvolution.evolveFull(baseSpec, baseTy, Seq(
      100L -> "ALTER TABLE t DROP COLUMN order_id",        // inert: key
      200L -> "DROP INDEX something",                      // inert: not a column
      300L -> "ALTER TABLE t RENAME COLUMN order_id TO oid"))
    assert(espec === CdcSchema.CdcTableSpec("oid", Seq("inv")))
    // the two inert statements created no epoch boundary
    assert(epochs.map(e => (e.fromPos, e.toPos)) === Seq(
      (Long.MinValue, 300L), (300L, Long.MaxValue)))
    assert(epochs(0).colMap === Map("oid" -> "order_id", "inv" -> "inv"))
  }

  test("CHANGE renames and widens in one clause; values cross both boundaries") {
    import org.apache.spark.sql.types._
    val baseTy = StructType(Seq(
      StructField("order_id", IntegerType), StructField("inv", IntegerType)))
    val (espec, etype, _) = SchemaEvolution.evolveFull(
      CdcSchema.CdcTableSpec("order_id", Seq("inv")), baseTy,
      Seq(100L -> "ALTER TABLE t CHANGE COLUMN inv invoice_no BIGINT"))
    assert(espec.valueCols === Seq("invoice_no"))
    assert(etype("invoice_no").dataType === LongType)
  }

  test("DropColRe: DROP DEFAULT and IF EXISTS forms parse correctly") {
    // `ALTER COLUMN x DROP DEFAULT` is not a column drop
    assert(SchemaEvolution.droppedColumns(
      "ALTER TABLE t ALTER COLUMN x DROP DEFAULT") === Seq.empty)
    // MariaDB `DROP COLUMN IF EXISTS memo` drops memo, not `IF`
    assert(SchemaEvolution.droppedColumns(
      "ALTER TABLE t DROP COLUMN IF EXISTS memo") === Seq("memo"))
    assert(SchemaEvolution.droppedColumns(
      "ALTER TABLE t DROP IF EXISTS old_flag") === Seq("old_flag"))
    // a column whose name merely starts with an excluded keyword still drops
    assert(SchemaEvolution.droppedColumns(
      "ALTER TABLE t DROP COLUMN default_val") === Seq("default_val"))
  }

  test("mergedImageType throws on an irreconcilable same-name type conflict") {
    import org.apache.spark.sql.types._
    val a = StructType(Seq(StructField("order_id", IntegerType),
      StructField("x", StringType)))
    val b = StructType(Seq(StructField("order_id", IntegerType),
      StructField("x", IntegerType)))
    val e = intercept[IllegalArgumentException](
      SchemaEvolution.mergedImageType(Seq(a, b)))
    assert(e.getMessage.contains("irreconcilable"))
    // both orders throw — first-seen must not silently win
    intercept[IllegalArgumentException](SchemaEvolution.mergedImageType(Seq(b, a)))
  }

  test("identityRemapAt: rename follows identity, drop retires, re-add is fresh") {
    import org.apache.spark.sql.types._
    val baseTy = StructType(Seq(
      StructField("order_id", IntegerType), StructField("inv", IntegerType),
      StructField("memo", StringType)))
    val spec = CdcSchema.CdcTableSpec("order_id", Seq("inv", "memo"))
    val ddls = Seq(
      100L -> "ALTER TABLE t DROP COLUMN memo",
      200L -> "ALTER TABLE t RENAME COLUMN inv TO invoice_no",
      300L -> "ALTER TABLE t ADD COLUMN memo VARCHAR(8)")
    // state written BEFORE any DDL: invoice_no feeds from `inv` by
    // identity; the re-added memo must NOT read the old memo
    assert(SchemaEvolution.identityRemapAt(spec, baseTy, ddls, Long.MinValue)
      === Map("order_id" -> Some("order_id"), "invoice_no" -> Some("inv"),
        "memo" -> None))
    // state written between drop and rename
    assert(SchemaEvolution.identityRemapAt(spec, baseTy, ddls, 150L)
      === Map("order_id" -> Some("order_id"), "invoice_no" -> Some("inv"),
        "memo" -> None))
    // state written after everything: identity map
    assert(SchemaEvolution.identityRemapAt(spec, baseTy, ddls, 300L)
      === Map("order_id" -> Some("order_id"),
        "invoice_no" -> Some("invoice_no"), "memo" -> Some("memo")))
  }

  test("epoch-sliced ingress end-to-end: drop + rename fold to the final shape") {
    import org.apache.spark.sql.types._
    def env(pos: Long, after: String) =
      s"""{"payload":{"before":null,"after":$after,"source":{"ts_ms":$pos,"pos":$pos,"db":"dev","table":"t"},"op":"c","ts_ms":$pos}}"""
    def ddl(pos: Long, stmt: String) =
      s"""{"payload":{"source":{"ts_ms":$pos,"pos":$pos},"ts_ms":$pos,"databaseName":"dev","ddl":"$stmt"}}"""
    val lines = Seq(
      // epoch 0: (order_id, inv, memo) — both keys get values; memo required
      env(1, """{"order_id":1,"inv":10,"memo":"a"}"""),
      env(2, """{"order_id":2,"inv":20,"memo":"b"}"""),
      ddl(100, "ALTER TABLE t DROP COLUMN memo"),
      // epoch 1: (order_id, inv) — key 2 updated post-drop
      env(150, """{"order_id":2,"inv":21}"""),
      ddl(200, "ALTER TABLE t RENAME COLUMN inv TO invoice_no"),
      // epoch 2: (order_id, invoice_no) — key 3 born post-rename
      env(250, """{"order_id":3,"invoice_no":30}"""))
    val raw = spark.createDataset(lines)(
      org.apache.spark.sql.Encoders.STRING).toDF("value")
    val baseTy = StructType(Seq(
      StructField("order_id", IntegerType), StructField("inv", IntegerType),
      StructField("memo", StringType)))
    val snap = SchemaEvolution.snapshotEvolvedFull(
      raw, CdcSchema.CdcTableSpec("order_id", Seq("inv", "memo")), baseTy)
    assert(snap.columns.toSeq === Seq("order_id", "invoice_no"))
    // key 1's value crossed BOTH boundaries by identity (written as `inv`
    // pre-drop, read out as `invoice_no`); memo is gone for all rows
    assert(snap.collect().map(r => (r.getInt(0), r.getInt(1))).toSeq
      === Seq((1, 10), (2, 21), (3, 30)))
  }

  test("live full-DDL stream: RENAME + DROP applied across a restart") {
    import java.nio.file.{Files, Paths}
    val base = Files.createTempDirectory("graft-evolve-full").toString
    val in = s"$base/in"; Files.createDirectories(Paths.get(in))
    def stream() = graft.streaming.CdcStream.runRouted(
      spark.readStream.option("maxFilesPerTrigger", 1).text(in)
        .withColumnRenamed("value", "raw"), "raw",
      s"$base/dead", s"$base/schema", s"$base/audit", s"$base/state", s"$base/ckpt",
      nBuckets = 4)
    def snap() = graft.streaming.CdcStream.partitionedSnapshotEvolved(
      spark, s"$base/state", s"$base/schema")

    // ---- run 1: base inserts, then RENAME with a post-rename rewrite
    // micro-batch 1: keys 1 and 2 under the base wire shape; key 9's
    // event is missing the gate-required invoice_number — a dead letter
    Files.write(Paths.get(s"$in/b1.json"), Seq(
      """{"payload":{"after":{"order_id":1,"invoice_number":10},"source":{"pos":1}}}""",
      """{"payload":{"after":{"order_id":2,"invoice_number":20},"source":{"pos":2}}}""",
      """{"payload":{"after":{"order_id":9},"source":{"pos":3}}}"""
    ).mkString("\n").getBytes("UTF-8"))
    // micro-batch 2: the RENAME, then key 1 rewritten UNDER THE NEW NAME;
    // key 2's bucket is never touched again — its state file keeps the
    // OLD field name at rest and must remap by identity on every read
    Files.write(Paths.get(s"$in/b2.json"), Seq(
      """{"payload":{"source":{"pos":5},"ts_ms":5,"databaseName":"dev","ddl":"ALTER TABLE invoice RENAME COLUMN invoice_number TO inv_no"}}""",
      """{"payload":{"before":{"order_id":1,"inv_no":10},"after":{"order_id":1,"inv_no":11},"source":{"pos":6}}}"""
    ).mkString("\n").getBytes("UTF-8"))
    assert(new java.io.File(s"$in/b1.json").setLastModified(
      new java.io.File(s"$in/b2.json").lastModified() - 60000))
    stream().awaitTermination(120000)

    assert(snap().columns.toSeq === Seq("order_id", "inv_no"))
    assert(snap().collect().map(r => (r.getInt(0), r.getInt(1))).toSeq
      === Seq((1, 11), (2, 20)))
    // the gate-failing event is quarantined, not silently dropped
    val dead = spark.read.parquet(s"$base/dead").collect()
    assert(dead.length === 1)
    assert(dead.head.getAs[String]("raw").contains("\"order_id\":9"))
    assert(dead.head.getAs[String]("reason") === "unparseable_envelope")

    // ---- run 2 (RESTART, same checkpoint): ADD a column, then DROP it
    Files.write(Paths.get(s"$in/b3.json"), Seq(
      """{"payload":{"source":{"pos":7},"ts_ms":7,"databaseName":"dev","ddl":"ALTER TABLE invoice ADD COLUMN region VARCHAR(16)"}}""",
      """{"payload":{"after":{"order_id":3,"inv_no":30,"region":"emea"},"source":{"pos":8}}}"""
    ).mkString("\n").getBytes("UTF-8"))
    Files.write(Paths.get(s"$in/b4.json"), Seq(
      """{"payload":{"source":{"pos":9},"ts_ms":9,"databaseName":"dev","ddl":"ALTER TABLE invoice DROP COLUMN region"}}""",
      """{"payload":{"after":{"order_id":4,"inv_no":40},"source":{"pos":10}}}"""
    ).mkString("\n").getBytes("UTF-8"))
    assert(new java.io.File(s"$in/b3.json").setLastModified(
      new java.io.File(s"$in/b4.json").lastModified() - 60000))
    stream().awaitTermination(120000)

    // region existed for one epoch and was dropped: gone for ALL rows
    // (key 3's value retired with it), inv_no carried across every
    // version by identity — keys 1/2 still read from pre-rename files
    assert(snap().columns.toSeq === Seq("order_id", "inv_no"))
    assert(snap().collect().map(r => (r.getInt(0), r.getInt(1))).toSeq
      === Seq((1, 11), (2, 20), (3, 30), (4, 40)))

    // ---- run 3: nothing new — replay must no-op, snapshot unchanged
    stream().awaitTermination(120000)
    assert(snap().collect().map(r => (r.getInt(0), r.getInt(1))).toSeq
      === Seq((1, 11), (2, 20), (3, 30), (4, 40)))
  }

  test("live full-DDL stream: compaction folds across RENAME + DROP, replica unchanged") {
    import java.nio.file.{Files, Paths}
    val base = Files.createTempDirectory("graft-evolve-fold").toString
    val in = s"$base/in"; Files.createDirectories(Paths.get(in))
    val t0 = System.currentTimeMillis()
    def ddl(pos: Long, stmt: String) =
      s"""{"payload":{"source":{"pos":$pos},"ts_ms":$pos,"databaseName":"dev","ddl":"ALTER TABLE invoice $stmt"}}"""
    def ins(pos: Long, after: String) =
      s"""{"payload":{"after":$after,"source":{"pos":$pos}}}"""
    def del(pos: Long, before: String) =
      s"""{"payload":{"before":$before,"after":null,"source":{"pos":$pos}}}"""
    // one file per micro-batch, every one carrying data, so each batch
    // appends one segment to the single bucket
    val batches = Seq(
      Seq(ins(1, """{"order_id":1,"invoice_number":10}"""),
        ins(2, """{"order_id":2,"invoice_number":20}""")),
      Seq(ddl(10, "ADD COLUMN region VARCHAR(16)"),
        ins(11, """{"order_id":3,"invoice_number":30,"region":"emea"}""")),
      Seq(ins(20, """{"order_id":1,"invoice_number":11,"region":"apac"}""")),
      Seq(ddl(30, "RENAME COLUMN invoice_number TO inv_no"),
        ins(31, """{"order_id":2,"inv_no":21,"region":null}""")),
      Seq(ins(40, """{"order_id":4,"inv_no":40,"region":"amer"}""")),
      Seq(del(50, """{"order_id":3,"inv_no":30,"region":"emea"}""")),
      Seq(ddl(60, "DROP COLUMN region"),
        ins(61, """{"order_id":5,"inv_no":50}""")),
      // the 8th segment trips the fold (default bound 8)
      Seq(ins(70, """{"order_id":4,"inv_no":41}""")),
      // after the fold: a RENAME the folded segment must follow, and a
      // re-added namesake that must not resurface pre-drop values
      Seq(ddl(80, "RENAME COLUMN inv_no TO invoice_no"),
        ddl(81, "ADD COLUMN region VARCHAR(16)"),
        ins(82, """{"order_id":6,"invoice_no":60,"region":"emea"}""")))
    def write(i: Int): Unit = {
      val f = Paths.get(s"$in/b$i.json")
      Files.write(f, batches(i).mkString("\n").getBytes("UTF-8"))
      assert(f.toFile.setLastModified(t0 - (batches.size - i) * 60000L))
    }
    def run(): Unit = graft.streaming.CdcStream.runRouted(
      spark.readStream.option("maxFilesPerTrigger", 1).text(in)
        .withColumnRenamed("value", "raw"), "raw",
      s"$base/dead", s"$base/schema", s"$base/audit", s"$base/state", s"$base/ckpt",
      nBuckets = 1).awaitTermination(120000)
    def segments(): Seq[Long] = graft.streaming.BucketState
      .readManifest(spark, s"$base/state").buckets.getOrElse(0L, Set.empty[Long])
      .toSeq.sorted
    def assertMatchesBatch(upTo: Int): Unit = {
      val got = graft.streaming.CdcStream.partitionedSnapshotEvolved(
        spark, s"$base/state", s"$base/schema")
      val want = SchemaEvolution.snapshotEvolvedFull(spark.createDataset(
        batches.take(upTo).flatten)(org.apache.spark.sql.Encoders.STRING).toDF("value"))
      assert(got.columns.toSeq === want.columns.toSeq)
      assert(got.collect().toSeq === want.collect().toSeq)
    }

    (0 until 7).foreach(write); run()
    assert(segments().size === 7)
    assertMatchesBatch(7)

    write(7); run()
    val folded = segments()
    assert(folded.size === 1, s"fold did not trip: $folded")
    assert(new java.io.File(s"$base/state/v=${folded.head}/_SCHEMA_WATERMARK").exists())
    assertMatchesBatch(8)

    write(8); run()
    assert(segments().size === 2)
    assertMatchesBatch(9)
    assert(graft.streaming.CdcStream.partitionedSnapshotEvolved(
        spark, s"$base/state", s"$base/schema").columns.toSeq ===
      Seq("order_id", "invoice_no", "region"))
  }
}
