package graft.streaming

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.cdc.{CdcApply, Changelog}

/** The LSM replica's snapshot as `(order_id, invoice_number)` pairs. */
private object LsmRows {
  def apply(spark: org.apache.spark.sql.SparkSession, stateDir: String): Seq[(Long, Long)] =
    CdcStream.partitionedSnapshotLsm(spark, stateDir).collect()
      .map(r => (r.getInt(0).toLong, r.getInt(1).toLong)).toSeq
}

/** End-to-end Structured Streaming: envelope JSON files → file-source
  * stream → foreachBatch segment append → LSM replica + audit log.
  * The final streamed state must equal the batch apply of the same
  * changelog (stream/batch unification — SURVEY.md §2.10 backfill row).
  */
class StreamingSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def env(before: String, after: String, op: String, pos: Long) =
    s"""{"payload":{"before":$before,"after":$after,"source":{"ts_ms":${1000 + pos},"pos":$pos,"db":"dev","table":"invoice"},"op":"$op","ts_ms":${1000 + pos}}}"""

  private val lines1 = Seq(
    env("null", """{"order_id":1,"invoice_number":10}""", "c", 1),
    env("null", """{"order_id":2,"invoice_number":20}""", "c", 2),
    env("null", """{"order_id":3,"invoice_number":30}""", "c", 3))
  private val lines2 = Seq(
    env("""{"order_id":2,"invoice_number":20}""", """{"order_id":2,"invoice_number":21}""", "u", 4),
    env("""{"order_id":3,"invoice_number":30}""", "null", "d", 5),
    env("null", """{"order_id":4,"invoice_number":40}""", "c", 6))

  test("streamed incremental state equals batch apply; audit log complete") {
    val base = Files.createTempDirectory("graft-stream").toString
    val in = s"$base/in"; Files.createDirectories(Paths.get(in))
    Files.write(Paths.get(s"$in/b1.json"),
      lines1.mkString("\n").getBytes("UTF-8"))
    Files.write(Paths.get(s"$in/b2.json"),
      lines2.mkString("\n").getBytes("UTF-8"))

    val stream = CdcStream.fromFiles(spark, in)
    assert(stream.isStreaming)
    val q = CdcStream.runPartitionedLsm(stream, s"$base/audit", s"$base/state",
      s"$base/ckpt")
    q.awaitTermination(120000)

    val streamed = LsmRows(spark, s"$base/state")

    val batch = Changelog.fromEnvelopeJson(
      spark.createDataset(lines1 ++ lines2)(org.apache.spark.sql.Encoders.STRING).toDF("value"))
    val expected = CdcApply.snapshot(batch).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq

    assert(streamed === expected)
    assert(streamed === Seq((1L, 10L), (2L, 21L), (4L, 40L)))

    val audit = spark.read.parquet(s"$base/audit")
    assert(audit.count() === 6)
    // per-batch partition dirs (idempotent replay) add the batch column
    assert(audit.columns.sorted.toSeq === Seq("batch", "kafka_message", "timestamp"))
  }

  test("replay never reads its own crashed output version") {
    val base = Files.createTempDirectory("graft-replay").toString
    val in = s"$base/in"; Files.createDirectories(Paths.get(in))
    Files.write(Paths.get(s"$in/b1.json"), lines1.mkString("\n").getBytes("UTF-8"))
    val q1 = CdcStream.runPartitionedLsm(CdcStream.fromFiles(spark, in),
      s"$base/audit", s"$base/state", s"$base/ckpt")
    q1.awaitTermination(120000) // batch 0 committed -> v=1
    // Simulate batch 1 crashing mid-segment-write: a garbage v=2 dir
    // exists but the manifest never named it. The replay of batch 1 must
    // stage over it, NEVER read the garbage it is about to overwrite.
    Files.createDirectories(Paths.get(s"$base/state/v=2"))
    Files.write(Paths.get(s"$base/state/v=2/part-corrupt.parquet"),
      "not parquet".getBytes("UTF-8"))
    Files.write(Paths.get(s"$in/b2.json"), lines2.mkString("\n").getBytes("UTF-8"))
    val q2 = CdcStream.runPartitionedLsm(CdcStream.fromFiles(spark, in),
      s"$base/audit", s"$base/state", s"$base/ckpt")
    q2.awaitTermination(120000)
    val m = BucketState.readManifest(spark, s"$base/state")
    assert(m.buckets.values.flatten.max === 2)
    val snap = LsmRows(spark, s"$base/state")
    assert(snap === Seq((1L, 10L), (2L, 21L), (4L, 40L)))
  }

  test("runRouted: one stream feeds quarantine, schema history, audit, and state") {
    val base = Files.createTempDirectory("graft-routed").toString
    val in = s"$base/in"; Files.createDirectories(Paths.get(in))
    val ddl =
      """{"payload":{"source":{"ts_ms":9,"pos":999,"db":"dev"},"databaseName":"dev","ddl":"ALTER TABLE dev.invoice ADD COLUMN note VARCHAR(64)","ts_ms":9}}"""
    val garbage = """{"not":"an envelope"}"""
    Files.write(Paths.get(s"$in/b1.json"),
      (lines1 ++ Seq(ddl, garbage)).mkString("\n").getBytes("UTF-8"))
    val q = CdcStream.runRouted(
      spark.readStream.text(in).withColumnRenamed("value", "raw"), "raw",
      s"$base/dead", s"$base/schema", s"$base/audit", s"$base/state", s"$base/ckpt")
    q.awaitTermination(120000)

    // data events folded into state; DDL did NOT act as a truncate. The
    // ADD COLUMN gives the replica a `note` column, null for every row
    val replica = CdcStream.partitionedSnapshotEvolved(
      spark, s"$base/state", s"$base/schema")
    assert(replica.columns.toSeq === Seq("order_id", "invoice_number", "note"))
    val snap = replica.collect()
      .map(r => (r.getInt(0).toLong, r.getInt(1).toLong, r.getAs[String]("note"))).toSeq
    assert(snap === Seq((1L, 10L, null), (2L, 20L, null), (3L, 30L, null)))
    // audit carries exactly the data envelopes
    assert(spark.read.parquet(s"$base/audit").count() === 3)
    // quarantine holds the garbage line with raw bytes
    val dead = spark.read.parquet(s"$base/dead").collect()
    assert(dead.length === 1 && dead.head.getString(0) === garbage)
    // schema history holds the DDL event, typed
    val hist = spark.read.parquet(s"$base/schema").collect()
    assert(hist.length === 1 && hist.head.getString(3).startsWith("ALTER TABLE"))
  }

  test("generic merge maintains the 4-column wide table, batch-split insensitive") {
    import org.apache.spark.sql.functions.{broadcast, col, expr}
    val spark2 = spark
    val sf = graft.TestSpark.sf0001
    val spec = graft.cdc.CdcSchema.wideSpec
    val log = graft.cdc.Changelog.syntheticWide(spark2, sf).localCheckpoint()
    // split the changelog at its midpoint pos and fold the halves as two
    // micro-batches through the SPEC-GENERIC merge
    val mid = graft.Tables.orders(spark2, sf)
      .agg(expr("(max(cast(o_orderkey as bigint)) * 10) div 2").as("m"))
    val half1 = log.crossJoin(broadcast(mid)).filter(col("pos") <= col("m")).drop("m")
    val half2 = log.crossJoin(broadcast(mid)).filter(col("pos") > col("m")).drop("m")
    val imageType = graft.cdc.CdcSchema.wideType
    val s0 = CdcStream.emptyStateFor(spark2, spec, imageType)
    val s1 = CdcStream.mergeBatch(s0, half1, spec).localCheckpoint()
    val s2 = CdcStream.mergeBatch(s1, half2, spec).localCheckpoint()
    val streamed = CdcStream.snapshotOfFor(s2, spec)
    val expected = graft.cdc.CdcApply.snapshotFor(log, spec)
    assert(streamed.exceptAll(expected).isEmpty && expected.exceptAll(streamed).isEmpty)
    assert(streamed.count() === expected.count() && expected.count() > 0)
  }

  test("restarted stream with new data continues from checkpointed state") {
    val base = Files.createTempDirectory("graft-stream2").toString
    val in = s"$base/in"; Files.createDirectories(Paths.get(in))
    Files.write(Paths.get(s"$in/b1.json"), lines1.mkString("\n").getBytes("UTF-8"))
    val q1 = CdcStream.runPartitionedLsm(CdcStream.fromFiles(spark, in),
      s"$base/audit", s"$base/state", s"$base/ckpt")
    q1.awaitTermination(120000)

    Files.write(Paths.get(s"$in/b2.json"), lines2.mkString("\n").getBytes("UTF-8"))
    val q2 = CdcStream.runPartitionedLsm(CdcStream.fromFiles(spark, in),
      s"$base/audit", s"$base/state", s"$base/ckpt")
    q2.awaitTermination(120000)

    val m = BucketState.readManifest(spark, s"$base/state")
    assert(m.buckets.values.flatten.max >= 2) // two distinct micro-batches across the restart
    val streamed = LsmRows(spark, s"$base/state")
    assert(streamed === Seq((1L, 10L), (2L, 21L), (4L, 40L)))
  }
}

/** Typed stateful streaming: flatMapGroupsWithState per-key latest. */
class TypedStateSpec extends org.scalatest.funsuite.AnyFunSuite {
  private lazy val spark = graft.TestSpark.spark

  private def env(before: String, after: String, op: String, pos: Long) =
    s"""{"payload":{"before":$before,"after":$after,"source":{"ts_ms":${1000 + pos},"pos":$pos,"db":"dev","table":"invoice"},"op":"$op","ts_ms":${1000 + pos}}}"""

  test("typed state stream converges to latest-per-key across micro-batches") {
    import java.nio.file.{Files, Paths}
    import spark.implicits._
    val in = Files.createTempDirectory("typed").toString
    Files.write(Paths.get(s"$in/b1.json"), Seq(
      env("null", """{"order_id":1,"invoice_number":10}""", "c", 1),
      env("null", """{"order_id":2,"invoice_number":20}""", "c", 2)).mkString("\n").getBytes)
    val stream = graft.streaming.CdcStream.fromFiles(spark, in)
      .as[graft.cdc.CdcSchema.CdcEvent]
    val q = graft.streaming.CdcStream.typedLatestPerKey(stream)
      .writeStream.format("memory").queryName("typed_state")
      .outputMode("update")
      .option("maxFilesPerTrigger", "1")
      .start()
    try {
      q.processAllAvailable()
      Files.write(Paths.get(s"$in/b2.json"), Seq(
        env("""{"order_id":2,"invoice_number":20}""", """{"order_id":2,"invoice_number":21}""", "u", 3),
        env("""{"order_id":1,"invoice_number":10}""", "null", "d", 4),
        env("""{"order_id":2,"invoice_number":21}""", """{"order_id":2,"invoice_number":21}""", "u", 3)).mkString("\n").getBytes) // pos-3 replay
      q.processAllAvailable()
      // last emission per key is the converged value
      val emissions = spark.table("typed_state").collect()
        .map(r => (r.getInt(0), if (r.isNullAt(1)) None else Some(r.getInt(1))))
      val last = emissions.zipWithIndex.groupBy(_._1._1)
        .map { case (k, vs) => k -> vs.maxBy(_._2)._1._2 }
      assert(last === Map(1 -> None, 2 -> Some(21)))
    } finally q.stop()
  }
}

/** Bucketed LSM state: only touched buckets gain a segment; replay,
  * checkpoint-reset and crash guards hold across the manifest commit.
  */
class PartitionedStateSpec extends org.scalatest.funsuite.AnyFunSuite {
  private lazy val spark = graft.TestSpark.spark

  private def env(before: String, after: String, op: String, pos: Long) =
    s"""{"payload":{"before":$before,"after":$after,"source":{"ts_ms":${1000 + pos},"pos":$pos,"db":"dev","table":"invoice"},"op":"$op","ts_ms":${1000 + pos}}}"""

  test("disjoint-key batches leave untouched buckets' files alone") {
    import java.nio.file.{Files, Paths}
    val base = Files.createTempDirectory("pstate").toString
    val in = s"$base/in"; Files.createDirectories(Paths.get(in))
    val n = 8
    // batch 1: keys 0 and 1 (buckets 0, 1)
    Files.write(Paths.get(s"$in/b1.json"), Seq(
      env("null", """{"order_id":0,"invoice_number":5}""", "c", 1),
      env("null", """{"order_id":1,"invoice_number":10}""", "c", 2)).mkString("\n").getBytes)
    val q1 = graft.streaming.CdcStream.runPartitionedLsm(
      graft.streaming.CdcStream.fromFiles(spark, in),
      s"$base/audit", s"$base/state", s"$base/ckpt", n)
    q1.awaitTermination(120000)
    // manifest layout: batch 1's buckets live under v=1
    val bucket1File = new java.io.File(s"$base/state/v=1/p=1").listFiles()
      .filter(_.getName.endsWith(".parquet")).map(f => (f.getName, f.lastModified)).toSet
    assert(bucket1File.nonEmpty)
    // batch 2: key 2 only (bucket 2) — bucket 1 must not be rewritten
    Files.write(Paths.get(s"$in/b2.json"), Seq(
      env("null", """{"order_id":2,"invoice_number":20}""", "c", 3)).mkString("\n").getBytes)
    val q2 = graft.streaming.CdcStream.runPartitionedLsm(
      graft.streaming.CdcStream.fromFiles(spark, in),
      s"$base/audit", s"$base/state", s"$base/ckpt", n)
    q2.awaitTermination(120000)
    val bucket1After = new java.io.File(s"$base/state/v=1/p=1").listFiles()
      .filter(_.getName.endsWith(".parquet")).map(f => (f.getName, f.lastModified)).toSet
    assert(bucket1After === bucket1File, "untouched bucket was rewritten")
    // v=1 still referenced (buckets 0,1), v=2 holds bucket 2
    assert(new java.io.File(s"$base/state/v=1").exists())
    assert(new java.io.File(s"$base/state/v=2").exists())
    val snap = LsmRows(spark, s"$base/state")
    assert(snap === Seq((0L, 5L), (1L, 10L), (2L, 20L)))
  }

  test("compaction between micro-batches: one live version, stream continues") {
    import java.nio.file.{Files, Paths}
    val base = Files.createTempDirectory("pstate-compact").toString
    val in = s"$base/in"; Files.createDirectories(Paths.get(in))
    Files.write(Paths.get(s"$in/b1.json"), Seq(
      env("null", """{"order_id":0,"invoice_number":5}""", "c", 1)).mkString("\n").getBytes)
    graft.streaming.CdcStream.runPartitionedLsm(
      graft.streaming.CdcStream.fromFiles(spark, in),
      s"$base/audit", s"$base/state", s"$base/ckpt", 8).awaitTermination(120000)
    Files.write(Paths.get(s"$in/b2.json"), Seq(
      env("null", """{"order_id":1,"invoice_number":10}""", "c", 2)).mkString("\n").getBytes)
    graft.streaming.CdcStream.runPartitionedLsm(
      graft.streaming.CdcStream.fromFiles(spark, in),
      s"$base/audit", s"$base/state", s"$base/ckpt", 8).awaitTermination(120000)

    graft.streaming.CdcStream.compactLsm(spark, s"$base/state", 8)
    val m = graft.streaming.BucketState.readManifest(spark, s"$base/state")
    assert(m.buckets.values.flatten.toSet.size === 1)
    val snap1 = LsmRows(spark, s"$base/state")
    assert(snap1 === Seq((0L, 5L), (1L, 10L)))

    // the stream picks up where it left off, physical dirs renumbered
    // past the compaction version
    Files.write(Paths.get(s"$in/b3.json"), Seq(
      env("null", """{"order_id":2,"invoice_number":20}""", "c", 3)).mkString("\n").getBytes)
    graft.streaming.CdcStream.runPartitionedLsm(
      graft.streaming.CdcStream.fromFiles(spark, in),
      s"$base/audit", s"$base/state", s"$base/ckpt", 8).awaitTermination(120000)
    val snap2 = LsmRows(spark, s"$base/state")
    assert(snap2 === Seq((0L, 5L), (1L, 10L), (2L, 20L)))
  }

  test("replay of an already-committed batch is a no-op, not a self-overwrite") {
    import java.nio.file.{Files, Paths}
    val base = Files.createTempDirectory("pstate4").toString
    val in = s"$base/in"; Files.createDirectories(Paths.get(in))
    Files.write(Paths.get(s"$in/b1.json"), Seq(
      env("null", """{"order_id":1,"invoice_number":10}""", "c", 1),
      env("null", """{"order_id":2,"invoice_number":20}""", "c", 2)).mkString("\n").getBytes)
    val q1 = graft.streaming.CdcStream.runPartitionedLsm(
      graft.streaming.CdcStream.fromFiles(spark, in),
      s"$base/audit", s"$base/state", s"$base/ckpt", 8)
    q1.awaitTermination(120000)
    val committed = LsmRows(spark, s"$base/state")
    assert(committed === Seq((1L, 10L), (2L, 20L)))
    // Crash landed AFTER the manifest commit but BEFORE the streaming
    // checkpoint commit: batch 0 re-runs against a manifest that already
    // references its own output version (v=1). Simulated with a fresh
    // checkpoint dir over the same input + state (Spark 4's checkpoint
    // manager rejects direct commit-marker surgery as a concurrent run) —
    // the foreachBatch sees the identical (batchId=0, manifest→v=1)
    // state either way and must take the no-op branch, not
    // read-and-overwrite v=1.
    val q2 = graft.streaming.CdcStream.runPartitionedLsm(
      graft.streaming.CdcStream.fromFiles(spark, in),
      s"$base/audit", s"$base/state", s"$base/ckpt2", 8)
    q2.awaitTermination(120000)
    val replayed = LsmRows(spark, s"$base/state")
    assert(replayed === committed, "replay of a committed batch changed state")
  }

  test("string-keyed table: generic ingress parse + hash bucketing end-to-end") {
    import java.nio.file.{Files, Paths}
    import graft.cdc.{CdcSchema, Changelog}
    val skuType = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("sku",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("qty",
        org.apache.spark.sql.types.IntegerType)))
    val skuSpec = CdcSchema.CdcTableSpec("sku", Seq("qty"))
    def skuEnv(before: String, after: String, op: String, pos: Long) =
      s"""{"payload":{"before":$before,"after":$after,"source":{"ts_ms":${1000 + pos},"pos":$pos,"db":"dev","table":"sku"},"op":"$op","ts_ms":${1000 + pos}}}"""
    val base = Files.createTempDirectory("pstate_str").toString
    val in = s"$base/in"; Files.createDirectories(Paths.get(in))
    Files.write(Paths.get(s"$in/b1.json"), Seq(
      skuEnv("null", """{"sku":"ab-1","qty":5}""", "c", 1),
      skuEnv("null", """{"sku":"zz-9","qty":7}""", "c", 2),
      skuEnv("""{"sku":"ab-1","qty":5}""", """{"sku":"ab-1","qty":6}""", "u", 3))
      .mkString("\n").getBytes)
    val stream = Changelog.fromEnvelopeJsonFor(
      spark.readStream.text(in).withColumnRenamed("value", "raw"),
      skuSpec, skuType, "raw")
    val q = graft.streaming.CdcStream.runPartitionedLsm(
      stream, s"$base/audit", s"$base/state", s"$base/ckpt", 8, skuSpec)
    q.awaitTermination(120000)
    // hash-bucketed dirs (never a cast of the string key); no p=-1
    // without a truncate — the LSM writes a horizon only for one
    val dirs = new java.io.File(s"$base/state/v=1").listFiles()
      .filter(_.isDirectory).map(_.getName).toSet
    assert(!dirs.contains("p=-1") && dirs.nonEmpty, dirs.mkString(","))
    assert(dirs.forall(d => d.stripPrefix("p=").toLong >= 0L
      && d.stripPrefix("p=").toLong < 8L), dirs.mkString(","))
    val snap = graft.streaming.CdcStream
      .partitionedSnapshotLsm(spark, s"$base/state", skuSpec, skuType)
      .collect().map(r => (r.getString(0), r.getInt(1))).toSeq
    assert(snap === Seq(("ab-1", 6), ("zz-9", 7)))
  }

  test("checkpoint reset over retained state with DIFFERENT data fails loudly") {
    import java.nio.file.{Files, Paths}
    val base = Files.createTempDirectory("pstate5").toString
    val in = s"$base/in"; Files.createDirectories(Paths.get(in))
    Files.write(Paths.get(s"$in/b1.json"), Seq(
      env("null", """{"order_id":1,"invoice_number":10}""", "c", 1)).mkString("\n").getBytes)
    val q1 = graft.streaming.CdcStream.runPartitionedLsm(
      graft.streaming.CdcStream.fromFiles(spark, in),
      s"$base/audit", s"$base/state", s"$base/ckpt", 8)
    q1.awaitTermination(120000)
    // A fresh checkpoint over the SAME manifest picture (batchId=0,
    // manifest→v=1) but NEW input is indistinguishable from crash-replay
    // by version alone — only the recorded input fingerprint tells them
    // apart. A silent no-op here would lose the new events forever.
    val in2 = s"$base/in2"; Files.createDirectories(Paths.get(in2))
    Files.write(Paths.get(s"$in2/c1.json"), Seq(
      env("null", """{"order_id":7,"invoice_number":70}""", "c", 9)).mkString("\n").getBytes)
    val q2 = graft.streaming.CdcStream.runPartitionedLsm(
      graft.streaming.CdcStream.fromFiles(spark, in2),
      s"$base/audit2", s"$base/state", s"$base/ckpt_reset", 8)
    val e = intercept[Exception](q2.awaitTermination(120000))
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ messages(x.getCause))
    assert(messages(e).exists(_.contains("fingerprint")),
      s"expected the fingerprint guard, got: ${messages(e).mkString(" | ")}")
    // the guarded state is untouched
    val snap = LsmRows(spark, s"$base/state")
    assert(snap === Seq((1L, 10L)))
  }

  test("crash between stage and manifest commit loses no bucket; GC reclaims") {
    import java.nio.file.{Files, Paths}
    val base = Files.createTempDirectory("pstate3").toString
    val in = s"$base/in"; Files.createDirectories(Paths.get(in))
    Files.write(Paths.get(s"$in/b1.json"), Seq(
      env("null", """{"order_id":0,"invoice_number":5}""", "c", 1),
      env("null", """{"order_id":1,"invoice_number":10}""", "c", 2)).mkString("\n").getBytes)
    val q1 = graft.streaming.CdcStream.runPartitionedLsm(
      graft.streaming.CdcStream.fromFiles(spark, in),
      s"$base/audit", s"$base/state", s"$base/ckpt", 8)
    q1.awaitTermination(120000)
    val committed = LsmRows(spark, s"$base/state")
    assert(committed === Seq((0L, 5L), (1L, 10L)))

    // Simulate a writer killed between stage (version dir written) and
    // commit (_CURRENT rename): a stale staged version appears on disk.
    val staleDf = spark.range(1).selectExpr(
      "CAST(99 AS INT) AS key", "CAST(999 AS BIGINT) AS pos",
      "named_struct('order_id', CAST(99 AS INT), 'invoice_number', CAST(990 AS INT)) AS after",
      "CAST(3 AS BIGINT) AS p")
    staleDf.write.mode("overwrite").partitionBy("p").parquet(s"$base/state/v=77")

    // Readers resolve through _CURRENT: the staged-but-uncommitted version
    // is invisible, and no pre-crash bucket is lost.
    val afterCrash = LsmRows(spark, s"$base/state")
    assert(afterCrash === committed, "uncommitted version leaked or a bucket was lost")

    // The recovered writer re-runs; its commit GCs the unreferenced dir.
    Files.write(Paths.get(s"$in/b2.json"), Seq(
      env("null", """{"order_id":2,"invoice_number":20}""", "c", 3)).mkString("\n").getBytes)
    val q2 = graft.streaming.CdcStream.runPartitionedLsm(
      graft.streaming.CdcStream.fromFiles(spark, in),
      s"$base/audit", s"$base/state", s"$base/ckpt", 8)
    q2.awaitTermination(120000)
    assert(!new java.io.File(s"$base/state/v=77").exists(), "orphan version dir not GC'd")
    val finalSnap = LsmRows(spark, s"$base/state")
    assert(finalSnap === Seq((0L, 5L), (1L, 10L), (2L, 20L)))
  }

  test("truncate batch resets every bucket") {
    import java.nio.file.{Files, Paths}
    val base = Files.createTempDirectory("pstate2").toString
    val in = s"$base/in"; Files.createDirectories(Paths.get(in))
    Files.write(Paths.get(s"$in/b1.json"), Seq(
      env("null", """{"order_id":3,"invoice_number":30}""", "c", 1),
      env("null", """{"order_id":12,"invoice_number":120}""", "c", 2)).mkString("\n").getBytes)
    val q1 = graft.streaming.CdcStream.runPartitionedLsm(
      graft.streaming.CdcStream.fromFiles(spark, in),
      s"$base/audit", s"$base/state", s"$base/ckpt", 8)
    q1.awaitTermination(120000)
    Files.write(Paths.get(s"$in/b2.json"), Seq(
      env("null", "null", "t", 3),
      env("null", """{"order_id":7,"invoice_number":70}""", "c", 4)).mkString("\n").getBytes)
    val q2 = graft.streaming.CdcStream.runPartitionedLsm(
      graft.streaming.CdcStream.fromFiles(spark, in),
      s"$base/audit", s"$base/state", s"$base/ckpt", 8)
    q2.awaitTermination(120000)
    val snap = LsmRows(spark, s"$base/state")
    assert(snap === Seq((7L, 70L)))
  }
}
