package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Reproducible throughput soak: generate N-scale Debezium envelopes as
  * JSON files, stream them through the full path — parse → dead-letter
  * gate → audit append → LSM segment append with sync compaction
  * (`CdcStream.runPartitionedLsm`) — then replay the same envelopes in
  * batch mode and assert the LSM snapshot (`partitionedSnapshotLsm`)
  * equals the batch one. Prints one JSON
  * line with events/s for each mode (the README "Measured throughput"
  * numbers come from here).
  *
  * Usage: `graft.Soak [nKeys] [workDir]` — ~1.6 envelopes per key.
  */
object Soak {

  /** The soak workload as envelope-JSON lines (one column `value`):
    * insert every key, update k%3, second update k%9, delete k%7 — the
    * reference sequencer's op mix at scale, no RNG. Shared with
    * [[JdbcSoak]] so both soaks measure the same stream.
    */
  def envelopeLines(spark: SparkSession, nKeys: Int): org.apache.spark.sql.DataFrame = {
    def env(pos: org.apache.spark.sql.Column, before: org.apache.spark.sql.Column,
            after: org.apache.spark.sql.Column) =
      format_string(
        """{"payload":{"before":%s,"after":%s,"source":{"ts_ms":%d,"pos":%d,"db":"dev","table":"invoice"},"op":"x","ts_ms":%d}}""",
        before, after, pos + 1000L, pos, pos + 1000L)
    def img(k: org.apache.spark.sql.Column, v: org.apache.spark.sql.Column) =
      format_string("""{"order_id":%d,"invoice_number":%d}""", k, v)
    val ks = spark.range(nKeys).select(col("id").cast("int").as("k"))
    val nullS = lit("null")
    ks.select(env(col("k").cast("long") * 5 + 1, nullS, img(col("k"), col("k") % 1000)).as("value"))
      .unionByName(ks.filter(col("k") % 3 === 0).select(
        env(col("k").cast("long") * 5 + 2, img(col("k"), col("k") % 1000),
          img(col("k"), col("k") % 1000 + 1)).as("value")))
      .unionByName(ks.filter(col("k") % 9 === 0).select(
        env(col("k").cast("long") * 5 + 3, img(col("k"), col("k") % 1000 + 1),
          img(col("k"), col("k") % 1000 + 2)).as("value")))
      .unionByName(ks.filter(col("k") % 7 === 0).select(
        env(col("k").cast("long") * 5 + 4, img(col("k"), col("k") % 1000),
          nullS).as("value")))
  }

  def main(args: Array[String]): Unit = {
    val nKeys = args.headOption.map(_.toInt).getOrElse(600000)
    val base = args.lift(1).filter(_.nonEmpty).getOrElse(
      java.nio.file.Files.createTempDirectory("graft-soak").toString)
    val spark = Graft.session(Graft.localMaster)
    spark.sparkContext.setLogLevel("WARN")

    // Deterministic workload over nKeys keys (~1.6 envelopes/key); see
    // [[envelopeLines]].
    val lines = envelopeLines(spark, nKeys)
    val in = s"$base/in"
    lines.repartition(10).write.mode("overwrite").text(in)
    val nEnvelopes = spark.read.text(in).count()

    // ---- batch replay first (identical transformations, one pass):
    // measured before streaming so neither number inherits the other's
    // JVM/GC pressure (measured 3× slower when run second)
    val t1 = System.nanoTime()
    val batchSnap = cdc.CdcApply.snapshot(
      cdc.Changelog.fromEnvelopeJson(spark.read.text(in).toDF("value")))
    val batchRows = batchSnap.count()
    val batchSec = (System.nanoTime() - t1) / 1e9

    // ---- streaming: the full production path; 2 files per trigger → 5
    // micro-batches, so the O(delta) segment append actually runs
    // incrementally instead of as one replay-sized batch
    val t0 = System.nanoTime()
    val q = streaming.CdcStream.runPartitionedLsm(
      streaming.CdcStream.fromFiles(spark, in, maxFilesPerTrigger = Some(2)),
      s"$base/audit", s"$base/state", s"$base/ckpt")
    q.awaitTermination(1200000)
    val streamSec = (System.nanoTime() - t0) / 1e9
    val streamed = streaming.CdcStream.partitionedSnapshotLsm(spark, s"$base/state")
      .select(col("order_id").cast("long").as("order_id"),
        col("invoice_number").cast("long").as("invoice_number"))

    val diff = streamed.exceptAll(batchSnap).count() +
      batchSnap.exceptAll(streamed).count()
    val audit = spark.read.parquet(s"$base/audit").count()
    Graft.finish(spark, "soak", Seq("envelopes" -> nEnvelopes,
      "stream_sec" -> streamSec, "stream_eps" -> (nEnvelopes / streamSec).toInt,
      "batch_sec" -> batchSec, "batch_eps" -> (nEnvelopes / batchSec).toInt,
      "state_keys" -> batchRows, "snapshot_diff" -> diff, "audit_rows" -> audit),
      "[soak] stream/batch snapshots diverged" -> (diff == 0),
      s"[soak] audit incomplete: $audit != $nEnvelopes" -> (audit == nEnvelopes))
  }
}
