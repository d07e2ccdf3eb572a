package graft

import org.apache.spark.sql.functions._

/** External-replica throughput soak: the [[Soak]] workload applied to a
  * real JDBC store (DuckDB file db) through `streaming.JdbcSink`, once
  * with per-row statements (`batchSize=1` — the reference consumer's
  * one-INSERT-per-message chattiness, `main.py:45`) and once with
  * client-side batching (`batchSize=1000`). Prints one JSON line with
  * events/s for both modes and the speedup; asserts both replicas equal
  * the engine's own parquet fold of the same stream.
  *
  * The stream is applied as `nBatches` contiguous pos-ranges to model
  * micro-batches: each applyBatch folds its slice to one row per key
  * before touching JDBC, so the upsert count is O(|delta|) either way —
  * what batching changes is ROUND-TRIPS per delta row, which is exactly
  * what a networked store (the reference's ClickHouse) charges for.
  *
  * Usage: `graft.JdbcSoak [nKeys] [nBatches] [workDir]` — needs the
  * DuckDB JDBC jar on the classpath (pre-warmed coursier cache); without
  * it the soak has nothing to check and exits 2 with a note.
  */
object JdbcSoak {
  def main(args: Array[String]): Unit = {
    val nKeys = args.headOption.map(_.toInt).getOrElse(100000)
    val nBatches = args.lift(1).map(_.toInt).getOrElse(8)
    val base = args.lift(2).filter(_.nonEmpty).getOrElse(
      java.nio.file.Files.createTempDirectory("graft-jdbc-soak").toString)
    try Class.forName("org.duckdb.DuckDBDriver")
    catch { case _: ClassNotFoundException =>
      System.err.println("[jdbc-soak] DuckDB JDBC driver not on classpath; nothing to measure")
      sys.exit(2)
    }
    val spark = Graft.session(Graft.localMaster)
    spark.sparkContext.setLogLevel("WARN")

    val in = s"$base/in"
    Soak.envelopeLines(spark, nKeys).repartition(10).write.mode("overwrite").text(in)
    val nEnvelopes = spark.read.text(in).count()
    // one parse for everything: the changelog replayed per pos-slice
    val log = cdc.Changelog.fromEnvelopeJson(spark.read.text(in).toDF("value"))
      .persist()
    val maxPos = nKeys.toLong * 5 + 5
    val cuts = (0 to nBatches).map(i => maxPos * i / nBatches)

    def timedSink(batchSize: Int, url: String): Double = {
      val t0 = System.nanoTime()
      cuts.sliding(2).foreach { case Seq(lo, hi) =>
        streaming.JdbcSink.applyBatch(
          log.filter(col("pos") > lo && col("pos") <= hi),
          url, "invoice", batchSize = batchSize)
      case _ => ()
      }
      (System.nanoTime() - t0) / 1e9
    }

    def replica(url: String) = spark.read
      .format("jdbc").option("url", url).option("driver", "org.duckdb.DuckDBDriver")
      .option("query",
        "SELECT order_id, invoice_number FROM invoice WHERE invoice_number IS NOT NULL")
      .load()
      .select(col("order_id").cast("int"), col("invoice_number").cast("int"))

    val urlRow = s"jdbc:duckdb:$base/row.db"
    val urlBat = s"jdbc:duckdb:$base/batch.db"
    val rowSec = timedSink(1, urlRow)
    val batSec = timedSink(streaming.JdbcSink.DefaultBatchSize, urlBat)

    // both replicas must equal the engine's own fold of the same stream
    val expect = cdc.CdcApply.snapshot(log)
      .select(col("order_id").cast("int"), col("invoice_number").cast("int"))
      .persist()
    val diffRow = expect.exceptAll(replica(urlRow)).count() +
      replica(urlRow).exceptAll(expect).count()
    val diffBat = expect.exceptAll(replica(urlBat)).count() +
      replica(urlBat).exceptAll(expect).count()
    Graft.finish(spark, "jdbc_soak", Seq("envelopes" -> nEnvelopes,
      "batches" -> nBatches, "perrow_sec" -> Trace.fixed(rowSec, 2),
      "perrow_eps" -> (nEnvelopes / rowSec).toInt,
      "batched_sec" -> Trace.fixed(batSec, 2),
      "batched_eps" -> (nEnvelopes / batSec).toInt,
      "speedup" -> Trace.fixed(rowSec / batSec, 2),
      "replica_diff_perrow" -> diffRow, "replica_diff_batched" -> diffBat),
      "[jdbc-soak] JDBC replica diverged from the engine fold" ->
        (diffRow == 0 && diffBat == 0))
  }
}
