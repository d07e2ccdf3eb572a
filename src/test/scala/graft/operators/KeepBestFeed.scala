package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The keep-best store's one feed, for specs: the batch goes through the
  * near-dup index at `ndDir` first, and its verified edges and the same
  * takedown set then go to the keep-best store at `kbDir` — the order a
  * pipeline drop runs the two stores in. Returns keep-best's member rows.
  */
object KeepBestFeed {
  def ingest(spark: SparkSession, ndDir: String, kbDir: String,
             docs: DataFrame, batchId: Long, nBuckets: Int = 64,
             retractIds: Option[DataFrame] = None): DataFrame = {
    val (_, es, eb) = IncrementalNearDup.ingestWithEdges(spark, ndDir, docs,
      batchId, nBuckets, retractIds = retractIds)
    IncrementalKeepBest.ingest(spark, kbDir, docs, batchId, nBuckets,
      edgesIn = Some((es, eb)), retractIds = retractIds)
  }
}
