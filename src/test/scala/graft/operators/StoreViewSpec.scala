package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.streaming.BucketState

/** The manifest-keyed session read view ([[BucketState.readStoreView]]):
  * bit-equality with the direct read across appends, retraction commits,
  * and folds (the cases that exercise the incremental-append and
  * full-reset maintenance paths); lifecycle (invalidation releases the
  * leaf blocks and their lease); and survival of the keep-best store's
  * tracked-diff scratch sweep.
  */
class StoreViewSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def tmp() =
    java.nio.file.Files.createTempDirectory("storeview-spec").toString

  private def docsOf(rows: (Long, String)*) = {
    import spark.implicits._
    rows.toDF("doc_id", "text")
  }

  /** Direct-read rows vs view rows, order-free. */
  private def viewEqualsDirect(dir: String): Unit = {
    val m = BucketState.readManifest(spark, dir)
    val empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("fp",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("doc_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("p",
          org.apache.spark.sql.types.LongType))))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select(col("fp"), col("doc_id"), col("p").cast("long"))
        .collect().map(_.toString).sorted.toSeq
    val direct = rows(BucketState.readBuckets(spark, dir, m.buckets, empty))
    val viewed = rows(BucketState.readStoreView(spark, dir, m, empty))
    assert(viewed === direct)
  }

  test("view ≡ direct read across appends, a retraction, and a fold") {
    val dir = tmp()
    // batch 0: establishes the view (full read)
    IncrementalDedup.ingest(spark, dir,
      docsOf(1L -> "aa bb", 2L -> "cc dd", 3L -> "ee ff"), batchId = 0)
    viewEqualsDirect(dir)
    // batch 1: append path — one delta leaf over the cached base
    IncrementalDedup.ingest(spark, dir,
      docsOf(10L -> "gg hh", 11L -> "ii jj"), batchId = 1)
    viewEqualsDirect(dir)
    // batch 2 with a takedown: the tombstone bucket (p = -1) joins the
    // manifest — the view must carry it like any other bucket
    import spark.implicits._
    IncrementalDedup.ingest(spark, dir, docsOf(20L -> "kk ll"),
      batchId = 2, retractIds = Some(Seq(1L).toDF("doc_id")))
    viewEqualsDirect(dir)
    // fold: pairs are REMOVED from the manifest — full-reset path
    // (the exact store's own fold)
    IncrementalDedup.compact(spark, dir)
    viewEqualsDirect(dir)
    // append after the reset
    IncrementalDedup.ingest(spark, dir, docsOf(30L -> "mm nn"), batchId = 3)
    viewEqualsDirect(dir)
    // admission correctness THROUGH the view: already-seen content stays
    // deduplicated after all of the above
    val out = IncrementalDedup.ingest(spark, dir,
      docsOf(40L -> "cc dd", 41L -> "oo pp"), batchId = 4)
      .collect().map(_.getLong(1)).toSet
    assert(out === Set(41L))
    BucketState.invalidateView(dir)
  }

  test("invalidation releases the view's leaf blocks and their ids") {
    // isolate from views other suites may have left alive
    BucketState.invalidateAllViews()
    val dir = tmp()
    IncrementalDedup.ingest(spark, dir, docsOf(1L -> "aa bb"), batchId = 0)
    val m = BucketState.readManifest(spark, dir)
    val empty = spark.emptyDataFrame
    // first read records the streaming signature (served direct); the
    // second — same pairs, reuse evidence — builds and materializes
    BucketState.readStoreView(spark, dir, m, empty)
    BucketState.readStoreView(spark, dir, m, empty)
    val mine = BucketState.viewRddIds
      .filter(spark.sparkContext.getPersistentRDDs.contains)
    assert(mine.nonEmpty, "materialized view must register leaf RDD ids")
    BucketState.invalidateViewsUnder(dir)
    val after = BucketState.viewRddIds
    assert(mine.forall(id => !after.contains(id)),
      "invalidation must retire the leaf ids")
    assert(mine.forall(id =>
        !spark.sparkContext.getPersistentRDDs.contains(id)),
      "invalidation must unpersist the leaf blocks")
  }

  test("one-shot chunked queries never build a view; streams do") {
    val dir = tmp()
    // the 2-chunk driver-query shape: exactly ONE stored read (chunk 2's
    // anti-join against chunk 1's segment) — no reuse evidence, so no
    // view and no extra store materialization (the decade rungs run
    // this shape at 5M docs)
    IncrementalDedup.ingest(spark, dir, docsOf(1L -> "aa bb"), batchId = 0)
    IncrementalDedup.ingest(spark, dir, docsOf(2L -> "cc dd"), batchId = 1)
    assert(!BucketState.hasView(dir),
      "a single stored read must not build a view")
    // the third ingest's read EXTENDS the second's pairs — the
    // streaming signature — and builds the view
    IncrementalDedup.ingest(spark, dir, docsOf(3L -> "ee ff"), batchId = 2)
    assert(BucketState.hasView(dir),
      "a second extending read must build the view")
    BucketState.invalidateView(dir)
  }

  test("keep-best tracked sweep spares the view's blocks") {
    val nd = tmp()
    val dir = tmp()
    def corpus(ids: Range, tag: String) = {
      import spark.implicits._
      ids.map(i => (i.toLong, s"$tag w$i x$i y$i z$i q$i"))
        .toDF("doc_id", "text")
    }
    // keep-best ingests fed by a near-dup index: reads 1 and 2 establish
    // the streaming signature (read 2 extends read 1's pairs), so ingest
    // 3 builds the view INSIDE the tracked-diff window; the sweep at the
    // end of that ingest must leave the view's blocks cached
    KeepBestFeed.ingest(spark, nd, dir, corpus(1 to 30, "a"),
      batchId = 0)
    KeepBestFeed.ingest(spark, nd, dir, corpus(31 to 60, "b"),
      batchId = 1)
    KeepBestFeed.ingest(spark, nd, dir, corpus(61 to 90, "c"),
      batchId = 2)
    // only the keep-best view's blocks may answer the check below: the
    // near-dup index's view is released first
    BucketState.invalidateViewsUnder(nd)
    assert(BucketState.hasView(dir), "ingest 3 must build the keep-best view")
    val live = BucketState.viewRddIds
      .filter(spark.sparkContext.getPersistentRDDs.contains)
    assert(live.nonEmpty,
      "view blocks must survive the keep-best tracked-diff sweep")
    // and the store still answers correctly through the surviving view
    KeepBestFeed.ingest(spark, nd, dir, corpus(91 to 100, "a"),
      batchId = 3)
    assert(IncrementalKeepBest.snapshot(spark, dir).count() > 0)
    BucketState.invalidateViewsUnder(dir)
    BucketState.invalidateViewsUnder(nd)
  }
}
