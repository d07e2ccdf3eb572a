package graft

import org.apache.spark.sql.functions._

/** Throughput soak for the incremental corpus indexes: generate an N-doc
  * corpus (ScaleProbe's deterministic generator — bounded dup clusters,
  * so admitted counts stay predictable), split it into K parquet drops,
  * stream them through the index's `runIngest` (one manifest-committed
  * ingest per micro-batch against the persisted index), then check the
  * final state EQUALS the one-shot computation over the whole corpus:
  * print one JSON line with docs/s and its `snapshot_diff`, and exit 1
  * when that diff is not 0.
  *
  * Two modes:
  *  - `exact`   — `IncrementalDedup` fingerprint index; final registry ≡
  *    one-shot exact dedup.
  *  - `neardup` — `IncrementalNearDup` banded-MinHash index; the union
  *    of per-drop admitted sets ≡ the one-shot pairwise first-wins
  *    filter (reject every doc with an est≥0.5 banded collision to a
  *    smaller id), computed here with the same `bandRowsOf` ladder.
  *
  * What this demonstrates beyond the unit fixtures: the index survives K
  * successive commits at volume (manifest churn, GC, segment
  * accumulation) and ingest cost stays FLAT as the index grows — the
  * O(batch), never O(state), claim measured rather than argued. The
  * JSON carries per-drop wall times plus first-half/second-half medians:
  * an O(state) regression shows up as h2/h1 ≫ 1 long before it shows in
  * the total. With `asyncCompaction` the fold runs on a background
  * thread racing the remaining drops (the locked leased-read ingest
  * protocol makes that safe), so drop times stay O(batch) even in the
  * drops where the fold trips.
  *
  * Usage: `graft.IngestSoak [nDocs] [nBatches] [workDir]
  * [compactWhenSegments] [mode] [async]` — `compactWhenSegments` 0
  * (default) never folds; mode `exact` (default) | `neardup`; `async` =
  * `async` to dispatch folds off the hot path.
  */
object IngestSoak {
  def main(args: Array[String]): Unit = {
    val nDocs = args.headOption.map(_.toLong).getOrElse(100000L)
    val nBatches = args.lift(1).map(_.toInt).getOrElse(8)
    val base = args.lift(2).filter(_.nonEmpty).getOrElse(
      java.nio.file.Files.createTempDirectory("graft-ingest-soak").toString)
    val compactWhenSegments = args.lift(3).map(_.toInt).getOrElse(0)
    val mode = args.lift(4).getOrElse("exact")
    require(mode == "exact" || mode == "neardup",
      s"mode must be exact|neardup, got $mode")
    val async = args.lift(5).contains("async")
    val spark = Graft.session(Graft.localMaster)
    spark.sparkContext.setLogLevel("WARN")

    ScaleProbe.writeDocuments(spark, s"$base/corpus", nDocs)
    val corpus = spark.read.parquet(s"$base/corpus/documents.parquet")
      .select(col("doc_id"), col("text"))
    // K doc_id-range drops, one parquet file dir each (the "crawl drops")
    val per = (nDocs + nBatches - 1) / nBatches
    (0 until nBatches).foreach { b =>
      corpus.filter(col("doc_id") >= b * per && col("doc_id") < (b + 1) * per)
        // one file per drop: the file source triggers per FILE, so without
        // the coalesce each drop's ~cpus part files become that many tiny
        // micro-batches and per-batch commit overhead swamps the measurement
        .coalesce(1)
        .write.mode("overwrite").parquet(f"$base/drops/d$b%03d")
    }

    val indexDir = s"$base/index"
    // worst read amplification actually hit during the run (the final
    // manifest alone can't show it — a compaction may have just folded)
    val observedMax = new java.util.concurrent.atomic.AtomicInteger(0)
    // per-drop wall time: onBatch-to-onBatch deltas. AvailableNow runs
    // batches back to back, so the delta IS that drop's ingest cost
    // (plus, in sync mode, any fold it triggered).
    val batchEnds = new java.util.concurrent.ConcurrentLinkedQueue[java.lang.Long]()
    val stream = spark.readStream
      .schema(corpus.schema)
      .option("maxFilesPerTrigger", 1) // one drop per micro-batch
      .parquet(s"$base/drops/d*")
    val onB: (Long, Int) => Unit = (_, segs) => {
      observedMax.getAndAccumulate(segs, math.max)
      batchEnds.add(System.nanoTime())
      ()
    }
    val t0 = System.nanoTime()
    val q =
      if (mode == "exact")
        operators.IncrementalDedup.runIngest(stream, indexDir, s"$base/ckpt",
          compactWhenSegments = compactWhenSegments,
          onBatch = onB, asyncCompaction = async)
      else
        operators.IncrementalNearDup.runIngest(stream, indexDir, s"$base/ckpt",
          compactWhenSegments = compactWhenSegments,
          onBatch = onB, asyncCompaction = async)
    q.processAllAvailable(); q.stop()
    streaming.BucketState.quiesce(indexDir)
    val sec = (System.nanoTime() - t0) / 1e9

    val diff =
      if (mode == "exact") {
        val admitted = operators.IncrementalDedup.snapshot(spark, indexDir)
        val expected = corpus
          .select(functions.TextFns.fingerprint(col("text")).as("fp"), col("doc_id"))
          .groupBy("fp").agg(min("doc_id").as("doc_id"))
        admitted.exceptAll(expected).count() + expected.exceptAll(admitted).count()
      } else {
        val admitted = operators.IncrementalNearDup.admittedSnapshot(spark, indexDir)
        // one-shot pairwise first-wins filter — the ingest's own predicate
        // (nearDup, package-private) so the two definitions cannot drift
        val bands = operators.IncrementalNearDup.bandRowsOf(corpus).persist()
        val rejected = bands.as("x").join(bands.as("y"),
            col("x.band") === col("y.band") && col("x.bh") === col("y.bh") &&
              col("y.doc_id") < col("x.doc_id"))
          .filter(operators.IncrementalNearDup.nearDup(col("x.sig"), col("y.sig")))
          .select(col("x.doc_id").as("doc_id")).distinct()
        // the admitted universe is docs that PRODUCE band rows (ingest
        // derives admission from bands) — a <3-token or null-text doc has
        // no bands and can never be admitted, so the expected set must
        // start from the same universe, not from the raw corpus
        val expected = bands.select(col("doc_id")).distinct()
          .join(rejected, Seq("doc_id"), "left_anti")
        val d = admitted.exceptAll(expected).count() +
          expected.exceptAll(admitted).count()
        bands.unpersist()
        d
      }
    val admittedCount =
      if (mode == "exact")
        operators.IncrementalDedup.snapshot(spark, indexDir).count()
      else operators.IncrementalNearDup.admittedSnapshot(spark, indexDir).count()
    val mEnd = streaming.BucketState.readManifest(spark, indexDir)
    val versions = mEnd.buckets.values.flatten.toSet.size
    // read amplification: segments a snapshot/anti-join must merge per
    // bucket — the quantity the compaction policy exists to bound
    val maxSegs = mEnd.maxSegments
    import scala.jdk.CollectionConverters._
    val ends = batchEnds.asScala.map(_.longValue()).toArray.sorted
    val drops = (t0 +: ends.dropRight(1)).zip(ends)
      .map { case (a, b) => (b - a) / 1e9 }
    def med(xs: Array[Double]): Double =
      if (xs.isEmpty) 0.0
      else { val s = xs.sorted; s(s.length / 2) }
    val (h1, h2) = drops.splitAt(drops.length / 2)
    Graft.finish(spark, "ingest_soak", Seq("mode" -> mode, "docs" -> nDocs,
      "batches" -> nBatches, "compact_when_segments" -> compactWhenSegments,
      "async" -> async, "sec" -> math.round(sec * 1000) / 1000.0,
      "docs_per_sec" -> math.round(nDocs / sec),
      "drop_sec" -> drops.map(Trace.fixed(_, 3)),
      "drop_med_first_half" -> Trace.fixed(med(h1), 3),
      "drop_med_second_half" -> Trace.fixed(med(h2), 3),
      "admitted" -> admittedCount, "snapshot_diff" -> diff,
      "live_versions" -> versions, "max_segments_per_bucket" -> maxSegs,
      "max_segments_observed" -> observedMax.get()),
      s"[ingest-soak] $mode index diverged from the one-shot answer" -> (diff == 0))
  }
}
