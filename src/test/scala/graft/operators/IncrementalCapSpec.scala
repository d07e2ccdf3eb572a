package graft.operators

import org.apache.spark.sql.{DataFrame, functions => F}
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** The prefix-cap + identical-signature rescue semantics of the
  * incremental near-dup/keep-best indexes ([[IncrementalNearDup.bucketCap]])
  * — exercised with a tiny conf'd cap so the cap actually BITES, which it
  * never does at the driver scales (that regime is covered by the full
  * DuckDB oracles). The reference implementation below replays the
  * declared semantics one-shot over the whole corpus with an independent
  * formulation (global ROW_NUMBER rank per bucket, not the engine's
  * stored-count + in-batch-rank split), so agreement pins that chunked
  * ingest equals the declared batch answer exactly where capping and
  * rescue decide outcomes.
  */
class IncrementalCapSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def freshDir(tag: String) =
    java.nio.file.Files.createTempDirectory(tag).toString

  private def docsDf(rows: Seq[(Long, String)]) =
    spark.createDataFrame(rows).toDF("doc_id", "text")
      .select(col("doc_id"), col("text"))

  /** One-shot replay of the declared prefix-capped verified graph:
    * banded pairs where the later doc holds rank ≤ cap+1 in the bucket,
    * est ≥ 0.5 verified; saturated arrivals edge to the smallest earlier
    * doc with the identical full signature.
    */
  private def cappedPairs(docs: DataFrame, cap: Long): DataFrame = {
    val bands = IncrementalNearDup.bandRowsOf(docs)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("band"), col("bh")).orderBy(col("doc_id"))
    val rb = bands.select(col("band"), col("bh"), col("doc_id"))
      .withColumn("rn", F.row_number().over(w))
    val sigs = bands.filter(col("band") === 0L).select(col("doc_id"), col("sig"))
    val cand = rb.as("x").join(rb.as("y"),
        col("x.band") === col("y.band") && col("x.bh") === col("y.bh") &&
          col("x.doc_id") < col("y.doc_id") && col("y.rn") <= cap + 1)
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()
    val verified = cand
      .join(sigs.select(col("doc_id").as("doc_a"), col("sig").as("sig_a")), Seq("doc_a"))
      .join(sigs.select(col("doc_id").as("doc_b"), col("sig").as("sig_b")), Seq("doc_b"))
      .filter(IncrementalNearDup.nearDup(col("sig_a"), col("sig_b")))
      .select(col("doc_a"), col("doc_b"))
    val sk = sigs.select(col("doc_id"),
      IncrementalNearDup.sigKey(col("sig")).as("k"))
    val resc = rb.filter(col("rn") > cap + 1).select(col("doc_id")).distinct()
    val rescue = resc.join(sk, Seq("doc_id")).as("r")
      .join(sk.select(col("k"), col("doc_id").as("odoc")).as("o"), Seq("k"))
      .filter(col("odoc") < col("doc_id"))
      .groupBy(col("doc_id"))
      .agg(F.min(col("odoc")).as("doc_a"))
      .select(col("doc_a"), col("doc_id").as("doc_b"))
    verified.unionByName(rescue).distinct()
  }

  /** 9 docs: a 5-member identical-text clique (mega-cluster at cap=1), a
    * near-dup tail variant of the clique text (shares bands, different
    * sig), and 3 unrelated docs, one of which (8,9) is a plain near-dup
    * pair in never-saturated buckets.
    */
  private val cliqueText =
    "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
  private val corpus: Seq[(Long, String)] = Seq(
    1L -> cliqueText, 2L -> cliqueText, 3L -> cliqueText,
    4L -> cliqueText, 5L -> cliqueText,
    6L -> (cliqueText + " omega psi chi"),
    7L -> "unrelated maritime insurance boilerplate concerning coastal provinces before nineteen twelve",
    8L -> "the quick brown fox jumps over the lazy dog near the old stone bridge",
    9L -> "the quick brown fox jumps over the lazy dog near the old stone bridge today")

  private def withCap[T](cap: Long)(f: => T): T = {
    spark.conf.set("spark.graft.neardup.bucketCap", cap.toString)
    try f finally spark.conf.unset("spark.graft.neardup.bucketCap")
  }

  test("admission with a biting cap equals the one-shot declared replay, chunk-invariant") {
    withCap(1) {
      val docs = docsDf(corpus)
      val pairs = cappedPairs(docs, 1)
      val expected = IncrementalNearDup.bandRowsOf(docs)
        .select(col("doc_id")).distinct()
        .join(pairs.select(col("doc_b").as("doc_id")).distinct(),
          Seq("doc_id"), "left_anti")
        .collect().map(_.getLong(0)).sorted.toSeq

      // one chunk
      val d1 = freshDir("cap-nd-one")
      val one = IncrementalNearDup.ingest(spark, d1, docs, 0, nBuckets = 4)
        .collect().map(_.getLong(0)).sorted.toSeq
      // three ascending chunks — cap decisions must not move across the
      // stored/in-batch boundary
      val d3 = freshDir("cap-nd-three")
      val a = IncrementalNearDup.ingest(spark, d3,
        docs.filter(col("doc_id") <= 3), 0, nBuckets = 4)
      val b = IncrementalNearDup.ingest(spark, d3,
        docs.filter(col("doc_id") > 3 && col("doc_id") <= 6), 1, nBuckets = 4)
      val c = IncrementalNearDup.ingest(spark, d3,
        docs.filter(col("doc_id") > 6), 2, nBuckets = 4)
      val three = (a.collect() ++ b.collect() ++ c.collect())
        .map(_.getLong(0)).sorted.toSeq

      assert(one === expected)
      assert(three === expected)
      // the rescue did real work: the identical clique admits only its
      // first member even though banded candidates stop at the cap
      assert(expected.count(Set(1L, 2L, 3L, 4L, 5L)) === 1)
      // and the plain near-dup pair in never-saturated buckets behaves
      // exactly as uncapped first-wins
      assert(expected.contains(8L) && !expected.contains(9L))
      graft.Shared.deleteDirTree(d1); graft.Shared.deleteDirTree(d3)
    }
  }

  test("keep-best snapshot with a biting cap equals keepBestOf over the capped components") {
    withCap(1) {
      val docs = docsDf(corpus)
      val pairs = cappedPairs(docs, 1)
      val scored = docs.select(col("doc_id"),
        TextAnalysis.scoreExpr(col("text")).as("score"))
      val expected = Dedup.keepBestOf(
          Dedup.clustersOf(spark, pairs, docs.select(col("doc_id"))), scored)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(3))).sorted.toSeq

      val nd = freshDir("cap-kb-nd")
      val dir = freshDir("cap-kb")
      KeepBestFeed.ingest(spark, nd, dir,
        docs.filter(col("doc_id") <= 3), 0, nBuckets = 8).count()
      KeepBestFeed.ingest(spark, nd, dir,
        docs.filter(col("doc_id") > 3 && col("doc_id") <= 6), 1, nBuckets = 8).count()
      KeepBestFeed.ingest(spark, nd, dir,
        docs.filter(col("doc_id") > 6), 2, nBuckets = 8).count()
      val got = IncrementalKeepBest.snapshot(spark, dir)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(3))).sorted.toSeq
      assert(got === expected)
      // the identical clique is ONE five-member cluster — connected
      // through the rescue star, never through cap-bounded banding alone
      assert(got.exists { case (c, _, n) => c === 1L && n === 5L })
      graft.Shared.deleteDirTree(dir)
    }
  }

  test("replayed edge recompute equals the first run bit-for-bit under a biting cap") {
    withCap(1) {
      val docs = docsDf(corpus)
      val dir = freshDir("cap-nd-replay")
      IncrementalNearDup.ingest(spark, dir,
        docs.filter(col("doc_id") <= 5), 0, nBuckets = 4).count()
      val batch2 = docs.filter(col("doc_id") > 5)
      val (a1, es1, eb1) =
        IncrementalNearDup.ingestWithEdges(spark, dir, batch2, 1, nBuckets = 4)
      // same batchId + same input → AlreadyCommitted: the recompute feeds
      // an overlay's crash recovery, so its edge frames must equal the
      // first run's exactly. The pre-fix recompute ran against the
      // post-commit manifest, counted the batch's own stored rows into
      // the cap predicate (pred inflated by the per-bucket batch count),
      // spuriously saturated the (8,9) bucket at cap=1, and dropped that
      // verified pair from edgesBatch — splitting the overlay component.
      val (a2, es2, eb2) =
        IncrementalNearDup.ingestWithEdges(spark, dir, batch2, 1, nBuckets = 4)
      def pairsOf(df: DataFrame) =
        df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(pairsOf(es2) === pairsOf(es1))
      assert(pairsOf(eb2) === pairsOf(eb1))
      // the near-cap in-batch pair is present in the replayed feed
      assert(pairsOf(eb2).exists(p => Set(p) === Set((9L, 8L)) || Set(p) === Set((8L, 9L))))
      assert(a2.collect().map(_.getLong(0)).sorted.toSeq ===
        a1.collect().map(_.getLong(0)).sorted.toSeq)
      graft.Shared.deleteDirTree(dir)
    }
  }

  test("occupancy-guard boundary: engage-without-saturation and skip both equal the declared replay") {
    // cap=6: the densest bucket's combined occupancy (the 5-clique + the
    // tail variant) is ≤ cap in every chunk, so the guard SKIPS the rank
    // machinery outright; cap=5: the second chunk pushes combined
    // occupancy past the cap, the guard ENGAGES, yet no arrival is
    // actually saturated — both plans must admit exactly the declared
    // capped replay's answer
    val docs = docsDf(corpus)
    Seq(5L, 6L).foreach { cap =>
      withCap(cap) {
        val expected = IncrementalNearDup.bandRowsOf(docs)
          .select(col("doc_id")).distinct()
          .join(cappedPairs(docs, cap).select(col("doc_b").as("doc_id")).distinct(),
            Seq("doc_id"), "left_anti")
          .collect().map(_.getLong(0)).sorted.toSeq
        val dir = freshDir(s"cap-nd-guard$cap")
        val a = IncrementalNearDup.ingest(spark, dir,
          docs.filter(col("doc_id") <= 5), 0, nBuckets = 4)
        val b = IncrementalNearDup.ingest(spark, dir,
          docs.filter(col("doc_id") > 5), 1, nBuckets = 4)
        val got = (a.collect() ++ b.collect()).map(_.getLong(0)).sorted.toSeq
        assert(got === expected, s"cap=$cap")
        graft.Shared.deleteDirTree(dir)
      }
    }
  }

  test("default cap admits bit-identically to the uncapped graph at spec scale") {
    // at the default 2000 no bucket here is ever saturated: the capped
    // replay and an uncapped pairwise replay must coincide, pinning that
    // the cap machinery is inert below saturation (the every-driver-scale
    // regime the full DuckDB oracles gate)
    val docs = docsDf(corpus)
    val capped = cappedPairs(docs, IncrementalNearDup.DefaultBucketCap)
    val bands = IncrementalNearDup.bandRowsOf(docs)
    val uncapped = bands.as("x").join(bands.as("y"),
        col("x.band") === col("y.band") && col("x.bh") === col("y.bh") &&
          col("x.doc_id") < col("y.doc_id"))
      .filter(IncrementalNearDup.nearDup(col("x.sig"), col("y.sig")))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()
    assert(capped.exceptAll(uncapped).count() === 0)
    assert(uncapped.exceptAll(capped).count() === 0)
  }
}
