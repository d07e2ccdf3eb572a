package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.streaming.BucketState

/** Takedown semantics across the four incremental curation stores
  * (the [[Retraction]] design): tombstones commit atomically with a
  * batch, mask every stored read BEFORE that batch's admissions, leave
  * the snapshots, and fold out at compaction without changing any
  * answer. The driver queries `dedup_incremental_retract` /
  * `dedup_neardup_retract` pin the full sequence semantics against
  * DuckDB; these specs pin the store-level contracts the oracles cannot
  * see (replay, loud divergence, compaction fold, serving-path masks).
  */
class RetractionSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def freshDir(tag: String) =
    java.nio.file.Files.createTempDirectory(tag).toString

  private def idsOf(df: DataFrame): Set[Long] =
    df.select("doc_id").collect().map(_.getLong(0)).toSet

  // ---------------------------------------------------------- exact
  test("exact: a retracted winner's content is readmitted by the NEXT arrival, not a past duplicate") {
    val d = freshDir("ret-exact")
    // batch 0: docs 1 and 2 share content (1 wins), 3 distinct
    val b0 = Seq((1L, "alpha beta gamma"), (2L, "alpha beta gamma"),
      (3L, "delta epsilon zeta")).toDF("doc_id", "text")
    IncrementalDedup.ingest(spark, d, b0, 0, nBuckets = 8).count()
    // batch 1 retracts winner 1 and brings doc 4 with the same content:
    // 4 must be readmitted (registry row for the content is gone) —
    // and the surviving registry must NOT resurrect 2 (non-retroactive)
    val b1 = Seq((4L, "alpha beta gamma"), (5L, "eta theta iota"))
      .toDF("doc_id", "text")
    IncrementalDedup.ingest(spark, d, b1, 1, nBuckets = 8,
      retractIds = Some(Seq(1L).toDF("doc_id"))).count()
    assert(idsOf(IncrementalDedup.snapshot(spark, d)) === Set(3L, 4L, 5L))

    // replay with the same retraction set: idempotent no-op
    IncrementalDedup.ingest(spark, d, b1, 1, nBuckets = 8,
      retractIds = Some(Seq(1L).toDF("doc_id"))).count()
    assert(idsOf(IncrementalDedup.snapshot(spark, d)) === Set(3L, 4L, 5L))
    // same data, DIFFERENT retraction set: loud refusal (the
    // checkpoint-reset guard extends to the takedown input)
    val ex = intercept[IllegalArgumentException] {
      IncrementalDedup.ingest(spark, d, b1, 1, nBuckets = 8,
        retractIds = Some(Seq(2L).toDF("doc_id"))).count()
    }
    assert(ex.getMessage.contains("fingerprint"))

    // compaction folds masked rows AND tombstones; answers unchanged
    IncrementalDedup.compact(spark, d)
    assert(idsOf(IncrementalDedup.snapshot(spark, d)) === Set(3L, 4L, 5L))
    assert(!BucketState.readManifest(spark, d).buckets
      .contains(Retraction.TombBucket),
      "tombstone bucket must fold out of the manifest")
    // and ingestion continues correctly over the folded store: content
    // of the FOLDED-AWAY winner (doc 4's) is still registered
    val b2 = Seq((6L, "alpha beta gamma")).toDF("doc_id", "text")
    IncrementalDedup.ingest(spark, d, b2, 2, nBuckets = 8).count()
    assert(idsOf(IncrementalDedup.snapshot(spark, d)) === Set(3L, 4L, 5L))
    graft.Shared.deleteDirTree(d)
  }

  // ---------------------------------------------------------- near-dup
  test("near-dup: retraction unblocks later admissions and leaves the admitted snapshot") {
    val d = freshDir("ret-nd")
    val tA = "the quick brown fox jumps over the lazy dog today"
    val tC = "completely different words about ships sailing the wide sea"
    val b0 = Seq((1L, tA), (2L, tC)).toDF("doc_id", "text")
    IncrementalNearDup.ingest(spark, d, b0, 0, nBuckets = 8).count()
    // batch 1 retracts 1; doc 3 (near-dup of retracted 1) must now be
    // ADMITTED, doc 4 (near-dup of surviving 2) must stay rejected
    val b1 = Seq((3L, tA), (4L, tC)).toDF("doc_id", "text")
    IncrementalNearDup.ingest(spark, d, b1, 1, nBuckets = 8,
      retractIds = Some(Seq(1L).toDF("doc_id"))).count()
    assert(idsOf(IncrementalNearDup.admittedSnapshot(spark, d)) === Set(2L, 3L))

    // compaction folds the masked band/sig rows but KEEPS the tombstone
    // relation (the admitted registry is immutable per-batch files and
    // needs its standing mask); admissions keep running against the
    // surviving index (5 near-dups the surviving 3 → rejected)
    IncrementalNearDup.compact(spark, d)
    assert(idsOf(IncrementalNearDup.admittedSnapshot(spark, d)) === Set(2L, 3L))
    val b2 = Seq((5L, tA)).toDF("doc_id", "text")
    IncrementalNearDup.ingest(spark, d, b2, 2, nBuckets = 8).count()
    assert(idsOf(IncrementalNearDup.admittedSnapshot(spark, d)) === Set(2L, 3L))
    graft.Shared.deleteDirTree(d)
  }

  test("near-dup: a retracted recorded minimum removes its rescue anchor (biting cap)") {
    // cap = 1 saturates every bucket with >2 occupants; identical texts
    // make the rescue the only admission path. Retract the batch-0
    // recorded minimum (doc 1): a later saturated arrival finds NO
    // stored anchor for the signature — surviving non-minimum same-sig
    // docs do not become anchors — so its edge resolves in-batch or not
    // at all. This is the declared semantics the DuckDB oracle replays.
    val d = freshDir("ret-nd-anchor")
    val t = "same exact words repeated in every single document here now"
    spark.conf.set("spark.graft.neardup.bucketCap", "1")
    try {
      val b0 = (1L to 3L).map(i => (i, t)).toDF("doc_id", "text")
      IncrementalNearDup.ingest(spark, d, b0, 0, nBuckets = 8).count()
      // docs 2,3 rejected (edge to 1 via band or rescue); 1 admitted
      assert(idsOf(IncrementalNearDup.admittedSnapshot(spark, d)) === Set(1L))
      // batch 1 retracts the anchor doc 1; docs 4,5 arrive (same sig):
      // 4's bucket shows 2 surviving predecessors (2,3) > cap ⇒ rescue;
      // stored anchor is gone ⇒ no stored partner; in-batch has none
      // smaller ⇒ 4 ADMITTED. 5 rescues to in-batch 4 ⇒ rejected.
      val b1 = Seq((4L, t), (5L, t)).toDF("doc_id", "text")
      val (admitted, eSeen, eBatch) = IncrementalNearDup.ingestWithEdges(
        spark, d, b1, 1, nBuckets = 8,
        retractIds = Some(Seq(1L).toDF("doc_id")))
      assert(idsOf(admitted) === Set(4L))
      assert(eSeen.collect().isEmpty,
        "no stored rescue partner once the recorded minimum is retracted")
      assert(eBatch.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
        === Set((5L, 4L)))
      assert(idsOf(IncrementalNearDup.admittedSnapshot(spark, d)) === Set(4L))
    } finally spark.conf.unset("spark.graft.neardup.bucketCap")
    graft.Shared.deleteDirTree(d)
  }

  // ---------------------------------------------------------- keep-best
  test("keep-best: the cluster answers with its best SURVIVING member; a fully-retracted cluster disappears") {
    val nd = freshDir("ret-kb-nd")
    val d = freshDir("ret-kb")
    val t1 = "one cluster of very similar documents goes right here okay"
    val t2 = "a second unrelated cluster talks about mountains and rivers"
    val b0 = Seq((1L, t1), (2L, t1 + " extra"), (10L, t2))
      .toDF("doc_id", "text")
    KeepBestFeed.ingest(spark, nd, d, b0, 0, nBuckets = 8).count()
    val snap0 = IncrementalKeepBest.snapshot(spark, d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(3))).toList
    val best1 = snap0.find(_._1 == 1L).get
    assert(best1._3 === 2L, "cluster {1,2} has two members")
    // retract the current best of cluster 1 → the other member answers
    val b1 = Seq.empty[(Long, String)].toDF("doc_id", "text")
    KeepBestFeed.ingest(spark, nd, d, b1, 1, nBuckets = 8,
      retractIds = Some(Seq(best1._2).toDF("doc_id"))).count()
    val snap1 = IncrementalKeepBest.snapshot(spark, d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(3))).toList
    val after1 = snap1.find(_._1 == 1L).get
    assert(after1._3 === 1L)
    assert(Set(1L, 2L).contains(after1._2) && after1._2 != best1._2)
    // retract the survivor too → the cluster disappears entirely,
    // the unrelated cluster is untouched
    KeepBestFeed.ingest(spark, nd, d, b1, 2, nBuckets = 8,
      retractIds = Some(Seq(after1._2).toDF("doc_id"))).count()
    val snap2 = IncrementalKeepBest.snapshot(spark, d).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toList
    assert(!snap2.exists(_._1 == 1L))
    assert(snap2.exists(_._1 == 10L))
    // compaction folds tombstones (forwarding rows exempt); unchanged
    IncrementalKeepBest.compact(spark, d)
    val snap3 = IncrementalKeepBest.snapshot(spark, d).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toList
    assert(snap3 === snap2.sortBy(_._1))
    graft.Shared.deleteDirTree(d)
  }

  test("keep-best: a fold keeps a retracted label's forwarding rows, so its live members stay merged") {
    val nd = freshDir("ret-kbfwd-nd")
    val d = freshDir("ret-kbfwd")
    // cluster A = {10}; cluster B = {20, 21}, both filed under label 20;
    // then a chain of docs morphing vocab A into vocab B (three tokens a
    // step, the IncrementalKeepBestSpec bridge) merges B into A, which
    // writes the forwarding row 20 → 10. Retracting doc 20 leaves member
    // 21 on label 20, resolved only through that row.
    def tok(v: Char, i: Int) = s"${v}word$i"
    val n = 60
    val a = (0 until n).map(tok('a', _)).mkString(" ")
    val b = (0 until n).map(tok('b', _)).mkString(" ")
    def chain(step: Int) = (0 until n)
      .map(j => if (j < 3 * step) tok('b', j) else tok('a', j)).mkString(" ")
    def clusters() = IncrementalKeepBest.snapshot(spark, d).collect()
      .map(r => (r.getLong(0), r.getLong(3))).toList
    KeepBestFeed.ingest(spark, nd, d, Seq((10L, a)).toDF("doc_id", "text"), 0,
      nBuckets = 4).count()
    KeepBestFeed.ingest(spark, nd, d,
      Seq((20L, b), (21L, b + " extraone extratwo")).toDF("doc_id", "text"), 1,
      nBuckets = 4).count()
    KeepBestFeed.ingest(spark, nd, d,
      (1 until 20).map(i => (30L + i, chain(i))).toDF("doc_id", "text"), 2,
      nBuckets = 4).count()
    KeepBestFeed.ingest(spark, nd, d, Seq.empty[(Long, String)].toDF("doc_id", "text"),
      3, nBuckets = 4, retractIds = Some(Seq(20L).toDF("doc_id"))).count()
    val before = clusters()
    // one cluster of 21 live members: 10, the 19 chain docs and 21
    assert(before === List((10L, 21L)), "the corpus no longer merges B into A")
    IncrementalKeepBest.compact(spark, d)
    assert(clusters() === before)
    graft.Shared.deleteDirTree(d)
  }

  // ---------------------------------------------------------- vector
  test("vector index: retracted ids leave the snapshot and the serving path; fold preserves both") {
    val d = freshDir("ret-vec")
    val dir = "/root/testdata/sf0.001"
    val vecs = graft.Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding"))
    IncrementalVecIndex.ingest(spark, d, vecs.filter(col("vec_id") <= 249), 0).count()
    // find the query's current top hit, then retract it with drop 2
    val q = Array.tabulate(64)(i => math.cos(i * 0.21))
    val top0 = IncrementalVecIndex.searchTopk(spark, d, dir, q)
      .collect().map(_.getLong(0)).toSeq
    val victim = top0.head
    IncrementalVecIndex.ingest(spark, d, vecs.filter(col("vec_id") > 249), 1,
      retractIds = Some(Seq(victim).toDF("doc_id"))).count()
    val snap = IncrementalVecIndex.snapshot(spark, d)
    assert(snap.filter(col("vec_id") === victim).isEmpty)
    assert(snap.count() === vecs.count() - 1)
    val top1 = IncrementalVecIndex.searchTopk(spark, d, dir, q)
      .collect().map(_.getLong(0)).toSeq
    assert(!top1.contains(victim))
    // compaction fold: same surviving rows, same serving answer
    IncrementalVecIndex.compact(spark, d)
    val top2 = IncrementalVecIndex.searchTopk(spark, d, dir, q)
      .collect().map(_.getLong(0)).toSeq
    assert(top2 === top1)
    assert(IncrementalVecIndex.snapshot(spark, d).count() === vecs.count() - 1)
    graft.Shared.deleteDirTree(d)
  }
}
