package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.streaming.BucketState

/** The incremental keep-best retention index: streamed ingest must land
  * on exactly the one-shot keepBestOf answer — including the two things
  * first-wins admission cannot do: a HIGHER-QUALITY duplicate arriving
  * after its cluster's first member must take over as the kept doc
  * (replace-on-better), and a document bridging two existing clusters
  * must MERGE them (one row, one best, summed membership).
  */
class IncrementalKeepBestSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  private def freshDir() =
    java.nio.file.Files.createTempDirectory("kb-spec").toString

  private def docsDf(rows: Seq[(Long, String)]) = {
    spark.createDataFrame(rows).toDF("doc_id", "text")
      .select(col("doc_id"), col("text"))
  }

  /** One-shot expected answer over an arbitrary docs frame, built from
    * the operator's OWN primitives (bandRowsOf edges + keepBestOf) so the
    * equality tested is streamed-vs-batch, not two copies of one code path
    * drifting together: edges = banded collisions with est ≥ 0.5, clusters
    * = connected components (min id), retention = max_by(score, -doc_id).
    */
  private def oneShot(docs: org.apache.spark.sql.DataFrame) = {
    val bands = IncrementalNearDup.bandRowsOf(docs).persist()
    val pairs = bands.as("x").join(bands.as("y"),
        col("x.band") === col("y.band") && col("x.bh") === col("y.bh") &&
          col("x.doc_id") < col("y.doc_id"))
      .filter(IncrementalNearDup.nearDup(col("x.sig"), col("y.sig")))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()
    val out = Dedup.keepBestOf(
      Dedup.clustersOf(spark, pairs, docs.select(col("doc_id"))),
      docs.select(col("doc_id"), TextAnalysis.scoreExpr(col("text")).as("score")))
      .localCheckpoint(eager = true)
    bands.unpersist()
    out
  }

  private def rows(df: org.apache.spark.sql.DataFrame) =
    df.orderBy("cluster").collect()
      .map(r => (r.getLong(0), r.getLong(1),
        math.round(r.getDouble(2) * 1e12), r.getLong(3))).toSeq

  test("replace-on-better: a later higher-quality near-dup takes over the cluster") {
    val nd = freshDir(); val dir = freshDir()
    // base doc is repetitive (low uniq ratio => low score); the later
    // variant shares most of its distinct shingles (J = 6/10) but is
    // all-distinct => higher score
    val low = "alpha beta gamma delta epsilon zeta eta theta alpha beta gamma delta epsilon zeta eta theta"
    val high = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val b0 = ingest0(nd, dir, Seq((1L, low)), 0)
    assert(b0 === Seq((1L, 1L)))
    KeepBestFeed.ingest(spark, nd, dir, docsDf(Seq((2L, high))), 1, nBuckets = 4)
    val snap = IncrementalKeepBest.snapshot(spark, dir)
    val got = snap.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(3))).toSeq
    // one cluster rooted at 1, kept doc upgraded to 2, two members
    assert(got === Seq((1L, 2L, 2L)),
      s"expected retention upgrade to doc 2, got $got")
    // and equals the one-shot over the union
    assert(rows(snap) === rows(oneShot(docsDf(Seq((1L, low), (2L, high))))))
  }

  private def ingest0(nd: String, dir: String, docs: Seq[(Long, String)], id: Long) =
    KeepBestFeed.ingest(spark, nd, dir, docsDf(docs), id, nBuckets = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted

  test("bridge batch merges two existing clusters into one (forwarding + compression)") {
    val nd = freshDir(); val dir = freshDir()
    // Two disjoint-vocabulary docs in separate early batches (two
    // clusters), then a batch of CHAIN docs morphing vocab A into vocab B
    // three tokens per step — each adjacent pair shares ~84% of its
    // shingles, so every chain link is a comfortable est >= 0.5 edge,
    // while a single half-and-half bridge doc would sit exactly on the
    // est(A)+est(B)=1 knife edge. The chain's component must swallow BOTH
    // existing roots, exercising the forwarding write and the label
    // compression.
    def tok(v: Char, i: Int) = s"${v}word$i"
    val n = 60
    val a = (0 until n).map(tok('a', _)).mkString(" ")
    val b = (0 until n).map(tok('b', _)).mkString(" ")
    def chain(step: Int) = (0 until n)
      .map(j => if (j < 3 * step) tok('b', j) else tok('a', j)).mkString(" ")
    ingest0(nd, dir, Seq((10L, a)), 0)
    ingest0(nd, dir, Seq((20L, b)), 1)
    // sanity: two clusters before the bridge batch
    assert(IncrementalKeepBest.snapshot(spark, dir).count() === 2)
    val bridge = (1 until 20).map(i => (30L + i, chain(i)))
    KeepBestFeed.ingest(spark, nd, dir, docsDf(bridge), 2, nBuckets = 4)
    val snap = IncrementalKeepBest.snapshot(spark, dir)
    val union = docsDf(Seq((10L, a), (20L, b)) ++ bridge)
    val expected = oneShot(union)
    // the corpus must actually create the merge — if hashing drift ever
    // breaks the chain, fail loudly rather than pass vacuously
    assert(expected.count() === 1,
      "test corpus no longer merges into one component — rebuild the chain")
    assert(rows(snap) === rows(expected))
    assert(snap.head().getLong(0) === 10L) // merged root = global min id

    // STALE-LABEL CHASE in a later batch: a new near-dup of family B
    // finds doc 20, whose member row still carries the superseded label
    // 20 — ingest must resolve it through the forwarding relation
    // (20 → 10, the constant-bucket read) and file the newcomer under 10
    val b2 = b + " extrawordone extrawordtwo extrawordthree"
    val m = KeepBestFeed.ingest(spark, nd, dir, docsDf(Seq((60L, b2))), 3,
      nBuckets = 4).collect()
    assert(m.map(r => (r.getLong(0), r.getLong(1))).toSeq === Seq((60L, 10L)),
      "stale label not chased through forwarding")
    val snap2 = IncrementalKeepBest.snapshot(spark, dir)
    val expected2 = oneShot(docsDf(Seq((10L, a), (20L, b)) ++ bridge :+ (60L, b2)))
    assert(rows(snap2) === rows(expected2))
  }

  test("chunked ingest equals one-shot on the real corpus (3 ascending chunks)") {
    val docs = graft.Tables.documents(spark, sf).select(col("doc_id"), col("text"))
    val ids = docs.agg(min("doc_id"), max("doc_id")).collect()(0)
    val (lo, hi) = (ids.getLong(0), ids.getLong(1))
    val (c1, c2) = (lo + (hi - lo) / 3, lo + 2 * (hi - lo) / 3)
    val nd = freshDir(); val dir = freshDir()
    KeepBestFeed.ingest(spark, nd, dir, docs.filter(col("doc_id") <= c1), 0,
      nBuckets = 8).count()
    KeepBestFeed.ingest(spark, nd, dir,
      docs.filter(col("doc_id") > c1 && col("doc_id") <= c2), 1, nBuckets = 8).count()
    KeepBestFeed.ingest(spark, nd, dir, docs.filter(col("doc_id") > c2), 2,
      nBuckets = 8).count()
    assert(rows(IncrementalKeepBest.snapshot(spark, dir)) === rows(oneShot(docs)))
  }

  test("driver union-find and distributed clustersOf regimes agree (threshold forced both ways)") {
    val a = "one two three four five six seven eight nine ten eleven twelve " * 4
    val b = "red orange yellow green blue indigo violet cyan magenta white black gray " * 4
    def tok(v: Char, i: Int) = s"${v}word$i"
    val n = 60
    val av = (0 until n).map(tok('a', _)).mkString(" ")
    val bv = (0 until n).map(tok('b', _)).mkString(" ")
    def chain(step: Int) = (0 until n)
      .map(j => if (j < 3 * step) tok('b', j) else tok('a', j)).mkString(" ")
    val batches = Seq(
      Seq((10L, a), (11L, av)),
      Seq((20L, b), (21L, bv)),
      (1 until 20).map(i => (30L + i, chain(i))))
    def runWith(ufMax: String): Seq[(Long, Long, Long, Long)] = {
      spark.conf.set("spark.graft.keepbest.ufMaxEdges", ufMax)
      try {
        val nd = freshDir(); val dir = freshDir()
        batches.zipWithIndex.foreach { case (docs, i) =>
          KeepBestFeed.ingest(spark, nd, dir, docsDf(docs), i, nBuckets = 4)
        }
        IncrementalKeepBest.snapshot(spark, dir).collect()
          .map(r => (r.getLong(0), r.getLong(1),
            math.round(r.getDouble(2) * 1e12), r.getLong(3))).toSeq
      } finally spark.conf.unset("spark.graft.keepbest.ufMaxEdges")
    }
    assert(runWith("0") === runWith(Long.MaxValue.toString))
  }

  test("replay of a committed batch no-ops with the same members; changed input fails loudly") {
    val nd = freshDir(); val dir = freshDir()
    val text = "one two three four five six seven eight nine ten eleven twelve thirteen"
    val first = ingest0(nd, dir, Seq((5L, text)), 0)
    assert(first === Seq((5L, 5L)))
    val replay = ingest0(nd, dir, Seq((5L, text)), 0)
    assert(replay === first)
    // the replayed edges with CHANGED docs: keep-best's own fingerprint
    // guard must refuse them, not only the near-dup index's
    val (_, es, eb) = IncrementalNearDup.ingestWithEdges(spark, nd,
      docsDf(Seq((5L, text))), 0, nBuckets = 4)
    val e = intercept[IllegalArgumentException](
      IncrementalKeepBest.ingest(spark, dir,
        docsDf(Seq((6L, text + " changed"))), 0, nBuckets = 4,
        edgesIn = Some((es, eb))))
    assert(e.getMessage.contains("fingerprint"))
  }

  test("short docs (no shingles) are singleton members with real scores") {
    val nd = freshDir(); val dir = freshDir()
    KeepBestFeed.ingest(spark, nd, dir,
      docsDf(Seq((1L, "just two"), (2L, "one"))), 0, nBuckets = 4)
    val snap = IncrementalKeepBest.snapshot(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(3))).toSeq.sorted
    assert(snap === Seq((1L, 1L, 1L), (2L, 2L, 1L)))
  }

  test("overlay over a near-dup index: real-corpus 3-chunk equals one-shot; member+fwd rows only at rest") {
    val ndDir = freshDir(); val kbDir = freshDir()
    val docs = graft.Tables.documents(spark, sf)
      .select(col("doc_id"), col("text"))
    val ids = docs.agg(min("doc_id"), max("doc_id")).collect()(0)
    val (lo, hi) = (ids.getLong(0), ids.getLong(1))
    val cuts = Seq(lo + (hi - lo) / 3, lo + 2 * (hi - lo) / 3)
    val chunks = Seq(
      docs.filter(col("doc_id") <= cuts(0)),
      docs.filter(col("doc_id") > cuts(0) && col("doc_id") <= cuts(1)),
      docs.filter(col("doc_id") > cuts(1)))
    chunks.zipWithIndex.foreach { case (c, i) =>
      val (_, es, eb) = IncrementalNearDup.ingestWithEdges(
        spark, ndDir, c, i.toLong, nBuckets = 16)
      IncrementalKeepBest.ingest(spark, kbDir, c, i.toLong, nBuckets = 16,
        edgesIn = Some((es, eb)))
    }
    val snap = IncrementalKeepBest.snapshot(spark, kbDir)
    assert(rows(snap) === rows(oneShot(docs)))
    // the overlay stores ONLY member + forwarding rows — the banded
    // corpus lives once, in the near-dup index it is layered on
    val kinds = spark.read.option("basePath", kbDir).parquet(s"$kbDir/v=*")
      .select("band").distinct().collect().map(_.getLong(0)).toSet
    assert(kinds.nonEmpty && kinds.subsetOf(Set(-2L, -3L)),
      s"overlay store must hold member+fwd rows only, got kinds $kinds")
  }

  test("overlay replay: re-supplied edges no-op on a committed batch; a crash between the two commits replays cleanly") {
    val ndDir = freshDir(); val kbDir = freshDir()
    val a = Seq(1L -> "alpha beta gamma delta epsilon zeta eta theta iota kappa")
    val b = Seq(9L -> "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda")
    val (_, es0, eb0) = IncrementalNearDup.ingestWithEdges(
      spark, ndDir, docsDf(a), 0, nBuckets = 4)
    IncrementalKeepBest.ingest(spark, kbDir, docsDf(a), 0, nBuckets = 4,
      edgesIn = Some((es0, eb0)))
    // crash window: nd commits batch 1, kb does NOT — the replay calls
    // ingestWithEdges again (AlreadyCommitted; edges recomputed against
    // the post-commit state) and the overlay must land on the same answer
    val (_, es1, eb1) = IncrementalNearDup.ingestWithEdges(
      spark, ndDir, docsDf(b), 1, nBuckets = 4)
    val (_, es1r, eb1r) = IncrementalNearDup.ingestWithEdges(
      spark, ndDir, docsDf(b), 1, nBuckets = 4) // replay — index already has batch 1
    IncrementalKeepBest.ingest(spark, kbDir, docsDf(b), 1, nBuckets = 4,
      edgesIn = Some((es1r, eb1r)))
    val snap = IncrementalKeepBest.snapshot(spark, kbDir)
    assert(rows(snap) === rows(oneShot(docsDf(a ++ b))))
    // and a full replay of the committed overlay batch is a no-op
    IncrementalKeepBest.ingest(spark, kbDir, docsDf(b), 1, nBuckets = 4,
      edgesIn = Some((es1, eb1)))
    assert(rows(IncrementalKeepBest.snapshot(spark, kbDir)) === rows(snap))
  }

  test("a store stamped keepbest-v2 by an older build fails loudly (layout stamp)") {
    val dir = freshDir()
    val text = "one two three four five six seven eight nine ten"
    BucketState.checkOrStampLayout(spark, dir,
      BucketState.readManifest(spark, dir), "keepbest-v2")
    val empty = spark.createDataFrame(Seq((2L, 3L))).toDF("doc_a", "doc_b")
      .filter(col("doc_a") < 0)
    val es = empty.select(col("doc_a").as("doc_id"), col("doc_b").as("seen_id"))
    val e = intercept[IllegalArgumentException](
      IncrementalKeepBest.ingest(spark, dir, docsDf(Seq((1L, text))),
        0, nBuckets = 4, edgesIn = Some((es, empty))))
    assert(e.getMessage.contains("layout"))
  }

  test("an ingest without the near-dup index's edges fails loudly, naming ingestWithEdges") {
    val dir = freshDir()
    val e = intercept[IllegalArgumentException](
      IncrementalKeepBest.ingest(spark, dir,
        docsDf(Seq((1L, "one two three four five six seven"))), 0,
        nBuckets = 4, edgesIn = None))
    assert(e.getMessage.contains("ingestWithEdges"))
    assert(!new java.io.File(s"$dir/_LAYOUT").exists(),
      "a refused ingest must not stamp the store")
  }
}
