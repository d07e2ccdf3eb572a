package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** End-to-end continuous-curation soak: the WHOLE training-data pipeline
  * the engine's pieces exist for, run as one checkpointed stream —
  *
  *   crawl drops → quality gate → DECONTAMINATION vs the VERSIONED eval
  *   set → incremental EXACT dedup → incremental NEAR-dup admission ∥
  *   incremental KEEP-BEST retention ∥ incremental VECTOR-INDEX ingest
  *   → curated corpus → seeded epoch shuffle + packed shard write
  *
  * Decontamination is the unconditional pre-admission fork every
  * document must pass: a held-out benchmark slice (doc_id % 7 = 0 —
  * the batch operator's convention) is NEVER streamed; its 8-gram
  * shingle hashes are published as a VERSIONED eval set
  * ([[operators.EvalSet]]) and every drop rejects any document sharing
  * an 8-gram with its RECORDED version BEFORE the dedup indexes see it.
  * The eval suite GROWS mid-stream here (v1 = half the slice, v2 = all
  * of it, published at the half-way drop) — later drops bind to v2,
  * replayed drops keep their recorded version, and `decon_diff` (must
  * be 0) asserts the streamed survivor traces against the one-shot
  * per-batch-at-recorded-version filter.
  *
  * THE TAKEDOWN LOOP (v2 publish → back-screen → retraction): the drop
  * that publishes v2 also re-screens the ALREADY-ADMITTED corpus — the
  * per-drop decon survivor traces of every drop recorded at v1 — against
  * the new suite ([[operators.Dedup.textDeconBackscreen]]'s semantics
  * driven through the live store), and the flagged set (admitted under
  * v1, contaminated under v2) becomes that drop's `retractIds`,
  * committed WITH the batch into ALL FOUR stores
  * ([[operators.Retraction]]). This is the loop a curation team runs on
  * every eval refresh, and the reference's delete semantics interleaved
  * in the same ordered stream (`/root/reference/main.py:75-86`) at
  * curation scale. `retract_diff` (must be 0) asserts the streamed
  * flagged set against the one-shot back-screen recomputation; the
  * store expectations below are all phase-aware in it.
  *
  * The VECTOR stage makes each drop's near-dup-admitted docs searchable
  * as they land: a deterministic per-doc embedding is encoded against
  * the frozen first-drop quantizers and appended cell-bucketed
  * ([[operators.IncrementalVecIndex]]); `vec_diff` (must be 0) asserts
  * the streamed code rows equal the one-shot encode of the expected
  * admitted set under the LIVE generation's params. At the 3/4 drop the
  * soak CUTS OVER to generation 2 mid-stream (train on the accumulated
  * surviving corpus, rebuild alongside, one atomic `_GEN` rename) with
  * a background SERVE thread hammering [[operators.IncrementalVecIndex
  * .searchTopk]] throughout the cutover — serves must all succeed
  * (readers see the old generation entirely or the new entirely; there
  * is no partially-cut-over view). Ingests never race the cutover: both
  * run on the owning stream's thread — the store's single-writer
  * contract; an ingest that committed to the old generation after the
  * pointer moved would land rows in dead state. Under
  * `SPARK_GRAFT_CHAOS` the first cutover attempt SIGKILLs itself at the
  * pre-rename seam (once, marker-guarded) so the chaos harness always
  * lands one kill mid-cutover.
  *
  * Near-dup admission and keep-best retention are PARALLEL consumers of
  * the exact survivors — two retention policies over the same stream:
  * first-wins admission (cheapest storage: rejected docs keep only band
  * rows) and quality-aware replace-on-better (the curation answer: per
  * near-dup cluster the best-scoring member so far, cluster merges
  * folded in). Both are asserted against their one-shot equivalents
  * after the drain (`pipeline_diff` and `kb_diff`, both must be 0).
  * They share ONE `bandRowsOf` pass per drop (the shingle→minhash
  * ladder is the dominant shared compute; it is materialized once and
  * handed to both ingests — `bands_sec` attributes the residual).
  *
  * PER-DROP CONCURRENCY (the r16 throughput work — each item keeps the
  * per-store single-writer contract because no two threads ever write
  * the same store):
  *  - the band ladder builds on a background thread WHILE the exact
  *    index ingests (bands depend only on the decon survivors; the
  *    final band set is the exact survivors' rows, a broadcast
  *    semi-join filter over the prebuilt ladder — identical rows, so
  *    every fingerprint and replay contract is unchanged);
  *  - keep-best and the vector ingest run CONCURRENTLY (independent
  *    stores, both consuming already-materialized inputs) — except at
  *    the takedown drop, where they serialize: the keep-best ingest's
  *    tracked-diff scratch release would unpersist the vector ingest's
  *    in-flight retraction frame.
  *
  * Each micro-batch runs the stages in cheapest-first order (the pure
  * per-doc gate BEFORE any index I/O; the 32-byte-key exact index before
  * the banded near-dup index), so every downstream stage sees only the
  * upstream survivors. All persisted indexes are keyed by the SAME
  * foreachBatch batchId: a crash anywhere between the manifest commits
  * and the checkpoint commit replays the batch, each index's recorded-
  * fingerprint guard turns its replay into an idempotent no-op
  * RETURNING THE SAME ANSWER — exactly-once composition across four
  * independent state stores from one checkpoint, the same contract
  * `CdcStream` documents for its single store. The decon survivor trace
  * and the takedown trace are keyed by the same batchId (idempotent
  * overwrite), so a replayed drop re-publishes identical content.
  *
  * After the stream drains, the curated corpus (near-dup admitted ids
  * joined back to text) is shuffled into epoch order and written as
  * hash-sharded parquet ([[operators.TextAnalysis.shufflePackOf]]).
  *
  * The consistency assertion (printed as `pipeline_diff`, must be 0):
  * the streamed result EQUALS the one-shot pipeline over the whole
  * train corpus — gate, then decontamination, then min-doc_id-per-
  * fingerprint, then the pairwise first-wins near-dup filter (the
  * ingest's own `nearDup` predicate, so the two definitions cannot
  * drift), all phase-aware in the back-screen takedown. The gate and
  * decon are pure per-doc filters and drops arrive in ascending doc_id
  * ranges, so chunked ≡ one-shot holds stage by stage (the
  * IncrementalDedupSpec argument, composed).
  *
  * Usage: `graft.PipelineSoak [nDocs] [nBatches] [workDir] [tau]`
  * (tau = quality-score admission threshold; adaptive async compaction
  * fixed at 8 segments/bucket on all indexes — the production stance).
  */
object PipelineSoak {
  def main(args: Array[String]): Unit = {
    val nDocs = args.headOption.map(_.toLong).getOrElse(200000L)
    val nBatches = args.lift(1).map(_.toInt).getOrElse(8)
    val base = args.lift(2).filter(_.nonEmpty).getOrElse(
      java.nio.file.Files.createTempDirectory("graft-pipeline-soak").toString)
    val tau = args.lift(3).map(_.toDouble).getOrElse(0.5)
    val compactWhenSegments = 8
    val spark = Graft.session(Graft.localMaster)
    spark.sparkContext.setLogLevel("WARN")
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.global

    // held-out eval slice: never streamed, decon gates against it
    val EvalMod = 7
    // the v2-publish drop IS the takedown drop: publish → back-screen
    // the v1-admitted corpus → retract the flagged set with this batch
    val PublishDrop = nBatches / 2
    // mid-stream vector-index generation cutover at the 3/4 mark
    val CutoverDrop = (3 * nBatches) / 4
    // deterministic per-doc embedding for the vector stage: 64 pseudo-
    // random components in [-1, 1] derived from (doc_id, dim) — real
    // drops arrive embedded; the soak's point is the INDEX plumbing
    // (frozen params, per-drop append, replay, cutover), which is
    // embedding-agnostic, so a hash-derived vector exercises it fully
    def pseudoEmbedding(docId: org.apache.spark.sql.Column) =
      transform(sequence(lit(0), lit(63)), i =>
        ((pmod(xxhash64(docId, i), lit(2000001L)) - lit(1000000L)) /
          lit(1000000.0)).cast("float"))
    // corpus + drops once per workDir: a chaos relaunch reuses them
    Graft.corpusOnce(base,
        s"$nDocs/$nBatches/decon$EvalMod-backscreen$PublishDrop-cutover$CutoverDrop") {
      ScaleProbe.writeDocuments(spark, s"$base/corpus", nDocs)
      val c = spark.read.parquet(s"$base/corpus/documents.parquet")
        .select(col("doc_id"), col("text"))
        .filter(col("doc_id") % EvalMod =!= 0) // eval slice never streams
      val per = (nDocs + nBatches - 1) / nBatches
      (0 until nBatches).foreach { b =>
        c.filter(col("doc_id") >= b * per && col("doc_id") < (b + 1) * per)
          .coalesce(1)
          .write.mode("overwrite").parquet(f"$base/drops/d$b%03d")
      }
      // the serve thread's re-rank side: the same deterministic
      // embeddings the vector stage ingests, materialized as the
      // embeddings table Similarity.corpus expects (train docs only)
      c.select(col("doc_id").as("vec_id"),
          pseudoEmbedding(col("doc_id")).as("embedding"),
          lit(0).as("label"))
        .write.mode("overwrite").parquet(s"$base/corpus/embeddings.parquet")
    }
    val corpus = spark.read.parquet(s"$base/corpus/documents.parquet")
      .select(col("doc_id"), col("text"))
    val train = corpus.filter(col("doc_id") % EvalMod =!= 0)
    // VERSIONED eval state: v1 (half the held-out slice) is published
    // before the stream starts; v2 (the full slice — the suite grew)
    // lands at the half-way drop inside foreachBatch. Publishes are
    // version-guarded so a chaos relaunch never re-publishes.
    val evalDir = s"$base/evalset"
    val evalVerDir = s"$base/decon/ver"
    val evalAll = corpus.filter(col("doc_id") % EvalMod === 0)
    val evalHalf = evalAll.filter(col("doc_id") % (2 * EvalMod) === 0)
    if (operators.EvalSet.currentVersion(spark, evalDir) == 0L)
      operators.EvalSet.publish(spark, evalDir, evalHalf)

    val exactDir = s"$base/exact-index"
    val ndDir = s"$base/nd-index"
    val kbDir = s"$base/kb-index"
    val vecDir = s"$base/vec-index"
    val gate = operators.TextAnalysis.scoreExpr(col("text")) >= tau

    // per-drop stage counts + wall times (onBatch-to-onBatch deltas;
    // AvailableNow runs drops back to back)
    case class DropStat(batchId: Long, raw: Long, gated: Long, decon: Long,
                        exact: Long, admitted: Long, deconSec: Double,
                        exactSec: Double, bandsSec: Double, ndSec: Double,
                        kbSec: Double, vecSec: Double)
    val stats = new java.util.concurrent.ConcurrentLinkedQueue[DropStat]()
    val batchEnds = new java.util.concurrent.ConcurrentLinkedQueue[java.lang.Long]()
    val evalStateCache = scala.collection.mutable.Map.empty[
      Long, (DataFrame, org.apache.spark.broadcast.Broadcast[Array[Byte]])]
    val cutoverSec = new java.util.concurrent.atomic.AtomicLong(0L)
    val cutoverServes = new java.util.concurrent.atomic.AtomicInteger(0)
    val serveFailures = new java.util.concurrent.atomic.AtomicInteger(0)

    val Ser = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER
    val stream = spark.readStream
      .schema(corpus.schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(s"$base/drops/d*")
    val t0 = System.nanoTime()
    val q = stream.writeStream
      .option("checkpointLocation", s"$base/ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val s = batch.sparkSession
        val raw = batch.count()
        // pin the gated frame once instead of re-filtering the batch
        val gated = batch.filter(gate).persist()
        try {
          // the eval suite grows at the half-way drop — a version-guarded
          // publish, so replays and relaunches never double-publish
          if (batchId >= PublishDrop &&
              operators.EvalSet.currentVersion(s, evalDir) == 1L)
            operators.EvalSet.publish(s, evalDir, evalAll)
          // per-version eval state built ONCE and carried across drops:
          // the persisted hash relation + its Bloom summary broadcast.
          // Superseded versions are EVICTED on change (recorded versions
          // are non-decreasing in batchId, so an older version can never
          // be requested again) — a long-lived stream with many eval
          // publishes must not pin executor memory for dead suites.
          def evalState(ver: Long) = {
            if (!evalStateCache.contains(ver)) {
              evalStateCache.foreach { case (_, (h, b)) =>
                h.unpersist(); b.destroy()
              }
              evalStateCache.clear()
            }
            evalStateCache.getOrElseUpdate(ver, {
              val h = operators.EvalSet.hashesAt(s, evalDir, ver).persist()
              val b = s.sparkContext.broadcast(
                operators.Dedup.evalBloomOf(s, h))
              (h, b)
            })
          }
          // stage 2: decontamination vs the batch's RECORDED eval version
          // (current on first run, pinned on replay) — the per-batch
          // survivor trace is keyed by batchId (idempotent overwrite on
          // replay) and is what decon_diff reads back
          val (deconAndTrace, tDecon) = Trace.timed("pipeline", "decon", batchId) {
            val ver = operators.EvalSet.versionForBatch(s, evalDir,
              evalVerDir, batchId)
            val (hashes, bloom) = evalState(ver)
            val d = operators.Dedup.decontaminateAdmitBloom(s, gated,
              hashes, bloom)
              .persist()
            // the per-batch survivor trace write rides a background
            // thread: nothing in THIS batch reads it (the back-screen
            // reads EARLIER drops' traces; decon_diff reads post-drain),
            // so its only deadline is batch end — awaited before the
            // checkpoint commit below, which preserves the crash story
            // (idempotent batchId-keyed overwrite, replayed whole).
            // Shares d's cached blocks with the exact ingest it now
            // overlaps; no new persists ride the kb sweep window.
            val traceF = Future {
              d.select(col("doc_id")).coalesce(1)
                .write.mode("overwrite").parquet(f"$base/decon/d$batchId%03d")
            }
            (d, traceF)
          }
          val (deconned, traceF) = deconAndTrace
          // THE TAKEDOWN DROP: back-screen the v1-admitted corpus (the
          // decon survivor traces of every earlier drop recorded at v1)
          // against the just-published v2 suite; the flagged set —
          // admitted under v1, contaminated under v2 — is this batch's
          // retraction, committed WITH it into all four stores. File-
          // backed and keyed by batchId: deterministic in the recorded
          // versions + committed traces, so a chaos relaunch or replay
          // recomputes the identical set (fingerprint-guarded), and the
          // post-drain retract_diff reads the same file.
          val retractIds: Option[DataFrame] =
            if (batchId == PublishDrop) Some {
              val v1Drops = (0L until batchId).filter(b =>
                operators.EvalSet.versionForBatch(s, evalDir, evalVerDir,
                  b) == 1L)
              require(v1Drops.nonEmpty,
                s"takedown drop $batchId found no v1-recorded drops to " +
                  "back-screen — publish ordering is broken")
              val v1Ids = s.read.parquet(
                v1Drops.map(b => f"$base/decon/d$b%03d"): _*)
              // read through the STREAM session: the bloom probe function
              // is registered in its registry — a frame rooted in the
              // outer session would analyze there and not resolve it
              val v1Docs = s.read.parquet(s"$base/corpus/documents.parquet")
                .select(col("doc_id"), col("text"))
                .join(v1Ids, Seq("doc_id"))
              val (h2, b2) = evalState(2L)
              val flagged = v1Ids.join(
                operators.Dedup.decontaminateAdmitBloom(s, v1Docs, h2, b2)
                  .select(col("doc_id")),
                Seq("doc_id"), "left_anti")
              flagged.coalesce(1).write.mode("overwrite")
                .parquet(f"$base/retract/d$batchId%03d")
              s.read.parquet(f"$base/retract/d$batchId%03d")
            } else None
          try {
            // stage 3 ∥ band ladder: the exact admission (32-byte
            // fingerprint index) ingests WHILE the shingle→minhash
            // ladder of the decon survivors builds on a background
            // thread — the ladder depends only on deconned, and the
            // final band set is filtered to the exact survivors below
            // (per-doc rows, so filter-after ≡ compute-after)
            val bands0F = Future {
              val b0 = operators.IncrementalNearDup.bandRowsOf(deconned)
                .persist(Ser)
              b0.count()
              b0
            }
            // CROSS-STAGE PRE-READ (r18): the near-dup store's batch-
            // touched-group rows start reading as soon as the ladder is
            // up, still inside the exact stage's window — off the
            // ladder's SUPERSET bands (deconned ⊇ exact survivors ⇒
            // superset groups), re-restricted to the final groups inside
            // the ingest (exact by construction; NdPreReadSpec). Reads
            // under its own lease, returns an eager local checkpoint
            // (cascade-immune), released below after the nd ingest.
            val preReadF = bands0F.map(b0 =>
              operators.IncrementalNearDup.preReadTouched(s, ndDir, b0))
            val (exactSurvivors, tExact) = Trace.timed("pipeline", "exact", batchId)(
              operators.IncrementalDedup.ingest(s, exactDir, deconned, batchId,
                retractIds = retractIds))
            val bands0 = Await.result(bands0F, Duration.Inf)
            // stage 4: near-dup admission + keep-best retention over ONE
            // banded index — the minhash ladder runs once (shared bands),
            // candidate discovery + est-verify run once (the admission
            // ingest exposes its verified edges), and the keep-best store
            // is an OVERLAY (member + forwarding rows only): two retention
            // policies, one banded corpus at rest
            val ndInput = deconned.join(
              exactSurvivors.select(col("doc_id")), Seq("doc_id")).persist()
            // re-select the ladder's column order after the semi join
            // (join moves the key first — positional readers break)
            val bands = bands0
              .join(exactSurvivors.select(col("doc_id")), Seq("doc_id"),
                "left_semi")
              .select(col("band"), col("bh"), col("doc_id"), col("sig"))
              .persist(Ser)
            try {
              // the pre-read must settle BEFORE bands0 unpersists: its
              // checkpoint job reads the superset ladder's cached blocks
              val preRead = Await.result(preReadF, Duration.Inf)
              val (_, tBands) = Trace.timed("pipeline", "bands", batchId) {
                bands.count(); bands0.unpersist()
              }
              val ((admitted, edgesSeen, edgesBatch), tNd) =
                Trace.timed("pipeline", "nd", batchId) {
                  try operators.IncrementalNearDup.ingestWithEdges(s, ndDir,
                    ndInput, batchId, bandsIn = Some(bands),
                    retractIds = retractIds, prevBandsIn = Some(preRead))
                  finally preRead.unpersist(blocking = false)
                }
              try {
                // stage 5 ∥ stage 6: keep-best retention and the vector
                // ingest run concurrently — independent stores, inputs
                // already materialized (edges checkpointed, admitted
                // file-backed). SERIALIZED at the takedown drop: the kb
                // ingest releases its scratch as a tracked persistent-RDD
                // diff, which would sweep the vector ingest's in-flight
                // retraction frame.
                val kbF = Future(Trace.timed("pipeline", "kb", batchId)(
                  operators.IncrementalKeepBest.ingest(s, kbDir, ndInput,
                    batchId, edgesIn = Some((edgesSeen, edgesBatch)),
                    retractIds = retractIds)))
                val vecIngest = () => Trace.timed("pipeline", "vec", batchId)(
                  operators.IncrementalVecIndex.ingest(s, vecDir,
                    admitted.select(col("doc_id").as("vec_id"),
                      pseudoEmbedding(col("doc_id")).as("embedding")),
                    batchId, retractIds = retractIds))
                val (tKb, tVec) =
                  if (retractIds.isDefined) {
                    val (_, a) = Await.result(kbF, Duration.Inf)
                    val (_, b) = vecIngest()
                    (a, b)
                  } else {
                    val vecF = Future(vecIngest())
                    val (_, a) = Await.result(kbF, Duration.Inf)
                    val (_, b) = Await.result(vecF, Duration.Inf)
                    (a, b)
                  }
                // MID-STREAM GENERATION CUTOVER: train gen 2 on the
                // accumulated SURVIVING corpus (admitted snapshot —
                // takedowns must not re-enter), rebuild alongside, one
                // atomic rename. Generation-guarded (liveGen == 0), so a
                // crash-replay of this drop retries an incomplete
                // cutover and skips a completed one. A background serve
                // loop hammers searchTopk throughout — every serve must
                // succeed and return the full top-10 (old gen before
                // the rename, new gen after; no torn view).
                if (batchId == CutoverDrop &&
                    operators.IncrementalVecIndex.liveGen(s, vecDir)
                      .getOrElse(0L) == 0L) {
                  val serving = new java.util.concurrent.atomic.AtomicBoolean(true)
                  val qv = Array.tabulate(64)(i =>
                    math.sin(0.13 + i * 0.37) * math.cos(0.07 * (i + 1)))
                  val serveThread = new Thread(() => {
                    while (serving.get()) {
                      try {
                        val n = operators.IncrementalVecIndex
                          .searchTopk(s, vecDir, s"$base/corpus", qv).count()
                        if (n == 10L) cutoverServes.incrementAndGet()
                        else serveFailures.incrementAndGet()
                      } catch {
                        case e: Throwable =>
                          serveFailures.incrementAndGet()
                          System.err.println(
                            s"[soak] cutover-window serve FAILED: $e")
                      }
                    }
                  }, "soak-cutover-serve")
                  serveThread.setDaemon(true)
                  val beforeSwap: () => Unit = () =>
                    if (sys.env.contains("SPARK_GRAFT_CHAOS")) {
                      val mk = java.nio.file.Paths.get(s"$base/_CHAOS_CUT_DONE")
                      if (!java.nio.file.Files.exists(mk)) {
                        java.nio.file.Files.write(mk,
                          "self-SIGKILL at the pre-rename seam".getBytes("UTF-8"))
                        System.err.println(
                          "[chaos] self-SIGKILL mid-cutover (beforeSwap)")
                        Runtime.getRuntime.halt(137)
                      }
                    }
                  val survivors = operators.IncrementalNearDup
                    .admittedSnapshot(s, ndDir)
                  val genCorpus = survivors
                    .select(col("doc_id").as("vec_id"),
                      pseudoEmbedding(col("doc_id")).as("embedding"))
                  serveThread.start()
                  val (_, tCut) = Trace.timed("pipeline", "cutover", batchId)(
                    operators.IncrementalVecIndex.cutover(s, vecDir,
                      genCorpus, beforeSwap = beforeSwap))
                  serving.set(false)
                  serveThread.join()
                  cutoverSec.set(math.round(tCut * 1000))
                  // admittedSnapshot returns an EAGER localCheckpoint —
                  // Dataset.unpersist is a CacheManager no-op on it (the
                  // IncrementalKeepBest.snapshot trap); release the
                  // backing RDD blocks directly or the O(corpus) frame
                  // pins executor memory past the cutover drop
                  survivors.queryExecution.analyzed.collect {
                    case l: org.apache.spark.sql.execution.LogicalRDD =>
                      l.rdd
                  }.foreach(_.unpersist(blocking = false))
                }
                stats.add(DropStat(batchId, raw, gated.count(), deconned.count(),
                  exactSurvivors.count(), admitted.count(), tDecon, tExact,
                  tBands, tNd, tKb, tVec))
              } finally {
                // defensive release: the edge frames are eager local
                // checkpoints (ContextCleaner reclaims them once
                // unreferenced), but an explicit unpersist keeps the
                // consumer correct if the producer ever returns cached
                // frames instead
                edgesSeen.unpersist(); edgesBatch.unpersist()
              }
            } finally { bands.unpersist(); ndInput.unpersist() }
          } finally {
            // the trace write must be durable before this batch commits
            // (and before d's blocks release — the write reads them)
            Await.result(traceF, Duration.Inf)
            deconned.unpersist()
          }
        } finally gated.unpersist()
        // adaptive async compaction on ALL indexes — the fold runs on a
        // background thread racing later drops (locked leased-read
        // ingest protocol), never on this hot path. Thresholds are
        // STAGGERED and the hot indexes fold at HALF cadence: every
        // index gains one segment per drop, so a single shared
        // threshold made all four folds fire on the same drop (aligned
        // background storms = the r13 sawtooth peaks, re-observed as
        // 24-29s outlier drops), and the nd/kb per-drop costs measurably
        // track SEGMENT COUNT (nd_sec reset from 13 to 7.6 s right
        // after its fold in the r14 1M trace). Measured 1M A/B/A:
        // aligned-at-8 2,329 docs/s; staggered nd@4/kb@5 2,683; nd@3
        // 2,478 (folding the growing index too often costs more than
        // the read amortization saves) — nd@4/kb@5 kept.
        // Each store folds with its own fold; the vector index folds at
        // its live generation.
        operators.IncrementalDedup.compact(s, exactDir, compactWhenSegments, async = true)
        operators.IncrementalNearDup.compact(s, ndDir, compactWhenSegments / 2, async = true)
        operators.IncrementalKeepBest.compact(s, kbDir, compactWhenSegments / 2 + 1,
          async = true)
        operators.IncrementalVecIndex.compact(s, vecDir, compactWhenSegments + 3,
          async = true)
        batchEnds.add(System.nanoTime())
        ()
      }
      .start()
    q.processAllAvailable(); q.stop()
    val vecLiveFinal = operators.IncrementalVecIndex.liveDir(spark, vecDir)
    streaming.BucketState.quiesce(
      (Seq(exactDir, ndDir, kbDir, vecDir) :+ vecLiveFinal).distinct: _*)
    val streamSec = (System.nanoTime() - t0) / 1e9
    // the cutover must have happened (generation 2 live), and the serve
    // loop racing it must have completed every query — reclaim the dead
    // generation BEFORE the assertions so they also prove post-GC reads
    require(operators.IncrementalVecIndex.liveGen(spark, vecDir).contains(1L),
      "the mid-stream generation cutover did not complete")
    operators.IncrementalVecIndex.gcGenerations(spark, vecDir)

    // ---- one-shot equivalence over the whole train corpus ------------
    // the one-shot decontamination applies, per batch, the eval version
    // that batch RECORDED (drops are the contiguous ascending doc_id
    // ranges the generator wrote — the same invariant every incremental
    // index contract here already assumes)
    val per = (nDocs + nBatches - 1) / nBatches
    // pin the recorded-version split the expectations assume: v1 for
    // every drop before the publish drop, v2 from it on — fail loudly if
    // any interleaving ever produced something else
    (0 until nBatches).foreach { b =>
      val expect = if (b < PublishDrop) 1L else 2L
      val got = operators.EvalSet.versionForBatch(spark, evalDir,
        evalVerDir, b.toLong)
      require(got == expect,
        s"drop $b recorded eval version $got, expected $expect")
    }
    val deconAll = (0 until nBatches).map { b =>
      val ver = operators.EvalSet.versionForBatch(spark, evalDir,
        evalVerDir, b.toLong)
      operators.Dedup.decontaminateAdmit(
        train.filter(col("doc_id") >= b * per && col("doc_id") < (b + 1) * per)
          .filter(gate),
        operators.EvalSet.hashesAt(spark, evalDir, ver))
    }.reduce(_ unionByName _).persist()
    // streamed decon survivors (union of the per-batch traces) must equal
    // the one-shot per-batch-at-recorded-version filter
    val streamedDecon = spark.read.parquet(s"$base/decon/d*")
    val deconIds = deconAll.select(col("doc_id"))
    val deconDiff = streamedDecon.exceptAll(deconIds).count() +
      deconIds.exceptAll(streamedDecon).count()
    // ---- the expected takedown: one-shot back-screen ------------------
    // v1-admitted docs (decon survivors of drops before the publish
    // drop — all recorded v1, pinned above) contaminated under v2: the
    // exact recomputation of what the takedown drop flagged
    val rStart = PublishDrop * per
    val v1AdmittedDocs = deconAll.filter(col("doc_id") < rStart)
    val retractSet = v1AdmittedDocs.select(col("doc_id"))
      .join(operators.Dedup.decontaminateAdmit(v1AdmittedDocs,
          operators.EvalSet.hashesAt(spark, evalDir, 2L))
          .select(col("doc_id")),
        Seq("doc_id"), "left_anti")
      .persist()
    val retractN = retractSet.count()
    require(retractN > 0,
      "the back-screen flagged nothing — the corpus no longer plants " +
        "v2-only contamination and the takedown loop is untested")
    // the streamed flagged set (the takedown trace the ingests consumed)
    // must equal the one-shot back-screen
    val streamedRetract = spark.read.parquet(f"$base/retract/d$PublishDrop%03d")
    val retractDiff = streamedRetract.exceptAll(retractSet).count() +
      retractSet.exceptAll(streamedRetract).count()
    // ---- phase-aware exact expectation (takedown at PublishDrop) -----
    // phase 1 (drops < PublishDrop): winners = min doc_id per fp.
    // The takedown then masks its ids' registry rows, so phase 2 winners
    // are min per fp among later docs whose fp has NO SURVIVING phase-1
    // row. Both phases' winners reach the downstream indexes (phase-1
    // winners streamed before their retraction), so the banded universe
    // is their union; the FINAL surviving sets subtract the takedown.
    val fpOf = deconAll
      .select(functions.TextFns.fingerprint(col("text")).as("fp"), col("doc_id"))
    val w1 = fpOf.filter(col("doc_id") < rStart)
      .groupBy("fp").agg(min("doc_id").as("doc_id"))
    val surv1Fps = w1.join(retractSet, Seq("doc_id"), "left_anti").select("fp")
    val w2 = fpOf.filter(col("doc_id") >= rStart)
      .join(surv1Fps, Seq("fp"), "left_anti")
      .groupBy("fp").agg(min("doc_id").as("doc_id"))
    val exactDocs = deconAll.join(
      w1.select("doc_id").unionByName(w2.select("doc_id")), Seq("doc_id"))
    val bands = operators.IncrementalNearDup.bandRowsOf(exactDocs).persist()
    // the one-shot expectations below replay the UNCAPPED pairwise filter;
    // that equals the engine's prefix-capped contract only while no band
    // bucket reaches the saturation cap — true at this corpus size
    // (measured max ≈ 500 at 1M raw docs) and asserted loudly so a future
    // corpus change cannot silently diverge from the capped semantics
    val maxBucket = bands.groupBy(col("band"), col("bh"))
      .count().agg(max("count")).first().getLong(0)
    require(maxBucket <= operators.IncrementalNearDup.DefaultBucketCap,
      s"soak expectation assumes an unsaturated corpus: max band bucket " +
        s"$maxBucket exceeds the cap " +
        s"${operators.IncrementalNearDup.DefaultBucketCap} — recompute the " +
        "expected sets with the prefix-capped replay (IncrementalCapSpec)")
    // ---- phase-aware near-dup expectation ----------------------------
    // a pre-takedown arrival is judged against all smaller pre docs; a
    // post-takedown arrival is judged against SURVIVING pre docs and
    // smaller post docs (retraction changes later admissions only); the
    // final admitted snapshot subtracts the takedown
    val partnersSurv = bands.join(retractSet, Seq("doc_id"), "left_anti")
    val rej1 = bands.as("x").join(bands.as("y"),
        col("x.band") === col("y.band") && col("x.bh") === col("y.bh") &&
          col("y.doc_id") < col("x.doc_id"))
      .filter(col("x.doc_id") < rStart)
      .filter(operators.IncrementalNearDup.nearDup(col("x.sig"), col("y.sig")))
      .select(col("x.doc_id").as("doc_id")).distinct()
    val rej2 = bands.as("x").join(partnersSurv.as("y"),
        col("x.band") === col("y.band") && col("x.bh") === col("y.bh") &&
          col("y.doc_id") < col("x.doc_id"))
      .filter(col("x.doc_id") >= rStart)
      .filter(operators.IncrementalNearDup.nearDup(col("x.sig"), col("y.sig")))
      .select(col("x.doc_id").as("doc_id")).distinct()
    val adm1 = bands.select(col("doc_id")).distinct()
      .filter(col("doc_id") < rStart)
      .join(rej1, Seq("doc_id"), "left_anti")
    val adm2 = bands.select(col("doc_id")).distinct()
      .filter(col("doc_id") >= rStart)
      .join(rej2, Seq("doc_id"), "left_anti")
    val expected = adm1.join(retractSet, Seq("doc_id"), "left_anti")
      .unionByName(adm2)
    val admittedIds =
      operators.IncrementalNearDup.admittedSnapshot(spark, ndDir)
    val diff = admittedIds.exceptAll(expected).count() +
      expected.exceptAll(admittedIds).count()

    // keep-best: streamed retention must equal the one-shot keepBestOf
    // over the phase-aware edge graph. Edges discovered BEFORE the
    // takedown persist (cluster merges are never unwound — forwarding
    // rows are label-graph state); edges after it avoid retracted
    // partners; the per-cluster best is over SURVIVING members only.
    val pairs1 = bands.as("x").join(bands.as("y"),
        col("x.band") === col("y.band") && col("x.bh") === col("y.bh") &&
          col("x.doc_id") < col("y.doc_id"))
      .filter(col("y.doc_id") < rStart)
      .filter(operators.IncrementalNearDup.nearDup(col("x.sig"), col("y.sig")))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
    val pairs2 = partnersSurv.as("x").join(bands.as("y"),
        col("x.band") === col("y.band") && col("x.bh") === col("y.bh") &&
          col("x.doc_id") < col("y.doc_id"))
      .filter(col("y.doc_id") >= rStart)
      .filter(operators.IncrementalNearDup.nearDup(col("x.sig"), col("y.sig")))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
    val kbPairs = pairs1.unionByName(pairs2).distinct()
    val kbExpected = operators.Dedup.keepBestOf(
      operators.Dedup.clustersOf(spark, kbPairs, exactDocs.select(col("doc_id"))),
      exactDocs.join(retractSet, Seq("doc_id"), "left_anti")
        .select(col("doc_id"),
          operators.TextAnalysis.scoreExpr(col("text")).as("score")))
    val kbGot = operators.IncrementalKeepBest.snapshot(spark, kbDir)
    val kbDiff = kbGot.exceptAll(kbExpected).count() +
      kbExpected.exceptAll(kbGot).count()

    // vector index: streamed code rows must equal the one-shot encode of
    // the expected admitted set under the LIVE GENERATION's params —
    // the pure-function contract, composed with the nd one-shot above
    // and carried ACROSS the cutover (the rebuild re-encodes the
    // surviving corpus under gen-2 params; later drops append under the
    // same params; snapshot/readParams resolve the pointer)
    val vecGot = operators.IncrementalVecIndex.snapshot(spark, vecDir)
    val vecExpected = operators.IncrementalVecIndex.encodeWithParams(spark,
      operators.IncrementalVecIndex.readParams(spark, vecDir),
      expected.select(col("doc_id").as("vec_id"),
        pseudoEmbedding(col("doc_id")).as("embedding")))
    val vecDiff = vecGot.exceptAll(vecExpected).count() +
      vecExpected.exceptAll(vecGot).count()
    bands.unpersist(); deconAll.unpersist(); retractSet.unpersist()

    // ---- epoch shuffle + packed shard write over the curated corpus --
    val curated = corpus.join(admittedIds, Seq("doc_id"))
    val tPack = System.nanoTime()
    val packed = operators.TextAnalysis.shufflePackOf(curated)
      .join(curated, Seq("doc_id"))
    packed.select(col("doc_id"), col("shard"), col("pos"),
        col("file_in_shard"), col("text"))
      .repartition(col("shard"))
      // epoch order INSIDE each shard file — a loader streams the file
      // and reads the permutation directly, no shuffle at load time
      .sortWithinPartitions(col("shard"), col("pos"))
      .write.mode("overwrite").partitionBy("shard")
      .parquet(s"$base/epoch0")
    val packSec = (System.nanoTime() - tPack) / 1e9
    val shardSizes = spark.read.parquet(s"$base/epoch0")
      .groupBy("shard").count().collect().map(_.getAs[Long]("count"))

    import scala.jdk.CollectionConverters._
    val ds = stats.asScala.toSeq.sortBy(_.batchId)
    val ends = batchEnds.asScala.map(_.longValue()).toArray.sorted
    val drops = (t0 +: ends.dropRight(1)).zip(ends)
      .map { case (a, b) => (b - a) / 1e9 }
    def med(xs: Array[Double]): Double =
      if (xs.isEmpty) 0.0 else { val s = xs.sorted; s(s.length / 2) }
    val (h1, h2) = drops.splitAt(drops.length / 2)
    val raw = ds.map(_.raw).sum
    val gatedN = ds.map(_.gated).sum
    val deconN = ds.map(_.decon).sum
    val exactN = ds.map(_.exact).sum
    val admittedN = ds.map(_.admitted).sum
    // the gate AND the decontamination stage must actually bite, else the
    // soak proves less than it claims (the synthetic corpus plants
    // cross-slice duplicate pairs, so a zero-rejection decon run means
    // the stage is wired wrong, not that the corpus is clean). Per-drop
    // stats cover THIS process's batches only — a chaos resume that found
    // the stream already drained has none, and its answer is the
    // (state-derived, full-corpus) diff assertions below.
    require(ds.isEmpty || (gatedN > 0 && gatedN < raw),
      s"degenerate gate at tau=$tau: $gatedN of $raw passed")
    require(ds.size < nBatches || (deconN > 0 && deconN < gatedN),
      s"degenerate decontamination: $deconN of $gatedN gated docs survived")
    // the serve loop racing the cutover must have run and never failed —
    // but only in the process that actually performed the cutover (a
    // chaos resume that found it done has no serves to report)
    require(cutoverSec.get() == 0L ||
        (cutoverServes.get() > 0 && serveFailures.get() == 0),
      s"cutover serve loop: ${cutoverServes.get()} ok, " +
        s"${serveFailures.get()} failed")
    def secs(f: DropStat => Double) = ds.map(d => Trace.fixed(f(d), 2))
    Graft.finish(spark, "pipeline_soak", Seq("docs" -> nDocs, "batches" -> nBatches,
      "tau" -> tau, "raw" -> raw, "gated" -> gatedN, "decon_admitted" -> deconN,
      "exact_admitted" -> exactN, "nd_admitted" -> admittedN,
      "pipeline_diff" -> diff, "kb_diff" -> kbDiff, "decon_diff" -> deconDiff,
      "vec_diff" -> vecDiff, "retract_diff" -> retractDiff,
      "retract_drop" -> PublishDrop, "retract_n" -> retractN,
      "cutover_drop" -> CutoverDrop, "cutover_sec" -> cutoverSec.get() / 1000.0,
      "cutover_serves" -> cutoverServes.get(), "serve_failures" -> serveFailures.get(),
      "eval_versions" -> (0 until nBatches).map(b =>
        operators.EvalSet.versionForBatch(spark, evalDir, evalVerDir, b.toLong)),
      "stream_sec" -> math.round(streamSec * 1000) / 1000.0,
      "docs_per_sec" -> math.round(nDocs / streamSec),
      "drop_sec" -> drops.map(Trace.fixed(_, 3)),
      "drop_med_first_half" -> Trace.fixed(med(h1), 3),
      "drop_med_second_half" -> Trace.fixed(med(h2), 3),
      "decon_sec" -> secs(_.deconSec), "exact_sec" -> secs(_.exactSec),
      "bands_sec" -> secs(_.bandsSec), "nd_sec" -> secs(_.ndSec),
      "kb_sec" -> secs(_.kbSec), "vec_sec" -> secs(_.vecSec),
      "pack_sec" -> math.round(packSec * 1000) / 1000.0,
      "shard_docs" -> shardSizes.sorted),
      "[pipeline-soak] near-dup admissions diverged (pipeline_diff)" -> (diff == 0),
      "[pipeline-soak] keep-best diverged (kb_diff)" -> (kbDiff == 0),
      "[pipeline-soak] decontamination diverged (decon_diff)" -> (deconDiff == 0),
      "[pipeline-soak] vector index diverged (vec_diff)" -> (vecDiff == 0),
      "[pipeline-soak] takedown diverged (retract_diff)" -> (retractDiff == 0))
  }
}
