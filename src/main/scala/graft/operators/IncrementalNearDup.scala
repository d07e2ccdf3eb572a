package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, LongType, StringType, StructField, StructType}

import graft.Trace
import graft.functions.TextFns
import graft.streaming.BucketState

/** Incremental NEAR-dup admission against a persisted banded-MinHash
  * index — the fuzzy companion of [[IncrementalDedup]], and the shape a
  * training-data pipeline actually runs continuously: the curated corpus
  * has already been near-dup filtered; a new crawl drop arrives; admit
  * only documents that are not a near-duplicate of anything seen before,
  * WITHOUT rescanning the corpus.
  *
  * Same hashing ladder as the one-shot [[Dedup.dedupMinhashLsh]] (word
  * 3-gram shingles → 60-bit md5 → 32 MinHash permutations → 8 bands × 4
  * rows), so the DuckDB oracle reuses the exact SQL hash pipeline and
  * the driver hash-gate applies bit-for-bit.
  *
  * CONTRACT (first-wins, pairwise, prefix-capped): a document is
  * REJECTED iff some SMALLER doc_id — previously ingested or earlier in
  * the same batch — is connected to it by a verified edge: a shared
  * band bucket holding ≤ [[DefaultBucketCap]] smaller docs with
  * signature-estimated Jaccard ≥ 0.5, or the identical-signature
  * rescue for saturated arrivals (declared semantics at [[bucketCap]]);
  * the index registers EVERY seen document's band rows (admitted or
  * not). Registering rejected docs too is what makes chunked ingest in
  * ascending doc_id order provably equal to the one-shot pairwise
  * filter (a doc's fate depends only on smaller ids, all of which are
  * in the index by the time it arrives) — that equality IS the
  * correctness statement, exactly like `dedup_incremental`'s. This is
  * deliberately NOT transitive-closure dedup ([[Dedup]]'s
  * `dedup_clusters` covers components): greedy first-wins is the
  * standard streaming near-dup contract, and the transitive variant
  * cannot be admitted incrementally without revisiting decisions.
  *
  * Index layout (v3): [[BucketState]] segments holding THREE row kinds
  * under one schema `(band, bh, doc_id, sig)`, bucketed by
  * `xxhash64(band, bh)`:
  *  - band rows `(band ∈ [0,8), bh, doc_id, sig = null)` — the LSH
  *    keys, ~24 B/row; a batch's candidate probe reads ONLY the buckets
  *    its own band rows hash into (partition-pruned paths);
  *  - sig rows `(band = -1, bh = doc_id, doc_id, sig)` — each
  *    signature stored ONCE per doc (~0.26 KB) instead of riding every
  *    band row (8× ≈ 2 KB/doc in the v1 layout this replaces);
  *  - sig-key rows `(band = -4, bh = md5(sig), doc_id = batch min)` —
  *    the identical-signature rescue's lookup relation (one narrow row
  *    per distinct signature per batch; readers min over appended
  *    rows, so append-only and kind-agnostic compaction stay correct).
  * The est-Jaccard verification joins candidates to sig rows read from
  * ONLY the sig buckets the candidates' seen ids hash into — the bucket
  * list is a bounded driver collect of ≤ nBuckets longs (bucket
  * NUMBERS, never ids). Both I/O sides stay O(batch ∪ touched index).
  * One store, one manifest: a batch's band and sig rows commit in the
  * same atomic rename, so no interleaving can observe keys without
  * their signature. (v1 indexes on disk are not readable by this
  * code — the index carries no cross-layout durability promise;
  * rebuild from the corpus, which every caller in-repo does anyway.
  * ENFORCED, not just documented: the store is stamped `neardup-v3`
  * at creation and a non-empty index without a matching stamp fails
  * loudly at ingest — [[BucketState.checkOrStampLayout]].)
  *
  * MEASURED trade at 1M docs (same-box back-to-back A/B, 16 drops,
  * async folds; `tools/soak_neardup_1M_v{1,2}ab_r11.json`): v2 drops
  * are ~1.5× slower (p50 12.5 vs 7.9 s — the second index pass, its
  * collect barrier, and the sig-fetch join are a per-drop CONSTANT),
  * and per-drop GROWTH is unchanged (+2.3 vs +2.0 s over 16 drops) —
  * at 1M docs both layouts' reads sit in page cache, so v1's premise
  * that the 8×-sig read drove the growth is refuted at this scale.
  * v2 is kept for the terms that dominate past the cache: a
  * corpus-wide drop's candidate probe moves ~24 B/band row instead of
  * ~280 B (the sig column no longer rides the widest read), and the
  * index is ~8× smaller at rest — at 10B docs that is the difference
  * between scanning ~2 TB and ~22 TB per drop.
  */
object IncrementalNearDup {

  val K = 32
  val Bands = 8
  val Rows = 4

  private val bandSchema = StructType(Seq(
    StructField("band", LongType), StructField("bh", StringType),
    StructField("doc_id", LongType),
    StructField("sig", ArrayType(LongType, containsNull = false))))

  private val admittedSchema = StructType(Seq(StructField("doc_id", LongType)))

  private def emptyIdx(spark: SparkSession): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      bandSchema.add("p", LongType))

  /** This index's fold: tombstones folded on `doc_id` with the
    * tombstones KEPT ([[Retraction.foldTombstones]]'s `keepTombstones`).
    * [[admittedSnapshot]] masks the never-GC'd `admitted/` answer files
    * with the stored tombstones, so a fold that dropped them would bring
    * retracted docs back; the masked band, sig and sig-key rows still
    * leave.
    */
  private[graft] val fold: BucketState.Fold =
    BucketState.unionFold("nd",
      Retraction.foldTombstones(_, "doc_id", keepTombstones = true))

  /** Fold the index once its max segments per bucket reach `threshold`
    * (default 1: whenever it holds a segment), now or on a background
    * thread — [[IncrementalDedup.compact]] with this index's [[fold]].
    */
  def compact(spark: SparkSession, indexDir: String, threshold: Int = 1,
              async: Boolean = false): Int =
    BucketState.compactIfDue(spark, indexDir, threshold, async, fold)

  private def bucketOf(nBuckets: Int) =
    pmod(xxhash64(col("band"), col("bh")), lit(nBuckets.toLong))

  /** Bucket a SIG row's key the same way the writer does: sig rows are
    * `(band = -1, bh = doc_id-as-string)`, so their bucket is derivable
    * from a doc_id alone — what lets the verification read prune to the
    * candidates' buckets without knowing which segments hold them.
    */
  private def sigBucketOf(docId: Column, nBuckets: Int): Column =
    pmod(xxhash64(lit(-1L), docId.cast("string")), lit(nBuckets.toLong))

  /** est-Jaccard ≥ 0.5 over two 32-slot signature arrays — matches/K as
    * in the one-shot rung; ≥ 0.5 ⟺ ≥ 16 equal slots (integer-exact).
    */
  private[graft] def nearDup(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => when(x === y, 1).otherwise(0)),
      lit(0), (acc, x) => acc + x) >= K / 2

  /** Saturation cap for banded candidate generation — the incremental
    * analog of [[Dedup.LshBucketCap]], and the knob the keep-best
    * contract declared for degenerate-at-scale corpora. Semantics
    * (PREFIX form — arrival-order-free under the declared ascending-
    * doc_id ingestion, so streamed ≡ one-shot replay still holds):
    *
    *  - a pair `a < b` colliding in band bucket k COUNTS iff b sees at
    *    most `cap` predecessors in k — `|{d ∈ k : d < b}| ≤ cap`;
    *  - a doc with MORE than `cap` predecessors in some bucket is
    *    RESCUE-ELIGIBLE: it gains the edge `(a*, b)` to the SMALLEST
    *    earlier doc with the identical full signature (md5 of the
    *    comma-joined 32-slot sig — [[sigKey]]), if one exists.
    *
    * Rationale is the one-shot cap's verbatim: a bucket already holding
    * thousands of docs carries no discriminative signal (its members
    * are minhash-minima concentration, not similarity), while
    * identical-signature mega-clusters — the only structure such
    * buckets reliably encode — are preserved exactly by the rescue
    * (identical sig ⇒ est = 1, and every member links to an earlier
    * member, so components are intact). A true est≥0.5 pair is lost
    * only if EVERY band it agrees on is saturated at the later doc's
    * arrival. The prefix form differs from the one-shot FINAL-size cap
    * only inside over-cap buckets (prefix freezes a bucket after its
    * first `cap` arrivals; final-size drops it entirely), which is why
    * each operator's oracle replays its own declared form. Measured
    * need: the 5M-doc sf100 rung has ~0.17%-of-corpus band buckets —
    * uncapped discovery produced 1.5e8 candidates and a 122M-edge
    * batch subgraph per 2.5M-doc drop and ran a 64 GB disk to death;
    * capped, per-bucket work is ≤ cap²/2 regardless of corpus.
    * 2000 never bites at the driver scales (measured max bucket 857 at
    * sf10), so every driver-scale artifact is bit-identical to the
    * uncapped form.
    */
  val DefaultBucketCap = 2000L

  /** Trace fields of the `occupancy_guard` span: the largest combined
    * bucket occupancy against the cap, i.e. whether the guard engaged the
    * rank machinery or skipped it on this corpus.
    */
  private def occupancyFields(cap: Long): Row => Trace.Fields = r => {
    val maxOcc = if (r.isNullAt(0)) 0L else r.getLong(0)
    Seq("max_occ" -> maxOcc, "cap" -> cap, "can_saturate" -> (maxOcc > cap))
  }

  private def bucketCap(spark: SparkSession): Long =
    spark.conf.getOption("spark.graft.neardup.bucketCap")
      .map(_.toLong).getOrElse(DefaultBucketCap)

  /** Identity key of a full 32-slot signature: md5 of the comma-joined
    * decimal slots — the same string both engines can build exactly
    * (DuckDB: `md5(CAST(m0 AS VARCHAR) || ',' || …)`), so the rescue's
    * equality semantics replay bit-for-bit in the oracle.
    */
  private[operators] def sigKey(sig: Column): Column =
    md5(concat_ws(",", transform(sig, v => v.cast("string"))))

  /** Batch band rows ranked against the store: one narrow row per batch
    * band row with `pred` = number of docs smaller than this one in the
    * same bucket (stored + earlier in-batch) — the quantity the cap
    * semantics are defined over. `prevBands` must already be restricted
    * to the batch's touched buckets; under the ascending-doc_id
    * ingestion contract every stored doc is smaller, so the stored
    * count is the stored-predecessor count.
    */
  private def withPred(bands: DataFrame, prevBands: DataFrame)
      : DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("band"), col("bh")).orderBy(col("doc_id"))
    val cnt = prevBands.groupBy(col("band"), col("bh"))
      .agg(count(lit(1)).as("scnt"))
    bands.select(col("band"), col("bh"), col("doc_id"))
      .withColumn("brk", row_number().over(w))
      .join(cnt, Seq("band", "bh"), "left")
      .na.fill(0L, Seq("scnt"))
      .select(col("band"), col("bh"), col("doc_id"),
        (col("scnt") + col("brk") - 1).as("pred"))
  }

  /** Banded signature rows for an arbitrary (doc_id, text) frame — the
    * same shingle window formulation and hash ladder as the corpus-dir
    * path in [[Dedup]] (one tokenizer, one permutation family; drift
    * between the one-shot and incremental rungs is impossible).
    */
  def bandRowsOf(docs: DataFrame): DataFrame = {
    // Shingles are built INSIDE the generate stage: posexplode keeps the
    // token array alongside each exploded row, so the two successor
    // tokens come from element_at(toks, p+2/p+3) in the same codegen
    // stage instead of two lead() windows (which cost a full exchange +
    // sort by doc_id). The pre-aggregation distinct() is gone too: min()
    // is duplicate-insensitive, so the signature over the shingle
    // MULTISET is bit-identical to the one over the set (the `sh`
    // strings themselves are byte-identical — same concat_ws over the
    // same positions). Net plan: 3 exchanges (window sort, distinct,
    // groupBy) → 1 (the groupBy's partial-agg shuffle, which now moves
    // ≤ 32 longs per doc instead of every distinct shingle string).
    val shingles = docs
      .filter(col("doc_id").isNotNull && col("text").isNotNull)
      .select(col("doc_id").cast("long").as("doc_id"),
        TextFns.tokens(col("text")).as("toks"))
      .select(col("doc_id"), col("toks"),
        posexplode(col("toks")).as(Seq("p", "tok")))
      .filter(col("p") <= size(col("toks")) - 3)
      .select(col("doc_id"),
        concat_ws(" ", col("tok"),
          element_at(col("toks"), col("p") + 2),
          element_at(col("toks"), col("p") + 3)).as("sh"))
    val aggs: Seq[Column] = (0 until K).map(i =>
      min(TextFns.minhashPerm(Dedup.md5Long60(col("sh")), i)).as(s"m$i"))
    val sig = shingles.groupBy(col("doc_id")).agg(aggs.head, aggs.tail: _*)
      .withColumn("sig", array((0 until K).map(i => col(s"m$i")): _*))
    sig.select(
      col("doc_id"),
      posexplode(transform(sequence(lit(0), lit(Bands - 1)),
        b => array_join(transform(
          slice(col("sig"), b * Rows + 1, lit(Rows)),
          v => v.cast("string")), ","))).as(Seq("band", "bh")),
      col("sig"))
      .select(col("band").cast("long").as("band"), col("bh"),
        col("doc_id"), col("sig"))
  }

  /** Start the near-dup store's batch-touched-group read EARLY — from a
    * SUPERSET of the batch's band rows (the pipeline's pre-exact-filter
    * ladder: deconned ⊇ exact survivors ⇒ superset groups/buckets), while
    * the exact stage still runs. [[ingestWithEdges]] accepts the result
    * as `prevBandsIn` and re-restricts it to the FINAL batch groups —
    * exactness is unconditional because every consumer re-filters:
    * the guard's when(c > stored) keeps only final-batch-touched groups,
    * the candidate frame re-semi-joins the final groups, and the
    * tombstone mask + replay floor are applied inside the ingest (this
    * frame is mask- and floor-agnostic by design — a takedown committed
    * WITH the batch is not known yet when the pre-read starts).
    *
    * Returned as an EAGER LOCAL CHECKPOINT: the caller's superset-band
    * frame unpersists while this result is still live, and a persisted
    * frame whose plan references it would lose its buffers to the
    * CacheManager recache cascade (the measured verifiedEdges trap);
    * truncated lineage is immune, and the read lease is only needed
    * while the checkpoint job is actually scanning the store — released
    * here, not carried.
    *
    * Manifest-skew argument (the pre-read's manifest vs the ingest's):
    * the store is single-writer (the owning stream), so between the two
    * reads only a background fold can commit — and the nd fold is
    * row-preserving modulo tombstone application (this index's [[fold]]:
    * masked data rows and nothing else leave).
    * Every row the fold removed is re-removed by the ingest's own
    * tombstone mask (stored tombstones are never folded away), so the
    * masked row set is identical under either manifest.
    */
  def preReadTouched(spark: SparkSession, indexDir: String,
                     bandsSuperset: DataFrame, nBuckets: Int = 64): DataFrame = {
    val (m, lease) = BucketState.readManifestLeased(spark, indexDir)
    try {
      val groups0 = bandsSuperset.select(col("band"), col("bh")).distinct()
      val touched0 = groups0.select(bucketOf(nBuckets).as("p")).distinct()
        .collect().map(_.getLong(0)).toSet
      BucketState.readStoreView(spark, indexDir, m, emptyIdx(spark))
        .filter(col("p").isin(touched0.toSeq: _*))
        .filter(col("band") >= 0)
        .select(col("band"), col("bh"), col("doc_id"))
        .join(groups0, Seq("band", "bh"), "left_semi")
        .localCheckpoint(eager = true)
    } finally BucketState.releaseReads(lease)
  }

  /** Admit `docs` (columns `doc_id`, `text`) against the index at
    * `indexDir`: returns `(doc_id)` for every batch document with no
    * near-dup among smaller ids (seen or in-batch), and durably appends
    * ALL batch band rows. Replay contract identical to
    * [[IncrementalDedup.ingest]]: same batchId + same input → idempotent
    * no-op returning the same admitted set; different input fails loudly.
    *
    * `bandsIn`: an optional PRE-COMPUTED (and caller-persisted)
    * `bandRowsOf(docs)` — for a caller that needs the band rows itself
    * (the pipeline pre-reads the touched groups from them while an
    * upstream stage still runs), so the shingle→minhash ladder, the
    * dominant per-drop compute, runs once per drop. The caller owns its
    * lifecycle; fingerprints are over band VALUES, so
    * replay contracts are unchanged.
    *
    * `retractIds`: an optional takedown set committed WITH this batch —
    * band, sig and sig-key rows of the named ids are masked from every
    * stored read before this batch's admissions, and the ids leave the
    * admitted snapshot ([[Retraction]]'s declared semantics; tombstones
    * fold out at the next compaction).
    */
  def ingest(spark: SparkSession, indexDir: String, docs: DataFrame,
             batchId: Long, nBuckets: Int = 64,
             bandsIn: Option[DataFrame] = None,
             retractIds: Option[DataFrame] = None): DataFrame =
    ingestCapturing(spark, indexDir, docs, batchId, nBuckets, bandsIn,
      captureEdges = false, retractIds = retractIds)._1

  /** [[ingest]] that ALSO returns the batch's VERIFIED near-dup edges —
    * `(admitted, edgesSeen (doc_id, seen_id), edgesBatch (doc_a, doc_b))`,
    * both edge frames eagerly LOCAL-CHECKPOINTED (truncated lineage:
    * safe to consume after this store folds or GCs the dirs the
    * discovery read, and immune to the CacheManager recache cascade
    * that empties dependent cached plans when this scope releases its
    * scratch frames — see the verifiedEdges comment for the measured
    * cost of getting that wrong). This is the one edge feed of the
    * retention index ([[IncrementalKeepBest]] takes it as `edgesIn`):
    * the banded corpus is stored and probed ONCE, here, and every
    * retention policy layered on it reuses the one candidate-discovery +
    * est-verify pass instead of keeping band/sig state and compute of
    * its own.
    *
    * Replay note: when the batch is already committed, the edges are
    * recomputed under the same lease with the batch's own committed rows
    * excluded from every stored read (the `replayFloor` on
    * [[verifiedEdges]]) — the recompute sees exactly the pre-commit view,
    * so a replay's edge frames are BIT-IDENTICAL to the first run's.
    * (The earlier form recomputed against the post-commit state; each doc
    * then also counted its own stored band row, inflating the cap
    * predicate by the batch's per-bucket count — near saturation that
    * silently dropped verified edges from the crash-recovery feed.
    * IncrementalCapSpec's replay case pins the fixed contract.)
    *
    * `prevBandsIn`: an optional [[preReadTouched]] result — the stored
    * band rows of (a superset of) this batch's touched groups, read and
    * materialized EARLY under the caller's lease while an upstream stage
    * still ran. Used in place of the store read for the guard and the
    * candidate frame; the ingest re-applies the final group restriction,
    * the tombstone mask and the replay floor, so the answer is
    * bit-identical with or without it (NdPreReadSpec pins it).
    */
  def ingestWithEdges(spark: SparkSession, indexDir: String, docs: DataFrame,
                      batchId: Long, nBuckets: Int = 64,
                      bandsIn: Option[DataFrame] = None,
                      retractIds: Option[DataFrame] = None,
                      prevBandsIn: Option[DataFrame] = None)
      : (DataFrame, DataFrame, DataFrame) = {
    val (admitted, edges) = ingestCapturing(spark, indexDir, docs, batchId,
      nBuckets, bandsIn, captureEdges = true, retractIds = retractIds,
      prevBandsIn = prevBandsIn)
    (admitted, edges.get._1, edges.get._2)
  }

  /** Candidate discovery + est-verify for `bands` against the index at
    * manifest `m` (the bucket dirs must be lease-pinned by the caller):
    * returns eagerly-checkpointed `(pairsSeen (doc_id, seen_id),
    * pairsBatch (doc_a, doc_b))` — the one edge pass both the admission
    * answer and the keep-best consumer derive from.
    *
    * `replayFloor`: set ONLY by the AlreadyCommitted replay recompute,
    * whose manifest already holds the batch's own rows — stored rows with
    * `doc_id >= floor` (the batch minimum) are excluded from BOTH the
    * banded read and the rescue's sig-key read, restoring the exact
    * pre-commit view. Without it the batch's own stored band rows inflate
    * [[withPred]]'s bucket counts (every doc also counts its own stored
    * row), which near the cap spuriously saturates buckets and silently
    * drops verified edges from a crash-recovery replay — pinned by
    * IncrementalCapSpec's replay case. Under the ascending-doc_id
    * contract only the LATEST committed batch can replay (the manifest
    * records one fingerprint), so ids at/above the batch minimum are
    * exactly the batch's own rows.
    *
    * `tombs`: the surviving-view mask — stored tombstones unioned with
    * the in-flight batch's own retraction set (identical on first run
    * and replay; see [[Retraction]]). Every stored read here (band rows,
    * sig rows, sig-key anchors) is anti-joined against it, so admission
    * and edge discovery run against the surviving index. `None` on a
    * takedown-free store — the masks (and the tombstone-bucket read that
    * feeds them) are skipped entirely.
    */
  private def verifiedEdges(spark: SparkSession, indexDir: String,
                            m: BucketState.Manifest, bands: DataFrame,
                            touched: Set[Long], nBuckets: Int,
                            tombs: Option[DataFrame], batchId: Long,
                            replayFloor: Option[Long] = None,
                            prevBandsIn: Option[DataFrame] = None)
      : (DataFrame, DataFrame) = {
    def ownRowsExcluded(df: DataFrame, idCol: Column): DataFrame =
      replayFloor.map(f => df.filter(idCol < lit(f))).getOrElse(df)
    val batchGroups = bands.select(col("band"), col("bh")).distinct()
    // all stored reads below go through the manifest-keyed session view
    // (BucketState.readStoreView): per drop the parquet cost is one
    // batch-sized delta leaf; the touched/sig/sk bucket prunes become
    // in-memory filters over the cached rows — same rows, same plans
    // downstream (StoreViewSpec pins view ≡ direct)
    val view = BucketState.readStoreView(spark, indexDir, m, emptyIdx(spark))
    // surviving pre-batch stored band rows of the touched buckets —
    // UNRESTRICTED (no group semi-join): the guard consumes this form
    // directly so its job is two stages (partial + final aggregate over
    // the cached view leaves and the persisted batch bands), where the
    // r17 shape first materialized the group-restricted frame through a
    // distinct + broadcast + join + persist chain (~5 stages, measured
    // 1.0-1.8 s of a ~4.3 s sf0.1 ingest — pure per-batch constants).
    // prevBandsIn (the cross-stage pre-read) substitutes for the store
    // read only — the mask and the replay floor are applied HERE either
    // way (the pre-read is mask/floor-agnostic by contract), and its
    // superset-group restriction is sound for both consumers: the guard
    // keeps only final-batch-touched groups via when(c > stored), and
    // the candidate frame re-semi-joins the final groups below.
    val storedTouched = Retraction.maskIfAny(
      ownRowsExcluded(
        prevBandsIn.getOrElse(
          view.filter(col("p").isin(touched.toSeq: _*))
            .filter(col("band") >= 0)),
        col("doc_id"))
        .select(col("band"), col("bh"), col("doc_id")),
      tombs, "doc_id")
    // Candidate-join input: RESTRICTED TO BATCH-TOUCHED (band,bh)
    // GROUPS — an EXACT refinement, not an approximation: every consumer
    // is group-scoped to the batch's rows (pred counts stored
    // predecessors of a BATCH row's group; the saturation predicate and
    // the rescue are defined over batch rows; the candidate join's
    // equi-keys are the batch's groups). Bucket pruning bounds the READ
    // to touched buckets, but within them the stored-vs-batch group
    // overlap is the real working set — measured 2.2% of stored band
    // rows at the 1M soak's 16th drop (137,862 batch groups selecting
    // 45,885 of 2.1M stored rows), so the join build side shrinks ~45×.
    // The semi-join is left to AQE: a drop-sized key set broadcasts
    // (~5 MB at 1M-scale drops); a decade-scale drop falls back to a
    // shuffle that replaces one the join pays anyway. On the common
    // unsaturated path the candidate join is this frame's ONLY consumer,
    // so it is not persisted (the semi-join pipelines into the fused
    // edge job); a possibly-biting cap persists it below, where withPred
    // and the join both consume it.
    val prevBands0 = storedTouched
      .join(batchGroups, Seq("band", "bh"), "left_semi")
    // Serialized persistence for SCRATCH frames (released in this scope);
    // eager LOCAL CHECKPOINTS for the frames that outlive it (the edge
    // results). The checkpoint is not optional: a cached frame whose plan
    // contains a later-unpersisted cached frame gets its buffers CLEARED
    // by CacheManager's recache cascade (uncacheQuery(cand) recaches
    // dependents empty), so persist+count here left the edges silently
    // re-running this whole discovery chain once per downstream action —
    // measured as kb overlay drops going 7 → 66 s/drop in the 200k soak.
    // Truncated lineage is immune by construction.
    val Ser = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER
    def mat(df: DataFrame): DataFrame = df.localCheckpoint(eager = true)
    val cap = bucketCap(spark)
    // Saturation short-circuit: pred = stored-count + in-batch-rank − 1
    // is bounded per bucket by its COMBINED (stored + batch) occupancy,
    // so when no touched bucket's combined occupancy exceeds the cap,
    // every row is eligible and none is rescue-bound — skip the rank
    // window, the bucket-count join, and the saturation probe entirely.
    // Below saturation capped ≡ uncapped is the spec'd identity
    // (IncrementalCapSpec pins it), so the guard only picks the cheaper
    // of two identical plans. This ONE aggregate over already-persisted
    // frames replaces the per-drop rank machinery that measured 1.53×
    // on dedup_neardup_incremental at sf0.1 — where the cap never bites
    // (max bucket 857 at sf10; saturation starts at the sf100-docs rung).
    //
    // The SAME aggregate pass also collects the est-verify's sig-bucket
    // probe set (the r14 trace's 0.8 s/drop standalone collect, folded):
    // the buckets holding candidate seen_ids' sig rows. A candidate
    // seen_id is a stored doc sharing a (band,bh) group with some batch
    // row, so the distinct sig buckets of stored docs in BATCH-TOUCHED
    // groups is a tight superset of the exact probe set (it ignores only
    // the doc_id< direction and cap eligibility) — reading a superset of
    // sig buckets is sound because seenSigs is still joined on seen_id.
    //
    // The probe set rides the aggregate as a BITMASK (one long, bit_or
    // at both levels — O(1) aggregate state like the r14 max-only
    // guard), never as collected per-group sets: at the 5M-doc decade a
    // drop touches tens of millions of (band,bh) groups, and any
    // per-group collection funnels O(groups) state through the final
    // reducer. The mask form caps the store at 64 buckets; wider stores
    // (a production sharding at petabyte state) take `fusedProbe =
    // false` and keep the r14 standalone probe collect — one extra
    // bounded job per drop, amortized at the drop sizes such stores see.
    val fusedProbe = nBuckets <= 64
    // JOIN-FREE guard: aggregate over the UNRESTRICTED touched-bucket
    // stored rows ∪ batch rows, and restrict to batch-touched groups
    // inside the final aggregate — a stored-only group has c == stored
    // (no batch row contributes), while any batch-touched group has
    // c > stored strictly, so max(when(c > stored, c)) and the
    // when-guarded mask are BIT-IDENTICAL to the r17 semi-join-
    // restricted form (the mask already carried the same when-guard).
    // maxOcc therefore still reports the max over batch-touched groups.
    val storedRows = storedTouched.select(col("band"), col("bh"),
      call_function("shiftleft", lit(1L),
        sigBucketOf(col("doc_id"), nBuckets).cast("int")).as("m"))
    val guardRow = Trace.span("nd", "occupancy_guard", batchId,
        occupancyFields(cap))(
      storedRows
        .unionByName(bands.select(col("band"), col("bh"),
          lit(null).cast(LongType).as("m")))
        .groupBy(col("band"), col("bh"))
        .agg(count(lit(1)).as("c"), count(col("m")).as("stored"),
          bit_or(col("m")).as("mm"))
        .agg(max(when(col("c") > col("stored"), col("c"))).as("mx"),
          bit_or(when(col("c") > col("stored"), col("mm"))).as("mask"))
        .collect()(0))
    val maxOcc = guardRow
    lazy val maskBuckets: Set[Long] =
      if (guardRow.isNullAt(1)) Set.empty
      else {
        val mask = guardRow.getLong(1)
        (0 until 64).collect { case b if (mask & (1L << b)) != 0 => b.toLong }
          .toSet
      }
    val canSaturate = !maxOcc.isNullAt(0) && maxOcc.getLong(0) > cap
    // under a possibly-biting cap the restricted frame gains a second
    // consumer (withPred's bucket-count aggregate beside the candidate
    // join) — persist it there; the common unsaturated path leaves it
    // lazy (single consumer, pipelines into the fused edge job)
    val prevBands = if (canSaturate) prevBands0.persist(Ser) else prevBands0
    // under a possibly-biting cap, rank the batch against the store and
    // split: eligible rows generate banded candidates (≤ cap predecessors
    // each); saturated rows route through the identical-signature rescue
    // — see the bucketCap doc for the declared semantics and the measured
    // sf100 death they fix
    val rankedOpt =
      if (canSaturate) Some(withPred(bands, prevBands).persist(Ser)) else None
    // one sig row per batch doc (band-0 filter on the persisted bands)
    val batchSigs = bands.filter(col("band") === 0L)
      .select(col("doc_id"), col("sig"))
    try {
      val elig = rankedOpt.map(_.filter(col("pred") <= cap))
        .getOrElse(bands.select(col("band"), col("bh"), col("doc_id")))
      // NARROW candidate pairs: the batch sig must NOT ride the candidate
      // rows through the dedup exchange — at the sf100-docs rung (a
      // degenerate 31-word-vocab corpus, ~1.5e8 candidates per 2.5M-doc
      // drop) the 256-byte signature turned a 2.4 GB pair set into a
      // ~45 GB one and ran the disk out twice. Both sigs are re-joined
      // only INSIDE the verify stage, where the wide rows stream through
      // codegen without ever materializing. Not persisted: with the probe
      // collect folded into the guard aggregate, the fused edge
      // checkpoint is this frame's ONLY consumer.
      // A pair found in several bands appears once per band here; the
      // pre-verify distinct() pays one full pair-set exchange to avoid
      // re-verifying duplicates (the fused edge checkpoint's own distinct
      // dedupes the OUTPUT either way).
      val cand0 = elig.as("b").join(prevBands.as("i"),
          col("b.band") === col("i.band") && col("b.bh") === col("i.bh") &&
            col("i.doc_id") < col("b.doc_id"))
        .select(col("b.doc_id").as("doc_id"), col("i.doc_id").as("seen_id"))
        .distinct()
      // the >64-bucket fallback consumes cand twice (probe + verify) —
      // persist it there; the fused path's single consumer needs none
      val cand = if (fusedProbe) cand0 else cand0.persist(Ser)
      var rescToRelease: Option[DataFrame] = None
      try {
        // ---- identical-signature rescue for saturated arrivals --------
        // materializing ranked here (first consumer) keeps the rescue
        // branch to ONE cheap extra job when the guard could not rule
        // saturation out; when it could, no probe job runs at all
        val anySaturated = rankedOpt.exists(r =>
          Trace.span("nd", "saturation_probe", batchId)(
            !r.filter(col("pred") > cap).limit(1).isEmpty))
        val (rescueSeen, rescueBatch) =
          if (!anySaturated)
            (spark.emptyDataFrame.select(lit(0L).as("doc_id"),
               lit(0L).as("seen_id")).limit(0),
             spark.emptyDataFrame.select(lit(0L).as("doc_a"),
               lit(0L).as("doc_b")).limit(0))
          else {
            val ranked = rankedOpt.get
            val sigKeys = batchSigs
              .select(col("doc_id"), sigKey(col("sig")).as("sk"))
            val resc = ranked.filter(col("pred") > cap)
              .select(col("doc_id")).distinct()
              .join(sigKeys, Seq("doc_id"))
              .persist(Ser)
            rescToRelease = Some(resc)
            val skBuckets = resc
              .select(pmod(xxhash64(lit(-4L), col("sk")),
                lit(nBuckets.toLong)).as("p"))
              .distinct().collect().map(_.getLong(0)).toSet
            // replay recompute: the batch's own sig-key rows (doc_id =
            // batch min per sig) are stored too — exclude them the same
            // way as the band rows, or a replay routes an in-batch rescue
            // edge through rescueSeen instead of rescueBatch
            // a retracted RECORDED MINIMUM removes that batch's rescue
            // anchor for its signature (the anchor relation stores one
            // doc per sig per batch; surviving non-minimum same-sig docs
            // are not anchors) — the declared takedown semantics the
            // oracle replays
            val storedMin = Retraction.maskIfAny(
              ownRowsExcluded(
                view.filter(col("p").isin(skBuckets.toSeq: _*))
                  .filter(col("band") === -4L),
                col("doc_id")),
              tombs, "doc_id")
              .select(col("bh").as("sk"), col("doc_id").as("cand_id"))
            val seenMin = resc.join(storedMin, Seq("sk"))
              .filter(col("cand_id") < col("doc_id"))
              .groupBy(col("doc_id")).agg(min(col("cand_id")).as("smin"))
            val batchMin = resc.join(
                sigKeys.select(col("sk"), col("doc_id").as("odoc")), Seq("sk"))
              .filter(col("odoc") < col("doc_id"))
              .groupBy(col("doc_id")).agg(min(col("odoc")).as("bmin"))
            // overall smallest same-sig partner; route by whether it is a
            // stored doc (edgesSeen) or an in-batch doc (edgesBatch)
            val both = seenMin.join(batchMin, Seq("doc_id"), "full_outer")
            (both.filter(col("smin").isNotNull &&
                 (col("bmin").isNull || col("smin") < col("bmin")))
               .select(col("doc_id"), col("smin").as("seen_id")),
             both.filter(col("bmin").isNotNull &&
                 (col("smin").isNull || col("bmin") <= col("smin")))
               .select(col("doc_id").as("doc_a"), col("bmin").as("doc_b")))
          }

        // ---- est-verify --------------------------------------------
        // sig-bucket probe set: from the guard aggregate's bitmask (one
        // job fewer per drop than the r14 standalone cand collect), or
        // that standalone collect for >64-bucket stores.
        // No tombstone mask needed here: seenSigs only ever joins on
        // seen_ids from cand, whose stored side (prevBands) is already
        // masked — a retracted doc's sig row can never surface
        val sigBuckets: Set[Long] =
          if (fusedProbe) maskBuckets
          else Trace.span("nd", "cand_probe", batchId)(cand
            .select(sigBucketOf(col("seen_id"), nBuckets).as("p"))
            .distinct().collect().map(_.getLong(0)).toSet)
        val seenSigs = view.filter(col("p").isin(sigBuckets.toSeq: _*))
          .filter(col("band") === -1L)
          .select(col("doc_id").as("seen_id"), col("sig").as("seen_sig"))
        val candB = elig.as("x").join(
            bands.select(col("band"), col("bh"), col("doc_id")).as("y"),
            col("x.band") === col("y.band") && col("x.bh") === col("y.bh") &&
              col("y.doc_id") < col("x.doc_id"))
          .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
          .distinct()
        // ONE tagged frame, ONE checkpoint action (r14 ran two — the
        // traced 0.9 + 0.8 s/drop pair): both edge kinds verify in the
        // same job and land in the same truncated-lineage blocks; the
        // returned frames are narrow filters over the checkpoint, so
        // every consumer guarantee (safe after scratch unpersist, safe
        // after fold/GC) carries over unchanged. distinct() over
        // (kind, a, b) ≡ the per-kind distincts — kind disambiguates.
        val seenTagged = cand
          .join(seenSigs, Seq("seen_id"))
          .join(batchSigs, Seq("doc_id"))
          .filter(nearDup(col("sig"), col("seen_sig")))
          .select(col("doc_id").as("a"), col("seen_id").as("b"))
          .unionByName(rescueSeen.select(col("doc_id").as("a"),
            col("seen_id").as("b")))
          .select(lit(0).as("kind"), col("a"), col("b"))
        val batchTagged = candB
          .join(batchSigs.select(col("doc_id").as("doc_a"),
            col("sig").as("sig_a")), Seq("doc_a"))
          .join(batchSigs.select(col("doc_id").as("doc_b"),
            col("sig").as("sig_b")), Seq("doc_b"))
          .filter(nearDup(col("sig_a"), col("sig_b")))
          .select(col("doc_a").as("a"), col("doc_b").as("b"))
          .unionByName(rescueBatch.select(col("doc_a").as("a"),
            col("doc_b").as("b")))
          .select(lit(1).as("kind"), col("a"), col("b"))
        val fused = Trace.span("nd", "edges_ck", batchId)(mat(
          seenTagged.unionByName(batchTagged).distinct()))
        (fused.filter(col("kind") === 0)
           .select(col("a").as("doc_id"), col("b").as("seen_id")),
         fused.filter(col("kind") === 1)
           .select(col("a").as("doc_a"), col("b").as("doc_b")))
      } finally {
        rescToRelease.foreach(_.unpersist())
        if (!fusedProbe) cand.unpersist()
      }
    } finally { rankedOpt.foreach(_.unpersist()); prevBands.unpersist() }
  }

  private def ingestCapturing(spark: SparkSession, indexDir: String,
                              docs: DataFrame, batchId: Long, nBuckets: Int,
                              bandsIn: Option[DataFrame],
                              captureEdges: Boolean,
                              retractIds: Option[DataFrame] = None,
                              prevBandsIn: Option[DataFrame] = None)
      : (DataFrame, Option[(DataFrame, DataFrame)]) = {
    val admittedDir = s"$indexDir/admitted/${batchId + 1}"
    val ownBands = bandsIn.isEmpty
    val bands = bandsIn.getOrElse(bandRowsOf(docs)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER))
    val retract = retractIds.map(Retraction.normIds(_).persist())
    var edges: Option[(DataFrame, DataFrame)] = None
    try {
      val (dataFp, touched) = Trace.span("nd", "fp_touched", batchId)(
        BucketState.inputFingerprintAndBuckets(
          bands.select(col("band"), col("bh"), col("doc_id")),
          bucketOf(nBuckets)))
      val batchFp = Retraction.mixFp(dataFp,
        retract.map(BucketState.inputFingerprint))
      // The one batch protocol (BucketState.appendBatch — see
      // IncrementalDedup.ingest): the lease pins the dirs the vsSeen join
      // scans, the locked commit preserves a mid-ingest swap. The layout
      // guard: a persisted older-layout index (v1: band rows carrying sig,
      // no sig rows; v2: no sig-key rows, so the rescue would silently
      // find no identical-signature partners) would read back incomplete
      // and silently mis-admit — fail loudly instead (the docstring's
      // no-cross-layout-durability promise, enforced). The surviving-view
      // mask is stored tombstones ∪ this batch's own retraction set —
      // identical on first run (input supplies the not-yet-committed set)
      // and replay (the set is stored).
      def tombs(m: BucketState.Manifest) =
        Retraction.tombsOf(spark, indexDir, m, emptyIdx(spark), "doc_id", retract)
      BucketState.appendBatch(spark, indexDir, "nd", batchId, batchFp,
          Some("neardup-v3"))(
        stage = (m, versionDir) => {
          // one candidate-discovery + est-verify pass; both the
          // admission answer and the captured edge feed derive from it
          val (pairsSeen, pairsBatch) =
            verifiedEdges(spark, indexDir, m, bands, touched, nBuckets,
              tombs(m), batchId, prevBandsIn = prevBandsIn)
          if (captureEdges) edges = Some((pairsSeen, pairsBatch))
          // rejected: near-dup of a SMALLER seen doc, or of a smaller
          // doc in the SAME batch (regardless of that doc's own fate —
          // the contract compares against seen, not against admitted).
          // The universe comes off the band-0 filter (exactly one row
          // per signed doc — no distinct exchange), and an anti-join's
          // right side needs no dedup.
          val admitted = bands.filter(col("band") === 0L)
            .select(col("doc_id"))
            .join(pairsSeen.select(col("doc_id"))
                .unionByName(pairsBatch.select(col("doc_a").as("doc_id"))),
              Seq("doc_id"), "left_anti")

          // the admitted ANSWER rides the segment write under the
          // reserved staging bucket (one job where r15 ran two) and
          // is renamed out before the one-rename commit — see
          // BucketState.claimAnswer for the unchanged crash story
          val nullSigA =
            lit(null).cast(ArrayType(LongType, containsNull = false))
          val answerRows = admitted.select(lit(-5L).as("band"),
            lit("").as("bh"), col("doc_id"), nullSigA.as("sig"),
            lit(BucketState.AnswerBucket).as("p"))
          val bandKeys = bands.select(col("band"), col("bh"), col("doc_id"),
            lit(null).cast(ArrayType(LongType, containsNull = false)).as("sig"))
          // every doc with a signature has exactly one band-0 row
          // (posexplode over sequence(0,7)), so sig rows derive from
          // a narrow filter on the persisted bands — no extra shuffle
          val sigRows = bands.filter(col("band") === 0L)
            .select(lit(-1L).as("band"), col("doc_id").cast("string").as("bh"),
              col("doc_id"), col("sig"))
          // sig-key rows (band = -4, bh = md5 of the full signature,
          // doc_id = the batch's smallest doc with that signature) —
          // the identical-signature rescue's lookup relation: one
          // narrow row per distinct sig per batch; readers take the
          // min over appended rows, so append-only stays correct and
          // compaction needs no kind-specific merge
          val skRows = bands.filter(col("band") === 0L)
            .select(sigKey(col("sig")).as("bh"), col("doc_id"))
            .groupBy(col("bh")).agg(min(col("doc_id")).as("doc_id"))
            .select(lit(-4L).as("band"), col("bh"), col("doc_id"),
              lit(null).cast(ArrayType(LongType, containsNull = false))
                .as("sig"))
          // tombstone rows ride the same segment and the same commit:
          // (band = -9, bh = "", doc_id, sig = null, p = TombBucket)
          val dataRows = bandKeys.unionByName(sigRows).unionByName(skRows)
            .withColumn("p", bucketOf(nBuckets))
            .unionByName(answerRows)
          Trace.span("nd", "segment_write", batchId)(
            retract.fold(dataRows)(r => dataRows.unionByName(
                r.select(lit(-9L).as("band"), lit("").as("bh"),
                  col("doc_id"),
                  lit(null).cast(ArrayType(LongType, containsNull = false))
                    .as("sig"),
                  lit(Retraction.TombBucket).as("p"))))
              .repartition(col("p"))
              .write.mode("overwrite").partitionBy("p")
              .parquet(versionDir))
          Trace.span("nd", "claim_answer", batchId)(
            BucketState.claimAnswer(spark, versionDir,
              admittedDir, admittedSchema))
        },
        // a replayed batch still owes its consumer the edges (the
        // keep-best index may NOT have committed yet) — recompute them
        // under this lease with the batch's own committed rows excluded
        // (replayFloor), so the recomputed edges are bit-identical to the
        // first run's; see verifiedEdges
        replay = m => if (captureEdges) {
          val minRow = bands.agg(min(col("doc_id"))).collect()(0)
          val floor = if (minRow.isNullAt(0)) None else Some(minRow.getLong(0))
          edges = Some(verifiedEdges(spark, indexDir, m, bands, touched,
            nBuckets, tombs(m), batchId, replayFloor = floor,
            prevBandsIn = prevBandsIn))
        })
    } finally {
      if (ownBands) bands.unpersist()
      retract.foreach(_.unpersist())
    }
    (spark.read.schema(admittedSchema).parquet(admittedDir), edges)
  }

  /** Streaming ingress for the near-dup index — the same contract as
    * [[IncrementalDedup.runIngest]] ([[BucketState.runIngest]]): one
    * [[ingest]] per micro-batch keyed by the checkpoint's batchId, then
    * [[compact]] at `compactWhenSegments` (0 = never), optionally on a
    * background thread (`asyncCompaction`).
    */
  def runIngest(docs: DataFrame, indexDir: String, checkpointDir: String,
                compactWhenSegments: Int = 0, nBuckets: Int = 64,
                onBatch: (Long, Int) => Unit = (_, _) => (),
                asyncCompaction: Boolean = false)
      : org.apache.spark.sql.streaming.StreamingQuery =
    BucketState.runIngest(docs, indexDir, checkpointDir, compactWhenSegments,
      asyncCompaction, onBatch) { (batch, batchId) =>
      ingest(batch.sparkSession, indexDir, batch, batchId, nBuckets = nBuckets)
      fold
    }

  /** Every admitted doc_id across all committed ingest batches, minus
    * every stored takedown — the surviving curated corpus. Materialized
    * under a read lease (the admitted files are never GC'd, but the
    * tombstone mask reads the bucket store, which a concurrent fold's
    * GC could sweep mid-read — the IncrementalDedup.snapshot argument).
    */
  def admittedSnapshot(spark: SparkSession, indexDir: String): DataFrame = {
    val (m, lease) = BucketState.readManifestLeased(spark, indexDir)
    try Retraction.maskIfAny(
        spark.read.schema(admittedSchema).parquet(s"$indexDir/admitted/*"),
        Retraction.tombsOf(spark, indexDir, m, emptyIdx(spark), "doc_id"), "doc_id")
      .localCheckpoint(eager = true)
    finally BucketState.releaseReads(lease)
  }

  // --------------------------------------------------- driver query
  /** Driver-facing demonstration: the documents table ingested as two
    * doc_id-ordered chunks through a fresh banded index; the union of
    * the admitted sets must equal the ONE-SHOT pairwise near-dup filter
    * (reject every doc with an est≥0.5 banded collision to a smaller
    * id) — which is exactly what the DuckDB oracle computes from the
    * same hash ladder.
    */
  def nearDupIncremental(s: SparkSession, dir: String): DataFrame =
    nearDupIncrementalAt(s, dir, graft.Shared.scratchDir("graft-neardup"))

  private[graft] def nearDupIncrementalAt(s: SparkSession, dir: String,
                                          indexDir: String): DataFrame =
    graft.Shared.scratchRun(indexDir)(admittedChunks(s, dir, indexDir, 2))

  /** The union of the admitted sets of the documents table ingested into
    * `indexDir` as `n` ascending chunks, ordered by doc_id.
    */
  private def admittedChunks(s: SparkSession, dir: String, indexDir: String,
                             n: Int): DataFrame = {
    val docs = graft.Tables.documents(s, dir).select(col("doc_id"), col("text"))
    graft.Shared.ascendingSplit(docs, "doc_id", n).chunks.zipWithIndex
      .map { case (chunk, i) => ingest(s, indexDir, chunk, batchId = i, nBuckets = 16) }
      .reduce(_.unionByName(_)).orderBy(col("doc_id"))
  }

  /** Shared DuckDB CTE chain ending in `mh_pairs(doc_a, doc_b)` — the
    * prefix-capped verified edge set both incremental oracles replay
    * (admission rejects every `doc_b`; the keep-best oracle builds its
    * recursive component CTE on top). Declared semantics at
    * [[bucketCap]]: banded pairs where the later doc sees ≤ cap
    * predecessors in the bucket (ROW_NUMBER ≤ cap+1), verified at
    * est ≥ 0.5; saturated arrivals gain an edge to the smallest earlier
    * doc with the identical full signature. The cap constant baked in
    * is the engine default — the driver runs both sides at defaults.
    */
  private[operators] def cappedGraphCtes: String = {
    val p = TextFns.minhashPrime
    val cap = DefaultBucketCap
    val perms = (0 until K).map { i =>
      val a = ((2L * i + 1L) * 2654435761L) % p
      val b = (i * 1000003L + 12345L) % p
      s"MIN(((h & 2147483647) * $a + $b) % $p) AS m$i"
    }
    val bandRows = (0 until Bands).map { bnd =>
      val cols = (0 until Rows).map(r => s"CAST(m${bnd * Rows + r} AS VARCHAR)")
        .mkString(" || ',' || ")
      s"SELECT doc_id, $bnd AS band, $cols AS bh FROM sig"
    }
    val eqSum = (0 until K)
      .map(i => s"CASE WHEN sa.m$i = sb.m$i THEN 1 ELSE 0 END").mkString(" + ")
    val fullSig = (0 until K).map(i => s"CAST(m$i AS VARCHAR)")
      .mkString(" || ',' || ")
    s"""docs AS (
       |  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks FROM documents),
       |t AS (
       |  SELECT doc_id, generate_subscripts(toks, 1) AS p, unnest(toks) AS tok FROM docs),
       |sh AS (
       |  SELECT DISTINCT a.doc_id, a.tok || ' ' || b.tok || ' ' || c.tok AS sh
       |  FROM t a
       |  JOIN t b ON a.doc_id = b.doc_id AND b.p = a.p + 1
       |  JOIN t c ON a.doc_id = c.doc_id AND c.p = a.p + 2),
       |hs AS (SELECT doc_id, ('0x' || substr(md5(sh), 1, 15))::BIGINT AS h FROM sh),
       |sig AS (SELECT doc_id, ${perms.mkString(", ")} FROM hs GROUP BY doc_id),
       |banded AS (${bandRows.mkString(" UNION ALL ")}),
       |rb AS (
       |  SELECT doc_id, band, bh,
       |    ROW_NUMBER() OVER (PARTITION BY band, bh ORDER BY doc_id) AS rn
       |  FROM banded),
       |cand AS (
       |  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
       |  FROM rb x JOIN rb y
       |    ON x.band = y.band AND x.bh = y.bh AND x.doc_id < y.doc_id
       |   AND y.rn <= ${cap + 1}),
       |sk AS (SELECT doc_id, md5($fullSig) AS k FROM sig),
       |resc AS (SELECT DISTINCT doc_id FROM rb WHERE rn > ${cap + 1}),
       |rescue AS (
       |  SELECT MIN(o.doc_id) AS doc_a, r.doc_id AS doc_b
       |  FROM resc r
       |  JOIN sk s ON s.doc_id = r.doc_id
       |  JOIN sk o ON o.k = s.k AND o.doc_id < r.doc_id
       |  GROUP BY r.doc_id),
       |mh_pairs AS (
       |  SELECT doc_a, doc_b FROM cand
       |  JOIN sig sa ON sa.doc_id = cand.doc_a
       |  JOIN sig sb ON sb.doc_id = cand.doc_b
       |  WHERE $eqSum >= ${K / 2}
       |  UNION
       |  SELECT doc_a, doc_b FROM rescue)""".stripMargin
  }

  // The admitted universe is SIG (docs that produce band rows), not DOCS:
  // a <3-token or null-text doc has no shingles, hence no signature and
  // no band rows, and the ingest (which derives admission from band
  // rows) can never admit it — the oracle must start from the same
  // universe or it would spuriously include short docs the engine
  // structurally excludes (same invariant as IngestSoak's expected set).
  private val nearDupIncrementalSql: String =
    s"""WITH $cappedGraphCtes
       |SELECT CAST(doc_id AS BIGINT) AS doc_id FROM sig
       |WHERE doc_id NOT IN (SELECT doc_b FROM mh_pairs)
       |ORDER BY doc_id""".stripMargin

  /** Driver-facing demonstration of the STREAMING read path: the same
    * corpus in FOUR ascending quartile chunks. From the third chunk on,
    * every stored read of this store — the band rows feeding the guard
    * and candidate join, the sig-bucket probe, the rescue anchors — runs
    * against the manifest-keyed session view
    * ([[graft.streaming.BucketState.readStoreView]]; the 2-chunk
    * `dedup_neardup_incremental` stays direct by the streaming-signature
    * heuristic). The declared capped-graph semantics are defined over
    * the GLOBAL ascending-doc_id order (rn per (band,bh), not per
    * batch), so the admitted set is chunking-invariant and the oracle is
    * shared — the equality gates the cached read path bit-for-bit.
    */
  def nearDupStream(s: SparkSession, dir: String): DataFrame = {
    val indexDir = graft.Shared.scratchDir("graft-neardup-stream")
    graft.Shared.scratchRun(indexDir)(admittedChunks(s, dir, indexDir, 4))
  }

  /** Driver-facing demonstration of DELETION: chunk 1 ingests, then
    * chunk 2 arrives WITH a takedown of every chunk-1 id divisible
    * by 5 — band/sig/sig-key rows of the named ids are masked before
    * chunk 2's admissions and the ids leave the admitted snapshot. The
    * result must equal the SEQUENCE replay (phase 1 uncut, phase 2
    * against the surviving index) — the DuckDB oracle replays both
    * phases of the prefix-capped contract, including the declared
    * anchor semantics (a retracted recorded minimum removes its batch's
    * rescue anchor; surviving non-minimum same-sig docs do not become
    * anchors).
    */
  def nearDupRetract(s: SparkSession, dir: String): DataFrame =
    nearDupRetractAt(s, dir, graft.Shared.scratchDir("graft-neardup-ret"))

  private[graft] def nearDupRetractAt(s: SparkSession, dir: String,
                                      indexDir: String): DataFrame =
    graft.Shared.scratchRun(indexDir) {
      val docs = graft.Tables.documents(s, dir).select(col("doc_id"), col("text"))
      val Seq(chunk1, chunk2) = graft.Shared.ascendingSplit(docs, "doc_id", 2).chunks
      ingest(s, indexDir, chunk1, batchId = 0, nBuckets = 16).count()
      val takedown = chunk1.filter(pmod(col("doc_id"), lit(5)) === 0).select(col("doc_id"))
      ingest(s, indexDir, chunk2, batchId = 1, nBuckets = 16,
        retractIds = Some(takedown)).count()
      admittedSnapshot(s, indexDir).orderBy(col("doc_id"))
    }

  /** Two-phase sequence replay of the takedown semantics: phase 1 is the
    * one-batch capped graph over chunk 1; phase 2 ranks chunk 2 against
    * the SURVIVING universe (chunk 1 minus the takedown), with rescue
    * partners drawn from surviving batch-1 anchors and in-batch minima.
    * Final = (phase-1 admitted minus takedown) ∪ phase-2 admitted.
    */
  private val nearDupRetractSql: String = {
    val p = TextFns.minhashPrime
    val cap = DefaultBucketCap
    val perms = (0 until K).map { i =>
      val a = ((2L * i + 1L) * 2654435761L) % p
      val b = (i * 1000003L + 12345L) % p
      s"MIN(((h & 2147483647) * $a + $b) % $p) AS m$i"
    }
    val bandRows = (0 until Bands).map { bnd =>
      val cols = (0 until Rows).map(r => s"CAST(m${bnd * Rows + r} AS VARCHAR)")
        .mkString(" || ',' || ")
      s"SELECT doc_id, $bnd AS band, $cols AS bh FROM sig"
    }
    val eqSum = (0 until K)
      .map(i => s"CASE WHEN sa.m$i = sb.m$i THEN 1 ELSE 0 END").mkString(" + ")
    val fullSig = (0 until K).map(i => s"CAST(m$i AS VARCHAR)")
      .mkString(" || ',' || ")
    s"""WITH docs AS (
       |  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks FROM documents),
       |t AS (
       |  SELECT doc_id, generate_subscripts(toks, 1) AS p, unnest(toks) AS tok FROM docs),
       |sh AS (
       |  SELECT DISTINCT a.doc_id, a.tok || ' ' || b.tok || ' ' || c.tok AS sh
       |  FROM t a
       |  JOIN t b ON a.doc_id = b.doc_id AND b.p = a.p + 1
       |  JOIN t c ON a.doc_id = c.doc_id AND c.p = a.p + 2),
       |hs AS (SELECT doc_id, ('0x' || substr(md5(sh), 1, 15))::BIGINT AS h FROM sh),
       |sig AS (SELECT doc_id, ${perms.mkString(", ")} FROM hs GROUP BY doc_id),
       |banded AS (${bandRows.mkString(" UNION ALL ")}),
       |sk AS (SELECT doc_id, md5($fullSig) AS k FROM sig),
       |mid AS (SELECT (MIN(doc_id) + MAX(doc_id)) // 2 AS m FROM documents),
       |ret AS (SELECT doc_id FROM sig, mid WHERE doc_id <= m AND doc_id % 5 = 0),
       |rb1 AS (
       |  SELECT b.doc_id, b.band, b.bh,
       |    ROW_NUMBER() OVER (PARTITION BY b.band, b.bh ORDER BY b.doc_id) AS rn
       |  FROM banded b, mid WHERE b.doc_id <= m),
       |cand1 AS (
       |  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
       |  FROM rb1 x JOIN rb1 y
       |    ON x.band = y.band AND x.bh = y.bh AND x.doc_id < y.doc_id
       |   AND y.rn <= ${cap + 1}),
       |resc1 AS (SELECT DISTINCT doc_id FROM rb1 WHERE rn > ${cap + 1}),
       |rescue1 AS (
       |  SELECT MIN(o.doc_id) AS doc_a, r.doc_id AS doc_b
       |  FROM resc1 r
       |  JOIN sk s ON s.doc_id = r.doc_id
       |  JOIN sk o ON o.k = s.k AND o.doc_id < r.doc_id
       |  JOIN mid ON o.doc_id <= mid.m
       |  GROUP BY r.doc_id),
       |mh1 AS (
       |  SELECT doc_a, doc_b FROM cand1
       |  JOIN sig sa ON sa.doc_id = cand1.doc_a
       |  JOIN sig sb ON sb.doc_id = cand1.doc_b
       |  WHERE $eqSum >= ${K / 2}
       |  UNION SELECT doc_a, doc_b FROM rescue1),
       |adm1 AS (
       |  SELECT doc_id FROM sig, mid WHERE doc_id <= m
       |  AND doc_id NOT IN (SELECT doc_b FROM mh1)),
       |u2 AS (
       |  SELECT doc_id FROM sig, mid WHERE doc_id <= m
       |    AND doc_id NOT IN (SELECT doc_id FROM ret)
       |  UNION ALL SELECT doc_id FROM sig, mid WHERE doc_id > m),
       |rb2 AS (
       |  SELECT b.doc_id, b.band, b.bh,
       |    ROW_NUMBER() OVER (PARTITION BY b.band, b.bh ORDER BY b.doc_id) AS rn
       |  FROM banded b JOIN u2 USING (doc_id)),
       |cand2 AS (
       |  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
       |  FROM rb2 x JOIN rb2 y
       |    ON x.band = y.band AND x.bh = y.bh AND x.doc_id < y.doc_id
       |   AND y.rn <= ${cap + 1}
       |  CROSS JOIN mid WHERE y.doc_id > mid.m),
       |anch AS (
       |  SELECT s.k, MIN(s.doc_id) AS a FROM sk s, mid
       |  WHERE s.doc_id <= mid.m GROUP BY s.k),
       |resc2 AS (
       |  SELECT DISTINCT r.doc_id FROM rb2 r, mid
       |  WHERE r.rn > ${cap + 1} AND r.doc_id > mid.m),
       |partner2 AS (
       |  SELECT MIN(p2.pid) AS doc_a, r.doc_id AS doc_b
       |  FROM resc2 r
       |  JOIN sk s ON s.doc_id = r.doc_id
       |  JOIN (
       |    SELECT a.k, a.a AS pid FROM anch a
       |    WHERE a.a NOT IN (SELECT doc_id FROM ret)
       |    UNION ALL
       |    SELECT o.k, o.doc_id AS pid FROM sk o, mid WHERE o.doc_id > mid.m
       |  ) p2 ON p2.k = s.k AND p2.pid < r.doc_id
       |  GROUP BY r.doc_id),
       |mh2 AS (
       |  SELECT doc_a, doc_b FROM cand2
       |  JOIN sig sa ON sa.doc_id = cand2.doc_a
       |  JOIN sig sb ON sb.doc_id = cand2.doc_b
       |  WHERE $eqSum >= ${K / 2}
       |  UNION SELECT doc_a, doc_b FROM partner2),
       |adm2 AS (
       |  SELECT doc_id FROM sig, mid WHERE doc_id > m
       |  AND doc_id NOT IN (SELECT doc_b FROM mh2))
       |SELECT CAST(doc_id AS BIGINT) AS doc_id FROM (
       |  SELECT doc_id FROM adm1
       |  WHERE doc_id NOT IN (SELECT doc_id FROM ret)
       |  UNION ALL SELECT doc_id FROM adm2)
       |ORDER BY doc_id""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "dedup_neardup_incremental" -> (nearDupIncremental _),
    "dedup_neardup_stream" -> (nearDupStream _),
    "dedup_neardup_retract" -> (nearDupRetract _))

  val oracles: Map[String, String] = Map(
    "dedup_neardup_incremental" -> nearDupIncrementalSql,
    // the 4-chunk stream form: the capped graph is declared over the
    // global ascending order, so chunking (and the session read view it
    // exercises from chunk 3 on) is invisible in the admitted set
    "dedup_neardup_stream" -> nearDupIncrementalSql,
    "dedup_neardup_retract" -> nearDupRetractSql)
}
