package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deletion/takedown for the incremental curation stores — the
  * reference's delete semantics (`/root/reference/main.py:75-90`: a CDC
  * delete removes the row from the serving store, interleaved in the
  * SAME ordered stream as inserts) applied to the pipeline's four
  * persisted indexes: a retraction drop of doc_ids removes fingerprint
  * rows (exact dedup), band/sig/sig-key rows (near-dup), member and
  * sig-family rows (keep-best), and code rows (vector index).
  *
  * DESIGN — tombstones in the batch commit, folded out at compaction
  * (the LSM CDC replica's exact pattern, `CdcStream.retractLsmKeys`):
  *
  *  - A retraction arrives WITH a batch (possibly an otherwise-empty
  *    one): the store's `ingest` stages its data rows AND one tombstone
  *    row per retracted id in the SAME version dir and commits both in
  *    the one manifest rename. One commit per store per stream batch is
  *    preserved, so the whole replay contract carries over unchanged —
  *    on replay the batch's own tombstones are already stored, and the
  *    first run masked with the identical input set, so both runs see
  *    the same surviving state bit-for-bit.
  *  - Tombstones live in the RESERVED bucket `p = -1` (hashed data
  *    buckets are non-negative), because a doc's data rows are bucketed
  *    by CONTENT (band hash, fingerprint hash, cell) that a doc_id-only
  *    takedown request cannot recompute. Readers load the one tombstone
  *    bucket (tiny — takedown sets are bounded) and broadcast-anti-join
  *    every stored read; partition-pruned data reads are untouched.
  *  - DECLARED SEMANTICS (non-retroactive): a retraction changes LATER
  *    admissions only. Decisions already made stand — a doc rejected
  *    because of a now-retracted near-dup stays rejected, and a
  *    fingerprint whose stored winner is retracted readmits the NEXT
  *    arrival of that content (not a previously-rejected one).
  *    Chunked-with-retractions therefore equals the one-shot replay of
  *    the same (drop, retraction) sequence — the oracle replays the
  *    sequence, not a final-state filter.
  *  - CALLER CONTRACT: retracted ids name PREVIOUSLY-INGESTED ids.
  *    Ingestion is ascending, so no future row can match an existing
  *    tombstone — which is what lets compaction drop masked rows AND
  *    the tombstones masking them in one fold ([[foldTombstones]], the
  *    `resolve` of each store's own `fold`). Retracting a never-ingested
  *    id masks nothing and is dropped at the next fold.
  */
private[graft] object Retraction {

  /** Reserved tombstone bucket: hashed data buckets are `pmod(...) ≥ 0`
    * and the vector index's cell buckets are `[0, Cells)`, so `-1`
    * collides with nothing in any store.
    */
  val TombBucket = -1L

  /** Normalize a caller's retraction frame (first column = ids) to one
    * distinct non-null long `doc_id` column — distinct because a
    * duplicate id must not change the batch fingerprint's meaning.
    */
  def normIds(ids: DataFrame): DataFrame = {
    val c = ids.columns.head
    ids.select(col(c).cast("long").as("doc_id"))
      .filter(col("doc_id").isNotNull).distinct()
  }

  /** Mix a retraction set's fingerprint into the batch's data
    * fingerprint: same data with a different takedown set MUST read as a
    * different batch (the checkpoint-reset guard extends to the
    * retraction input). No-retraction batches keep their r14 fingerprint
    * (`None` ⇒ identity), so existing stores replay unchanged.
    */
  def mixFp(dataFp: Long, retractFp: Option[Long]): Long =
    retractFp.fold(dataFp)(r =>
      dataFp ^ java.lang.Long.rotateLeft(r, 17) ^ 0x9e3779b97f4a7c15L)

  /** Broadcast anti-join `df` against a tombstone id set on `idCol`. */
  def mask(df: DataFrame, tombIds: DataFrame, idCol: String): DataFrame =
    df.join(broadcast(tombIds.toDF(idCol)), Seq(idCol), "left_anti")

  /** Does the committed manifest hold any tombstones? The reserved bucket
    * appears in the bucket map iff some batch ever committed a retraction
    * — which lets every stored read SKIP the tombstone-bucket read and
    * the anti-join entirely on a takedown-free store (the common case:
    * the mask was a measured ~+2.5 s real cost at sf10 on stores that
    * had nothing to mask). Sound because the manifest is the single
    * source of truth for committed segments: no `p = -1` entry ⇔ no
    * tombstone row exists to mask with.
    */
  def hasTombs(m: graft.streaming.BucketState.Manifest): Boolean =
    m.buckets.contains(TombBucket)

  /** The one tombstone mask of a store read under manifest `m`: its
    * stored tombstone ids (`idCol`, one pruned read of the reserved
    * bucket; `empty` is the store's zero-state with `p`), unioned and
    * distinct with `pending` — a batch's own not-yet-committed retraction
    * set — when given. None, so [[maskIfAny]] skips the read and the
    * join, when the store holds no tombstones and nothing is pending. An
    * ingest passes its retraction set; on replay that set is already
    * stored, so both runs mask with the same ids.
    */
  def tombsOf(spark: SparkSession, dir: String,
              m: graft.streaming.BucketState.Manifest,
              empty: => DataFrame, idCol: String,
              pending: Option[DataFrame] = None): Option[DataFrame] =
    if (!hasTombs(m) && pending.isEmpty) None
    else {
      val stored = graft.streaming.BucketState.readBuckets(spark, dir,
        m.buckets.view.filterKeys(_ == TombBucket).toMap, empty)
        .select(col(idCol))
      Some(pending.fold(stored)(stored.unionByName(_).distinct()))
    }

  /** [[mask]] when the caller may have no tombstone relation at all —
    * `None` is the zero-cost identity (no read, no join).
    */
  def maskIfAny(df: DataFrame, tombs: Option[DataFrame], idCol: String): DataFrame =
    tombs.fold(df)(t => mask(df, t, idCol))

  /** The tombstone resolve of a curation store's fold: apply every
    * tombstone to the data rows, keep rows of `exempt` kinds, and drop the
    * tombstones themselves (sound per the ascending-id caller contract
    * above — nothing a folded tombstone could ever mask remains). `idCol`
    * is the store's id column; tombstone rows are recognized by their
    * reserved bucket. Each store names its arguments once, in its own
    * `fold`: the exact and near-dup indexes on `doc_id`, the vector index
    * on `vec_id`, and
    *  - `exempt`: keep-best's forwarding rows, a relation keyed by
    *    cluster LABELS, not members;
    *  - `keepTombstones`: the near-dup index, whose snapshot masks state
    *    outside the bucket store — its admitted registry is immutable
    *    per-batch answer files, so its tombstone relation must survive
    *    folds as the registry's standing mask (bounded by lifetime
    *    takedowns: one narrow row each — at-rest cost is nil next to the
    *    band state the fold does reclaim).
    */
  def foldTombstones(all: DataFrame, idCol: String,
                     exempt: Option[Column] = None,
                     keepTombstones: Boolean = false): DataFrame = {
    val tombRows = all.filter(col("p") === TombBucket)
    val tombs = tombRows.select(col(idCol)).distinct()
    val data = all.filter(col("p") =!= TombBucket)
    val masked = exempt match {
      case None => mask(data, tombs, idCol)
      case Some(keep) =>
        mask(data.filter(!keep), tombs, idCol).unionByName(data.filter(keep))
    }
    if (keepTombstones) masked.unionByName(tombRows) else masked
  }
}
