package graft

import org.apache.spark.sql.functions._

/** The session read view carried to the DECADE rung: the 5M-doc
  * incremental near-dup bench deliberately keeps direct reads (its
  * 2-chunk shape never shows the streaming signature), so the view's
  * LRU / lease handoff / fold invalidation had decade evidence only by
  * argument. This probe ingests the corpus into the near-dup index in
  * FOUR ascending chunks — the view builds on chunk 3's stored read and
  * serves chunk 4's — and proves three things at scale:
  *
  *  - ENGAGEMENT: `BucketState.hasView` flips exactly at chunk 3 (the
  *    signature heuristic), and stays on through chunk 4;
  *  - EXACTNESS: the admitted set equals the 2-chunk form's on the same
  *    corpus (the declared semantics are chunking-invariant, so any
  *    view-induced divergence would surface as a diff);
  *  - BOUNDEDNESS: peak persisted storage (view leaves included) is
  *    reported per chunk — MEMORY_AND_DISK_SER leaves spill rather than
  *    OOM, and the numbers make the footprint reviewable.
  *
  * Usage: SPARK_GRAFT_SF_DIR=<dir with documents.parquet> java ...
  * graft.ViewDecadeProbe. Prints ONE JSON line.
  */
object ViewDecadeProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/tmp/graft_sf100docs")
    val spark = Graft.session(Graft.localMaster)
    spark.sparkContext.setLogLevel("WARN")

    val docs = Tables.documents(spark, sfDir).select(col("doc_id"), col("text"))
    def storageMb: Long =
      spark.sparkContext.getRDDStorageInfo.map(_.memSize).sum / (1024 * 1024)

    val dir = Shared.scratchDir("graft-vdp")
    val (fields, checks) = Shared.inScratch(dir) {
      // ---- 4-chunk ingest: the view engages on chunk 3 ----------------
      val dir4 = s"$dir/four"
      var viewAt = List.empty[Boolean]
      var chunkSec = List.empty[Double]
      var storMb = List.empty[Long]
      val admitted4 = Shared.ascendingSplit(docs, "doc_id", 4).chunks.zipWithIndex
        .map { case (chunk, i) =>
          val (adm, t) = Trace.timed("view_decade_probe", "chunk", i)(
            operators.IncrementalNearDup.ingest(spark, dir4, chunk,
              batchId = i, nBuckets = 16))
          viewAt :+= graft.streaming.BucketState.hasView(dir4)
          chunkSec :+= t
          storMb :+= storageMb
          adm
        }.reduce(_.unionByName(_))
      val n4 = admitted4.count()

      // ---- 2-chunk control on the same corpus (direct reads) ----------
      val (admitted2, t2) = Trace.timed("view_decade_probe", "two_chunk", -1L) {
        val u = Shared.ascendingSplit(docs, "doc_id", 2).chunks.zipWithIndex
          .map { case (chunk, i) =>
            operators.IncrementalNearDup.ingest(spark, s"$dir/two", chunk,
              batchId = i, nBuckets = 16)
          }.reduce(_.unionByName(_)).localCheckpoint(eager = true)
        u.count()
        u
      }
      val diff = admitted4.exceptAll(admitted2).count() +
        admitted2.exceptAll(admitted4).count()
      (Seq("sf_dir" -> sfDir, "docs" -> docs.count(), "admitted_4chunk" -> n4,
        "admitted_diff_vs_2chunk" -> diff, "view_live_after_chunk" -> viewAt,
        "chunk_sec" -> chunkSec.map(Trace.fixed(_, 1)),
        "storage_mb_after_chunk" -> storMb, "twochunk_sec" -> Trace.fixed(t2, 1)),
        Seq("[view-decade] 4-chunk admissions diverged from the 2-chunk form" -> (diff == 0),
          s"[view-decade] view engaged after chunks $viewAt, not from chunk 3 on" ->
            (viewAt == List(false, false, true, true))))
    }
    Graft.finish(spark, "view_decade_probe", fields, checks: _*)
  }
}
