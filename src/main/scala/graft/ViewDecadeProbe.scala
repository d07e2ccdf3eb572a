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
    val ids = docs.agg(min("doc_id"), max("doc_id")).collect()(0)
    val (lo, hi) = (ids.getLong(0), ids.getLong(1))
    def storageMb: Long =
      spark.sparkContext.getRDDStorageInfo.map(_.memSize).sum / (1024 * 1024)

    // ---- 4-chunk ingest: the view engages on chunk 3 ----------------
    val dir4 = java.nio.file.Files.createTempDirectory("graft-vdp4").toString
    val cuts = Seq(lo - 1) ++ (1 to 3).map(i => lo + (hi - lo) * i / 4) ++ Seq(hi)
    var viewAt = List.empty[Boolean]
    var chunkSec = List.empty[Double]
    var storMb = List.empty[Long]
    val admitted4 = cuts.sliding(2).zipWithIndex.map { case (Seq(a, b), i) =>
      val (adm, t) = Trace.timed("view_decade_probe", "chunk", i)(
        operators.IncrementalNearDup.ingest(spark, dir4,
          docs.filter(col("doc_id") > a && col("doc_id") <= b),
          batchId = i, nBuckets = 16))
      viewAt :+= graft.streaming.BucketState.hasView(dir4)
      chunkSec :+= t
      storMb :+= storageMb
      adm
    }.toSeq.reduce(_.unionByName(_))
    val n4 = admitted4.count()

    // ---- 2-chunk control on the same corpus (direct reads) ----------
    val dir2 = java.nio.file.Files.createTempDirectory("graft-vdp2").toString
    val mid = (lo + hi) / 2
    val (admitted2, t2) = Trace.timed("view_decade_probe", "two_chunk", -1L) {
      val a = operators.IncrementalNearDup.ingest(spark, dir2,
        docs.filter(col("doc_id") <= mid), batchId = 0, nBuckets = 16)
      val b = operators.IncrementalNearDup.ingest(spark, dir2,
        docs.filter(col("doc_id") > mid), batchId = 1, nBuckets = 16)
      val u = a.unionByName(b).localCheckpoint(eager = true)
      u.count()
      u
    }
    val diff = admitted4.exceptAll(admitted2).count() +
      admitted2.exceptAll(admitted4).count()
    graft.Shared.deleteDirTree(dir4); graft.Shared.deleteDirTree(dir2)

    println(s"""{"metric":"view_decade_probe","sf_dir":"$sfDir",""" +
      s""""docs":${docs.count()},"admitted_4chunk":$n4,""" +
      s""""admitted_diff_vs_2chunk":$diff,""" +
      s""""view_live_after_chunk":[${viewAt.mkString(",")}],""" +
      s""""chunk_sec":[${chunkSec.map(t => f"$t%.1f").mkString(",")}],""" +
      s""""storage_mb_after_chunk":[${storMb.mkString(",")}],""" +
      s""""twochunk_sec":${f"$t2%.1f"}}""")
    spark.stop()
    if (diff != 0 || !(viewAt == List(false, false, true, true))) sys.exit(1)
  }
}
