package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, Encoders}
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Compaction OFF the hot path: a background fold must interleave with
  * the streaming apply path without losing a concurrently-committed
  * segment, clobbering its replay-progress record, colliding on a
  * version dir, or GC-ing a staged-but-uncommitted write. The protocol
  * under test is [[BucketState]]'s manifest lock + reserved versions +
  * in-flight GC sparing, and the one fold's segment-preserving swap
  * ([[BucketState.compactConcurrent]], which [[CdcStream.compactLsm]]
  * runs with the replica's fold: fold a snapshot, replace ONLY what was
  * folded, re-read the fingerprint fresh).
  */
class ConcurrentCompactionSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def env(pos: Long, key: Int, inv: Option[Int]) = inv match {
    case Some(v) =>
      s"""{"payload":{"before":null,"after":{"order_id":$key,"invoice_number":$v},"source":{"ts_ms":$pos,"pos":$pos,"db":"dev","table":"invoice"},"op":"c","ts_ms":$pos}}"""
    case None =>
      s"""{"payload":{"before":{"order_id":$key,"invoice_number":0},"after":null,"source":{"ts_ms":$pos,"pos":$pos,"db":"dev","table":"invoice"},"op":"d","ts_ms":$pos}}"""
  }

  private def batchOf(lines: Seq[String]): DataFrame =
    graft.cdc.Changelog.fromEnvelopeJson(
      spark.createDataset(lines)(Encoders.STRING).toDF("value"))

  private def apply(base: String, batchId: Long, lines: Seq[String]): Unit =
    CdcStream.applyLsmBatch(batchOf(lines), batchId, s"$base/audit",
      s"$base/state", 4, graft.cdc.CdcSchema.invoiceSpec)

  private def snap(base: String): Seq[(Int, Int)] =
    CdcStream.partitionedSnapshotLsm(spark, s"$base/state")
      .collect().map(r => (r.getInt(0), r.getInt(1))).toSeq.sorted

  private def diskVersions(base: String): Set[Long] = {
    val d = new java.io.File(s"$base/state")
    Option(d.listFiles()).getOrElse(Array.empty).toSet[java.io.File]
      .filter(f => f.isDirectory && f.getName.startsWith("v="))
      .map(_.getName.stripPrefix("v=").toLong)
  }

  test("a batch committed mid-fold survives the swap, with its replay record") {
    val base = Files.createTempDirectory("graft-cc-midfold").toString
    apply(base, 0, Seq(env(1, 1, Some(10)), env(2, 2, Some(20))))
    apply(base, 1, Seq(env(3, 3, Some(30)), env(4, 1, Some(11))))

    // compaction folds batches 0-1; between its fold and its swap, batch
    // 2 commits (updates k2, births k9) — the deterministic interleaving
    // the beforeSwap seam exists for
    CdcStream.compactLsm(spark, s"$base/state", nBuckets = 4,
      beforeSwap =
        () => apply(base, 2, Seq(env(5, 2, Some(21)), env(6, 9, Some(90)))))

    // nothing lost, nothing resurrected
    assert(snap(base) === Seq((1, 11), (2, 21), (3, 30), (9, 90)))

    val m = BucketState.readManifest(spark, s"$base/state")
    // the late batch's replay-progress record survived the swap (a swap
    // that wrote its STALE fingerprint would make batch 2's replay fail
    // the reset-checkpoint guard, or worse re-apply it)
    assert(m.fp.map(_._1) === Some(3L))
    // the manifest references BOTH the compacted fold and the late
    // segment, and disk holds exactly the referenced dirs (the late
    // staged dir was never GC'd, the folded ones were)
    assert(m.buckets.values.flatten.toSet.size === 2)
    assert(diskVersions(base) === m.buckets.values.flatten.toSet)

    // replaying the late batch against the post-swap manifest no-ops
    // (idempotent), rather than tripping the reset guard
    apply(base, 2, Seq(env(5, 2, Some(21)), env(6, 9, Some(90))))
    assert(snap(base) === Seq((1, 11), (2, 21), (3, 30), (9, 90)))

    // positions appended mid-fold stay above the floor: as-of answers
    assert(CdcStream.partitionedSnapshotLsmAsOf(spark, s"$base/state", 5)
      .collect().map(r => (r.getInt(0), r.getInt(1))).toSeq.sorted ===
      Seq((1, 11), (2, 21), (3, 30)))
  }

  test("reserved versions are unique, monotone, and spared by GC until released") {
    val base = Files.createTempDirectory("graft-cc-reserve").toString
    val a = BucketState.reserveVersion(s"$base/state", 5)
    val b = BucketState.reserveVersion(s"$base/state", 5)
    assert(a === 5L)
    assert(b > a) // same atLeast, still unique

    // a staged-but-uncommitted dir survives a concurrent GC…
    val staged = new java.io.File(s"$base/state/v=$a/p=0")
    assert(staged.mkdirs())
    BucketState.gcVersions(spark, s"$base/state")
    assert(staged.exists())
    // …and is collectable once its writer releases it
    BucketState.releaseVersion(s"$base/state", a)
    BucketState.releaseVersion(s"$base/state", b)
    BucketState.gcVersions(spark, s"$base/state")
    assert(!staged.exists())
  }

  test("GC liveness is a fresh locked manifest read: a version committed+released by a concurrent writer survives") {
    val base = Files.createTempDirectory("graft-cc-gcfresh").toString
    val dir = s"$base/state"
    // writer A commits v=1 and is about to GC
    assert(new java.io.File(s"$dir/v=1/p=0").mkdirs())
    BucketState.commitManifest(spark, dir, Map(0L -> Set(1L)), None)
    // concurrent writer B (a background compaction) reserves v=2, stages
    // it, commits it into the manifest, and RELEASES its in-flight
    // registration — all before A's GC runs. Under a caller-supplied
    // live-set API, A's stale set {1} would now delete B's committed dir.
    val v2 = BucketState.reserveVersion(dir, 2)
    assert(new java.io.File(s"$dir/v=$v2/p=0").mkdirs())
    BucketState.manifestLock(dir).synchronized {
      BucketState.commitManifest(spark, dir, Map(0L -> Set(1L, v2)), None)
    }
    BucketState.releaseVersion(dir, v2)
    BucketState.gcVersions(spark, dir)
    assert(diskVersions(base) === Set(1L, v2)) // B's dir spared
    // an unreferenced, unreserved dir is still collected
    assert(new java.io.File(s"$dir/v=9/p=0").mkdirs())
    BucketState.gcVersions(spark, dir)
    assert(diskVersions(base) === Set(1L, v2))
  }

  test("stress: applies racing real background compactions converge to the serial result") {
    val base = Files.createTempDirectory("graft-cc-stress").toString
    val nBatches = 12
    var pos = 0L
    for (b <- 0 until nBatches) {
      val lines = (0 until 6).map { i =>
        pos += 1
        val key = (b * 6 + i) % 8 + 1 // 8 keys, every batch rewrites some
        env(pos, key, Some((pos * 10).toInt))
      }
      apply(base, b, lines)
      // dispatch a REAL background compaction whenever amplification
      // builds — racing the next batches' commits
      val m = BucketState.readManifest(spark, s"$base/state")
      if (m.buckets.nonEmpty && m.buckets.values.map(_.size).max >= 3)
        CdcStream.maybeCompact(spark, s"$base/state", 4,
          graft.cdc.CdcSchema.invoiceSpec, async = true)
    }
    val deadline = System.currentTimeMillis() + 60000
    while (BucketState.compactionInFlight(s"$base/state") &&
      System.currentTimeMillis() < deadline) Thread.sleep(100)
    assert(!BucketState.compactionInFlight(s"$base/state"))

    // serial truth: last write per key
    val expected = (1 to 8).map { k =>
      val lastPos = (1L to pos).filter(p => ((p - 1) / 6 * 6 + (p - 1) % 6) % 8 + 1 == k).max
      (k, (lastPos * 10).toInt)
    }.sorted
    assert(snap(base) === expected)
    // disk holds exactly what the manifest references (no leaked or
    // prematurely-deleted version dirs once everything quiesced)
    val m = BucketState.readManifest(spark, s"$base/state")
    assert(diskVersions(base) === m.buckets.values.flatten.toSet)
  }
}
