package graft.streaming

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.operators.{IncrementalDedup, Retraction}

/** A fold that dies at its swap: the one fold ([[BucketState.compactConcurrent]])
  * stages its output and runs its pre-swap step, then the process dies
  * before the locked manifest swap (the `beforeSwap` seam throws). The
  * store must read exactly as before, the time-travel floor must never
  * fall, the staged dir must stay out of the manifest and go at the next
  * GC, and a second fold must succeed with the same answer.
  */
class FoldCrashSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private final class SwapCrash extends RuntimeException("crash at the swap")
  private val crash: () => Unit = () => throw new SwapCrash

  private def env(pos: Long, key: Int, inv: Int) =
    s"""{"payload":{"before":null,"after":{"order_id":$key,"invoice_number":$inv},"source":{"ts_ms":$pos,"pos":$pos,"db":"dev","table":"invoice"},"op":"c","ts_ms":$pos}}"""

  private def truncate(pos: Long) =
    s"""{"payload":{"before":null,"after":null,"source":{"ts_ms":$pos,"pos":$pos},"op":"t","ts_ms":$pos}}"""

  private def diskVersions(dir: String): Set[Long] =
    Option(new java.io.File(dir).listFiles()).getOrElse(Array.empty)
      .toSet[java.io.File]
      .filter(f => f.isDirectory && f.getName.startsWith("v="))
      .map(_.getName.stripPrefix("v=").toLong)

  /** The crashed fold's staged dir: on disk, in no manifest. */
  private def assertOrphanThenCollected(dir: String, before: BucketState.Manifest): Unit = {
    val m = BucketState.readManifest(spark, dir)
    assert(m === before, "a fold that died before its swap must not change the manifest")
    val orphans = diskVersions(dir) -- m.buckets.values.flatten
    assert(orphans.size === 1, s"the staged dir should be on disk: $orphans")
    BucketState.gcVersions(spark, dir)
    assert(diskVersions(dir) === m.buckets.values.flatten.toSet,
      "the next GC removes the staged dir")
  }

  test("compactLsm dying at its swap: replica, as-of read and floor intact; the next fold succeeds") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft-fold-crash-lsm").toString
    val (state, audit) = (s"$base/state", s"$base/audit")
    def apply(batchId: Long, lines: String*): Unit =
      CdcStream.applyLsmBatch(
        graft.cdc.Changelog.fromEnvelopeJson(lines.toDF("value")),
        batchId, audit, state, 4, graft.cdc.CdcSchema.invoiceSpec)
    def snap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getInt(0), r.getInt(1))).toSet
    def asOf(pos: Long) = snap(CdcStream.partitionedSnapshotLsmAsOf(spark, state, pos))

    apply(0, env(1, 1, 10), env(2, 2, 20), env(3, 3, 30))
    apply(1, truncate(4), env(5, 4, 40), env(6, 1, 11))
    CdcStream.retractLsmKeys(spark, state, Seq(4).toDF("k"), throughPos = 6)
    apply(2, env(7, 5, 50), env(8, 6, 60))

    val expected = Set((1, 11), (5, 50), (6, 60))
    assert(snap(CdcStream.partitionedSnapshotLsm(spark, state)) === expected)
    assert(asOf(8) === expected && asOf(7) === Set((1, 11), (5, 50)))
    val floor0 = CdcStream.readTtFloor(spark, state)
    val m0 = BucketState.readManifest(spark, state)

    intercept[SwapCrash](CdcStream.compactLsm(spark, state, 4, beforeSwap = crash))
    val floor1 = CdcStream.readTtFloor(spark, state)
    assert(floor1 >= floor0 && floor1 <= 8, s"floor $floor0 -> $floor1")
    assert(snap(CdcStream.partitionedSnapshotLsm(spark, state)) === expected)
    assert(asOf(8) === expected)
    assertOrphanThenCollected(state, m0)

    CdcStream.compactLsm(spark, state, 4)
    assert(CdcStream.readTtFloor(spark, state) >= floor1)
    assert(BucketState.readManifest(spark, state).maxSegments === 1)
    assert(snap(CdcStream.partitionedSnapshotLsm(spark, state)) === expected)
    assert(asOf(8) === expected)
    graft.Shared.deleteDirTree(base)
  }

  test("compactConcurrent dying at its swap: exact index with a takedown intact; the next fold succeeds") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-fold-crash-exact").toString
    def docs(rows: (Long, String)*) = rows.toDF("doc_id", "text")
    def snap() = IncrementalDedup.snapshot(spark, dir)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet

    IncrementalDedup.ingest(spark, dir, docs(1L -> "aa bb", 2L -> "cc dd"), 0,
      nBuckets = 4).count()
    IncrementalDedup.ingest(spark, dir, docs(3L -> "ee ff", 4L -> "aa bb"), 1,
      nBuckets = 4, retractIds = Some(Seq(2L).toDF("doc_id"))).count()
    IncrementalDedup.ingest(spark, dir, docs(5L -> "gg hh"), 2, nBuckets = 4).count()
    val expected = snap()
    assert(expected.map(_._2) === Set(1L, 3L, 5L))
    val m0 = BucketState.readManifest(spark, dir)
    assert(Retraction.hasTombs(m0))

    intercept[SwapCrash](BucketState.compactConcurrent(spark, dir,
      IncrementalDedup.fold, crash))
    assert(snap() === expected)
    assertOrphanThenCollected(dir, m0)

    IncrementalDedup.compact(spark, dir)
    val m = BucketState.readManifest(spark, dir)
    assert(m.maxSegments === 1 && !Retraction.hasTombs(m))
    assert(m.fp === m0.fp, "the fold keeps the replay record")
    assert(snap() === expected)
    graft.Shared.deleteDirTree(dir)
  }
}
