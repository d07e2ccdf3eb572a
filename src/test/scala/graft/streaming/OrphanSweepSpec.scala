package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.operators.IncrementalDedup

/** A failed batch or fold leaves no orphan on the hot path: a reserved
  * version released without a commit marks its dir GC-dirty, so the next
  * ingest's own conditional GC ([[BucketState.gcVersionsIfDirty]], run
  * by [[BucketState.appendBatch]]) removes the staged dir — nothing here
  * calls `gcVersions` itself. The failure changes no manifest and no
  * answer: the stores then answer exactly as an uninterrupted run.
  */
class OrphanSweepSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private final class Crash extends RuntimeException("crash")

  private val batches: Seq[(Seq[(Long, String)], Seq[Long])] = Seq(
    Seq(1L -> "aa bb", 2L -> "cc dd") -> Nil,
    Seq(3L -> "ee ff", 4L -> "aa bb") -> Seq(2L),
    Seq(5L -> "gg hh") -> Nil,
    Seq(6L -> "cc dd", 7L -> "ii jj") -> Nil,
    Seq(8L -> "ee ff", 9L -> "kk ll") -> Nil)

  /** Batch `b` through the exact store: its survivors, sorted. */
  private def ingest(dir: String, b: Int): Seq[(String, Long)] = {
    import spark.implicits._
    val (docs, retract) = batches(b)
    rows(IncrementalDedup.ingest(spark, dir, docs.toDF("doc_id", "text"), b,
      nBuckets = 4,
      retractIds = if (retract.isEmpty) None else Some(retract.toDF("doc_id"))))
  }

  private def rows(df: DataFrame): Seq[(String, Long)] =
    df.collect().map(r => (r.getString(0), r.getLong(1))).toSeq.sorted

  private def snap(dir: String) = rows(IncrementalDedup.snapshot(spark, dir))

  private def tmp(name: String) = Files.createTempDirectory(name).toString

  private def orphans(dir: String): Set[Long] =
    Option(new java.io.File(dir).listFiles()).getOrElse(Array.empty)
      .toSet[java.io.File]
      .filter(f => f.isDirectory && f.getName.startsWith("v="))
      .map(_.getName.stripPrefix("v=").toLong) --
      BucketState.readManifest(spark, dir).buckets.values.flatten

  /** An uninterrupted run of every batch: each batch's survivors and the
    * final registry.
    */
  private lazy val reference: (Seq[Seq[(String, Long)]], Seq[(String, Long)]) = {
    val dir = tmp("graft-orphan-ref")
    val out = (batches.indices.map(ingest(dir, _)), snap(dir))
    graft.Shared.deleteDirTree(dir)
    out
  }

  test("a fold dying at its swap: the next ingest's own GC removes its staged dir") {
    val dir = tmp("graft-orphan-fold")
    (0 to 2).foreach(ingest(dir, _))
    val m0 = BucketState.readManifest(spark, dir)
    intercept[Crash](BucketState.compactConcurrent(spark, dir,
      IncrementalDedup.fold, () => throw new Crash))
    assert(BucketState.readManifest(spark, dir) === m0,
      "a fold that died before its swap must not change the manifest")
    assert(orphans(dir).size === 1, "the fold's staged dir is on disk")

    assert(ingest(dir, 3) === reference._1(3))
    assert(orphans(dir).isEmpty, s"orphans after the next ingest: ${orphans(dir)}")
    assert(ingest(dir, 4) === reference._1(4))
    assert(orphans(dir).isEmpty)
    assert(snap(dir) === reference._2)
    graft.Shared.deleteDirTree(dir)
  }

  test("a batch whose stage throws: the replay's own GC removes its staged dir") {
    import spark.implicits._
    val dir = tmp("graft-orphan-stage")
    ingest(dir, 0)
    val m0 = BucketState.readManifest(spark, dir)
    intercept[Crash](BucketState.appendBatch(spark, dir, "exact", 1, 42L) {
      (_, versionDir) =>
        Seq(("zz", 99L)).toDF("fp", "doc_id").write.parquet(s"$versionDir/p=0")
        throw new Crash
    })
    assert(BucketState.readManifest(spark, dir) === m0,
      "a batch whose stage threw must not change the manifest")
    assert(orphans(dir).size === 1, "the failed stage's dir is on disk")

    (1 until batches.size).foreach { b =>
      assert(ingest(dir, b) === reference._1(b), s"batch $b")
      assert(orphans(dir).isEmpty, s"orphans after batch $b: ${orphans(dir)}")
    }
    assert(snap(dir) === reference._2)
    graft.Shared.deleteDirTree(dir)
  }
}
