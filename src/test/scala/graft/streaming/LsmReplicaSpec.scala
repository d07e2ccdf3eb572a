package graft.streaming

import java.nio.file.{Files, Paths}
import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Encoders}
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** The append-only (LSM) replica: per-batch delta segments + read-time
  * max-pos-per-key resolution + adaptive compaction must be
  * OBSERVATIONALLY IDENTICAL to the batch apply of the same changelog —
  * same snapshots, same replay guarantees — while never reading or
  * rewriting prior state in the commit path.
  */
class LsmReplicaSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def env(pos: Long, key: Int, inv: Option[Int]) = inv match {
    case Some(v) =>
      s"""{"payload":{"before":null,"after":{"order_id":$key,"invoice_number":$v},"source":{"ts_ms":$pos,"pos":$pos,"db":"dev","table":"invoice"},"op":"c","ts_ms":$pos}}"""
    case None =>
      s"""{"payload":{"before":{"order_id":$key,"invoice_number":0},"after":null,"source":{"ts_ms":$pos,"pos":$pos,"db":"dev","table":"invoice"},"op":"d","ts_ms":$pos}}"""
  }
  private def trunc(pos: Long) =
    s"""{"payload":{"before":null,"after":null,"source":{"ts_ms":$pos,"pos":$pos},"op":"t","ts_ms":$pos}}"""

  private def writeBatches(in: String, batches: Seq[Seq[String]]): Unit = {
    Files.createDirectories(Paths.get(in))
    batches.zipWithIndex.foreach { case (lines, i) =>
      Files.write(Paths.get(s"$in/b$i.json"),
        lines.mkString("\n").getBytes("UTF-8"))
    }
    // deterministic trigger order by mtime
    val now = System.currentTimeMillis()
    batches.indices.foreach { i =>
      assert(new java.io.File(s"$in/b$i.json")
        .setLastModified(now - (batches.size - i) * 60000))
    }
  }

  test("LSM snapshot equals the batch apply: updates, deletes, truncate, stragglers") {
    val base = Files.createTempDirectory("graft-lsm-eq").toString
    val in = s"$base/in"
    val batches = Seq(
      Seq(env(1, 1, Some(10)), env(2, 2, Some(20)), env(3, 3, Some(30)),
        env(4, 4, Some(40))),
      // delete k3, update k1, then TRUNCATE at 10 (erases 1-4 incl. the
      // marker), then new life k5
      Seq(env(5, 3, None), env(6, 1, Some(11)), trunc(10), env(11, 5, Some(50))),
      // straggler BELOW the horizon redelivered late (must stay out),
      // update k5, insert k6
      Seq(env(4, 4, Some(40)), env(12, 5, Some(51)), env(13, 6, Some(60))))
    writeBatches(in, batches)

    def changelog() = CdcStream.fromFiles(spark, in, Some(1))
    CdcStream.runPartitionedLsm(changelog(), s"$base/auditB", s"$base/stateB",
      s"$base/ckptB", nBuckets = 4).awaitTermination(120000)

    val batchApply = graft.cdc.CdcApply.snapshot(graft.cdc.Changelog.fromEnvelopeJson(
        spark.createDataset(batches.flatten)(Encoders.STRING).toDF("value")))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    def lsm() = CdcStream.partitionedSnapshotLsm(spark, s"$base/stateB")
      .collect().map(r => (r.getInt(0).toLong, r.getInt(1).toLong)).toSeq
    assert(batchApply === Seq((5L, 51L), (6L, 60L)))
    assert(lsm() === batchApply)

    // truncate APPENDED: segments from pre-truncate batches are still
    // referenced (no rewrite happened) until compaction folds them
    val m = BucketState.readManifest(spark, s"$base/stateB")
    assert(m.buckets.values.flatten.toSet.size > 1)

    // restart with no new input: replay no-ops, snapshot unchanged
    CdcStream.runPartitionedLsm(changelog(), s"$base/auditB", s"$base/stateB",
      s"$base/ckptB", nBuckets = 4).awaitTermination(120000)
    assert(lsm() === batchApply)
  }

  test("adaptive compaction bounds segments per bucket and preserves the snapshot") {
    val base = Files.createTempDirectory("graft-lsm-compact").toString
    val in = s"$base/in"
    // 6 batches all hammering the same key: its bucket accrues one
    // segment per batch; compactWhenSegments=3 must keep max ≤ 3
    writeBatches(in, (1 to 6).map(i => Seq(env(i.toLong, 7, Some(i * 100)))))
    CdcStream.runPartitionedLsm(CdcStream.fromFiles(spark, in, Some(1)),
      s"$base/audit", s"$base/state", s"$base/ckpt",
      nBuckets = 4, compactWhenSegments = 3).awaitTermination(120000)

    val m = BucketState.readManifest(spark, s"$base/state")
    assert(m.buckets.nonEmpty)
    assert(m.buckets.values.map(_.size).max <= 3)
    val snap = CdcStream.partitionedSnapshotLsm(spark, s"$base/state")
      .collect().map(r => (r.getInt(0), r.getInt(1))).toSeq
    assert(snap === Seq((7, 600)))
  }

  test("as-of read replays the prefix; compaction advances the floor and below-floor reads refuse") {
    val base = Files.createTempDirectory("graft-lsm-asof").toString
    val in = s"$base/in"
    // history: k1=10@1, k2=20@2, k1 deleted@5, TRUNCATE@10, k1=12@11, k2=21@12
    writeBatches(in, Seq(
      Seq(env(1, 1, Some(10)), env(2, 2, Some(20))),
      Seq(env(5, 1, None), trunc(10)),
      Seq(env(11, 1, Some(12)), env(12, 2, Some(21)))))
    CdcStream.runPartitionedLsm(CdcStream.fromFiles(spark, in, Some(1)),
      s"$base/audit", s"$base/state", s"$base/ckpt", nBuckets = 4)
      .awaitTermination(120000)

    def asof(p: Long) =
      CdcStream.partitionedSnapshotLsmAsOf(spark, s"$base/state", p)
        .collect().map(r => (r.getInt(0), r.getInt(1))).toSeq.sorted
    // no compaction yet: every prefix of history is answerable
    assert(CdcStream.readTtFloor(spark, s"$base/state") === Long.MinValue)
    assert(asof(2) === Seq((1, 10), (2, 20)))
    assert(asof(5) === Seq((2, 20)))       // k1's delete marker wins
    assert(asof(10) === Seq.empty)         // at the truncate horizon
    assert(asof(11) === Seq((1, 12)))      // first post-truncate life
    assert(asof(12) === Seq((1, 12), (2, 21))) // = the full snapshot

    // compaction folds per-key history up to the max folded pos (12):
    // the floor advances there, the full snapshot still reads, and a
    // prefix read below the floor refuses instead of answering wrongly
    CdcStream.compactLsm(spark, s"$base/state", nBuckets = 4)
    assert(CdcStream.readTtFloor(spark, s"$base/state") === 12L)
    assert(asof(12) === Seq((1, 12), (2, 21)))
    val e = intercept[IllegalArgumentException](asof(5))
    assert(e.getMessage.contains("compaction floor"))

    // post-compaction appends re-open a time-travel window above the floor
    CdcStream.applyLsmBatch(
      graft.cdc.Changelog.fromEnvelopeJson(
        spark.createDataset(Seq(env(15, 3, Some(30)), env(16, 2, None)))(
          org.apache.spark.sql.Encoders.STRING).toDF("value")),
      batchId = 3, s"$base/audit", s"$base/state", 4,
      graft.cdc.CdcSchema.invoiceSpec)
    assert(asof(15) === Seq((1, 12), (2, 21), (3, 30)))
    assert(asof(16) === Seq((1, 12), (3, 30)))
  }

  test("changes-between: net i/u/d feed, identical-image updates excluded, truncate crossing = d") {
    val base = Files.createTempDirectory("graft-lsm-cdf").toString
    val in = s"$base/in"
    // window (3, 13]: k1 10→11 ('u'), k3 deleted ('d'), k4 born ('i'),
    // k2 re-written to the SAME image (no net change — excluded)
    writeBatches(in, Seq(
      Seq(env(1, 1, Some(10)), env(2, 2, Some(20)), env(3, 3, Some(30))),
      Seq(env(5, 1, Some(11)), env(6, 3, None), env(7, 4, Some(40)),
        env(8, 2, Some(20)))))
    CdcStream.runPartitionedLsm(CdcStream.fromFiles(spark, in, Some(1)),
      s"$base/audit", s"$base/state", s"$base/ckpt", nBuckets = 4)
      .awaitTermination(120000)
    def feed(p1: Long, p2: Long) =
      CdcStream.lsmChangesBetween(spark, s"$base/state", p1, p2)
        .collect()
        .map(r => (r.getInt(0), r.getString(1),
          Option(r.getStruct(2)).map(_.getInt(1)),
          Option(r.getStruct(3)).map(_.getInt(1))))
        .toSet
    assert(feed(3, 8) === Set(
      (1, "u", Some(10), Some(11)),
      (3, "d", Some(30), None),
      (4, "i", None, Some(40))))
    // a truncate inside the window erases pre-window keys: they report 'd'
    CdcStream.applyLsmBatch(
      graft.cdc.Changelog.fromEnvelopeJson(
        spark.createDataset(Seq(trunc(10), env(11, 5, Some(50))))(
          org.apache.spark.sql.Encoders.STRING).toDF("value")),
      batchId = 2, s"$base/audit", s"$base/state", 4,
      graft.cdc.CdcSchema.invoiceSpec)
    assert(feed(8, 11) === Set(
      (1, "d", Some(11), None),
      (2, "d", Some(20), None),
      (4, "d", Some(40), None),
      (5, "i", None, Some(50))))
    // empty window ⇒ empty feed; below-floor fromPos refuses after compaction
    assert(feed(11, 11) === Set.empty)
    CdcStream.compactLsm(spark, s"$base/state", nBuckets = 4)
    val e = intercept[IllegalArgumentException](feed(3, 11))
    assert(e.getMessage.contains("compaction floor"))
  }

  test("delete markers survive compaction: an older redelivery cannot resurrect") {
    val base = Files.createTempDirectory("graft-lsm-marker").toString
    val in = s"$base/in"
    writeBatches(in, Seq(
      Seq(env(1, 1, Some(10)), env(2, 2, Some(20))),
      Seq(env(5, 1, None)))) // delete k1 at pos 5
    CdcStream.runPartitionedLsm(CdcStream.fromFiles(spark, in, Some(1)),
      s"$base/audit", s"$base/state", s"$base/ckpt", nBuckets = 4)
      .awaitTermination(120000)
    CdcStream.compactLsm(spark, s"$base/state", nBuckets = 4)
    // compaction kept the marker: a late OLDER event for k1 appended
    // afterwards must lose to it
    CdcStream.applyLsmBatch(
      graft.cdc.Changelog.fromEnvelopeJson(
        spark.createDataset(Seq(env(3, 1, Some(13))))(
          org.apache.spark.sql.Encoders.STRING).toDF("value")),
      batchId = 2, s"$base/audit", s"$base/state", 4,
      graft.cdc.CdcSchema.invoiceSpec)
    val snap = CdcStream.partitionedSnapshotLsm(spark, s"$base/state")
      .collect().map(r => (r.getInt(0), r.getInt(1))).toSeq
    assert(snap === Seq((2, 20)))
  }

  private def batchOf(lines: Seq[String]): DataFrame =
    graft.cdc.Changelog.fromEnvelopeJson(
      spark.createDataset(lines)(Encoders.STRING).toDF("value"))

  private def pairs(df: DataFrame): Set[(Long, Long)] =
    df.collect().map(r => (r.getAs[Number](0).longValue, r.getAs[Number](1).longValue)).toSet

  test("compaction writes a horizon row only when a truncate was folded") {
    def horizonRows(state: String): Long =
      BucketState.readManifest(spark, state).buckets.get(-1L).fold(0L)(vs =>
        spark.read.parquet(vs.toSeq.map(v => s"$state/v=$v/p=-1"): _*).count())
    Seq(false, true).foreach { withTruncate =>
      val base = Files.createTempDirectory("graft-lsm-horizon").toString
      val (state, audit) = (s"$base/state", s"$base/audit")
      def append(batchId: Long, lines: Seq[String]): Unit =
        CdcStream.applyLsmBatch(batchOf(lines), batchId, audit, state, 4,
          graft.cdc.CdcSchema.invoiceSpec)
      def snap() = pairs(CdcStream.partitionedSnapshotLsm(spark, state))
      def asof(p: Long) = pairs(CdcStream.partitionedSnapshotLsmAsOf(spark, state, p))
      def feed(p1: Long, p2: Long) =
        CdcStream.lsmChangesBetween(spark, state, p1, p2).collect()
          .map(r => (r.getInt(0), r.getString(1))).toSet
      // k1=10@1 k2=20@2 k3=30@3 | k1=11@4 k3 deleted@5 [TRUNCATE@6] k4=40@7 k2=21@8
      append(0, Seq(env(1, 1, Some(10)), env(2, 2, Some(20)), env(3, 3, Some(30))))
      append(1, Seq(env(4, 1, Some(11)), env(5, 3, None)) ++
        (if (withTruncate) Seq(trunc(6)) else Nil) ++
        Seq(env(7, 4, Some(40)), env(8, 2, Some(21))))
      val live = if (withTruncate) Set((2L, 21L), (4L, 40L))
                 else Set((1L, 11L), (2L, 21L), (4L, 40L))
      assert(snap() === live)
      assert(asof(5) === Set((1L, 11L), (2L, 20L)))
      assert(horizonRows(state) === (if (withTruncate) 1L else 0L))
      val before = (snap(), asof(8), feed(8, 8))

      CdcStream.compactLsm(spark, state, nBuckets = 4)
      assert(BucketState.readManifest(spark, state).buckets.contains(-1L) === withTruncate,
        "a -1 bucket must exist exactly when a truncate was folded")
      assert(horizonRows(state) === (if (withTruncate) 1L else 0L))
      assert((snap(), asof(8), feed(8, 8)) === before)

      // after the fold: k6's straggler @2 sits under the truncate (erased
      // only when the folded horizon row survived), k5 is born @9
      append(2, Seq(env(2, 6, Some(60)), env(9, 5, Some(50))))
      val straggler = if (withTruncate) Set.empty[(Long, Long)] else Set((6L, 60L))
      assert(snap() === live + ((5L, 50L)) ++ straggler)
      assert(asof(8) === live ++ straggler)
      assert(feed(8, 9) === Set((5, "i")))
      graft.Shared.deleteDirTree(base)
    }
  }

  /** Spark jobs `body` starts on this thread. The listener bus delivers
    * events in order, so once a marker job run after `body` is seen,
    * every job of `body` has been counted.
    */
  private def jobsOf(body: => Unit): Int = {
    val sc = spark.sparkContext
    val group = s"lsm-jobs-${System.nanoTime}"
    val jobs = new AtomicInteger
    val drained = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")) match {
          case Some(`group`) => jobs.incrementAndGet()
          case Some(g) if g == s"$group-marker" => drained.countDown()
          case _ =>
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "counted")
      body
      sc.setJobGroup(s"$group-marker", "listener drain marker")
      sc.parallelize(Seq(1), 1).count()
      assert(drained.await(60, TimeUnit.SECONDS), "listener bus never drained")
      jobs.get
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  test("a snapshot read runs the same jobs at 1 and 6 segments per bucket") {
    // 6 batches, each touching every key of every bucket: updates and
    // deletes interleave so the read must resolve across segments
    val batches = (0 until 6).map(b => (1 to 40).map { k =>
      val pos = b * 100L + k
      if ((k + b) % 7 == 0) env(pos, k, None) else env(pos, k, Some(b * 1000 + k))
    })
    val base = Files.createTempDirectory("graft-lsm-jobs").toString
    // 8 buckets × 6 segments = 48 leaf dirs: past the 32 root paths a
    // single parquet relation would list with a distributed Spark job
    CdcStream.applyLsmBatch(batchOf(batches.flatten), 0, s"$base/audit1",
      s"$base/one", 8, graft.cdc.CdcSchema.invoiceSpec)
    batches.zipWithIndex.foreach { case (b, i) =>
      CdcStream.applyLsmBatch(batchOf(b), i, s"$base/audit6", s"$base/six", 8,
        graft.cdc.CdcSchema.invoiceSpec)
    }
    def segments(state: String) =
      BucketState.readManifest(spark, state).buckets.values.map(_.size)
    assert(segments(s"$base/one").forall(_ == 1))
    assert(segments(s"$base/six").forall(_ == 6) && segments(s"$base/six").size == 8)

    val jobs1 = jobsOf(CdcStream.partitionedSnapshotLsm(spark, s"$base/one").count())
    val jobs6 = jobsOf(CdcStream.partitionedSnapshotLsm(spark, s"$base/six").count())
    assert(jobs1 === jobs6, s"jobs per read grew with segments: $jobs1 -> $jobs6")

    val oneShot = pairs(graft.cdc.CdcApply.snapshot(batchOf(batches.flatten)))
    assert(oneShot.nonEmpty)
    Seq("one", "six").foreach { st =>
      assert(pairs(CdcStream.partitionedSnapshotLsm(spark, s"$base/$st")) === oneShot, st)
    }
    graft.Shared.deleteDirTree(base)
  }
}
