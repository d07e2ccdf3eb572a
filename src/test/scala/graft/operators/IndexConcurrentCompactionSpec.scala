package graft.operators

import java.nio.file.Files
import java.util.concurrent.{CountDownLatch, TimeUnit}

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.streaming.BucketState

/** The incremental INDEX families' concurrent-compaction protocol —
  * [[BucketState.compactConcurrent]]'s segment-preserving swap racing
  * the locked, leased-read ingest commits of [[IncrementalDedup]] /
  * [[IncrementalNearDup]]. Mirrors `ConcurrentCompactionSpec` (the CDC
  * LSM analog): a batch committed mid-fold must survive the swap with
  * its replay record; leased version dirs must survive a concurrent GC
  * for as long as a reader holds them; a stress run racing real
  * background folds must converge to the one-shot answer.
  */
class IndexConcurrentCompactionSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def docs(rows: (Long, String)*): DataFrame = {
    import spark.implicits._
    rows.toDF("doc_id", "text")
  }

  private def snap(indexDir: String): Set[(String, Long)] =
    IncrementalDedup.snapshot(spark, indexDir)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet

  private def diskVersions(indexDir: String): Set[Long] = {
    val d = new java.io.File(indexDir)
    Option(d.listFiles()).getOrElse(Array.empty).toSet[java.io.File]
      .filter(f => f.isDirectory && f.getName.startsWith("v="))
      .map(_.getName.stripPrefix("v=").toLong)
  }

  test("an ingest committed mid-fold survives the swap, with its replay record") {
    val dir = s"${Files.createTempDirectory("graft-icc").toString}/index"
    IncrementalDedup.ingest(spark, dir,
      docs(1L -> "alpha beta", 2L -> "gamma delta"), batchId = 0, nBuckets = 4)
    IncrementalDedup.ingest(spark, dir,
      docs(3L -> "alpha beta", 4L -> "epsilon zeta"), batchId = 1, nBuckets = 4)
    val before = snap(dir)
    assert(before.map(_._2) === Set(1L, 2L, 4L)) // 3 deduped against 1

    // between the fold and the swap, batch 2 commits (one dup of doc 2,
    // one new doc) — the deterministic interleaving the seam exists for
    BucketState.compactConcurrent(spark, dir, IncrementalDedup.fold, beforeSwap = () =>
      IncrementalDedup.ingest(spark, dir,
        docs(5L -> "gamma delta", 6L -> "eta theta"), batchId = 2, nBuckets = 4))

    // nothing lost, nothing resurrected: 6 deduped against 2, 5 admitted
    assert(snap(dir).map(_._2) === Set(1L, 2L, 4L, 6L))
    val m = BucketState.readManifest(spark, dir)
    // the late batch's replay-progress record survived the swap
    assert(m.fp.map(_._1) === Some(3L))
    // disk holds exactly the referenced dirs: the fold + the late segment
    assert(diskVersions(dir) === m.buckets.values.flatten.toSet)
    // replaying the late batch no-ops idempotently post-swap
    IncrementalDedup.ingest(spark, dir,
      docs(5L -> "gamma delta", 6L -> "eta theta"), batchId = 2, nBuckets = 4)
    assert(snap(dir).map(_._2) === Set(1L, 2L, 4L, 6L))
  }

  test("read leases pin version dirs against GC until released") {
    val base = Files.createTempDirectory("graft-icc-lease").toString
    val dir = s"$base/state"
    // an unreferenced dir with a live lease survives GC…
    assert(new java.io.File(s"$dir/v=7/p=0").mkdirs())
    BucketState.commitManifest(spark, dir, Map(0L -> Set(1L)), None)
    assert(new java.io.File(s"$dir/v=1/p=0").mkdirs())
    val lease = BucketState.leaseReads(dir, Set(7L))
    BucketState.gcVersions(spark, dir)
    assert(diskVersions(dir) === Set(1L, 7L))
    // …and is collected once released
    BucketState.releaseReads(lease)
    BucketState.gcVersions(spark, dir)
    assert(diskVersions(dir) === Set(1L))
  }

  test("keep-best: an ingest committed mid-fold survives the swap — retention upgrade AND merge intact") {
    val base = Files.createTempDirectory("graft-icc-kb").toString
    val (nd, dir) = (s"$base/nd", s"$base/index")
    // two near-identical low/high-quality texts (J = 6/10 of the
    // replace-on-better spec corpus) in separate early batches, plus an
    // unrelated singleton
    val low = "alpha beta gamma delta epsilon zeta eta theta alpha beta gamma delta epsilon zeta eta theta"
    val high = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    KeepBestFeed.ingest(spark, nd, dir,
      docs(1L -> low, 2L -> "one two three four five six seven"),
      batchId = 0, nBuckets = 4)
    // mid-fold, the upgrade batch commits: doc 3 is the higher-quality
    // near-dup of doc 1 — the retention decision and its member/fwd
    // rows must survive the segment-preserving swap
    BucketState.compactConcurrent(spark, dir, IncrementalKeepBest.fold, beforeSwap = () =>
      KeepBestFeed.ingest(spark, nd, dir, docs(3L -> high),
        batchId = 1, nBuckets = 4))
    val got = IncrementalKeepBest.snapshot(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(3))).toSet
    assert(got === Set((1L, 3L, 2L), (2L, 2L, 1L)),
      s"retention state lost or resurrected across the swap: $got")
    // replaying the mid-fold batch no-ops idempotently post-swap
    val replay = KeepBestFeed.ingest(spark, nd, dir, docs(3L -> high),
      batchId = 1, nBuckets = 4)
    assert(replay.collect().map(_.getLong(0)).toSeq === Seq(3L))
    val m = BucketState.readManifest(spark, dir)
    assert(m.fp.map(_._1) === Some(2L))
    assert(diskVersions(dir) === m.buckets.values.flatten.toSet)
  }

  test("stopping a stream leaves its in-flight background fold to land") {
    import org.apache.spark.scheduler.{JobSucceeded, SparkListener,
      SparkListenerJobEnd, SparkListenerJobStart}
    import org.apache.spark.sql.functions.udf
    import org.apache.spark.sql.types._
    val base = Files.createTempDirectory("graft-icc-stop").toString
    val (in, dir) = (s"$base/in", s"$base/index")
    new java.io.File(in).mkdirs()
    // two single-doc drops, mtimes one second apart (file-source order)
    Seq("alpha beta", "gamma delta").zipWithIndex.foreach { case (t, b) =>
      val f = Files.write(java.nio.file.Paths.get(s"$in/d$b.json"),
        s"""{"doc_id":${b + 1},"text":"$t"}""".getBytes)
      Files.setLastModifiedTime(f,
        java.nio.file.attribute.FileTime.fromMillis(1000000000000L + b * 1000L))
    }
    // the store's own fold, held open inside its write job until released
    val gate = udf(() => FoldGate.hold()).asNondeterministic()
    val held = BucketState.Fold(IncrementalDedup.fold.store, (s, d, m) =>
      IncrementalDedup.fold.of(s, d, m).map(f => f.copy(rows = f.rows.filter(gate()))))
    // the group of every job that ended without success
    val failedGroups = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val groups = new java.util.concurrent.ConcurrentHashMap[Int, String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        groups.put(e.jobId, Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse(""))
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        if (e.jobResult != JobSucceeded) failedGroups.add(groups.getOrDefault(e.jobId, ""))
    }
    spark.sparkContext.addSparkListener(listener)
    val sink = s"$base/trace.jsonl"
    try graft.Trace.withSink(sink) {
      val schema = StructType(Seq(
        StructField("doc_id", LongType), StructField("text", StringType)))
      // one bucket, so the second drop makes 2 segments and trips the fold;
      // that batch then holds the stream alive until the stop interrupts it
      val q = BucketState.runIngest(
          spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).json(in),
          dir, s"$base/ckpt", compactWhenSegments = 2, async = true,
          onBatch = (b, _) => if (b == 1) {
            FoldGate.running.await(60, TimeUnit.SECONDS)
            Thread.sleep(60000)
          }) { (batch, batchId) =>
        IncrementalDedup.ingest(batch.sparkSession, dir, batch, batchId, nBuckets = 1)
        held
      }
      assert(FoldGate.running.await(60, TimeUnit.SECONDS), "the fold never started")
      q.stop()
      FoldGate.release.countDown()
      BucketState.quiesce(dir)
      assert(!failedGroups.contains(q.runId.toString),
        "stopping the stream cancelled a job of its group")
    } finally spark.sparkContext.removeSparkListener(listener)
    val live = BucketState.readManifest(spark, dir).buckets.values.flatten.toSet
    assert(live.size === 1, s"the fold did not land: live versions $live")
    assert(scala.io.Source.fromFile(sink).getLines()
      .exists(l => l.contains("\"store\":\"exact\"") && l.contains("\"phase\":\"fold\"")))
    assert(snap(dir).map(_._2) === Set(1L, 2L))
  }

  test("stress: near-dup ingests racing real background folds converge to one-shot") {
    val base = Files.createTempDirectory("graft-icc-stress").toString
    val dir = s"$base/index"
    // 8 batches of 6 docs; every batch contains one near-copy of an
    // earlier doc (same text — guaranteed banded collision + est=1.0)
    val texts = (0 until 48).map(i =>
      s"w${i}a w${i}b w${i}c w${i}d w${i}e w${i}f w${i}g w${i}h")
    for (b <- 0 until 8) {
      val rows = (0 until 6).map { i =>
        val id = (b * 6 + i).toLong
        val text = if (i == 5 && b > 0) texts((b - 1) * 6) else texts(id.toInt)
        id -> text
      }
      IncrementalNearDup.ingest(spark, dir, docs(rows: _*), batchId = b,
        nBuckets = 8)
      IncrementalNearDup.compact(spark, dir, threshold = 3, async = true)
    }
    val deadline = System.currentTimeMillis() + 60000
    while (BucketState.compactionInFlight(dir) &&
      System.currentTimeMillis() < deadline) Thread.sleep(100)
    assert(!BucketState.compactionInFlight(dir))

    // one-shot truth: every dup-of-earlier doc rejected, everything else in
    val admitted = IncrementalNearDup.admittedSnapshot(spark, dir)
      .collect().map(_.getLong(0)).toSet
    val expectedRejected = (1 until 8).map(b => (b * 6 + 5).toLong).toSet
    assert(admitted === (0L until 48L).toSet -- expectedRejected)
    // disk holds exactly what the manifest references once quiesced
    val m = BucketState.readManifest(spark, dir)
    assert(diskVersions(dir) === m.buckets.values.flatten.toSet)
  }

  test("a torn _LAYOUT stamp on an uncommitted store re-stamps; on a committed store it refuses") {
    // the r15 chaos-soak find: a SIGKILL between the stamp's create and
    // write left an empty _LAYOUT, and every relaunch refused the store.
    // Uncommitted + torn ⇒ re-stamp and proceed; committed + torn ⇒ the
    // loud refusal stands (provenance genuinely unknown).
    val dir = s"${Files.createTempDirectory("graft-icc-stamp").toString}/index"
    new java.io.File(dir).mkdirs()
    new java.io.FileOutputStream(s"$dir/_LAYOUT").close() // empty stamp
    IncrementalNearDup.ingest(spark, dir,
      docs(1L -> "alpha beta gamma delta epsilon"), batchId = 0, nBuckets = 4)
    val stamped = scala.io.Source.fromFile(s"$dir/_LAYOUT").mkString
    assert(stamped === "neardup-v3")
    // committed store, stamp torn afterwards (corruption): refuse
    new java.io.FileOutputStream(s"$dir/_LAYOUT").close()
    val ex = intercept[IllegalArgumentException] {
      IncrementalNearDup.ingest(spark, dir,
        docs(2L -> "zeta eta theta iota kappa"), batchId = 1, nBuckets = 4)
    }
    assert(ex.getMessage.contains("layout"))
  }

  test("a snapshot taken mid-fold answers after the fold GCs the dirs it read") {
    // the serve-path lease: pre-lease, snapshot() built a LAZY plan over
    // the pre-fold version dirs and the fold's GC deleted exactly those
    // files before the caller's action ran (FileNotFound on collect).
    // Leased + eagerly materialized, the mid-fold snapshot must answer
    // bit-identically after the fold completes and sweeps.
    val dir = s"${Files.createTempDirectory("graft-icc-serve").toString}/index"
    IncrementalDedup.ingest(spark, dir,
      docs(1L -> "alpha beta", 2L -> "gamma delta"), batchId = 0, nBuckets = 4)
    IncrementalDedup.ingest(spark, dir,
      docs(3L -> "epsilon zeta", 4L -> "eta theta"), batchId = 1, nBuckets = 4)
    val before = snap(dir)
    var mid: DataFrame = null
    BucketState.compactConcurrent(spark, dir, IncrementalDedup.fold, beforeSwap = () =>
      mid = IncrementalDedup.snapshot(spark, dir))
    // the fold swapped and GC'd every dir the mid-fold snapshot read
    assert(mid.collect().map(r => (r.getString(0), r.getLong(1))).toSet
      === before)
    assert(snap(dir) === before)
  }

  test("stress: vec-index serves racing ingests and real background folds") {
    val base = Files.createTempDirectory("graft-icc-vecserve").toString
    val dir = s"$base/index"
    val sfDir = "/root/testdata/sf0.001"
    val vecs = graft.Tables.embeddings(spark, sfDir)
      .select(org.apache.spark.sql.functions.col("vec_id"),
        org.apache.spark.sql.functions.col("embedding"))
    val ids = vecs.agg(
        org.apache.spark.sql.functions.min("vec_id"),
        org.apache.spark.sql.functions.max("vec_id")).collect()(0)
    val (lo, hi) = (ids.getLong(0), ids.getLong(1))
    val step = (hi - lo) / 4 + 1
    val q = Array.tabulate(64)(i => math.sin(i * 0.173))
    IncrementalVecIndex.ingest(spark, dir,
      vecs.filter(org.apache.spark.sql.functions.col("vec_id") < lo + step), 0)
      .count()
    // serve between every later drop while a real background fold runs:
    // each answer must be 10 rows in strict (cosine desc, id) order, and
    // no read may trip over a swept version dir
    for (b <- 1 until 4) {
      val ccol = org.apache.spark.sql.functions.col("vec_id")
      IncrementalVecIndex.ingest(spark, dir,
        vecs.filter(ccol >= lo + b * step && ccol < lo + (b + 1) * step),
        b).count()
      IncrementalVecIndex.compact(spark, dir, async = true)
      val rows = IncrementalVecIndex.searchTopk(spark, dir, sfDir, q).collect()
      assert(rows.length === 10)
      val order = rows.map(r => (-r.getDouble(1), r.getLong(0))).toSeq
      assert(order === order.sorted)
    }
    val deadline = System.currentTimeMillis() + 60000
    while (BucketState.compactionInFlight(dir) &&
      System.currentTimeMillis() < deadline) Thread.sleep(100)
    // quiesced: the final serve equals a serve over the folded store
    val a = IncrementalVecIndex.searchTopk(spark, dir, sfDir, q).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    IncrementalVecIndex.compact(spark, dir)
    val b = IncrementalVecIndex.searchTopk(spark, dir, sfDir, q).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(a === b)
  }
}

/** Holds a fold's write job open: its first task signals `running`, and
  * every task waits for `release`.
  */
private object FoldGate {
  val running = new CountDownLatch(1)
  val release = new CountDownLatch(1)
  def hold(): Boolean = { running.countDown(); release.await(); true }
}
