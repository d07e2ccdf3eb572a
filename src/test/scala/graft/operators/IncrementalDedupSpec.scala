package graft.operators

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.streaming.BucketState

/** Incremental dedup against the persisted fingerprint index: survivor
  * semantics, partition-pruned incrementality (untouched buckets carry
  * forward by manifest reference), crash-replay idempotency, and the
  * reset-sequence guard — the properties the one-shot DuckDB oracle for
  * `dedup_incremental` cannot see.
  */
class IncrementalDedupSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def tmp() =
    java.nio.file.Files.createTempDirectory("increm-spec").toString

  private def docsOf(rows: (Long, String)*) = {
    import spark.implicits._
    rows.toDF("doc_id", "text")
  }

  test("first batch: in-batch dups collapse to min doc_id; all fps admitted") {
    val dir = tmp()
    val out = IncrementalDedup.ingest(spark, dir,
      docsOf(1L -> "aa bb", 2L -> "aa bb", 3L -> "cc dd"), batchId = 0)
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(out.values.toSet === Set(1L, 3L))
    assert(IncrementalDedup.snapshot(spark, dir).count() === 2)
  }

  test("second batch admits only never-seen content; index accumulates") {
    val dir = tmp()
    IncrementalDedup.ingest(spark, dir,
      docsOf(1L -> "aa bb", 3L -> "cc dd"), batchId = 0)
    val out = IncrementalDedup.ingest(spark, dir,
      docsOf(10L -> "aa bb", 11L -> "ee ff"), batchId = 1)
      .collect().map(r => r.getLong(1)).toSet
    assert(out === Set(11L)) // "aa bb" already indexed
    val snap = IncrementalDedup.snapshot(spark, dir)
      .collect().map(_.getLong(1)).toSet
    assert(snap === Set(1L, 3L, 11L))
  }

  test("untouched buckets carry forward by reference, not rewrite") {
    val dir = tmp()
    // enough distinct docs that batch 1 populates many buckets
    val batch1 = docsOf((1L to 40L).map(i => i -> s"w$i x$i y$i"): _*)
    IncrementalDedup.ingest(spark, dir, batch1, batchId = 0, nBuckets = 16)
    // one new doc: touches at most a few buckets
    IncrementalDedup.ingest(spark, dir, docsOf(100L -> "zz qq"),
      batchId = 1, nBuckets = 16)
    val m = graft.streaming.BucketState.readManifest(spark, dir).buckets
    assert(m.values.flatten.toSet.contains(1L), "untouched buckets must still reference v=1")
    val v2 = graft.streaming.BucketState.listBuckets(spark, s"$dir/v=2")
    assert(v2.nonEmpty && v2.size < m.size,
      s"v=2 must hold only the touched buckets, got ${v2.size} of ${m.size}")
  }

  test("replaying a committed batch is an idempotent no-op with identical survivors") {
    val dir = tmp()
    IncrementalDedup.ingest(spark, dir, docsOf(1L -> "aa bb"), batchId = 0)
    val first = IncrementalDedup.ingest(spark, dir,
      docsOf(5L -> "cc dd", 6L -> "aa bb"), batchId = 1)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    val replay = IncrementalDedup.ingest(spark, dir,
      docsOf(5L -> "cc dd", 6L -> "aa bb"), batchId = 1)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(replay === first)
    assert(IncrementalDedup.snapshot(spark, dir).count() === 2)
  }

  test("replaying a committed batchId with DIFFERENT input fails loudly") {
    val dir = tmp()
    IncrementalDedup.ingest(spark, dir, docsOf(1L -> "aa bb"), batchId = 0)
    val e = intercept[IllegalArgumentException] {
      IncrementalDedup.ingest(spark, dir, docsOf(2L -> "totally other"),
        batchId = 0)
    }
    assert(e.getMessage.contains("fingerprint"))
  }

  test("streaming ingress: one ingest per micro-batch through a real stream") {
    import org.apache.spark.sql.types._
    val in = java.nio.file.Files.createTempDirectory("increm-stream").toString
    val dir = tmp()
    val ckpt = tmp()
    // distinct mtimes: the file source takes files in mtime order, and the
    // answer below assumes a.json first
    def write(name: String, at: Int, rows: (Long, String)*) =
      java.nio.file.Files.setLastModifiedTime(
        java.nio.file.Files.write(java.nio.file.Paths.get(s"$in/$name"),
          rows.map { case (id, t) => s"""{"doc_id":$id,"text":"$t"}""" }
            .mkString("\n").getBytes),
        java.nio.file.attribute.FileTime.fromMillis(1000000000000L + at * 1000L))
    write("a.json", 0, 1L -> "aa bb", 2L -> "cc dd")
    write("b.json", 1, 5L -> "aa bb", 6L -> "ee ff")
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).json(in)
    val q = IncrementalDedup.runIngest(stream, dir, ckpt)
    q.processAllAvailable(); q.stop()
    val snap = IncrementalDedup.snapshot(spark, dir)
      .collect().map(_.getLong(1)).toSet
    assert(snap === Set(1L, 2L, 6L)) // doc 5 is duplicate content across batches
  }

  /** One single-doc drop per text through a store's `runIngest` (given
    * the stream, index dir, checkpoint dir and `onBatch`), at
    * `compactWhenSegments = 2` over ONE bucket, so segments grow one per
    * batch: the bound holds at every observation and is actually hit
    * (compaction fired, not vacuously bounded), the index ends compacted,
    * and each fold wrote one `fold` span named by `store`. Returns the
    * index dir.
    */
  private def adaptiveBound(store: String, texts: Seq[String])(
      run: (org.apache.spark.sql.DataFrame, String, String, (Long, Int) => Unit) =>
        org.apache.spark.sql.streaming.StreamingQuery): String = {
    import org.apache.spark.sql.types._
    val in = java.nio.file.Files.createTempDirectory("increm-adapt").toString
    val dir = tmp(); val ckpt = tmp()
    // distinct mtimes: the file source takes files in mtime order, and
    // near-dup admission assumes ascending doc_ids
    texts.zipWithIndex.foreach { case (t, b) =>
      val f = java.nio.file.Files.write(java.nio.file.Paths.get(s"$in/d$b.json"),
        s"""{"doc_id":${b + 1},"text":"$t"}""".getBytes)
      java.nio.file.Files.setLastModifiedTime(f,
        java.nio.file.attribute.FileTime.fromMillis(1000000000000L + b * 1000L))
    }
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    val observed = scala.collection.mutable.ListBuffer.empty[Int]
    val sink = s"${tmp()}/trace.jsonl"
    graft.Trace.withSink(sink) {
      val q = run(
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).json(in),
        dir, ckpt, (_, segs) => { observed.synchronized { observed += segs }; () })
      q.processAllAvailable(); q.stop()
    }
    assert(observed.nonEmpty && observed.max === 2, s"observed=$observed")
    val live = BucketState.readManifest(spark, dir).buckets.values.flatten.toSet
    assert(live.size === 1, s"expected compacted index, live versions: $live")
    val folds = java.nio.file.Files.readAllLines(java.nio.file.Paths.get(sink))
      .toArray.map(_.toString).filter(_.contains("\"phase\":\"fold\""))
    assert(folds.length === observed.count(_ >= 2) &&
      folds.forall(_.contains(s"\"store\":\"$store\"")), folds.mkString("\n"))
    dir
  }

  test("adaptive policy: compacts when MEASURED segments/bucket reach the bound") {
    val dir = adaptiveBound("exact", (0 until 4).map(b => s"w$b x$b")) {
      (docs, dir, ckpt, onBatch) => IncrementalDedup.runIngest(docs, dir, ckpt,
        compactWhenSegments = 2, nBuckets = 1, onBatch = onBatch)
    }
    assert(IncrementalDedup.snapshot(spark, dir).count() === 4)
  }

  test("adaptive policy: the near-dup runIngest compacts at the bound; admissions unchanged by its folds") {
    // doc 3 is a near-dup of doc 1 and arrives after the first fold:
    // it must still be rejected against the folded band rows
    val a = "alpha beta gamma delta epsilon zeta eta theta"
    val dir = adaptiveBound("nd", Seq(a, "one two three four five six seven eight",
        s"$a iota", "red orange yellow green blue indigo violet black")) {
      (docs, dir, ckpt, onBatch) => IncrementalNearDup.runIngest(docs, dir, ckpt,
        compactWhenSegments = 2, nBuckets = 1, onBatch = onBatch)
    }
    assert(IncrementalNearDup.admittedSnapshot(spark, dir).collect()
      .map(_.getLong(0)).toSet === Set(1L, 2L, 4L))
  }

  test("adaptive policy: does NOT compact while drops land in disjoint buckets") {
    import org.apache.spark.sql.types._
    val in = java.nio.file.Files.createTempDirectory("increm-adapt2").toString
    val dir = tmp(); val ckpt = tmp()
    (0 until 4).foreach { b =>
      java.nio.file.Files.write(java.nio.file.Paths.get(s"$in/d$b.json"),
        s"""{"doc_id":${b + 1},"text":"w$b x$b"}""".getBytes)
    }
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    // 64 buckets, four distinct single-doc drops: each touches its own
    // bucket (deterministic — xxhash64 over fixed fps), so measured
    // segments/bucket stays 1 and the adaptive policy never rewrites —
    // where a fold every 2 batches would have compacted the index twice
    val q = IncrementalDedup.runIngest(
      spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).json(in),
      dir, ckpt, compactWhenSegments = 2, nBuckets = 64)
    q.processAllAvailable(); q.stop()
    assert(IncrementalDedup.snapshot(spark, dir).count() === 4)
    val live = graft.streaming.BucketState.readManifest(spark, dir)
      .buckets.values.flatten.toSet
    assert(live.size === 4, s"adaptive policy must not have compacted: $live")
  }

  test("compaction folds many versions into one; reads and ingest continue") {
    val dir = tmp()
    // three batches → manifest references up to three version dirs
    IncrementalDedup.ingest(spark, dir, docsOf(1L -> "aa bb"), batchId = 0, nBuckets = 4)
    IncrementalDedup.ingest(spark, dir, docsOf(2L -> "cc dd"), batchId = 1, nBuckets = 4)
    IncrementalDedup.ingest(spark, dir, docsOf(3L -> "ee ff"), batchId = 2, nBuckets = 4)
    val before = IncrementalDedup.snapshot(spark, dir)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet

    IncrementalDedup.compact(spark, dir)
    val m = graft.streaming.BucketState.readManifest(spark, dir)
    assert(m.buckets.values.flatten.toSet.size === 1, "one live version after compaction")
    val after = IncrementalDedup.snapshot(spark, dir)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(after === before)
    // superseded version dirs are gone
    val vdirs = new java.io.File(dir).listFiles.map(_.getName)
      .filter(_.startsWith("v=")).toSet
    assert(vdirs === Set(s"v=${m.buckets.values.flatten.toSet.head}"))

    // a crash-replay of the LAST pre-compaction batch is still recognized
    // as committed (the fp line survives compaction verbatim)
    val replay = IncrementalDedup.ingest(spark, dir, docsOf(3L -> "ee ff"), batchId = 2,
      nBuckets = 4)
    assert(replay.collect().map(_.getLong(1)).toSet === Set(3L))
    assert(IncrementalDedup.snapshot(spark, dir).count() === 3)

    // ingest keeps working: physical dirs renumber past the compaction
    IncrementalDedup.ingest(spark, dir, docsOf(9L -> "gg hh"), batchId = 3, nBuckets = 4)
    assert(IncrementalDedup.snapshot(spark, dir).count() === 4)
  }

  test("null text/id rows are dropped, not written to an unparseable bucket dir") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val dir = tmp()
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    val withNulls = spark.createDataFrame(
      java.util.Arrays.asList(Row(1L, "aa bb"), Row(2L, null), Row(null, "cc dd")),
      schema)
    val out = IncrementalDedup.ingest(spark, dir, withNulls, batchId = 0)
      .collect().map(_.getLong(1)).toSet
    assert(out === Set(1L))
    // a second batch still works (no Hive default-partition dir to choke on)
    IncrementalDedup.ingest(spark, dir, docsOf(5L -> "ee ff"), batchId = 1)
    assert(IncrementalDedup.snapshot(spark, dir).count() === 2)
  }

  test("property: ANY batch split converges to first-batch-then-min-id winners") {
    import org.scalacheck.{Gen, Prop}
    import org.scalatest.prop.Configuration
    val words = Gen.oneOf("aa", "bb", "cc")
    val docGen = for { a <- words; b <- words } yield s"$a $b" // 9 contents
    val corpusGen = for {
      texts <- Gen.listOfN(12, docGen)
      cut1 <- Gen.choose(0, texts.length)
      cut2 <- Gen.choose(0, texts.length)
    } yield (texts.zipWithIndex.map { case (t, i) => (i.toLong, t) },
      math.min(cut1, cut2), math.max(cut1, cut2))
    val prop = Prop.forAll(corpusGen) { case (docs, c1, c2) =>
      val dir = tmp()
      val batches = Seq(docs.take(c1), docs.slice(c1, c2), docs.drop(c2))
      batches.zipWithIndex.foreach { case (b, i) =>
        IncrementalDedup.ingest(spark, dir, docsOf(b: _*), batchId = i.toLong,
          nBuckets = 4)
      }
      val got = IncrementalDedup.snapshot(spark, dir)
        .collect().map(r => (r.getString(0), r.getLong(1))).toMap
      // reference: per content, the winner is the min doc_id of the
      // EARLIEST batch containing it (lexicographic on (batch, doc_id))
      val expected = docs
        .map { case (id, t) =>
          val batch = batches.indexWhere(_.exists(_._1 == id))
          (t, (batch, id))
        }
        .groupBy(_._1).map { case (_, rows) => rows.map(_._2).min._2 }
        .toSet
      got.values.toSet == expected
    }
    val cfg = org.scalacheck.Test.Parameters.default.withMinSuccessfulTests(8)
    val res = org.scalacheck.Test.check(cfg, prop)
    assert(res.passed, res.status.toString)
  }

  test("driver queries reclaim their per-run index dir on success") {
    val sf = TestSpark.sf0001
    def run(name: String, q: (org.apache.spark.sql.SparkSession, String, String)
        => org.apache.spark.sql.DataFrame): Unit = {
      val idx = java.nio.file.Files.createTempDirectory(s"hygiene-$name")
      assert(q(spark, sf, idx.toString).count() > 0, s"$name returned no rows")
      assert(!java.nio.file.Files.exists(idx),
        s"$name left its per-run index dir behind: $idx")
    }
    run("exact", IncrementalDedup.dedupIncrementalAt)
    run("exact-retract", IncrementalDedup.dedupIncrementalRetractAt)
    run("neardup", IncrementalNearDup.nearDupIncrementalAt)
    run("neardup-retract", IncrementalNearDup.nearDupRetractAt)
    run("keepbest", IncrementalKeepBest.keepBestIncrementalAt)
    run("vec", IncrementalVecIndex.annIvfPqIncrementalAt)
    // …and a scratch run whose body throws still takes its dir with it
    val failing = java.nio.file.Files.createTempDirectory("hygiene-failing")
    intercept[IllegalStateException] {
      graft.Shared.scratchRun(failing.toString) {
        IncrementalDedup.ingest(spark, failing.toString,
          docsOf(1L -> "aa bb"), batchId = 0).count()
        throw new IllegalStateException("query failed mid-run")
      }
    }
    assert(!java.nio.file.Files.exists(failing),
      s"a failed scratch run left its dir behind: $failing")
  }

  test("chunked ingest equals one-shot exact dedup on the fixture corpus") {
    val sf = TestSpark.sf0001
    val got = IncrementalDedup.dedupIncremental(spark, sf)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    val expected = graft.Tables.documents(spark, sf)
      .select(graft.functions.TextFns.fingerprint(col("text")).as("fp"),
        col("doc_id"))
      .groupBy("fp").agg(min("doc_id").as("doc_id"))
      .orderBy("fp")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(got === expected)
  }

  /** `body`'s result and the Spark jobs it starts on this thread. The
    * listener bus delivers events in order, so once a marker job run
    * after `body` is seen, every job of `body` has been counted.
    */
  private def withJobs[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val group = s"dedup-jobs-${System.nanoTime}"
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
      val out = body
      sc.setJobGroup(s"$group-marker", "listener drain marker")
      sc.parallelize(Seq(1), 1).count()
      assert(drained.await(60, TimeUnit.SECONDS), "listener bus never drained")
      (out, jobs.get)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  test("building a bucket read runs no Spark job at 1 or 6 segments per bucket") {
    // 6 drops of 40 distinct texts over 4 buckets: every drop appends a
    // segment to every bucket of the six-drop store
    val drops = (0 until 6).map(d =>
      (1 to 40).map(k => (d * 100L + k, s"doc $d $k")))
    val one = tmp()
    val six = tmp()
    IncrementalDedup.ingest(spark, one, docsOf(drops.flatten: _*), batchId = 0,
      nBuckets = 4)
    drops.zipWithIndex.foreach { case (d, i) =>
      IncrementalDedup.ingest(spark, six, docsOf(d: _*), batchId = i, nBuckets = 4)
    }
    def segments(dir: String) =
      BucketState.readManifest(spark, dir).buckets.values.map(_.size)
    assert(segments(one).size === 4 && segments(one).forall(_ == 1))
    assert(segments(six).size === 4 && segments(six).forall(_ == 6))

    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select(col("fp"), col("doc_id")).collect().map(_.toString).sorted.toSeq
    Seq(one, six).foreach { dir =>
      val m = BucketState.readManifest(spark, dir)
      val (read, jobs) = withJobs(
        BucketState.readBuckets(spark, dir, m.buckets, spark.emptyDataFrame))
      assert(jobs === 0, s"building the read of $dir ran $jobs jobs")
      assert(read.schema("p").dataType === org.apache.spark.sql.types.LongType)
      val got = rows(read)
      assert(got.size === 240)
      assert(got === rows(IncrementalDedup.snapshot(spark, dir)))
    }
    graft.Shared.deleteDirTree(one)
    graft.Shared.deleteDirTree(six)
  }
}
