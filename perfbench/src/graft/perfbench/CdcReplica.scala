package graft.perfbench

import java.nio.file.{Files, Paths}
import java.nio.file.attribute.FileTime

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.cdc.CdcSchema
import graft.streaming.{BucketState, CdcStream}

/** Seeded Debezium changelog for the reference's `dev.invoice` table, and
  * the model the replica must equal. Pure, so `SelfTest` pins it.
  */
object CdcGen {

  /** The seeded input: `batches(i)` is micro-batch `i`'s envelope lines;
    * `live(i)` is the model after batch `i` as (live rows, sum of
    * invoice_number); `buckets(i)` the replica buckets batch `i` touches.
    */
  final case class Input(batches: Vector[Vector[String]],
                         live: Vector[(Long, Long)],
                         buckets: Vector[Set[Int]],
                         finalRows: Map[Int, Int])

  private def image(k: Int, v: Int) = s"""{"order_id":$k,"invoice_number":$v}"""

  private def envelope(op: String, before: String, after: String, pos: Long) =
    s"""{"payload":{"before":$before,"after":$after,"source":{"ts_ms":$pos,""" +
      s""""pos":$pos,"db":"dev","table":"invoice"},"op":"$op","ts_ms":$pos}}"""

  /** Inserts, updates and deletes over keys `1..keys`, uniformly drawn: a
    * key not in the replica is inserted; a live key is updated with
    * probability 0.7, else deleted.
    */
  def generate(seed: Long, nBatches: Int, perBatch: Int, keys: Int,
               nBuckets: Int): Input = {
    val rnd = new java.util.SplittableRandom(seed)
    val model = scala.collection.mutable.HashMap.empty[Int, Int]
    var sum = 0L
    var pos = 0L
    val batches = Vector.newBuilder[Vector[String]]
    val live = Vector.newBuilder[(Long, Long)]
    val buckets = Vector.newBuilder[Set[Int]]
    (0 until nBatches).foreach { _ =>
      val lines = Vector.newBuilder[String]
      val touched = scala.collection.mutable.Set.empty[Int]
      (0 until perBatch).foreach { _ =>
        pos += 1
        val k = 1 + rnd.nextInt(keys)
        val v = rnd.nextInt(1000000)
        touched += k % nBuckets
        model.get(k) match {
          case None =>
            model(k) = v; sum += v
            lines += envelope("c", "null", image(k, v), pos)
          case Some(old) if rnd.nextInt(10) < 7 =>
            model(k) = v; sum += v - old
            lines += envelope("u", image(k, old), image(k, v), pos)
          case Some(old) =>
            model.remove(k); sum -= old
            lines += envelope("d", image(k, old), "null", pos)
        }
      }
      batches += lines.result()
      live += ((model.size.toLong, sum))
      buckets += touched.toSet
    }
    Input(batches.result(), live.result(), buckets.result(), model.toMap)
  }

  /** Max segments per bucket the LSM replica must hold after each batch's
    * commit, and whether that batch trips a synchronous compaction at
    * `compactAt`: a commit adds one segment to each touched bucket, and
    * a compaction folds every bucket to one segment.
    */
  def segmentSchedule(buckets: Vector[Set[Int]], compactAt: Int): Vector[(Int, Boolean)] = {
    val segs = scala.collection.mutable.HashMap.empty[Int, Int]
    buckets.map { touched =>
      touched.foreach(b => segs(b) = segs.getOrElse(b, 0) + 1)
      val max = segs.values.max
      val trip = max >= compactAt
      if (trip) segs.keys.toSeq.foreach(b => segs(b) = 1)
      (max, trip)
    }
  }

  /** Replica vs model, row by row: (keys missing from the replica, keys
    * the model does not hold, keys whose invoice_number differs).
    */
  def diff(model: Map[Int, Int], replica: Seq[(Long, Long)]): (Int, Int, Int) = {
    val rep = replica.map { case (k, v) => k.toInt -> v.toInt }
    val repKeys = rep.map(_._1)
    val dupes = repKeys.length - repKeys.distinct.length
    val repMap = rep.toMap
    val missing = model.keysIterator.count(k => !repMap.contains(k))
    val extra = repMap.keysIterator.count(k => !model.contains(k)) + dupes
    val wrong = model.count { case (k, v) => repMap.get(k).exists(_ != v) }
    (missing, extra, wrong)
  }
}

/** Workload `cdc_replica`: the paper's engine. Seeded envelopes are
  * staged as one file per micro-batch before timing; the timed region
  * replays them through `CdcStream.fromFiles` → `foreachBatch` →
  * `CdcStream.applyLsmBatch` into a fresh LSM replica, with synchronous
  * compaction when a bucket reaches 8 segments (the `runPartitionedLsm`
  * default), and after every commit one reader probe (count + sum of the
  * `partitionedSnapshotLsm` snapshot, the reference's consistency probe).
  * File-per-batch staging under `AvailableNow` fixes the batch boundaries,
  * so every run of a seed does identical work and the counts below repeat
  * exactly. The compaction trips on batch 8 of 9, so the last commit
  * lands on the folded replica.
  */
object CdcReplica {
  val Buckets = 8
  val CompactAt = 8
  val Batches = 9
  val PerBatch = 1000
  val Keys = 8000
  /** Micro-batches of the untimed warm-up in each set-up pass. */
  val WarmupBatches = 2

  private def stage(in: String, input: CdcGen.Input, n: Int): Unit = {
    Files.createDirectories(Paths.get(in))
    // distinct, ascending mtimes: the file source orders a backlog by
    // modification time, so batch i is always file i
    val base = System.currentTimeMillis() - 3600 * 1000L
    input.batches.take(n).zipWithIndex.foreach { case (lines, i) =>
      val f = Paths.get(in, f"batch-$i%04d.json")
      Files.write(f, (lines.mkString("\n") + "\n").getBytes("UTF-8"))
      Files.setLastModifiedTime(f, FileTime.fromMillis(base + i * 1000L))
    }
  }

  /** Per-batch observations of one replay. */
  final case class BatchObs(batchMs: Double, applyMs: Double,
                            compactMs: Double, readMs: Double, segsCommit: Int,
                            tripped: Boolean, segsRead: Int, readFiles: Int,
                            live: Long, sum: Long)

  final case class ReplayObs(batches: Vector[BatchObs], events: Long,
                             triggerOverheadMs: Seq[Double], state: String) {
    /** Compactions the replica shows: batches whose read, taken after the
      * commit and any compaction, saw fewer segments than the commit left.
      */
    def folds: Int = batches.count(b => b.segsRead < b.segsCommit)
  }

  private def maxSegments(m: BucketState.Manifest): Int =
    if (m.buckets.isEmpty) 0 else m.buckets.values.map(_.size).max

  /** Parquet files a snapshot read opens: every manifest-referenced
    * (version, bucket) dir.
    */
  private def readFiles(state: String, m: BucketState.Manifest): Int =
    m.buckets.toSeq.map { case (b, vs) =>
      vs.toSeq.map { v =>
        val d = Paths.get(state, s"v=$v", s"p=$b")
        if (!Files.isDirectory(d)) 0
        else {
          val s = Files.list(d)
          try s.iterator.asScala.count(_.getFileName.toString.endsWith(".parquet"))
          finally s.close()
        }
      }.sum
    }.sum

  /** A fresh replica fed every staged file in `in`, one per batch. */
  private def replay(ctx: Main.Ctx, in: String, name: String, compactLast: Boolean): ReplayObs = {
    val spark = ctx.spark
    val base = ctx.dir(name)
    val state = s"$base/state"
    val audit = s"$base/audit"
    val obs = Vector.newBuilder[BatchObs]
    var prevEnd = ctx.now
    val traced = ctx.tracer
    val q = CdcStream.fromFiles(spark, in, Some(1)).writeStream
      .option("checkpointLocation", s"$base/ckpt")
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val entry = ctx.now
        if (traced.isDefined) spark.sparkContext.clearCallSite()
        val op = s"$name/$batchId"
        traced.foreach(t => t.record("spark.trigger", s"write:$op",
          t.fromNanoMs(prevEnd), t.fromNanoMs(entry)))
        val (_, applyMs) = ctx.timed("CdcStream.applyLsmBatch", s"write:$op")(
          CdcStream.applyLsmBatch(batch, batchId, audit, state, Buckets,
            CdcSchema.invoiceSpec))
        val (segsCommit, _) = ctx.timed("BucketState.readManifest", s"write:$op")(
          maxSegments(BucketState.readManifest(spark, state)))
        val tripped = segsCommit >= CompactAt || (compactLast && batchId == WarmupBatches - 1)
        val compactMs =
          if (!tripped) 0.0
          else ctx.timed("CdcStream.maybeCompact", s"write:$op")(
            CdcStream.maybeCompact(spark, state, Buckets, CdcSchema.invoiceSpec,
              async = false))._2
        val committed = ctx.now
        val ((m, row), readMs) = ctx.timed("CdcStream.partitionedSnapshotLsm", s"read:$op") {
          val m = BucketState.readManifest(spark, state)
          val row = CdcStream.partitionedSnapshotLsm(spark, state)
            .agg(count(lit(1)), coalesce(sum(col("invoice_number").cast("long")), lit(0L)))
            .collect()(0)
          (m, row)
        }
        val files = if (traced.isDefined) readFiles(state, m) else 0
        obs += BatchObs(committed - prevEnd, applyMs, compactMs,
          readMs, segsCommit, tripped, maxSegments(m), files, row.getLong(0), row.getLong(1))
        prevEnd = ctx.now
        ()
      }
      .start()
    q.awaitTermination()
    q.exception.foreach(e => throw e)
    traced.foreach(t => t.record("spark.trigger", s"other:$name/end",
      t.fromNanoMs(prevEnd), t.nowMs))
    val progress = q.recentProgress.filter(_.numInputRows > 0)
    ReplayObs(obs.result(), progress.map(_.numInputRows).sum,
      progress.toSeq.map(p =>
        (p.durationMs.get("triggerExecution") - p.durationMs.get("addBatch")).toDouble),
      state)
  }

  def run(ctx: Main.Ctx, sessionMs: Double): Main.Outcome = {
    val spark = ctx.spark
    val gen = CdcGen.generate(ctx.seed, Batches, PerBatch, Keys, Buckets)
    val schedule = CdcGen.segmentSchedule(gen.buckets, CompactAt)

    // set-up: an untimed warm-up over the first batches (apply,
    // compaction, snapshot read), then the inputs staged afresh per pass
    val warmupMs = {
      val t = ctx.now
      val warm = ctx.dir("warmup/in")
      stage(warm, gen, WarmupBatches)
      replay(ctx, warm, "warmup/replay", compactLast = true)
      ctx.now - t
    }
    val stageMs = (0 until Main.StagePasses).map { p =>
      val t = ctx.now
      val g = CdcGen.generate(ctx.seed, Batches, PerBatch, Keys, Buckets)
      stage(ctx.dir(s"in$p"), g, Batches)
      ctx.now - t
    }
    val in = ctx.work.resolve(s"in${Main.StagePasses - 1}").toString
    val traceStart = ctx.tracer.map(_.nowMs)

    // timed region: every staged batch, each followed by its read
    val t0 = ctx.now
    val r = replay(ctx, in, "timed", compactLast = false)
    val wallMs = ctx.now - t0
    val traceEnd = ctx.tracer.map(_.nowMs)

    // checks: each commit leaves the segment count the schedule says; a
    // tripped compaction leaves one segment per bucket by the time of the
    // read, and any other batch leaves the commit's count; every read
    // equals the model after its batch; the final replica equals the
    // model row by row
    var attempted = 0L
    var failed = 0L
    r.batches.zipWithIndex.foreach { case (b, i) =>
      attempted += 2 // the batch and its read
      val (segs, trip) = schedule(i)
      if (b.segsCommit != segs || b.tripped != trip) failed += 1
      if (b.segsRead != (if (trip) 1 else segs)) failed += 1
      if ((b.live, b.sum) != gen.live(i)) failed += 1
    }
    if (r.batches.length != Batches || r.events != PerBatch.toLong * Batches ||
        r.folds != schedule.count(_._2)) failed += 1
    val replica = CdcStream.partitionedSnapshotLsm(spark, r.state)
      .select(col("order_id").cast("long"), col("invoice_number").cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val (missing, extra, wrong) = CdcGen.diff(gen.finalRows, replica)
    attempted += 1
    if (missing + extra + wrong > 0) failed += 1

    val batches = r.batches
    val canaries = Map(
      "batches" -> batches.length,
      "events" -> r.events,
      "compactions" -> r.folds,
      "max_segments" -> batches.map(_.segsCommit).max,
      "segments_after_read" -> batches.map(_.segsRead),
      "final_replica_rows" -> replica.length,
      "expected" -> Map("batches" -> Batches,
        "events" -> PerBatch.toLong * Batches,
        "compactions" -> schedule.count(_._2), "max_segments" -> schedule.map(_._1).max,
        "final_replica_rows" -> gen.finalRows.size),
      "replica_diff" -> Map("missing" -> missing, "extra" -> extra, "wrong" -> wrong))

    val batchMs = batches.map(_.batchMs)
    val readMs = batches.map(_.readMs)
    val endToEnd = Map(
      "setup_s" -> (Main.setupSeconds(sessionMs, warmupMs, stageMs), "s"),
      "throughput_per_s" -> (r.events / (wallMs / 1000.0), "1/s"),
      "latency_p50_ms" -> (Stats.median(batchMs), "ms"),
      "read_p50_ms" -> (Stats.median(readMs), "ms"))
    val compacts = batches.filter(_.tripped)
    val layers = Map[String, Any](
      "CdcStream.apply_ms" -> Stats.median(batches.map(_.applyMs)),
      "CdcStream.compact_ms" -> (if (compacts.isEmpty) 0.0 else Stats.median(compacts.map(_.compactMs))),
      "CdcStream.compactions" -> compacts.length,
      "CdcStream.read_ms" -> Stats.median(readMs),
      "BucketState.segments_max" -> batches.map(_.segsRead).max,
      "spark.trigger_overhead_ms" -> Stats.median(r.triggerOverheadMs)) ++
      (if (ctx.tracer.isDefined)
        Map("BucketState.read_files" -> Stats.median(batches.map(_.readFiles.toDouble)))
      else Map.empty)
    val (perLayer, traceSidecar) = ctx.tracer.fold(
      (Map.empty[String, (Double, String)], Map.empty[String, Any])) { t =>
      Layers.summarize(t.finish(), traceStart.get, traceEnd.get, ctx.cpus,
        r.events.toDouble, "event", batches.map(_.segsRead).max)
    }
    Main.Outcome(attempted, failed, endToEnd, perLayer,
      Map("workload" -> Map("batches" -> Batches,
          "events_per_batch" -> PerBatch, "keys" -> Keys, "buckets" -> Buckets,
          "compact_at_segments" -> CompactAt, "timed_ms" -> wallMs,
          "session_ms" -> sessionMs, "warmup_ms" -> warmupMs, "stage_ms" -> stageMs),
        "canaries" -> canaries, "layers" -> layers,
        "samples" -> Map("batch_ms" -> batchMs, "read_ms" -> readMs)) ++ traceSidecar)
  }
}
