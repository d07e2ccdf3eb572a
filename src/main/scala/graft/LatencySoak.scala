package graft

import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** End-to-end DELIVERY LATENCY soak: event-time → replica-visible.
  *
  * The throughput soak ([[Soak]]) proves events/s; this one measures the
  * other half of the north star — how long an individual change takes to
  * become queryable in the replica. A driver-side producer thread stamps
  * envelopes with the REAL wall-clock produce time and drops them as
  * atomically-renamed files every `tickMs`; a `ProcessingTime(triggerMs)`
  * streaming query runs the production micro-batch path
  * (`CdcStream.applyLsmBatch` — parse, audit append, LSM segment append,
  * manifest commit); after each batch COMMITS (manifest renamed, so the
  * snapshot is readable), per-event latency = commit wall-time −
  * producer stamp. Prints p50/p95/p99/max over all events plus per-batch
  * commit cost.
  *
  * The latency floor is structural: ~half the trigger interval (uniform
  * event arrival within a trigger window) + the micro-batch commit cost
  * (parse + segment write of the delta + manifest write). Lowering the
  * trigger below the commit cost buys nothing — batches queue; that
  * trade-off is what this soak quantifies for README.
  *
  * Reported twice: overall, and STEADY-STATE (first two batches dropped —
  * they carry one-time JVM/codegen warmup, not the operating regime; the
  * `steady_*` percentiles are `null` when no batch is past them).
  *
  * Usage: `graft.LatencySoak [nTicks] [perTick] [tickMs] [triggerMs] [workDir] [nBuckets]`
  * (defaults 60 × 2000 events, 250 ms tick, 1000 ms trigger, 64
  * buckets). When the observed max segments-per-bucket reaches 8,
  * compaction dispatches to a BACKGROUND thread
  * (`maybeCompact` async — the concurrent-writer manifest protocol in
  * `BucketState` makes the interleaving safe), so delivery latency never
  * pays the fold; the JSON reports threshold trips plus worst/final
  * observed segment counts to verify boundedness off the hot path.
  */
object LatencySoak {

  /** Median of each Spark durationMs phase over the non-empty batches,
    * −1 for a phase with no samples (per-phase medians need not sum to
    * the triggerExecution median — they are independent medians).
    */
  private def engineMedians(
      q: java.util.concurrent.ConcurrentLinkedQueue[
        java.util.Map[String, java.lang.Long]]): Trace.Fields = {
    import scala.jdk.CollectionConverters._
    val maps = q.asScala.toSeq
    Seq("latestOffset", "getBatch", "queryPlanning", "walCommit",
      "addBatch", "commitOffsets", "triggerExecution").map { k =>
      val v = maps.flatMap(m => Option(m.get(k)).map(_.longValue())).sorted
      k -> (if (v.isEmpty) -1L else v(v.length / 2))
    }
  }

  /** The `p`-quantile of an ascending array (nearest rank, rounded
    * down); `None` when there are no samples.
    */
  private[graft] def percentile(sorted: Array[Long], p: Double): Option[Long] =
    if (sorted.isEmpty) None
    else Some(sorted(math.min(sorted.length - 1, (p * sorted.length).toInt)))

  def main(args: Array[String]): Unit = {
    val nTicks = args.headOption.map(_.toInt).getOrElse(60)
    val perTick = args.lift(1).map(_.toInt).getOrElse(2000)
    val tickMs = args.lift(2).map(_.toLong).getOrElse(250L)
    val triggerMs = args.lift(3).map(_.toLong).getOrElse(1000L)
    val base = args.lift(4).filter(_.nonEmpty).getOrElse(
      Files.createTempDirectory("graft-latency").toString)
    val nBuckets = args.lift(5).map(_.toInt).getOrElse(64)
    val spark = Graft.session(Graft.localMaster)
    // AQE is a per-stage re-planning pass — a win on big shuffles, a
    // latency tax at micro-batch sizes (every exchange becomes a
    // separately scheduled, re-optimized stage). The soak's job is to
    // find the commit floor, so AQE is off here (the batch engine keeps
    // it on; the measured AQE-on difference was ±0).
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.sparkContext.setLogLevel("WARN")

    val in = s"$base/in"
    Files.createDirectories(Paths.get(in))
    val total = nTicks.toLong * perTick

    // ---- producer: one file per tick, envelopes stamped with the real
    // produce time; temp-write + atomic rename so the file source never
    // reads a partial file
    val producer = new Thread(() => {
      var pos = 0L
      for (tick <- 0 until nTicks) {
        val now = System.currentTimeMillis()
        val sb = new StringBuilder(perTick * 120)
        var j = 0
        while (j < perTick) {
          pos += 1
          val k = pos % 100000
          sb.append(s"""{"payload":{"before":null,"after":{"order_id":$k,"invoice_number":${pos % 1000}},"source":{"ts_ms":$now,"pos":$pos,"db":"dev","table":"invoice"},"op":"c","ts_ms":$now}}""")
            .append('\n')
          j += 1
        }
        val tmp = Paths.get(s"$in/.tick$tick.tmp")
        Files.write(tmp, sb.toString.getBytes("UTF-8"))
        Files.move(tmp, Paths.get(s"$in/tick$tick.json"),
          StandardCopyOption.ATOMIC_MOVE)
        Thread.sleep(tickMs)
      }
    }, "latency-producer")

    // ---- consumer: the production micro-batch path at a fixed trigger;
    // latency recorded AFTER the merge returns (manifest committed ⇒
    // replica-visible)
    // single background thread: probe jobs run in submission order, off
    // the trigger-serial path (see the foreachBatch comment)
    val probePool = java.util.concurrent.Executors.newSingleThreadExecutor(r => {
      val t = new Thread(r, "latency-probe"); t.setDaemon(true); t
    })
    val latencies = new java.util.concurrent.ConcurrentLinkedQueue[java.lang.Long]()
    val commitCosts = new java.util.concurrent.ConcurrentLinkedQueue[java.lang.Long]()
    val steady = new java.util.concurrent.ConcurrentLinkedQueue[java.lang.Long]()
    val segsObserved = new java.util.concurrent.ConcurrentLinkedQueue[Integer]()
    val done = new java.util.concurrent.atomic.AtomicLong(0L)
    // first deferred-probe failure, surfaced at drain — the single-thread
    // executor would otherwise swallow it and turn a real error into a
    // 5-minute stall ending in a cause-free "drained X of Y"
    val probeError = new java.util.concurrent.atomic.AtomicReference[Throwable](null)
    // ---- engine-overhead decomposition: Spark's own per-trigger timing
    // (durationMs) names where the non-commit floor lives — source
    // listing (latestOffset), offset WAL (walCommit), planning
    // (queryPlanning), execution (addBatch), commit log (commitOffsets).
    // Non-empty batches only: idle ProcessingTime fires would skew the
    // medians toward the no-work path.
    val engine = new java.util.concurrent.ConcurrentLinkedQueue[
      java.util.Map[String, java.lang.Long]]()
    spark.streams.addListener(
      new org.apache.spark.sql.streaming.StreamingQueryListener {
        override def onQueryStarted(
            e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryStartedEvent): Unit = ()
        override def onQueryProgress(
            e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryProgressEvent): Unit =
          if (e.progress.numInputRows > 0) engine.add(e.progress.durationMs)
        override def onQueryTerminated(
            e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      })

    val changelog = streaming.CdcStream.fromFiles(spark, in)
    val q = changelog.writeStream
      .option("checkpointLocation", s"$base/ckpt")
      .trigger(Trigger.ProcessingTime(triggerMs))
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, batchId: Long) =>
        val t0 = System.currentTimeMillis()
        streaming.CdcStream.applyLsmBatch(
          batch, batchId, s"$base/audit", s"$base/state", nBuckets,
          cdc.CdcSchema.invoiceSpec)
        // Replica-visible AT the manifest commit — the timestamp is taken
        // before any compaction check: compaction is maintenance, run on
        // a background thread (asyncCompaction protocol), never billed to
        // delivery latency and never blocking the next trigger.
        val commit = System.currentTimeMillis()
        // per-batch observed read amplification
        segsObserved.add(streaming.BucketState.compactIfDue(batch.sparkSession,
          s"$base/state", streaming.CdcStream.CompactWhenSegments, async = true,
          streaming.CdcStream.lsmFold(nBuckets)))
        // The probe's stamp collect is measurement harness, not engine —
        // but run serially here it would still DELAY THE NEXT TRIGGER
        // (it re-parses the batch's JSON: a full Spark job, ~100-300 ms),
        // inflating every later event's queueing latency and so the very
        // steady-state p50 it exists to measure. Defer it to a background
        // thread: `commit` (the replica-visible instant) is already
        // captured, commit − stamp is unaffected by when the subtraction
        // happens, and the file source's batch plan stays readable after
        // the epoch advances (the source never deletes input files). The
        // drain loop below waits on `done`, which the deferred probe
        // advances.
        probePool.execute(() => {
          try {
            val stamps = batch.select(col("ts_ms")).collect().map(_.getLong(0))
            stamps.foreach(s => latencies.add(commit - s))
            if (batchId >= 2) stamps.foreach(s => steady.add(commit - s))
            commitCosts.add(commit - t0)
            done.addAndGet(stamps.length.toLong)
          } catch {
            case t: Throwable => probeError.compareAndSet(null, t)
          }
        })
        ()
      }
      .start()

    producer.start()
    producer.join()
    // drain: wait until every produced event has been committed
    val deadline = System.currentTimeMillis() + 300000
    while (done.get() < total && probeError.get() == null &&
      System.currentTimeMillis() < deadline)
      Thread.sleep(200)
    q.stop(); q.awaitTermination(60000)
    streaming.BucketState.quiesce(s"$base/state")
    if (probeError.get() != null)
      throw new IllegalStateException("deferred latency probe failed",
        probeError.get())

    import scala.jdk.CollectionConverters._
    val ls = latencies.asScala.map(_.longValue()).toArray.sorted
    require(ls.length == total, s"drained ${ls.length} of $total events")
    val st = steady.asScala.map(_.longValue()).toArray.sorted
    val cs = commitCosts.asScala.map(_.longValue()).toArray.sorted
    // per-batch observed max segments-per-bucket (read amplification) —
    // boundedness under BACKGROUND compaction is the claim being
    // verified, so report the worst observed and the final.
    val segsSeen = segsObserved.asScala.map(_.intValue()).toArray
    val segsEnd = streaming.BucketState.readManifest(spark, s"$base/state").maxSegments
    // no batch past warm-up ⇒ no steady-state figure at all (null), never
    // the warm-up percentiles under the steady_* keys
    Graft.finish(spark, "latency_soak", Seq("events" -> total, "ticks" -> nTicks,
      "tick_ms" -> tickMs, "trigger_ms" -> triggerMs, "buckets" -> nBuckets,
      "batches" -> cs.length, "p50_ms" -> percentile(ls, 0.50),
      "p95_ms" -> percentile(ls, 0.95), "p99_ms" -> percentile(ls, 0.99),
      "max_ms" -> ls.last, "steady_events" -> st.length,
      "steady_p50_ms" -> percentile(st, 0.50), "steady_p95_ms" -> percentile(st, 0.95),
      "steady_p99_ms" -> percentile(st, 0.99),
      "commit_p50_ms" -> cs(cs.length / 2), "commit_max_ms" -> cs.last,
      "engine_ms" -> engineMedians(engine),
      "compact_trips" -> segsSeen.count(streaming.BucketState.foldDue(_,
        streaming.CdcStream.CompactWhenSegments)),
      "max_segs_observed" -> (if (segsSeen.isEmpty) 0 else segsSeen.max),
      "max_segs_final" -> segsEnd))
  }
}
