package graft

import org.apache.spark.sql.functions._

/** Crash-replay soak for the CDC LSM replica at facts volume: stream the
  * deterministic [[Soak.envelopeLines]] workload through
  * [[streaming.CdcStream.runPartitionedLsm]] with ASYNC adaptive
  * compaction (the production stance), then assert the replica equals
  * the one-pass batch replay of the same envelopes and that the audit
  * log holds exactly one row per envelope. Built to be SIGKILLed and
  * relaunched into the same workDir (`tools/chaos_lsm.sh`): the input
  * files are generated once behind a marker, the file source resumes
  * from its checkpoint, the segment commits are replay-guarded by the
  * manifest fingerprint protocol, and the audit write is batch-keyed
  * overwrite — so any kill point must replay to diff 0. This is the
  * chaos gate VERDICT r12 noted the LSM path never had: the docs-side
  * pipeline took a 20-SIGKILL storm, the facts-side replica had only
  * spec-pinned interleavings.
  *
  * Usage: `graft.LsmChaosSoak [nKeys] [workDir]` (~1.6 envelopes/key;
  * the 4M-key default ≈ 6.6M envelopes ≈ sf1-facts event volume).
  */
object LsmChaosSoak {
  def main(args: Array[String]): Unit = {
    val nKeys = args.headOption.map(_.toInt).getOrElse(4000000)
    val base = args.lift(1).filter(_.nonEmpty).getOrElse(
      java.nio.file.Files.createTempDirectory("graft-lsm-chaos").toString)
    val spark = Graft.session(Graft.localMaster)
    spark.sparkContext.setLogLevel("WARN")

    // 24 files at 2/trigger → 12 micro-batches: enough commits that
    // kills land mid-merge, mid-fold, and between the two commits
    Graft.corpusOnce(base, s"$nKeys") {
      Soak.envelopeLines(spark, nKeys).repartition(24)
        .write.mode("overwrite").text(s"$base/in")
    }

    // MID-STREAM TAKEDOWN (the out-of-band GDPR leg): a daemon thread
    // retracts keys ≡ 0 (mod 1009) through pos = nKeys·5/2 — a fixed,
    // deterministic (keys, throughPos) pair, so WHENEVER the commit
    // lands (racing live appends and background folds, or re-issued by
    // every chaos relaunch — duplicate tombstones are idempotent by
    // semantics), the final masked state is the same. It waits for the
    // first data commit (retraction needs history to erase), so in a
    // chaos storm the commit interleaves with — and is killed among —
    // the apply/fold traffic.
    val retractP = nKeys.toLong * 5 / 2
    val takedown = new Thread(() => {
      try {
        while (streaming.BucketState
            .readManifest(spark, s"$base/state").fp.isEmpty)
          Thread.sleep(200)
        streaming.CdcStream.retractLsmKeys(spark, s"$base/state",
          spark.range(nKeys).selectExpr("cast(id as int) as k")
            .filter(col("k") % 1009 === 0),
          retractP)
      } catch {
        case e: Throwable =>
          System.err.println(s"[lsm-chaos] takedown failed: ${e.getMessage}")
      }
    }, "lsm-chaos-takedown")
    takedown.setDaemon(true)

    val t0 = System.nanoTime()
    val q = streaming.CdcStream.runPartitionedLsm(
      streaming.CdcStream.fromFiles(spark, s"$base/in", maxFilesPerTrigger = Some(2)),
      s"$base/audit", s"$base/state", s"$base/ckpt",
      compactWhenSegments = 4, asyncCompaction = true)
    takedown.start()
    q.processAllAvailable(); q.stop()
    takedown.join(600000)
    streaming.BucketState.quiesce(s"$base/state")
    val streamSec = (System.nanoTime() - t0) / 1e9

    // one-shot expectation: the batch replay of the SAME envelopes with
    // the retraction's declared semantics applied relationally — every
    // event of a retracted key at or below the pinned position erased
    val log = cdc.Changelog.fromEnvelopeJson(
      spark.read.text(s"$base/in").toDF("value"))
    val keyC = coalesce(col("after.order_id"), col("before.order_id"))
    val batchSnap = cdc.CdcApply.snapshot(log.filter(
      keyC.isNull || !(keyC % 1009 === 0 && col("pos") <= retractP)))
    val streamed = streaming.CdcStream.partitionedSnapshotLsm(spark, s"$base/state")
    val diff = streamed.exceptAll(batchSnap).count() +
      batchSnap.exceptAll(streamed).count()
    // the takedown must have BITTEN: a retracted key whose ENTIRE event
    // family (max pos = k·5+4) sits under the horizon must be absent
    // (boundary keys with post-horizon events are legitimately live and
    // covered by the diff)
    val retractedLive = streamed
      .filter(col("order_id") % 1009 === 0 && col("order_id") * 5 + 4 <= retractP)
      .count()
    val nEnvelopes = spark.read.text(s"$base/in").count()
    val audit = spark.read.parquet(s"$base/audit").count()
    Graft.finish(spark, "lsm_chaos_soak", Seq("keys" -> nKeys,
      "envelopes" -> nEnvelopes, "snapshot_diff" -> diff, "audit_rows" -> audit,
      "state_keys" -> streamed.count(), "retract_through" -> retractP,
      "retracted_live" -> retractedLive,
      "stream_sec" -> math.round(streamSec * 1000) / 1000.0),
      "[lsm-chaos] replica diverged from the batch replay" -> (diff == 0),
      s"[lsm-chaos] audit incomplete: $audit != $nEnvelopes" -> (audit == nEnvelopes),
      s"[lsm-chaos] $retractedLive retracted keys still live" -> (retractedLive == 0))
  }
}
