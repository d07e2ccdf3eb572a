package graft
import scala.collection.immutable.VectorMap

import org.apache.spark.sql.SparkSession
object Bench {
  /** The bench session: `local[cpus]`, `cpus` shuffle partitions, AQE on,
    * UTC. [[PlanDump]] dumps the plans of this same session.
    */
  def session(cpus: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // Median of ≥3 runs: local[N] timings swing ±15% run-to-run, so a
    // single sample makes round-over-round comparison noise. Run 1 pays
    // the shared-materialization builds (Shared) — per-run totals in the
    // output keep the cold/warm split visible.
    val nRuns = math.max(1, sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "3").toInt)
    val spark = session(cpus)
    // Warm up the session (codegen compiler, FS client, broadcast machinery)
    // so JVM boot isn't billed to whichever query happens to run first.
    spark.read.parquet(s"$sfDir/region.parquet").count()
    // Optional subset (comma-separated names) for targeted scale steps —
    // e.g. the dedup/ANN/decontaminate/cdc scale-path families at sf10,
    // where running all 80+ queries per scale decade buys nothing.
    val names = SparkEntry.queries.keys.toVector
      .filter(Graft.selected("SPARK_GRAFT_BENCH_ONLY"))
    val failed = scala.collection.mutable.LinkedHashSet.empty[String]
    def onePass(): Map[String, Double] =
      names.map { name =>
        val t0 = System.nanoTime()
        try SparkEntry.queries(name)(spark, sfDir).count()
        catch { case e: Throwable =>
          failed += name
          System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
        }
        val dt = (System.nanoTime() - t0) / 1e9
        // cleanup OUTSIDE the timed region: drop per-query cache() plans
        // and superseded localCheckpoint blocks, sparing shared indexes
        spark.catalog.clearCache()
        Shared.releaseTransient(spark)
        name -> dt
      }.toMap
    // Untimed setup pass: builds every Shared index (changelog, shingle
    // frames) and JITs the hot codegen before the timed region, so run 1
    // measures the same steady state as run N instead of billing one-time
    // index builds to whichever queries hit them first (r3 run totals
    // spread 64.3s..38.9s for identical work). Its wall time is reported
    // separately as `setup` — the cold-start cost is visible, not hidden.
    val setupT0 = System.nanoTime()
    val _ = onePass()
    val setup = (System.nanoTime() - setupT0) / 1e9
    // A setup-pass failure is usually transient (cold cache, first JIT of a
    // heavy plan) and the timed medians below don't include it — but a
    // query that failed during setup ran its Shared builds partially, so
    // the timed runs may measure a DIFFERENT steady state than a clean
    // bench. Keep setup failures as warnings only when every timed run of
    // that query subsequently succeeds: clear the set here and let the
    // timed passes (and the dead-context check) decide validity.
    val setupFailed = failed.toSet
    if (setupFailed.nonEmpty)
      System.err.println(s"[bench] setup-pass failures (non-fatal if timed runs pass): ${setupFailed.mkString(",")}")
    failed.clear()
    val runs: Vector[Map[String, Double]] = Vector.fill(nRuns)(onePass())
    def median(xs: Seq[Double]): Double = {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
    val med = names.map(n => n -> median(runs.map(_(n))))
    // a failing query must be loud in the output, never a fast-looking timing.
    // "cpus" + "shuffle_partitions" echo the EFFECTIVE session shape so the
    // driver can verify the scaling contract directly instead of inferring
    // it from timing ratios (which are structurally ≈1 at sf0.1, where the
    // median query is overhead-bound — the r17 suspect_cpus_ignored flag).
    def number(v: String): Any = v.toIntOption.getOrElse(v)
    val contextDead = spark.sparkContext.isStopped
    // …and loud in the EXIT CODE. Three rounds of invalid sf10 artifacts
    // (0-byte file, then an all-failed run whose ~7ms-per-query timings
    // looked success-shaped in the JSON) went unnoticed because this
    // main always exited 0 and the wrapper script only checked the shell
    // status. A bench where any query failed — or whose SparkContext
    // died mid-run (every subsequent .count() throws instantly) — is not
    // a measurement and must not produce a committable artifact.
    Graft.finish(spark, "total", Seq(
      "value" -> med.map(_._2).sum, "unit" -> "sec", "cpus" -> number(cpus),
      "shuffle_partitions" ->
        number(spark.conf.get("spark.sql.shuffle.partitions")),
      "queries" -> med.to(VectorMap), "failed" -> failed.toSeq, "runs" -> nRuns,
      "run_totals" -> runs.map(r => Trace.fixed(r.values.sum, 3)),
      "setup" -> Trace.fixed(setup, 3),
      // the untimed setup pass itemized: each shared-index build's wall
      // time (the rest of `setup` is the steady-state query pass + JIT)
      "setup_breakdown" -> Shared.buildSeconds.toSeq.sortBy(-_._2)
        .map { case (k, v) => k -> Trace.fixed(v, 3) }.to(VectorMap),
      "sf" -> sfDir),
      s"[bench] INVALID RUN: failed=${failed.mkString(",")} contextDead=$contextDead" ->
        (failed.isEmpty && !contextDead))
  }
}
