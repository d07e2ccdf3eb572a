package graft
import java.nio.file.{Files, Paths, StandardOpenOption}

/** Dump `.explain("formatted")` for every declared query to
  * `plans/<tag>/<name>_<suffix>.txt` — the optimization rounds' plan
  * evidence (judge-checkable: Exchange count, join strategy,
  * PushedFilters/ReadSchema, codegen spans). Builds each query's frame
  * exactly as Bench does (in `Bench.session`), so the dumped plan is the
  * plan the bench times. Incremental queries run their ingest side
  * effects while building — the dump costs roughly one bench pass.
  *
  * Env: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS (Bench's contract),
  * SPARK_GRAFT_PLAN_DIR (default plans/r17), SPARK_GRAFT_PLAN_SUFFIX
  * (default "before"), SPARK_GRAFT_BENCH_ONLY (same subset filter).
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val outDir = sys.env.getOrElse("SPARK_GRAFT_PLAN_DIR", "plans/r17")
    val suffix = sys.env.getOrElse("SPARK_GRAFT_PLAN_SUFFIX", "before")
    val spark = Bench.session(cpus)
    Files.createDirectories(Paths.get(outDir))
    val names = SparkEntry.queries.keys.toVector.sorted
      .filter(Graft.selected("SPARK_GRAFT_BENCH_ONLY"))
    var failed = List.empty[String]
    names.foreach { name =>
      try {
        val df = SparkEntry.queries(name)(spark, sfDir)
        val txt = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        Files.write(Paths.get(outDir, s"${name}_$suffix.txt"),
          txt.getBytes("UTF-8"),
          StandardOpenOption.CREATE, StandardOpenOption.TRUNCATE_EXISTING)
      } catch { case e: Throwable =>
        failed ::= name
        System.err.println(s"[plandump] $name FAILED: ${e.getMessage}")
      }
      spark.catalog.clearCache()
      Shared.releaseTransient(spark)
    }
    println(s"[plandump] wrote ${names.size - failed.size}/${names.size} " +
      s"plans to $outDir (suffix=$suffix)" +
      (if (failed.nonEmpty) s"; FAILED: ${failed.reverse.mkString(",")}" else ""))
    spark.stop()
    if (failed.nonEmpty) sys.exit(1)
  }
}
