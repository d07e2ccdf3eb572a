package graft

import org.apache.spark.sql.SparkSession

/** Library façade: one call gives a session configured the way the engine
  * expects — a user of the reference pipeline switches by replacing their
  * consumer process with `Graft.session()` + the `cdc`/`streaming` APIs.
  *
  * Config stance (local or cluster):
  *  - shuffle partitions sized to cores (not the 200 default — right for
  *    local mode; on a real cluster set to 2–3× total executor cores);
  *  - AQE on (runtime coalescing + skew-join splitting at bench SF and up);
  *  - UTC session timezone (oracle/cross-engine parity);
  *  - the engine's native SQL functions (`cosine_fx`) registered;
  *  - the engine's Catalyst extensions (`plans.GraftExtensions`: the
  *    range-join bin rewrite) injected at build time.
  */
object Graft {

  def session(master: String = s"local[${Runtime.getRuntime.availableProcessors()}]",
              appName: String = "graft",
              shufflePartitions: Option[Int] = None): SparkSession = {
    // local[N] / local[N,maxFailures] / local[*] / cluster URLs all legal
    val cores = scala.util.Try(
      master.stripPrefix("local[").stripSuffix("]").split(",")(0).toInt
    ).getOrElse(Runtime.getRuntime.availableProcessors())
    val spark = SparkSession.builder()
      .master(master)
      .appName(appName)
      .config("spark.sql.shuffle.partitions", shufflePartitions.getOrElse(cores).toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", classOf[plans.GraftExtensions].getName)
      .getOrCreate()
    functions.CosineFxExpr.register(spark)
    spark
  }

  /** `local[N]`, N from `SPARK_GRAFT_CPUS`, else every core: the master
    * the soak and probe mains pass to [[session]].
    */
  def localMaster: String =
    s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors().toString)}]"

  /** Register every fixture table as a temp view so the whole engine
    * surface is reachable from `spark.sql` text.
    */
  def registerViews(spark: SparkSession, sfDir: String): Unit =
    Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "events", "documents", "embeddings")
      .foreach { t =>
        val df = t match {
          case "events" => Tables.events(spark, sfDir) // nanos-ts handling
          case other => Tables.load(spark, sfDir, other)
        }
        df.createOrReplaceTempView(t)
      }
}
