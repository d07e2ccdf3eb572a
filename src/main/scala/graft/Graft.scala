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

  /** The names a comma list in the environment variable `envVar`
    * selects (every name when it is unset): the query subset of the
    * bench, plan-dump and verify mains.
    */
  def selected(envVar: String): String => Boolean = {
    val only = sys.env.get(envVar).map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    name => only.forall(_.contains(name))
  }

  /** The run contract of every soak, probe and bench main: print its
    * result line last on stdout ([[Trace.result]]), stop Spark, and exit 1
    * when any check failed. Each check is `message -> passed`, and the
    * message of every failed one goes to stderr.
    */
  def finish(spark: SparkSession, metric: String, fields: Trace.Fields,
             checks: (String, Boolean)*): Unit = {
    Trace.result(metric, fields)
    spark.stop()
    val failed = checks.collect { case (message, false) => message }
    if (failed.nonEmpty) {
      failed.foreach(System.err.println)
      sys.exit(1)
    }
  }

  /** Writes a resumable main's input into `workDir` once: `write` runs
    * only when the `_CORPUS_READY` marker is absent, and then the marker
    * records `params`. A relaunch into the same dir (a chaos kill) finds
    * the marker and reuses the files, since rewritten part files would
    * be new to the file source and trip the stores' replay guards; a
    * marker for other parameters fails loudly.
    */
  def corpusOnce(workDir: String, params: String)(write: => Unit): Unit = {
    val marker = java.nio.file.Paths.get(s"$workDir/_CORPUS_READY")
    if (java.nio.file.Files.exists(marker)) {
      val found = new String(java.nio.file.Files.readAllBytes(marker), "UTF-8")
      require(found == params,
        s"workDir $workDir holds a corpus for $found, not $params — use a fresh dir")
    } else {
      write
      java.nio.file.Files.write(marker, params.getBytes("UTF-8"))
    }
  }

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
