package graft.perfbench

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

/** The benchmark's JVM entry: one closed-loop, single-client workload per
  * run, driven through the public calls of `graft.streaming`,
  * `graft.operators` and `graft.cdc`.
  *
  * Usage: `graft.perfbench.Main --workload <cdc_replica|curation_ingest>
  * --seed <n> --seconds <s> --trace <0|1> --work <dir> --sidecar <file>`.
  *
  * A run's timed work is fixed per workload, not cut by a clock, so that
  * its batch boundaries and counts repeat exactly for a seed: on four
  * cores it takes about 25 s (`cdc_replica`) or 35 s (`curation_ingest`).
  * `--seconds` is checked and echoed, not used.
  *
  * stdout carries exactly one line, last: `{"correct", "attempted",
  * "failed", "metrics"}`. With `--trace 0` the metrics are the end-to-end
  * set; with `--trace 1` the per-layer set, and the run registers the
  * benchmark's own listener and spans. Everything else (the config echo,
  * canaries, per-layer detail, spans) goes to the sidecar; the config
  * echo is also printed on stderr. Exit code 1 on any failed operation or
  * canary mismatch.
  */
object Main {

  /** What a workload hands back after its timed region. */
  final case class Outcome(attempted: Long, failed: Long,
                           endToEnd: Map[String, (Double, String)],
                           perLayer: Map[String, (Double, String)],
                           sidecar: Map[String, Any])

  /** Everything a workload needs: the session, its inputs' seed, where to
    * write, and the tracer when this is a traced run.
    */
  final case class Ctx(spark: SparkSession, seed: Long, work: Path,
                       tracer: Option[Tracer], cpus: Int) {
    def now: Double = System.nanoTime() / 1e6

    /** Time `f` and record it as a span (when tracing) of operation `op`. */
    def timed[T](name: String, op: String)(f: => T): (T, Double) = {
      val t0 = now
      val r = tracer.fold(f)(_.span(name, op)(f))
      (r, now - t0)
    }

    /** Fresh directory under the run's work dir. */
    def dir(name: String): String = {
      val p = work.resolve(name)
      Files.createDirectories(p)
      p.toString
    }
  }

  /** Set-up time: session start, one untimed warm-up (JIT, codegen and
    * the stores' first-use paths), and input generation + staging, which
    * runs `StagePasses` times so that its median is reported.
    */
  def setupSeconds(sessionMs: Double, warmupMs: Double, stageMs: Seq[Double]): Double =
    (sessionMs + warmupMs + Stats.median(stageMs)) / 1000.0

  val StagePasses = 3

  def main(args: Array[String]): Unit = {
    val t0 = System.nanoTime()
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def opt(k: String) = opts.getOrElse(k, sys.error(s"missing --$k"))
    val workload = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toInt
    val trace = opt("trace") == "1"
    val work = Paths.get(opt("work")).toAbsolutePath
    val sidecar = Paths.get(opt("sidecar")).toAbsolutePath
    require(seconds >= 1, "--seconds must be at least 1")
    val cpus = Runtime.getRuntime.availableProcessors()
    // AQE off: at these batch and drop sizes its per-stage re-plan is pure
    // latency (the LatencySoak stance; measured here, a 500-doc curation
    // drop took 17.0 s with it and 11.6 s without)
    val aqe = false
    Files.createDirectories(work)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", aqe.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionMs = (System.nanoTime() - t0) / 1e6
    val tracer = if (trace) Some(new Tracer(spark)) else None
    val ctx = Ctx(spark, seed, work, tracer, cpus)
    val outcome =
      try workload match {
        case "cdc_replica" => CdcReplica.run(ctx, sessionMs)
        case "curation_ingest" => CurationIngest.run(ctx, sessionMs)
        case w => sys.error(s"unknown workload $w (cdc_replica | curation_ingest)")
      } catch {
        case e: Throwable =>
          System.err.println(s"[perfbench] $workload aborted: $e")
          e.printStackTrace()
          spark.stop()
          sys.exit(1)
      }
    val runMs = (System.nanoTime() - t0) / 1e6
    val config = Map(
      "workload" -> workload, "seed" -> seed, "seconds" -> seconds,
      "trace" -> trace, "cpus" -> cpus,
      "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions").toInt,
      "aqe" -> aqe, "heap_bytes" -> Runtime.getRuntime.maxMemory,
      "spark_version" -> spark.version)
    System.err.println(Json.encode(Map("config" -> config)))
    Files.createDirectories(sidecar.getParent)
    Files.write(sidecar, (Json.encode(
      Map("config" -> config, "attempted" -> outcome.attempted,
        "failed" -> outcome.failed, "run_ms" -> runMs, "end_to_end" -> outcome.endToEnd,
        "per_layer" -> outcome.perLayer) ++ outcome.sidecar) + "\n").getBytes("UTF-8"))
    spark.stop()
    val metrics = (if (trace) outcome.perLayer else outcome.endToEnd).map {
      case (k, (v, unit)) => k -> Map("value" -> v, "unit" -> unit)
    }
    val correct = outcome.failed == 0
    println(Json.encode(Map("correct" -> correct, "attempted" -> outcome.attempted,
      "failed" -> outcome.failed, "metrics" -> metrics)))
    System.out.flush()
    sys.exit(if (correct) 0 else 1)
  }
}

/** Minimal JSON writer for the result line and the sidecar. */
object Json {
  def encode(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => encode(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null"
      else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
      else d.toString
    case f: Float => encode(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] =>
      m.toSeq.map { case (k, x) => s"${quote(k.toString)}:${encode(x)}" }
        .sorted.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(encode).mkString("[", ",", "]")
    case xs: Array[_] => encode(xs.toSeq)
    case p: Product if p.productArity > 0 => encode(p.productIterator.toSeq)
    case other => quote(other.toString)
  }

  private def quote(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case '\n' => sb.append("\\n")
      case '\t' => sb.append("\\t")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"').toString
  }
}
