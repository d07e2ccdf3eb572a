package graft.perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd,
  SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession

/** The traced run's instrumentation, all of it outside the program.
  *
  * Spans are sequential and never nest: the benchmark closes one before it
  * opens the next, so every Spark job belongs to the span that was open
  * when the job started. Attribution is by timestamp after the run, since
  * listener events arrive late on Spark's bus. A job's module is the
  * innermost `graft.*` frame of its first stage's call site that is not
  * benchmark code (a streaming query pins its thread's call site to
  * `start()`, so the replica workload clears it inside `foreachBatch` when
  * tracing). Everything is kept in memory and written once at exit.
  */
final class Tracer(spark: SparkSession) {
  import Tracer._

  // epoch-ms clock derived from nanoTime: span edges stay monotonic and
  // compare directly with the driver's listener event times
  private val epoch0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  def nowMs: Double = epoch0 + (System.nanoTime() - nano0) / 1e6
  /** The same clock for an instant taken as `System.nanoTime() / 1e6`. */
  def fromNanoMs(ms: Double): Double = epoch0 + ms - nano0 / 1e6

  private val spans = new ConcurrentLinkedQueue[Span]()
  private val jobStarts = new ConcurrentLinkedQueue[(Int, Double, Seq[Int], String)]()
  private val jobEnds = new ConcurrentLinkedQueue[(Int, Double)]()
  private val stages = new ConcurrentLinkedQueue[StageStat]()

  private val jobListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val details = e.stageInfos.headOption.map(_.details).getOrElse("")
      jobStarts.add((e.jobId, e.time.toDouble, e.stageIds, moduleOf(details)))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      jobEnds.add((e.jobId, e.time.toDouble))
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      val m = i.taskMetrics
      stages.add(StageStat(i.stageId, i.numTasks,
        if (m == null) 0L else m.executorRunTime,
        if (m == null) 0L
        else m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten,
        if (m == null) 0L else m.memoryBytesSpilled + m.diskBytesSpilled,
        if (m == null) 0L else m.outputMetrics.bytesWritten))
    }
  }

  spark.sparkContext.addSparkListener(jobListener)

  /** Record a finished span `[start, end)` in epoch ms; `op` names the
    * benchmark operation it belongs to (e.g. `write:3`, `read:3`).
    */
  def record(name: String, op: String, start: Double, end: Double): Unit =
    spans.add(Span(name, op, start, end))

  /** Run `f` inside a span named after the program call it wraps. */
  def span[T](name: String, op: String)(f: => T): T = {
    val t = nowMs
    try f finally record(name, op, t, nowMs)
  }

  /** Stop listening and join spans with the jobs that started in them.
    * Every job has finished by now, but its events may still be queued
    * on Spark's listener bus: wait until each started job has ended
    * (bounded wait).
    */
  def finish(): Trace = {
    val deadline = System.currentTimeMillis() + 30000
    while (jobEnds.size < jobStarts.size && System.currentTimeMillis() < deadline)
      Thread.sleep(20)
    Thread.sleep(200) // stage completions trail their job's end event
    spark.sparkContext.removeSparkListener(jobListener)
    val byStage = stages.asScala.map(s => s.stageId -> s).toMap
    val ends = jobEnds.asScala.toMap
    // a reused shuffle stage is listed again (skipped) by later jobs: its
    // metrics belong to the first job that listed it
    val claimed = scala.collection.mutable.Set.empty[Int]
    val jobs = jobStarts.asScala.toSeq.sortBy(_._1).map { case (id, t0, stageIds, module) =>
      val ss = stageIds.filter(claimed.add).flatMap(byStage.get)
      Job(id, t0, ends.getOrElse(id, t0), module, ss.map(_.tasks).sum,
        ss.map(_.executorMs).sum, ss.map(_.shuffleBytes).sum,
        ss.map(_.spillBytes).sum, ss.map(_.outputBytes).sum)
    }
    Trace(spans.asScala.toSeq.sortBy(_.start), jobs.sortBy(_.start))
  }
}

object Tracer {
  final case class Span(name: String, op: String, start: Double, end: Double) {
    def ms: Double = end - start
  }
  final case class Job(id: Int, start: Double, end: Double, module: String,
                       tasks: Int, executorMs: Long, shuffleBytes: Long,
                       spillBytes: Long, outputBytes: Long)
  private final case class StageStat(stageId: Int, tasks: Int, executorMs: Long,
                                     shuffleBytes: Long, spillBytes: Long,
                                     outputBytes: Long)

  /** Innermost program frame of a Spark long-form call site, as
    * `package.Object.method` (closures fold into their enclosing method).
    * A job the benchmark itself started on a program frame (a `collect`,
    * say) is `graft.perfbench`; one whose RDDs were built off the calling
    * thread (broadcast builds, for one) has no `graft` frame at all.
    */
  private[perfbench] def moduleOf(callSite: String): String = {
    val frames = callSite.split("\n").iterator.map(_.trim).filter(_.startsWith("graft.")).toSeq
    frames.find(!_.startsWith("graft.perfbench."))
      .map(_.takeWhile(_ != '(').replace("$anonfun$", "")
        .replaceAll("\\$(adapted|\\d+)", "").replace("$", ""))
      .getOrElse(if (frames.nonEmpty) "graft.perfbench" else "(no graft frame)")
  }

  /** Spark work summed over a set of spans (or over jobs, for
    * `byModule`, where `wallMs` is job time and `driverMs` is unused).
    */
  final case class OpWork(wallMs: Double, driverMs: Double, jobs: Int,
                          tasks: Int, executorMs: Long, shuffleBytes: Long,
                          spillBytes: Long, outputBytes: Long)

  /** Per-span Spark work: jobs started inside it and their costs. */
  final case class SpanWork(span: Span, jobs: Seq[Job]) {
    /** Span wall time not covered by any of its jobs: planning, commit
      * protocol and other driver work.
      */
    def driverMs: Double = {
      val iv = jobs.map(j => (math.max(j.start, span.start), math.min(j.end, span.end)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var covered = 0.0
      var cur: Option[(Double, Double)] = None
      iv.foreach { case (a, b) =>
        cur match {
          case Some((ca, cb)) if a <= cb => cur = Some((ca, math.max(cb, b)))
          case Some((ca, cb)) => covered += cb - ca; cur = Some((a, b))
          case None => cur = Some((a, b))
        }
      }
      cur.foreach { case (ca, cb) => covered += cb - ca }
      span.ms - covered
    }
  }

  final case class Trace(spans: Seq[Span], jobs: Seq[Job]) {
    /** Each span with the jobs that started while it was open. */
    lazy val work: Seq[SpanWork] = {
      val js = jobs.sortBy(_.start).toIndexedSeq
      spans.map { s =>
        SpanWork(s, js.filter(j => j.start >= s.start && j.start < s.end))
      }
    }

    /** Spark work of each benchmark operation tagged `kind:<n>`. */
    def perOp(kind: String): Seq[OpWork] =
      work.filter(_.span.op.startsWith(kind + ":")).groupBy(_.span.op).values
        .map { ws =>
          val js = ws.flatMap(_.jobs)
          OpWork(ws.map(_.span.ms).sum, ws.map(_.driverMs).sum, js.size,
            js.map(_.tasks).sum, js.map(_.executorMs).sum,
            js.map(_.shuffleBytes).sum, js.map(_.spillBytes).sum,
            js.map(_.outputBytes).sum)
        }.toSeq

    /** Spark work per program module, over every traced job. */
    def byModule: Map[String, OpWork] =
      jobs.groupBy(_.module).map { case (m, js) =>
        m -> OpWork(js.map(j => j.end - j.start).sum, 0.0, js.size,
          js.map(_.tasks).sum, js.map(_.executorMs).sum,
          js.map(_.shuffleBytes).sum, js.map(_.spillBytes).sum,
          js.map(_.outputBytes).sum)
      }

    /** Share of `[start, end)` covered by spans. */
    def coverage(start: Double, end: Double): Double = {
      val covered = spans.map(s =>
        math.max(0.0, math.min(s.end, end) - math.max(s.start, start))).sum
      covered / (end - start)
    }
  }
}
