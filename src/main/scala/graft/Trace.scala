package graft

import java.io.FileOutputStream
import java.nio.charset.StandardCharsets.UTF_8

/** The in-program trace: every named phase of a store is a span — the
  * LSM commit's `segment_write` and `manifest_commit`, the near-dup
  * ingest's `occupancy_guard` and `edges_ck`, the vector ingest's
  * `encode_write`, and the rest. `SPARK_GRAFT_TRACE=<file>` turns tracing
  * on: each span then appends one JSON line to that file,
  *
  * {{{
  * {"store":"lsm","phase":"gc","batch":3,"start_ms":1760857200123,"ms":4.182,"thread":"main"}
  * }}}
  *
  * plus the span's own fields, if it has any (`occupancy_guard` adds
  * `max_occ`, `cap` and `can_saturate`). `batch` is the micro-batch or
  * drop the span belongs to (−1 for a probe step outside any), `start_ms`
  * the wall clock at span start in epoch ms, `ms` the span's wall time.
  * A span whose body throws writes no line.
  *
  * Each line is one synchronized write to an unbuffered append-mode
  * stream, so concurrent spans (kb ∥ vec ingests, the LSM commit's audit
  * and stats futures) never interleave, and a run relaunched after a
  * crash extends the same file. With the switch unset, `span` is one
  * volatile read and then its body.
  */
object Trace {
  type Fields = Seq[(String, Any)]

  @volatile private var out: FileOutputStream =
    sys.env.get("SPARK_GRAFT_TRACE").filter(_.nonEmpty).map(open).orNull

  private def open(path: String) = new FileOutputStream(path, true)

  private val noFields: Any => Fields = _ => Nil

  def span[T](store: String, phase: String, batch: Long)(f: => T): T =
    span[T](store, phase, batch, noFields)(f)

  /** A span whose line also carries `fields` of its result. */
  def span[T](store: String, phase: String, batch: Long,
              fields: T => Fields)(f: => T): T =
    if (out eq null) f else measure(store, phase, batch, fields, f)._1

  /** A span that also hands back its wall time in seconds, traced or not. */
  def timed[T](store: String, phase: String, batch: Long)(f: => T): (T, Double) =
    measure(store, phase, batch, noFields, f)

  private def measure[T](store: String, phase: String, batch: Long,
                         fields: T => Fields, f: => T): (T, Double) = {
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val r = f
    val ms = (System.nanoTime() - t0) / 1e6
    if (out ne null) {
      val members = Seq("store" -> store, "phase" -> phase, "batch" -> batch,
        "start_ms" -> startMs, "ms" -> math.round(ms * 1000) / 1000.0,
        "thread" -> Thread.currentThread().getName) ++ fields(r)
      val line = members.map { case (k, v) => s"${json(k)}:${json(v)}" }
        .mkString("{", ",", "}\n").getBytes(UTF_8)
      synchronized { val o = out; if (o ne null) o.write(line) }
    }
    (r, ms / 1e3)
  }

  private def json(v: Any): String = v match {
    case _: Int | _: Long | _: Double | _: Boolean => v.toString
    case other =>
      val b = new StringBuilder("\"")
      other.toString.foreach {
        case '"' => b ++= "\\\""
        case '\\' => b ++= "\\\\"
        case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
        case c => b += c
      }
      b.append('"').toString
  }

  /** Routes every span to `path` while `f` runs, then restores the sink
    * the environment chose.
    */
  private[graft] def withSink[T](path: String)(f: => T): T = {
    val prev = synchronized { val p = out; out = open(path); p }
    try f
    finally synchronized { out.close(); out = prev }
  }
}
