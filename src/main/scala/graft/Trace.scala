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
  *
  * Its encoder ([[json]]) is the program's one JSON writer: the result
  * line every main prints ([[result]]) and `graft.Verify`'s
  * `oracle_sql.json` go through it too.
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
      val line = json(Seq("store" -> store, "phase" -> phase, "batch" -> batch,
        "start_ms" -> startMs, "ms" -> math.round(ms * 1000) / 1000.0,
        "thread" -> Thread.currentThread().getName) ++ fields(r)) + "\n"
      synchronized { val o = out; if (o ne null) o.write(line.getBytes(UTF_8)) }
    }
    (r, ms / 1e3)
  }

  /** The one JSON encoder of the program. Numbers and booleans are
    * written as themselves: a `BigDecimal` in plain notation (see
    * [[fixed]]) and a non-finite `Double` as `null`. `None` is `null` and
    * `Some(x)` is `x`. A `Map`, or a non-empty `Seq` of `(String, _)`
    * pairs (a [[Fields]]), is an object in its iteration order; any other
    * `Seq` or `Array` is an array; anything else is an escaped string.
    */
  private[graft] def json(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => json(x)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case _: Int | _: Long | _: Boolean => v.toString
    case b: BigDecimal => b.bigDecimal.toPlainString
    case a: Array[_] => json(a.toSeq)
    case m: collection.Map[_, _] => obj(m)
    case s: Iterable[_] if s.nonEmpty && s.forall {
        case (_: String, _) => true
        case _ => false
      } => obj(s)
    case s: Iterable[_] => s.map(json).mkString("[", ",", "]")
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

  private def obj(fields: Iterable[_]): String =
    fields.map { case (k, x) => s"${json(k)}:${json(x)}" }.mkString("{", ",", "}")

  /** `x` rounded half-up to `digits` decimals, written by [[json]] with
    * exactly those digits (`%.3f`'s text, whatever the JVM's locale);
    * `None` (`null`) when `x` is not finite.
    */
  def fixed(x: Double, digits: Int): Option[BigDecimal] =
    if (x.isNaN || x.isInfinite) None
    else Some(BigDecimal(x).setScale(digits, BigDecimal.RoundingMode.HALF_UP))

  /** Prints a main's result as its last stdout line: one JSON object,
    * `metric` first, then `fields` in order.
    */
  def result(metric: String, fields: Fields): Unit =
    println(json(("metric" -> metric) +: fields))

  /** Routes every span to `path` while `f` runs, then restores the sink
    * the environment chose.
    */
  private[graft] def withSink[T](path: String)(f: => T): T = {
    val prev = synchronized { val p = out; out = open(path); p }
    try f
    finally synchronized { out.close(); out = prev }
  }
}
