package graft.perfbench

/** Tests of the benchmark's own pure helpers: the median, the seeded
  * generators, the segment schedule, the replica-vs-model diff and the
  * trace arithmetic. No Spark session.
  * Run with `python3 perfbench/run.py --selftest`; exit code 1 on failure.
  */
object SelfTest {
  private var failures = 0

  private def check(name: String)(ok: => Boolean): Unit = {
    val passed = try ok catch { case e: Throwable => println(s"  $name threw $e"); false }
    println(s"${if (passed) "ok  " else "FAIL"} $name")
    if (!passed) failures += 1
  }

  def main(args: Array[String]): Unit = {
    check("median: odd and even counts") {
      Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0 && Stats.median(Seq(4.0, 1.0, 2.0, 3.0)) == 2.5
    }

    val a = CdcGen.generate(7L, 6, 500, 1000, 16)
    check("cdc generator: same seed, same envelopes and model") {
      a == CdcGen.generate(7L, 6, 500, 1000, 16)
    }
    check("cdc generator: another seed, other envelopes") {
      a.batches != CdcGen.generate(8L, 6, 500, 1000, 16).batches
    }
    check("cdc generator: model tracks live rows and sums") {
      a.live.last == ((a.finalRows.size.toLong, a.finalRows.values.map(_.toLong).sum)) &&
        a.batches.forall(_.length == 500)
    }
    check("cdc generator: positions ascend across batches") {
      val pos = a.batches.flatten.map(l => "\"pos\":(\\d+)".r.findFirstMatchIn(l).get.group(1).toLong)
      pos == (1L to pos.length.toLong)
    }
    check("segment schedule: every bucket touched trips at the bound, then refills") {
      val all = Vector.fill(10)((0 until 16).toSet)
      CdcGen.segmentSchedule(all, 8) ==
        ((1 to 8).map(i => (i, i == 8)) ++ Seq((2, false), (3, false))).toVector
    }
    check("segment schedule: an untouched bucket does not grow") {
      CdcGen.segmentSchedule(Vector(Set(0, 1), Set(0), Set(0)), 3) ==
        Vector((1, false), (2, false), (3, true))
    }

    val model = Map(1 -> 10, 2 -> 20, 3 -> 30)
    check("diff: equal replica") {
      CdcGen.diff(model, Seq((1L, 10L), (2L, 20L), (3L, 30L))) == ((0, 0, 0))
    }
    check("diff: missing, extra and wrong rows") {
      CdcGen.diff(model, Seq((1L, 11L), (2L, 20L), (4L, 40L))) == ((1, 1, 1))
    }
    check("diff: a duplicated key counts as extra") {
      CdcGen.diff(model, Seq((1L, 10L), (1L, 10L), (2L, 20L), (3L, 30L))) == ((0, 1, 0))
    }

    val d = DocGen.generate(3L, 3, 200)
    check("doc generator: same seed, same drops; another seed, other drops") {
      d == DocGen.generate(3L, 3, 200) && d != DocGen.generate(4L, 3, 200)
    }
    check("doc generator: ids ascend across drops and the corpus holds duplicates") {
      val all = d.flatten
      all.map(_._1) == (0L until 600L) && all.map(_._2).distinct.length < all.length
    }

    check("module of a call site: innermost program frame outside the benchmark") {
      val site = "org.apache.spark.sql.Dataset.collect(Dataset.scala:1)\n" +
        "graft.streaming.CdcStream$.$anonfun$applyLsmBatch$7(CdcStream.scala:1040)\n" +
        "graft.perfbench.CdcReplica$.replay(CdcReplica.scala:190)"
      Tracer.moduleOf(site) == "graft.streaming.CdcStream.applyLsmBatch" &&
        Tracer.moduleOf("graft.perfbench.X$.y(X.scala:1)") == "graft.perfbench" &&
        Tracer.moduleOf("java.lang.Thread.run(Thread.java:1)") == "(no graft frame)"
    }
    check("driver time: span wall minus the union of its jobs") {
      val span = Tracer.Span("s", "write:0", 0.0, 100.0)
      def job(s: Double, e: Double) = Tracer.Job(0, s, e, "m", 1, 0L, 0L, 0L, 0L)
      Tracer.SpanWork(span, Seq(job(10, 30), job(20, 40), job(60, 70), job(95, 130)))
        .driverMs == 100.0 - 30 - 10 - 5
    }

    if (failures > 0) {
      println(s"$failures check(s) failed")
      sys.exit(1)
    }
    println("all checks passed")
  }
}
