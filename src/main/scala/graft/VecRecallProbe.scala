package graft

import org.apache.spark.sql.functions._

/** Recall-vs-probe-width OPERATING-POINT curve for the incremental
  * IVF-PQ index at a real serving rung — the measurement the 2k-fixture
  * cutover probe ([[VecCutoverProbe]]) cannot give: a serving index
  * needs its recall quantified against exact brute-force AT SCALE, per
  * probe width, for both the first-drop-trained generation and the
  * post-cutover one, so the deployment can pick (and document) an
  * operating point instead of shipping the default blind.
  *
  * Protocol: ingest the embeddings table as two ascending halves (gen-1
  * params freeze on the FIRST half — maximal drift), measure recall@10
  * of [[operators.IncrementalVecIndex.searchTopk]] against the exact
  * fixed-point brute-force answer ([[operators.Similarity
  * .bruteTopkForVec]] — the engine's own cosine and tie-break, so
  * ground truth is bit-reproducible) over 24 deterministic fixture
  * queries; cut over to a generation trained on the full corpus WITH
  * CORPUS-SCALED nlist ([[operators.IncrementalVecIndex.cellsFor]] —
  * √N cells) and re-measure. The two generations have different cell
  * counts, so the comparable axis is the probe FRACTION: each grid
  * point probes the same fraction of each generation's cells
  * (gen-1 nProbe = frac·16, gen-2 nProbe = frac·cells₂), i.e. the same
  * share of the stored code rows. Fraction 1 probes every cell, so its
  * residual miss isolates the PQ-quantization + rerank-cut error from
  * the cell-routing error the smaller fractions add.
  *
  * Serve times are the MEDIAN OF 3 full passes per grid point
  * (`SPARK_GRAFT_BENCH_RUNS`, as for the bench; the bench-artifact discipline — the r16 single-run times carried 3-5×
  * box-noise swings); recall is asserted identical across the passes
  * (it is deterministic by construction).
  *
  * Usage: SPARK_GRAFT_SF_DIR=<dir with embeddings.parquet> java ...
  * graft.VecRecallProbe. Prints ONE JSON line (the committed-artifact
  * convention).
  */
object VecRecallProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val runs = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "3").toInt
    val spark = Graft.session(Graft.localMaster)
    spark.sparkContext.setLogLevel("WARN")

    val vecs = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding"))
    val n = vecs.count()
    // probe fractions of each generation's cell count (both gens probe
    // the same SHARE of their code rows at each grid point)
    val fractions = Seq(16, 8, 4, 2, 1) // denominators: 1/16 .. 1/1
    // the cutover probe's fixture family — deterministic, off-corpus
    val queries = (0 until 24).map(qi =>
      Array.tabulate(64)(i =>
        math.sin(0.13 * (qi + 1) + i * 0.37) *
          math.cos(0.07 * (qi + 1) * (i + 1))))
    def median(xs: Seq[Double]): Double = xs.sorted.apply(xs.length / 2)
    // exact ground truth: one distributed brute-force pass per query
    val (exact, tExact) = Trace.timed("vec_recall_probe", "exact", -1L)(queries.map(q =>
      operators.Similarity.bruteTopkForVec(spark, sfDir, q)
        .collect().map(_.getLong(0)).toSeq))

    val indexDir = Shared.scratchDir("graft-recall-probe")
    val fields = Shared.inScratch(indexDir) {
      val (_, tIngest) = Trace.timed("vec_recall_probe", "ingest", -1L) {
        Shared.ascendingSplit(vecs, "vec_id", 2).chunks.zipWithIndex
          .foreach { case (half, i) =>
            operators.IncrementalVecIndex.ingest(spark, indexDir, half, i).count()
          }
      }
      // one pass over the 24 queries at (nProbe, rerank): recall@10 + sec
      def passAt(np: Int, rr: Int): (Double, Double) = {
        val (r, tServe) = Trace.timed("vec_recall_probe", "serve", -1L) {
          val perQ = queries.zip(exact).map { case (q, ex) =>
            val got = operators.IncrementalVecIndex
              .searchTopk(spark, indexDir, sfDir, q, nProbe = np, rerank = rr)
              .collect().map(_.getLong(0)).toSet
            ex.count(got.contains).toDouble / 10.0
          }
          perQ.sum / perQ.length
        }
        (r, tServe)
      }
      // median-of-`runs` serve time; recall asserted stable across runs
      def curveAt(np: Int, rr: Int): (Double, Double) = {
        val passes = (0 until runs).map(_ => passAt(np, rr))
        require(passes.map(_._1).distinct.size == 1,
          s"recall must be deterministic across passes at nProbe=$np rerank=$rr; " +
            s"got ${passes.map(_._1)}")
        (passes.head._1, median(passes.map(_._2)))
      }
      def cellsNow(): Int =
        operators.IncrementalVecIndex.readParams(spark, indexDir).centroids.length
      def curve(): Seq[(Int, Double, Double)] = {
        val cells = cellsNow()
        fractions.map { den =>
          val np = math.max(1, cells / den)
          val (r, t) = curveAt(np, operators.Similarity.PqRerank)
          (np, r, t)
        }
      }
      val gen1Cells = cellsNow()
      val (g1, tG1) = Trace.timed("vec_recall_probe", "gen1_curve", -1L)(curve())
      // the SECOND recall/latency axis at the documented operating width
      // (fraction 1/2 of gen-1 = nProbe 8): widen the ADC→exact re-rank
      // cut — isolates how much of the residual miss is the candidate cut
      // vs PQ quantization
      val reranks = Seq(100, 400, 1600)
      val rrCurve = reranks.map { rr =>
        val (r, t) = curveAt(gen1Cells / 2, rr); (rr, r, t)
      }
      val (_, tCutover) = Trace.timed("vec_recall_probe", "cutover", -1L)(
        operators.IncrementalVecIndex.cutover(spark, indexDir, vecs))
      operators.IncrementalVecIndex.gcGenerations(spark, indexDir)
      val gen2Cells = cellsNow()
      val (g2, tG2) = Trace.timed("vec_recall_probe", "gen2_curve", -1L)(curve())

      // one member per grid point, keyed by its nProbe (or rerank)
      def at(c: Seq[(Int, Double, Double)], digits: Int,
             f: ((Int, Double, Double)) => Double) =
        c.map(t => t._1.toString -> Trace.fixed(f(t), digits))
      Seq("sf_dir" -> sfDir, "vectors" -> n,
        "queries" -> queries.length, "runs" -> runs,
        "fractions" -> fractions.map(d => s"1/$d"),
        "gen1_cells" -> gen1Cells, "gen2_cells" -> gen2Cells,
        "recall10_gen1" -> at(g1, 4, _._2), "recall10_gen2" -> at(g2, 4, _._2),
        s"recall10_gen1_rerank_np${gen1Cells / 2}" -> at(rrCurve, 4, _._2),
        s"serve24_rerank_np${gen1Cells / 2}_sec" -> at(rrCurve, 1, _._3),
        "serve24_gen1_sec" -> at(g1, 1, _._3), "serve24_gen2_sec" -> at(g2, 1, _._3),
        "exact_sec" -> Trace.fixed(tExact, 1), "ingest_sec" -> Trace.fixed(tIngest, 1),
        "cutover_sec" -> Trace.fixed(tCutover, 1),
        "grid_gen1_sec" -> Trace.fixed(tG1, 1), "grid_gen2_sec" -> Trace.fixed(tG2, 1))
    }
    Graft.finish(spark, "vec_recall_curve", fields)
  }
}
