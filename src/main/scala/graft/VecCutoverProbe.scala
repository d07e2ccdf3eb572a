package graft

import org.apache.spark.sql.functions._

/** Recall instrumentation for the vector-index generation cutover: how
  * much does retraining the frozen quantizers on the ACCUMULATED corpus
  * (generation 2) recover versus the first-drop-trained generation 1?
  *
  * Protocol: ingest the embeddings table as two ascending halves (gen-1
  * params freeze on the FIRST half — the maximal-drift setup), measure
  * recall@10 of the served ANN answer against exact brute-force cosine
  * over a fixture set of 24 deterministic query vectors, cut over to a
  * generation trained on the full corpus, re-measure the same queries.
  * Exact ranking uses the engine's own fixed-point cosine formula
  * (floor(x·2^20) components, (cos desc, id) order), so the exact sets
  * are bit-reproducible.
  *
  * Usage: SPARK_GRAFT_SF_DIR=<dir> java ... graft.VecCutoverProbe
  * Prints ONE JSON line (the committed-artifact convention).
  */
object VecCutoverProbe {
  private val Scale = 1048576L

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = Graft.session(Graft.localMaster)
    spark.sparkContext.setLogLevel("WARN")

    val vecs = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding"))
    val corpusFx = vecs.select(col("vec_id"),
        col("embedding").cast("array<double>").as("e"))
      .collect()
      .map(r => (r.getLong(0),
        r.getSeq[Double](1).toArray.map(x => math.floor(x * Scale).toLong)))
    val n = corpusFx.length

    def exactTop10(q: Array[Double]): Seq[Long] = {
      val qf = q.map(x => math.floor(x * Scale).toLong)
      val nq = math.sqrt(qf.map(x => x.toDouble * x).sum)
      corpusFx.map { case (id, v) =>
        val dot = v.zip(qf).map { case (a, b) => a * b }.sum.toDouble
        val nv = math.sqrt(v.map(x => x.toDouble * x).sum)
        (id, dot / (nv * nq))
      }.sortBy { case (id, c) => (-c, id) }.take(10).map(_._1).toSeq
    }

    val queries = (0 until 24).map(qi =>
      Array.tabulate(64)(i =>
        math.sin(0.13 * (qi + 1) + i * 0.37) *
          math.cos(0.07 * (qi + 1) * (i + 1))))
    val exact = queries.map(exactTop10)

    val indexDir = Shared.scratchDir("graft-cutover-probe")
    val fields = Shared.inScratch(indexDir) {
      val (_, tIngest) = Trace.timed("vec_cutover_probe", "ingest", -1L) {
        Shared.ascendingSplit(vecs, "vec_id", 2).chunks.zipWithIndex
          .foreach { case (half, i) =>
            operators.IncrementalVecIndex.ingest(spark, indexDir, half, i).count()
          }
      }
      def recallNow(): Double = {
        val hits = queries.zip(exact).map { case (q, ex) =>
          val got = operators.IncrementalVecIndex
            .searchTopk(spark, indexDir, sfDir, q)
            .collect().map(_.getLong(0)).toSet
          ex.count(got.contains).toDouble / 10.0
        }
        hits.sum / hits.length
      }
      val (recallG1, tServe1) = Trace.timed("vec_cutover_probe", "serve_gen1", -1L)(recallNow())
      val (_, tCutover) = Trace.timed("vec_cutover_probe", "cutover", -1L)(
        operators.IncrementalVecIndex.cutover(spark, indexDir, vecs))
      val (recallG2, tServe2) = Trace.timed("vec_cutover_probe", "serve_gen2", -1L)(recallNow())
      operators.IncrementalVecIndex.gcGenerations(spark, indexDir)
      Seq("sf_dir" -> sfDir, "vectors" -> n, "queries" -> queries.length,
        "recall10_gen1" -> recallG1, "recall10_gen2" -> recallG2,
        "recall10_gen2_post_gc" -> recallNow(),
        "ingest_sec" -> Trace.fixed(tIngest, 2), "cutover_sec" -> Trace.fixed(tCutover, 2),
        "serve24_gen1_sec" -> Trace.fixed(tServe1, 2),
        "serve24_gen2_sec" -> Trace.fixed(tServe2, 2))
    }
    Graft.finish(spark, "vec_cutover_recall", fields)
  }
}
