package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** 10× scale probe for the LLM-pipeline families (dedup / ANN / text).
  *
  * The driver benches at sf0.1; the 100 TB design claims (banded LSH
  * linearity, map-only text passes, bucket-ring ANN probes) deserve at
  * least one measured scale step. This main generates a deterministic
  * synthetic corpus with the SAME statistics as the driver's `documents` /
  * `embeddings` tables (small word-salad vocabulary, 5 langs, ~50-token
  * docs, 64-dim float embeddings, injected exact + near duplicates) at two
  * sizes — N and 10·N — runs the scale-path queries at both, and prints a
  * BENCH-style JSON line with per-query times and 10×/1× ratios.
  *
  * Deliberately EXCLUDED: the ladder's exact re-rank rungs, which are
  * documented as candidate-bounded, not corpus-scale operators —
  * `dedup_ngram_jaccard`/`dedup_clusters` (shingle-blocked candidate join:
  * a hot shingle inflates it quadratically; the scale path is the banded
  * MinHash rung), `dedup_embedding_cosine` (explicitly sample-bounded
  * all-pairs) and `text_fuzzy_sample` (bounded Levenshtein re-rank).
  *
  * Usage: `graft.ScaleProbe [baseN] [workDir]` (defaults 5000,
  * /tmp/graft_scaleprobe — ~the sf0.1 corpus size, so the 10× step lands
  * at sf1-equivalent).
  */
object ScaleProbe {

  private val vocab = Seq(
    "spark", "table", "query", "hash", "join", "scan", "filter", "group",
    "sort", "line", "column", "order", "value", "batch", "stream", "merge",
    "window", "agg", "key", "part", "customer", "vector", "fast", "slow",
    "big", "small", "the", "a", "index", "shuffle")

  /** Deterministic word-salad corpus mirroring the driver generator's
    * shape. Every 200th doc is a near-duplicate of its predecessor (one
    * token replaced ⇒ shingle jaccard ≈ 0.9), every 997th an exact copy —
    * cluster sizes stay bounded, so true near-dup pairs grow linearly
    * with N (the property the probe must not destroy: replicating a
    * corpus verbatim would add quadratic cross-copy pairs).
    */
  def writeDocuments(spark: SparkSession, dir: String, n: Long): Unit = {
    val vlit = array(vocab.map(lit): _*)
    def wordAt(seed: Column, i: Column): Column =
      element_at(vlit, (pmod(hash(seed, i), lit(vocab.size)) + 1).cast("int"))
    val nearDup = col("id") % 200 === 199
    val exactDup = col("id") % 997 === 996 && !nearDup
    val seed = when(nearDup || exactDup, col("id") - 1).otherwise(col("id"))
    val nTok = pmod(hash(seed, lit(-1)), lit(60)) + lit(20) // 20..79 tokens
    val toks = transform(sequence(lit(0), (nTok - 1).cast("int")),
      i => wordAt(seed, i))
    val mutated = when(nearDup,
      concat(slice(toks, lit(1), size(toks) - 1), array(lit("mutant"))))
      .otherwise(toks)
    val langs = array((Seq.fill(4)("en") ++ Seq("en", "de", "de", "zh", "es", "fr"))
      .map(lit): _*)
    spark.range(n).select(
      col("id").as("doc_id"),
      array_join(mutated, " ").as("text"),
      element_at(langs, (pmod(hash(col("id"), lit(3)), lit(10)) + 1).cast("int")).as("lang"),
      concat(lit("src"), pmod(hash(col("id"), lit(7)), lit(50))).as("source"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
  }

  /** 64-dim float embeddings, components uniform-ish in [-1, 1] from a
    * hash — same schema and magnitude as the driver table.
    */
  def writeEmbeddings(spark: SparkSession, dir: String, n: Long): Unit =
    spark.range(n).select(
      col("id").as("vec_id"),
      transform(sequence(lit(0), lit(63)),
        d => (pmod(hash(col("id"), d + 100), lit(2000001)) - 1000000)
          .cast("double") / 1000000.0)
        .cast("array<float>").as("embedding"),
      pmod(hash(col("id"), lit(5)), lit(16)).cast("int").as("label"))
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")

  /** Scale-path queries only (see the exclusion note in the object doc). */
  private val probeQueries = Vector(
    "dedup_exact", "dedup_minhash_lsh", "dedup_simhash", "dedup_incremental",
    "text_winnow_fingerprint", "text_tokens", "text_quality", "text_langid",
    "text_fingerprint", "text_tfidf_topk", "text_curation_pipeline",
    "text_sample_stratified", "text_sample_mixture", "text_ngram_topk",
    "text_repetition", "text_pack_shards", "text_decontaminate",
    "corpus_domain_report",
    "ann_cosine_topk", "ann_topk_by_label", "ann_lsh_histogram",
    "ann_lsh_topk", "ann_ivf_topk", "ann_pq_topk",
    "embedding_stats", "embedding_centroids",
    // r11 curation additions — screened so a superlinear regression in
    // any of them is caught by the cheap probe before a decade rung is
    "dedup_repeated_spans", "dedup_clip_repeated", "dedup_keep_best_minhash",
    "text_decontaminate_spans", "text_shuffle_pack", "embedding_minmax_scale")

  def main(args: Array[String]): Unit = {
    val baseN = args.headOption.map(_.toLong).getOrElse(5000L)
    val workDir = args.lift(1).getOrElse("/tmp/graft_scaleprobe")
    val spark = Graft.session(Graft.localMaster)
    spark.sparkContext.setLogLevel("WARN")

    val dirs = Seq(("x1", baseN), ("x10", baseN * 10)).map { case (tag, n) =>
      val dir = s"$workDir/$tag"
      writeDocuments(spark, dir, n)
      writeEmbeddings(spark, dir, math.max(n * 2 / 5, 100)) // 2000 per 5000 docs
      (tag, dir)
    }

    val times: Map[String, Map[String, Double]] = dirs.map { case (tag, dir) =>
      // warm-up untimed scan
      spark.read.parquet(s"$dir/documents.parquet").count()
      tag -> probeQueries.map { name =>
        val t0 = System.nanoTime()
        SparkEntry.queries(name)(spark, dir).count()
        val dt = (System.nanoTime() - t0) / 1e9
        spark.catalog.clearCache()
        Shared.releaseTransient(spark)
        name -> dt
      }.toMap
    }.toMap

    val tot1 = times("x1").values.sum
    val tot10 = times("x10").values.sum
    Graft.finish(spark, "scale_probe", Seq("unit" -> "sec", "baseN" -> baseN,
      "total_x1" -> Trace.fixed(tot1, 3), "total_x10" -> Trace.fixed(tot10, 3),
      "total_ratio" -> Trace.fixed(tot10 / tot1, 2),
      "queries" -> probeQueries.map { n =>
        val t1 = times("x1")(n); val t10 = times("x10")(n)
        n -> Seq("x1" -> Trace.fixed(t1, 3), "x10" -> Trace.fixed(t10, 3),
          "ratio" -> Trace.fixed(t10 / t1, 2))
      }))
  }
}
