package graft.perfbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.TextFns
import graft.operators.{IncrementalDedup, IncrementalKeepBest, IncrementalNearDup,
  IncrementalVecIndex}

/** Seeded document drops. Pure, so `SelfTest` pins it. */
object DocGen {

  /** `drops(d)` holds `(doc_id, text)` with ids ascending across drops (the
    * incremental stores' contract). A doc is an exact copy of an earlier
    * one with probability 0.06, a one-token edit of an earlier one with
    * probability 0.06, else fresh text of 30–80 words over a seeded
    * vocabulary.
    */
  def generate(seed: Long, nDrops: Int, perDrop: Int): Vector[Vector[(Long, String)]] = {
    val rnd = new java.util.SplittableRandom(seed)
    val vocab = Vector.fill(4000) {
      val n = 3 + rnd.nextInt(6)
      (0 until n).map(_ => ('a' + rnd.nextInt(26)).toChar).mkString
    }
    def words(n: Int) = Vector.fill(n)(vocab(rnd.nextInt(vocab.size)))
    val texts = scala.collection.mutable.ArrayBuffer.empty[Vector[String]]
    (0 until nDrops).map { d =>
      (0 until perDrop).map { i =>
        val id = d.toLong * perDrop + i
        val r = rnd.nextInt(100)
        val toks =
          if (texts.nonEmpty && r < 6) texts(rnd.nextInt(texts.size))
          else if (texts.nonEmpty && r < 12) {
            val src = texts(rnd.nextInt(texts.size))
            src.updated(rnd.nextInt(src.size), vocab(rnd.nextInt(vocab.size)))
          } else words(30 + rnd.nextInt(51))
        texts += toks
        (id, toks.mkString(" "))
      }.toVector
    }.toVector
  }
}

/** Workload `curation_ingest`: the incremental curation stores and the
  * ANN serve path, which the replica workload never touches. Seeded drops
  * are staged before timing. Set-up ingests drop 0 into fresh stores (the
  * first-drop path, which trains the vector index); the timed region then
  * ingests each further drop into the same stores, in `PipelineSoak`'s
  * order — `IncrementalDedup.ingest` → `IncrementalNearDup.ingestWithEdges`
  * → `IncrementalKeepBest.ingest` (overlay, fed the verified edges) and
  * `IncrementalVecIndex.ingest` — and after each drop serves a fixed pair
  * of `IncrementalVecIndex.searchTopk` queries. Every step is synchronous,
  * with no cutover and no takedown, so drop `d` does the same work in
  * every run of a seed and its counts repeat exactly.
  */
object CurationIngest {
  /** Drops timed after the set-up drop 0; each holds `PerDrop` docs. */
  val TimedDrops = 3
  val PerDrop = 100
  val ServesPerDrop = 2
  /** Buckets of the exact, near-dup and keep-best stores, sized to a
    * run's few hundred docs as the replica's are to its keys. A drop's
    * cost grows with the bucket count: on four cores a drop of 100–120
    * docs took about 17 s with the stores' default of 64 buckets, 12 s
    * with 8 and 9 s with 2. Keep-best reserves one bucket for forwarding
    * rows, so 4 leaves it three for data.
    */
  val StoreBuckets = 4

  /** Seeded per-doc embedding: 64 components in [-1, 1]. */
  private def embedding(seed: Long, docId: org.apache.spark.sql.Column) =
    transform(sequence(lit(0), lit(63)), i =>
      ((pmod(xxhash64(lit(seed), docId, i), lit(2000001L)) - lit(1000000L)) /
        lit(1000000.0)).cast("float"))

  /** Stage the drops as JSON lines and the embedding corpus the serves
    * re-rank against as parquet (the layout `searchTopk` reads).
    */
  private def stage(ctx: Main.Ctx, dir: String, drops: Vector[Vector[(Long, String)]]): Unit = {
    drops.zipWithIndex.foreach { case (docs, d) =>
      val lines = docs.map { case (id, text) => Json.encode(Map("doc_id" -> id, "text" -> text)) }
      Files.write(Paths.get(dropPath(dir, d)), (lines.mkString("\n") + "\n").getBytes("UTF-8"))
    }
    ctx.spark.range(0, drops.map(_.length.toLong).sum).coalesce(1)
      .select(col("id").as("vec_id"), embedding(ctx.seed, col("id")).as("embedding"),
        lit(0).as("label"))
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
  }

  private def dropPath(dir: String, d: Int): String = f"$dir/drop$d%02d.json"

  private def readDrops(ctx: Main.Ctx, dir: String, ds: Seq[Int]): DataFrame =
    ctx.spark.read.schema("doc_id LONG, text STRING").json(ds.map(dropPath(dir, _)): _*)

  final case class DropObs(drop: Int, dropMs: Double, dedupMs: Double, ndMs: Double,
                           kbMs: Double, vecMs: Double, survivors: Seq[Long],
                           admitted: Seq[Long], kbRows: Long, vecRows: Long)

  /** The four stores one run ingests into. */
  final case class Stores(exact: String, nd: String, kb: String, vec: String) {
    def all: Seq[String] = Seq(exact, nd, kb, vec)
  }

  /** Ingest staged drop `d` into every store, as `PipelineSoak` does but
    * with every step synchronous: the near-dup input (the exact store's
    * survivors) and its MinHash band rows are built once and persisted for
    * the near-dup, keep-best and vector stages. Each store's answer is
    * read back inside its span, since the drop is visible once every
    * answer is.
    */
  private def ingest(ctx: Main.Ctx, in: String, st: Stores, d: Int): DropObs = {
    val spark = ctx.spark
    val op = s"write:drop$d"
    val t0 = ctx.now
    val docs = readDrops(ctx, in, Seq(d))
    val ((exact, survivors), dedupMs) = ctx.timed("IncrementalDedup.ingest", op) {
      val s = IncrementalDedup.ingest(spark, st.exact, docs, d, StoreBuckets).select(col("doc_id"))
      (s, s.collect().map(_.getLong(0)).toSeq)
    }
    val ndInput = docs.join(exact, "doc_id").persist()
    val (bands, bandsMs) = ctx.timed("IncrementalNearDup.bandRowsOf", op) {
      val b = IncrementalNearDup.bandRowsOf(ndInput).persist()
      b.count()
      b
    }
    try {
      val ((admittedDf, admitted, edges), ndMs) =
        ctx.timed("IncrementalNearDup.ingestWithEdges", op) {
          val (a, seen, batch) = IncrementalNearDup.ingestWithEdges(spark, st.nd, ndInput, d,
            StoreBuckets, bandsIn = Some(bands))
          (a, a.collect().map(_.getLong(0)).toSeq, (seen, batch))
        }
      val (kbRows, kbMs) = ctx.timed("IncrementalKeepBest.ingest", op)(
        IncrementalKeepBest.ingest(spark, st.kb, ndInput, d, StoreBuckets,
          edgesIn = Some(edges)).count())
      val vecs = admittedDf.withColumnRenamed("doc_id", "vec_id")
        .join(spark.read.parquet(s"$in/embeddings.parquet").select("vec_id", "embedding"), "vec_id")
      val (vecRows, vecMs) = ctx.timed("IncrementalVecIndex.ingest", op)(
        IncrementalVecIndex.ingest(spark, st.vec, vecs, d).count())
      DropObs(d, ctx.now - t0, dedupMs, bandsMs + ndMs, kbMs, vecMs, survivors.sorted,
        admitted.sorted, kbRows, vecRows)
    } finally {
      bands.unpersist()
      ndInput.unpersist()
    }
  }

  private def serve(ctx: Main.Ctx, in: String, st: Stores, tag: String,
                    queries: Seq[Array[Double]]): Seq[(Seq[(Long, Double)], Double)] =
    queries.zipWithIndex.map { case (q, i) =>
      ctx.timed("IncrementalVecIndex.searchTopk", s"read:$tag/$i")(
        IncrementalVecIndex.searchTopk(ctx.spark, st.vec, in, q).collect()
          .map(r => (r.getLong(0), r.getDouble(1))).toSeq)
    }

  private def maxSegments(ctx: Main.Ctx, st: Stores): Int = st.all.map { d =>
    val m = graft.streaming.BucketState.readManifest(ctx.spark, d)
    if (m.buckets.isEmpty) 0 else m.buckets.values.map(_.size).max
  }.max

  /** The exact store's answer in one shot: min `doc_id` per fingerprint
    * (the `Dedup` operator's definition).
    */
  private def oneShotSurvivors(docs: DataFrame): DataFrame =
    docs.groupBy(TextFns.fingerprint(col("text"))).agg(min(col("doc_id")).as("doc_id"))
      .select("doc_id")

  /** The near-dup store's answer in one shot, by its first-wins contract:
    * a doc is admitted iff no smaller doc shares a band bucket with it at
    * est-Jaccard ≥ 0.5. A run's corpus is far below the store's
    * saturation cap, so neither the cap nor its rescue applies.
    */
  private def oneShotAdmitted(docs: DataFrame): DataFrame = {
    val bands = IncrementalNearDup.bandRowsOf(docs)
    val a = bands.select(col("band"), col("bh"), col("doc_id").as("a"), col("sig").as("sa"))
    val b = bands.select(col("band"), col("bh"), col("doc_id").as("b"), col("sig").as("sb"))
    val rejected = a.join(b, Seq("band", "bh"))
      .filter(col("a") < col("b") && IncrementalNearDup.nearDup(col("sa"), col("sb")))
      .select(col("b").as("doc_id")).distinct()
    docs.select("doc_id").join(rejected, Seq("doc_id"), "left_anti")
  }

  def run(ctx: Main.Ctx, sessionMs: Double): Main.Outcome = {
    val spark = ctx.spark
    val nDrops = 1 + TimedDrops
    // serve queries: the embeddings of seeded doc ids
    val qrnd = new java.util.SplittableRandom(ctx.seed ^ 0x5eedL)
    val qids = Seq.fill(ServesPerDrop)(qrnd.nextLong(nDrops.toLong * PerDrop))

    // set-up: inputs staged afresh per pass, then drop 0 and one serve
    // into the stores the timed drops continue (JIT, codegen, training)
    val stageMs = (0 until Main.StagePasses).map { p =>
      val t = ctx.now
      stage(ctx, ctx.dir(s"in$p"), DocGen.generate(ctx.seed, nDrops, PerDrop))
      ctx.now - t
    }
    val in = ctx.work.resolve(s"in${Main.StagePasses - 1}").toString
    val st = Stores(ctx.dir("exact"), ctx.dir("nd"), ctx.dir("kb"), ctx.dir("vec"))
    val queries = queriesOf(ctx, in, qids)
    val (d0, warmupMs) = {
      val t = ctx.now
      val d0 = ingest(ctx, in, st, 0)
      serve(ctx, in, st, "setup", queries.take(1))
      (d0, ctx.now - t)
    }
    val traceStart = ctx.tracer.map(_.nowMs)

    // timed region: each drop, then its serves
    val t0 = ctx.now
    val timed = (1 to TimedDrops).map(d =>
      (ingest(ctx, in, st, d), serve(ctx, in, st, s"drop$d", queries)))
    val wallMs = ctx.now - t0
    val traceEnd = ctx.tracer.map(_.nowMs)
    val segmentsMax = maxSegments(ctx, st)

    // checks, per drop: the exact and near-dup stores' answers equal the
    // one-shot answers over every staged doc (ids ascend across drops, so
    // a drop's share is its id range); the keep-best overlay takes one
    // row per exact survivor and the vector index one per admitted doc;
    // every serve returns ten ids admitted so far
    val tc = ctx.now
    val all = readDrops(ctx, in, 0 until nDrops)
    val exactIds = oneShotSurvivors(all)
    val expSurvivors = exactIds.collect().map(_.getLong(0)).sorted.toSeq
    val expAdmitted = oneShotAdmitted(all.join(exactIds, "doc_id"))
      .collect().map(_.getLong(0)).sorted.toSeq
    def inDrop(ids: Seq[Long], d: Int) = ids.filter(_ / PerDrop == d)
    var attempted = 0L
    var failed = 0L
    val drops = d0 +: timed.map(_._1)
    drops.foreach { o =>
      attempted += 1
      if (o.survivors != inDrop(expSurvivors, o.drop) || o.admitted != inDrop(expAdmitted, o.drop) ||
          o.kbRows != o.survivors.length || o.vecRows != o.admitted.length) failed += 1
    }
    timed.foreach { case (o, served) =>
      val admitted = expAdmitted.takeWhile(_ / PerDrop <= o.drop).toSet
      attempted += served.length
      failed += served.count { case (top, _) => top.length != 10 || !top.forall(x => admitted(x._1)) }
    }

    val checkMs = ctx.now - tc
    val timedDrops = timed.map(_._1)
    val docs = TimedDrops.toLong * PerDrop
    val survivors = timedDrops.map(_.survivors.length).sum
    val admittedN = timedDrops.map(_.admitted.length).sum
    val serveMs = timed.flatMap(_._2.map(_._2))
    val canaries = Map(
      "drops" -> drops.length,
      "per_drop" -> drops.map(d => Map("drop" -> d.drop, "docs" -> PerDrop,
        "survivors" -> d.survivors.length, "admitted" -> d.admitted.length,
        "kb_rows" -> d.kbRows, "vec_rows" -> d.vecRows)),
      "one_shot_survivors" -> expSurvivors.length,
      "one_shot_admitted" -> expAdmitted.length,
      "serve_answer_hash" -> timed.map(_._2.map(_._1)).hashCode,
      "segments_max" -> segmentsMax)
    val endToEnd = Map(
      "setup_s" -> (Main.setupSeconds(sessionMs, warmupMs, stageMs), "s"),
      "throughput_per_s" -> (docs / (wallMs / 1000.0), "1/s"),
      "latency_p50_ms" -> (Stats.median(timedDrops.map(_.dropMs)), "ms"),
      "read_p50_ms" -> (Stats.median(serveMs), "ms"))
    val layers = Map[String, Any](
      "IncrementalDedup.ingest_ms" -> Stats.median(timedDrops.map(_.dedupMs)),
      "IncrementalNearDup.ingest_ms" -> Stats.median(timedDrops.map(_.ndMs)),
      "IncrementalKeepBest.ingest_ms" -> Stats.median(timedDrops.map(_.kbMs)),
      "IncrementalVecIndex.ingest_ms" -> Stats.median(timedDrops.map(_.vecMs)),
      "IncrementalVecIndex.search_ms" -> Stats.median(serveMs),
      "IncrementalDedup.survive_ratio" -> survivors.toDouble / docs,
      "IncrementalNearDup.admit_ratio" -> admittedN.toDouble / survivors)
    val (perLayer, traceSidecar) = ctx.tracer.fold(
      (Map.empty[String, (Double, String)], Map.empty[String, Any])) { t =>
      Layers.summarize(t.finish(), traceStart.get, traceEnd.get, ctx.cpus,
        docs.toDouble, "doc", segmentsMax)
    }
    Main.Outcome(attempted, failed, endToEnd, perLayer,
      Map("workload" -> Map("timed_drops" -> TimedDrops, "docs_per_drop" -> PerDrop,
          "serves_per_drop" -> ServesPerDrop, "timed_ms" -> wallMs, "check_ms" -> checkMs,
          "session_ms" -> sessionMs, "warmup_ms" -> warmupMs, "stage_ms" -> stageMs),
        "canaries" -> canaries, "layers" -> layers,
        "samples" -> Map("drop_ms" -> timedDrops.map(_.dropMs), "serve_ms" -> serveMs)) ++
        traceSidecar)
  }

  private def queriesOf(ctx: Main.Ctx, in: String, ids: Seq[Long]): Seq[Array[Double]] = {
    val byId = ctx.spark.read.parquet(s"$in/embeddings.parquet")
      .filter(col("vec_id").isin(ids: _*))
      .collect().map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray).toMap
    ids.map(byId)
  }
}
