package graft.operators

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Plan-shape regression tests: the scale properties argued in the
  * Scaladocs are asserted against the actual physical plans, so a future
  * refactor that silently de-optimizes (drops a broadcast, loses pushdown,
  * turns top-k into a full sort, re-correlates a subquery) fails loudly.
  */
class PlanRegressionSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = TestSpark.sf0001

  private def plan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("q5: every dimension join broadcasts; no sort-merge join") {
    val p = plan(Relational.q5LocalSupplierVolume(spark, sf))
    assert(p.split("BroadcastHashJoin").length - 1 >= 5, p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("q1: date filter and column pruning reach the parquet scan") {
    val p = plan(Relational.q1PricingSummary(spark, sf))
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"), p)
    assert(p.contains("ReadSchema: struct<l_quantity:double"), p)
    assert(!p.contains("l_orderkey"), "scan reads columns the query never uses")
  }

  test("top-k compiles to TakeOrderedAndProject, not a global sort") {
    val p = plan(Relational.qTopkOrders(spark, sf))
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("correlated subquery decorrelates (no per-row subquery nodes)") {
    val p = plan(Relational.qSqlCorrSubquery(spark, sf))
    assert(!p.contains("Subquery"), p)
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin"), p)
  }

  test("CDC snapshot: single keyed aggregate with map-side partials") {
    val log = graft.cdc.Changelog.synthetic(spark, sf)
    val p = plan(graft.cdc.CdcApply.snapshot(log))
    assert(p.contains("partial_max_by") || p.contains("partial_"),
      s"no map-side partial aggregation in:\n$p")
    // truncate horizon must be a broadcast, never a collected literal
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"), p)
  }

  test("LSM snapshot: one parquet scan over every segment, partial max_by before the key shuffle") {
    import graft.streaming.{BucketState, CdcStream}
    def env(pos: Long, key: Int) =
      s"""{"payload":{"before":null,"after":{"order_id":$key,"invoice_number":$pos},"source":{"ts_ms":$pos,"pos":$pos,"db":"dev","table":"invoice"},"op":"c","ts_ms":$pos}}"""
    val trunc =
      """{"payload":{"before":null,"after":null,"source":{"ts_ms":25,"pos":25},"op":"t","ts_ms":25}}"""
    val state = java.nio.file.Files.createTempDirectory("graft-plan-lsm").toString
    def append(batchId: Long, lines: Seq[String]): Unit =
      CdcStream.applyLsmBatch(graft.cdc.Changelog.fromEnvelopeJson(
          spark.createDataset(lines)(org.apache.spark.sql.Encoders.STRING).toDF("value")),
        batchId, s"$state-audit", state, 4, graft.cdc.CdcSchema.invoiceSpec)
    def fileScans(p: String) =
      p.split("\n").filter(_.contains("FileScan parquet")).toSeq
    (0 until 3).foreach(b => append(b, (1 to 12).map(k => env(b * 10L + k, k))))
    assert(BucketState.readManifest(spark, state).buckets.values.forall(_.size == 3))

    val p = plan(CdcStream.partitionedSnapshotLsm(spark, state))
    assert(fileScans(p).size === 1, s"expected one scan over all segments:\n$p")
    assert(!p.contains("Union"), s"per-version scans are unioned:\n$p")
    val shuffle = p.indexOf("Exchange hashpartitioning(key")
    assert(shuffle >= 0 && p.indexOf("partial_max_by", shuffle) > shuffle,
      s"no map-side partial max_by below the key shuffle:\n$p")
    // no horizon bucket: the horizon is a constant, not a scan
    assert(!p.contains("Broadcast"), p)

    // truncate horizon must be a broadcast, never a collected literal
    append(3, Seq(trunc, env(31, 1)))
    val pt = plan(CdcStream.partitionedSnapshotLsm(spark, state))
    val (horizon, data) = fileScans(pt).partition(_.contains("p=-1"))
    assert(data.size === 1 && horizon.size === 1, pt)
    assert(pt.contains("BroadcastNestedLoopJoin") || pt.contains("BroadcastExchange"), pt)
    assert(!pt.contains("Union"), pt)
    graft.Shared.deleteDirTree(state)
    graft.Shared.deleteDirTree(s"$state-audit")
  }

  test("ANN brute force: pruned scan + broadcast query + top-k") {
    val p = plan(Similarity.annCosineTopk(spark, sf))
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(p.contains("PushedFilters: [IsNotNull(vec_id), Not(EqualTo(vec_id,0))]"), p)
  }

  test("range search: broadcast query vector, corpus never shuffle-joined") {
    val p = plan(Similarity.annRangeSearch(spark, sf))
    assert(p.contains("BroadcastExchange") || p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"), p)
  }

  test("rarity: no Window keyed on term; df side map-side combined") {
    val p = plan(TextAnalysis.textRarityScore(spark, sf))
    assert(!p.contains("Window"), p)
    assert(p.contains("partial_count"), s"df aggregation lost map-side combine:\n$p")
  }

  test("ngram census: partial agg before the shuffle, top-k never a global sort") {
    val p = plan(TextAnalysis.textNgramTopk(spark, sf))
    assert(p.contains("partial_count"), p)
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("pack shards: window partitions by source — no single-partition global window") {
    val p = plan(TextAnalysis.textPackShards(spark, sf))
    assert(p.contains("hashpartitioning(source"), s"cumsum must shuffle by source:\n$p")
  }

  test("shuffle-pack: windows partition by shard — the epoch order is never a global sort") {
    val p = plan(TextAnalysis.textShufflePack(spark, sf))
    assert(p.contains("hashpartitioning(shard"), s"epoch windows must shuffle by shard:\n$p")
    assert(!p.contains("SinglePartition"), s"global window found:\n$p")
  }

  test("keep-best retention: one aggregation shuffle, never a window over the corpus") {
    // The retention's scale contract is its exchange count: the max_by
    // argmax must reach the plan as a partial+final aggregate pair over
    // ONE shuffle keyed on cluster (a window formulation would sort the
    // whole corpus inside each cluster partition; a naive
    // groupBy+self-join would shuffle twice). SortAggregate is expected —
    // max_by's struct argmax buffer cannot live in the hash-agg codegen's
    // mutable-primitive buffer — the shuffle count is the scale metric.
    import org.apache.spark.sql.functions.col
    val clusters = graft.Tables.documents(spark, sf)
      .select(col("doc_id"), (col("doc_id") % 50).as("cluster"))
    val quality = graft.Tables.documents(spark, sf)
      .select(col("doc_id"), TextAnalysis.scoreExpr(col("text")).as("score"))
    val p = plan(Dedup.keepBestOf(clusters, quality))
    assert(!p.contains("Window"), s"retention must not use a window:\n$p")
    assert(p.contains("partial_max_by"),
      s"retention lost its map-side partial aggregate:\n$p")
    assert(p.split("hashpartitioning\\(cluster").length - 1 === 1,
      s"expected exactly one cluster-keyed exchange:\n$p")
  }

  test("decontaminate: eval side broadcasts; filters push to both scans") {
    val p = plan(Dedup.textDecontaminate(spark, sf))
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("grouping sets: one Expand, one aggregation pass") {
    val p = plan(Relational.qGroupingSets(spark, sf))
    assert(p.split("Expand").length - 1 === 1, p)
    assert(p.contains("partial_count"), p)
  }

  test("embedding centroids: pruned two-column scan + map-side combine") {
    val p = plan(Similarity.embeddingCentroids(spark, sf))
    assert(p.contains("partial_sum"), p)
    assert(p.contains("ReadSchema: struct<embedding:array<float>,label:int>"), p)
  }

  test("media shard packing never reads the blob column") {
    val p = plan(graft.multimodal.Multimodal.multimodalPackShards(spark, sf))
    assert(p.contains("ReadSchema: struct<doc_id:bigint,source:string,n_chars:bigint>"),
      s"blob/text leaked into the packing scan:\n$p")
  }

  test("tf-idf: no Window partitioned on term (df comes from a partial-agg groupBy)") {
    val df = TextAnalysis.textTfidfTopk(spark, sf)
    // a term-partitioned window buffers |docs| rows in one task for a
    // stopword-grade term; df must come from groupBy(term) so partial
    // aggregation absorbs hot terms map-side
    // AQE wraps the physical plan, hiding its children from collect —
    // assert on the optimized logical plan, which has the same property
    val parts = df.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window =>
        w.partitionSpec.map(_.toString)
      case w: org.apache.spark.sql.catalyst.plans.logical.WindowGroupLimit =>
        w.partitionSpec.map(_.toString)
    }.flatten
    assert(parts.nonEmpty && parts.forall(e => !e.contains("term")), parts.toString)
    assert(plan(df).contains("partial_count"), plan(df).take(3000))
  }

  test("pii scrub is a pure scan stage: no join, no aggregation, one exchange for the sort") {
    val p = plan(TextAnalysis.textPiiScrub(spark, sf))
    assert(!p.contains("HashAggregate") && !p.contains("Join"), p.take(3000))
    // exactly the final orderBy's range exchange — a second exchange means
    // the redaction stopped being map-only
    assert("Exchange".r.findAllIn(p).size == 1, p.take(3000))
  }

  test("PQ: encode + ADC scoring fuse into projections — no aggregation at all") {
    val p = plan(Similarity.annPqTopk(spark, sf))
    // the literal-table formulation needs no explode/join/groupBy for
    // scoring; any HashAggregate appearing here means the map-only shape
    // regressed to the exploded join form
    assert(!p.contains("HashAggregate"), p.take(4000))
    assert(p.contains("TakeOrderedAndProject"), p.take(2000))
    assert(!p.contains("zip_with"), p.take(4000))
    // the serve path now reads persisted codes (oracle-params index);
    // the ENCODE — which moved into the index write — must still be the
    // native codegen expression, not the interpreted HOF chain
    val enc = plan(graft.Tables.embeddings(spark, sf)
      .select(Similarity.pqNative(spark,
        Similarity.pqCodebooks(spark, sf),
        org.apache.spark.sql.functions.col("embedding"))))
    assert(enc.contains("pq_encode"), enc.take(4000))
    assert(!enc.contains("zip_with"), enc.take(4000))
  }
}
