package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.{DataFrame, Encoders}
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{IncrementalDedup, IncrementalKeepBest, IncrementalNearDup,
  IncrementalVecIndex}
import graft.streaming.CdcStream

/** The in-program trace: every store phase that fires writes one
  * parseable JSON line naming its store, phase and batch, and tracing
  * changes no answer.
  */
class TraceSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def env(pos: Long, key: Int, inv: Int) =
    s"""{"payload":{"before":null,"after":{"order_id":$key,"invoice_number":$inv},"source":{"ts_ms":$pos,"pos":$pos,"db":"dev","table":"invoice"},"op":"c","ts_ms":$pos}}"""

  private def docs: DataFrame = spark.createDataFrame(Seq(
      1L -> "alpha beta gamma delta epsilon zeta eta theta iota kappa",
      2L -> "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda",
      3L -> "one two three four five six seven eight nine ten eleven"))
    .toDF("doc_id", "text")

  /** One commit of each store, batch `batchId` everywhere; returns each
    * store's answer, sorted.
    */
  private def runStores(base: String, batchId: Long): Map[String, Seq[String]] = {
    def sorted(df: DataFrame) = df.collect().map(_.toString).toSeq.sorted
    CdcStream.applyLsmBatch(
      graft.cdc.Changelog.fromEnvelopeJson(spark.createDataset(
        Seq(env(1, 1, 10), env(2, 2, 20), env(3, 1, 11)))(Encoders.STRING)
        .toDF("value")),
      batchId, s"$base/audit", s"$base/state", 4, graft.cdc.CdcSchema.invoiceSpec)
    val survivors = IncrementalDedup.ingest(spark, s"$base/exact", docs, batchId,
      nBuckets = 4)
    val (admitted, es, eb) = IncrementalNearDup.ingestWithEdges(
      spark, s"$base/nd", docs, batchId, nBuckets = 4)
    IncrementalKeepBest.ingest(spark, s"$base/kb", docs, batchId, nBuckets = 4,
      edgesIn = Some((es, eb)))
    IncrementalVecIndex.ingest(spark, s"$base/vec",
      Tables.embeddings(spark, TestSpark.sf0001)
        .select(col("vec_id"), col("embedding")), batchId).count()
    Map(
      "lsm" -> sorted(CdcStream.partitionedSnapshotLsm(spark, s"$base/state")),
      "exact" -> sorted(survivors),
      "nd" -> sorted(admitted),
      "kb" -> sorted(IncrementalKeepBest.snapshot(spark, s"$base/kb")),
      "vec" -> sorted(IncrementalVecIndex.snapshot(spark, s"$base/vec")))
  }

  private def tmp() = Files.createTempDirectory("trace-spec").toString

  test("every always-firing store phase writes one parseable line with its store and batch") {
    val base = tmp()
    val sink = s"$base/trace.jsonl"
    Trace.withSink(sink)(runStores(base, 3L))
    val mapper = new ObjectMapper()
    val lines: Seq[JsonNode] =
      Files.readAllLines(Paths.get(sink)).asScala.toSeq.map(mapper.readTree)
    val always = Map(
      "lsm" -> Seq("segment_write", "stats_await", "list_buckets",
        "audit_await", "manifest_commit", "gc"),
      "exact" -> Seq("list_buckets", "manifest_commit", "gc"),
      "nd" -> Seq("fp_touched", "occupancy_guard", "edges_ck",
        "segment_write", "claim_answer", "list_buckets", "manifest_commit", "gc"),
      "kb" -> Seq("fp_touched", "member_probe", "resolve", "subgraph_ck",
        "segment_write", "list_buckets", "manifest_commit", "gc"),
      "vec" -> Seq("fingerprint", "read_params", "encode_write",
        "list_buckets", "manifest_commit", "gc"))
    always.foreach { case (store, phases) =>
      val ofStore = lines.filter(_.get("store").asText == store)
      assert(ofStore.map(_.get("phase").asText).toSet.subsetOf(
        phases.toSet ++ Set("occupancy_guard", "saturation_probe",
          "rescue_probe", "cand_probe", "edges_ck", "cc_uf", "cc_dist")),
        s"$store: unexpected phases")
      phases.foreach { phase =>
        val hits = ofStore.filter(_.get("phase").asText == phase)
        assert(hits.size == 1, s"$store/$phase: ${hits.size} lines")
        val l = hits.head
        assert(l.get("batch").asLong == 3L, s"$store/$phase batch")
        assert(l.get("ms").isNumber && l.get("ms").asDouble >= 0)
        assert(l.get("start_ms").asLong > 0 && l.get("thread").asText.nonEmpty)
      }
    }
    val guard = lines.find(l => l.get("store").asText == "nd" &&
      l.get("phase").asText == "occupancy_guard").get
    assert(guard.get("cap").asLong == IncrementalNearDup.DefaultBucketCap)
    assert(guard.get("max_occ").asLong >= 0 && !guard.get("can_saturate").asBoolean)
  }

  test("with no sink set nothing is written and the answers are the same") {
    assume(sys.env.get("SPARK_GRAFT_TRACE").forall(_.isEmpty))
    val traced = tmp()
    val sink = s"$traced/trace.jsonl"
    val withTrace = Trace.withSink(sink)(runStores(traced, 0L))
    val size = Files.size(Paths.get(sink))
    val plain = tmp()
    val without = runStores(plain, 0L)
    assert(without === withTrace)
    assert(Files.size(Paths.get(sink)) == size, "a span wrote after its sink closed")
    assert(Files.list(Paths.get(plain)).iterator().asScala
      .forall(p => !p.getFileName.toString.endsWith(".jsonl")))
  }

  test("a result line is JSON under any locale: nested arrays and objects, nulls, escaped strings") {
    val text = "a \"quoted\" C:\\dir\ttab\nline \u0001 end"
    val out = new java.io.ByteArrayOutputStream()
    val prev = java.util.Locale.getDefault
    java.util.Locale.setDefault(java.util.Locale.GERMANY)
    try Console.withOut(out) {
      Trace.result("probe", Seq("sec" -> Trace.fixed(1.5, 3),
        "ratio" -> Trace.fixed(2.0 / 3, 2), "raw" -> 0.25, "none" -> None,
        "inf" -> Trace.fixed(Double.PositiveInfinity, 1), "text" -> text,
        "runs" -> Seq(Trace.fixed(0.1234, 3), Trace.fixed(12, 3)),
        "nested" -> Seq("x1" -> Seq("n" -> 7L, "ok" -> true), "x10" -> Seq(1, 2)),
        "empty" -> Map.empty[String, Int]))
    } finally java.util.Locale.setDefault(prev)
    val line = new String(out.toByteArray, java.nio.charset.StandardCharsets.UTF_8).trim
    assert(!line.contains("\n"), "one line")
    // digits exactly as %.3f writes them in an English locale
    assert(line.contains("\"sec\":1.500,\"ratio\":0.67,"), line)
    val node = new ObjectMapper().readTree(line)
    assert(node.fieldNames().asScala.toSeq === Seq("metric", "sec", "ratio", "raw",
      "none", "inf", "text", "runs", "nested", "empty"))
    assert(node.get("metric").asText === "probe")
    assert(node.get("sec").asDouble === 1.5 && node.get("ratio").asDouble === 0.67)
    assert(node.get("raw").asDouble === 0.25)
    assert(node.get("none").isNull && node.get("inf").isNull)
    assert(node.get("text").asText === text)
    assert(node.get("runs").elements().asScala.map(_.asDouble).toSeq === Seq(0.123, 12.0))
    val nested = node.get("nested")
    assert(nested.get("x1").get("n").asLong === 7L && nested.get("x1").get("ok").asBoolean)
    assert(nested.get("x10").elements().asScala.map(_.asInt).toSeq === Seq(1, 2))
    assert(node.get("empty").isObject && node.get("empty").size === 0)
  }
}
