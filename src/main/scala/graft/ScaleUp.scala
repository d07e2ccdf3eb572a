package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Derive an sf1-equivalent dataset from the driver's sf0.1 parquet for a
  * full-engine scale step (the driver only ships sf ≤ 0.1).
  *
  * Fact tables are replicated `factor`× with DISJOINT key ranges — every
  * key column is shifted by `rep * shift` with per-entity shift constants
  * comfortably above the sf0.1 domains, so FK joins stay consistent
  * (replica i's lineitem joins replica i's orders/part/supplier, etc.)
  * and keyed cardinalities scale linearly, like a real TPC-H scale-up.
  * `region`/`nation` stay fixed (they are scale-invariant in TPC-H too).
  * Dates, prices, and timestamps are kept: 10× events in the same time
  * range is the realistic densification, and windowed queries keep their
  * selectivity.
  *
  * `documents`/`embeddings` are NOT replicated verbatim — copying a corpus
  * k× turns every duplicate cluster into a k×-sized cross-copy clique and
  * inflates near-dup pair counts quadratically, destroying the linearity
  * the dedup ladder is being measured FOR. They are re-generated at 10×
  * size with the ScaleProbe generator (same statistics as the driver
  * tables, bounded dup clusters ⇒ linear pair growth).
  *
  * Usage: `graft.ScaleUp [srcDir] [outDir] [factor] [docs]`
  * (defaults /root/testdata/sf0.1 → /tmp/graft_sf1 ×10), then
  * `SPARK_GRAFT_SF_DIR=/tmp/graft_sf1 … graft.Bench`. A 4th arg `docs`
  * writes only `documents`/`embeddings` (+`region` for Bench's warm-up
  * read) — the corpus rung for the dedup/ANN/text families at factors
  * where replicating the TPC-H side buys nothing.
  */
object ScaleUp {
  def main(args: Array[String]): Unit = {
    val src = args.headOption.filter(_.nonEmpty).getOrElse("/root/testdata/sf0.1")
    val out = args.lift(1).filter(_.nonEmpty).getOrElse("/tmp/graft_sf1")
    val factor = args.lift(2).map(_.toInt).getOrElse(10)
    // `docs` mode: documents/embeddings only (plus region for Bench's
    // session warm-up read) — the corpus-shaped families (dedup / ANN /
    // text) don't touch the TPC-H side, so the sf100 rung skips 6 GB of
    // fact-table replication and generates just the 1000× corpus.
    // `facts` mode is the mirror image — TPC-H fact/dim tables only (no
    // events, no corpus regen): the CDC-family decade rung exercises the
    // changelog fold over orders/lineitem and nothing else, so the rung
    // skips generating a corpus it never reads.
    val mode = args.lift(3) match {
      case Some("docs")  => "docs"
      case Some("facts") => "facts"
      case Some("vecs")  => "vecs"
      case Some(other)   => sys.error(s"unknown mode: '$other' (expected 'docs', 'facts' or 'vecs')")
      case None          => "full"
    }
    val docsOnly = mode == "docs"
    val spark = Graft.session(Graft.localMaster)
    spark.sparkContext.setLogLevel("WARN")

    // key-shift constants: > any sf0.1 key domain, round for debuggability.
    // Shifted keys are cast back to the base column type (int for the
    // TPC-H keys), so shift × factor + base-max must stay under
    // Int.MaxValue — the orderkey shift at its original 1e7 overflowed at
    // factor 300 (the sf30 facts rung) and the run failed loudly with
    // CAST_OVERFLOW; 2e6 clears the base domain (6e5) with headroom to
    // factor 1000.
    require(factor <= 1000, s"key shifts overflow int past factor 1000 (got $factor)")
    val OK = 2000000L   // o_orderkey / l_orderkey (sf0.1 max 6e5)
    val CK = 1000000L   // c_custkey / o_custkey
    val SK = 1000000L   // s_suppkey / l_suppkey
    val PK = 1000000L   // p_partkey / l_partkey
    val EK = 1000000000L // event_id
    val UK = 1000000L   // user_id

    val reps = broadcast(spark.range(factor).select(col("id").as("rep")))
    def rq(t: String): DataFrame = spark.read.parquet(s"$src/$t.parquet")
    def write(df: DataFrame, t: String): Unit = {
      df.write.mode("overwrite").parquet(s"$out/$t.parquet")
      println(s"[scale-up] $t: ${spark.read.parquet(s"$out/$t.parquet").count()} rows")
    }
    def scaled(t: String, shifts: (String, Long)*): DataFrame = {
      val base = rq(t)
      val shifted = shifts.foldLeft(base.crossJoin(reps)) { case (df, (c, s)) =>
        df.withColumn(c, (col(c).cast("long") + col("rep") * s).cast(base.schema(c).dataType))
      }
      shifted.drop("rep")
    }

    // `vecs` mode: embeddings only (+region for Bench's warm-up read) —
    // the ANN-family decade rung scales the vector corpus without paying
    // for a 60M-doc text regen it never reads. Embeddings must come with
    // documents at driver sfs (joint verify), but the ANN serving paths
    // touch only the vector table.
    if (mode == "vecs") {
      write(rq("region"), "region")
      val nVecs = rq("embeddings").count() * factor
      ScaleProbe.writeEmbeddings(spark, out, nVecs)
      println(s"[scale-up] embeddings: $nVecs rows (vecs-only)")
      spark.stop()
      return
    }

    if (docsOnly) {
      write(rq("region"), "region")
      val nDocs = rq("documents").count() * factor
      val nVecs = rq("embeddings").count() * factor
      ScaleProbe.writeDocuments(spark, out, nDocs)
      ScaleProbe.writeEmbeddings(spark, out, nVecs)
      println(s"[scale-up] documents: $nDocs rows, embeddings: $nVecs rows (docs-only)")
      spark.stop()
      return
    }

    write(rq("region"), "region")
    write(rq("nation"), "nation")
    write(scaled("customer", "c_custkey" -> CK), "customer")
    write(scaled("supplier", "s_suppkey" -> SK), "supplier")
    write(scaled("part", "p_partkey" -> PK), "part")
    write(scaled("orders", "o_orderkey" -> OK, "o_custkey" -> CK), "orders")
    write(scaled("lineitem", "l_orderkey" -> OK, "l_partkey" -> PK,
      "l_suppkey" -> SK), "lineitem")
    if (mode == "facts") {
      println(s"[scale-up] facts-only at factor $factor — no events, no corpus")
      spark.stop()
      return
    }
    // events.ts is TIMESTAMP(NANOS), unreadable natively (see
    // Tables.events); read it as long nanos and write it back as plain
    // int64 — Tables.events' ns→µs rebuild works identically on either
    // physical shape.
    locally {
      val key = "spark.sql.legacy.parquet.nanosAsLong"
      spark.conf.set(key, "true")
      try {
        val ev = rq("events").crossJoin(reps)
          .withColumn("event_id", col("event_id") + col("rep") * EK)
          .withColumn("user_id", col("user_id") + col("rep") * UK)
          .drop("rep")
        write(ev, "events")
      } finally spark.conf.unset(key)
    }

    val nDocs = rq("documents").count() * factor
    val nVecs = rq("embeddings").count() * factor
    ScaleProbe.writeDocuments(spark, out, nDocs)
    ScaleProbe.writeEmbeddings(spark, out, nVecs)
    println(s"[scale-up] documents: $nDocs rows, embeddings: $nVecs rows (regenerated)")
    spark.stop()
  }
}
