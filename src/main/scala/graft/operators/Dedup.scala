package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.TextFns

/** Deduplication operators over `documents` — the dedup ladder a
  * training-data pipeline runs, cheapest first:
  *
  *  1. [[dedupExact]] — exact dedup by normalized-content hash (one
  *     hash-shuffle on a 32-byte key, regardless of document size);
  *  2. [[dedupNgramJaccard]] — exact word-3-gram Jaccard from a
  *     prefix-filtered candidate join (SSJoin/All-Pairs + PPJoin
  *     positional bound + a sound partition-count residual) with exact
  *     set-intersection verification — provably lossless at the
  *     thresholds, candidate volume collapses where Σ df² explodes;
  *  3. [[dedupMinhashLsh]] — MinHash signatures + banded LSH: the 100 TB
  *     path. Candidate generation is |bands| equality joins on 64-bit keys;
  *     cost is linear in corpus size + output pairs, never all-pairs;
  *  4. [[dedupSimhash]] — 128-bit SimHash with 8×16-bit band blocking for
  *     hamming-distance near-dups.
  *
  * All four rungs are oracle-checked against DuckDB: minhash/simhash hash
  * with md5 TRUNCATIONS (any injective deterministic hash satisfies both
  * schemes — the winnowing precedent), which DuckDB reproduces exactly
  * (`('0x' || substr(md5(x), 1, n))::BIGINT`), so the sketches get full
  * value oracles instead of rows-only checks. ScalaTest additionally
  * asserts their recall against the exact Jaccard pairs (DedupSpec).
  */
object Dedup {
  private type Q = (SparkSession, String) => DataFrame

  private def toks = TextFns.tokens(col("text"))

  /** 60-bit integer hash via md5-hex truncation: uniform, deterministic,
    * and bit-reproducible in DuckDB — what turns the sketch operators into
    * full value oracles. At petabyte scale swap in xxhash64 (identical
    * schemes, engine-native hashing, no cross-engine contract needed).
    */
  private[operators] def md5Long60(c: Column): Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast("long")

  /** (doc_id, shingle) — distinct word-3-gram shingles per document.
    *
    * Relational formulation rather than the `TextFns.shingles` array HOF:
    * Spark evaluates higher-order functions interpreted (CodegenFallback),
    * which measured ~4s at sf0.1 vs ~1s for the codegen'd relational plan.
    * (FormulationParitySpec asserts both formulations produce the same set.)
    */
  /** (doc_id, p, shingle) — every positional word-3-gram, shared by the
    * set-shingle index below and the winnowing fingerprints (one
    * tokenizer, one window size, one null filter — the two consumers
    * cannot drift). WINDOW-FREE since r18: posexplode keeps the token
    * array alongside each row, so the two successor tokens come from
    * element_at(toks, p+2/p+3) inside the generate stage — identical
    * (doc_id, p, sh) rows, zero exchanges (the lead-window form paid an
    * exchange + sort by doc_id before the first shingle existed).
    */
  private def positionedShingles(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"), toks.as("toks"))
      .select(col("doc_id"), col("toks"),
        posexplode(col("toks")).as(Seq("p", "tok")))
      .filter(col("p") <= size(col("toks")) - 3)
      .select(col("doc_id"), col("p"),
        concat_ws(" ", col("tok"),
          element_at(col("toks"), col("p") + 2),
          element_at(col("toks"), col("p") + 3)).as("sh"))

  private def docShinglesPlan(s: SparkSession, dir: String): DataFrame =
    positionedShingles(s, dir)
      .select(col("doc_id"), md5Long60(col("sh")).as("sh")).distinct()

  /** The shingle index as a shared materialization: exact-jaccard, MinHash
    * and clusters all consume the same (doc_id, shingle-hash) set, so it
    * is built once per (session, sfDir) — an index of the corpus, not
    * per-query scratch. Rows store the 60-bit [[md5Long60]] shingle hash,
    * NOT the shingle string: the index (and every shuffle over it — the
    * cold co-occurrence join, the hot-set arrays, the rescue-join ranks)
    * carries fixed 8-byte keys instead of ~24-byte strings, which is what
    * lets the exact-overlap family fit local spill at the sf10 rung. The
    * DuckDB oracles hash with the identical md5 truncation, so even a
    * (cosmically unlikely) 60-bit collision produces the same merged
    * counts in both engines — the value contract stays exact.
    */
  private[operators] def docShingles(s: SparkSession, dir: String): DataFrame =
    graft.Shared.materialize(s, dir, "doc_shingles")(docShinglesPlan(s, dir))

  private[operators] val shinglesCte =
    """WITH docs AS (
      |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks FROM documents),
      |t AS (
      |  SELECT doc_id, generate_subscripts(toks, 1) AS p, unnest(toks) AS tok FROM docs),
      |sh AS (
      |  SELECT DISTINCT a.doc_id,
      |    ('0x' || substr(md5(a.tok || ' ' || b.tok || ' ' || c.tok), 1, 15))::BIGINT AS sh
      |  FROM t a
      |  JOIN t b ON a.doc_id = b.doc_id AND b.p = a.p + 1
      |  JOIN t c ON a.doc_id = c.doc_id AND c.p = a.p + 2)""".stripMargin

  // ------------------------------------------------------------- exact
  /** Exact dedup: group by normalized-content md5, keep the smallest
    * doc_id per group. `n_dups` counts the shadowed copies.
    */
  def dedupExact(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"), TextFns.fingerprint(col("text")).as("fp"))
      .groupBy(col("fp"))
      .agg(min(col("doc_id")).as("keep_doc_id"), (count(lit(1)) - 1).as("n_dups"))
      .orderBy(col("keep_doc_id"))

  private val dedupExactSql =
    """WITH docs AS (
      |  SELECT doc_id, md5(array_to_string(string_split_regex(trim(text), '\s+'), ' ')) AS fp
      |  FROM documents)
      |SELECT fp, MIN(doc_id) AS keep_doc_id, COUNT(*) - 1 AS n_dups
      |FROM docs GROUP BY fp ORDER BY keep_doc_id""".stripMargin

  // ----------------------------------------------------- exact jaccard
  /** (lo, hi, i, nlo, nhi, jaccard, c_lo, c_hi) for every unordered
    * document pair that clears ANY overlap threshold (jaccard ≥ 0.8 or
    * containment ≥ 0.9 in either direction) — the ONE materialization of
    * the exact-overlap stage. The threshold union is applied INSIDE the
    * build, so the session retains the small interesting-pair set, not
    * the candidate stream; exact Jaccard and containment are cheap
    * filters over this frame, so the expensive stage runs once per
    * (session, sfDir), not once per overlap measure.
    *
    * Construction: prefix-filtered candidate generation (Chaudhuri et
    * al. SSJoin / Bayardo et al. All-Pairs) + exact set-intersection
    * verification — never the Σ df² co-occurrence count join (whose
    * measured spill killed every sf10 attempt of the earlier df-split
    * build: a 2e9-row bound is ~60 GB of sort shuffle; rows are not
    * bytes). Rank every doc's shingles rarest-first by (df, sh) — a
    * global total order, so the common shingles of any pair sort
    * identically in both docs. A qualifying pair's guaranteed side X
    * has i ≥ q_x = ⌈0.8·n_x⌉ shared shingles (jaccard ≥ 0.8: either
    * side, since i ≥ 0.8·max(n_a,n_b); containment ≥ 0.9: the contained
    * side, i ≥ 0.9·n_x ≥ 0.8·n_x), so the smallest common shingle s*
    * has rank ≤ n − i + 1 ≤ n − q_x + 1 in BOTH docs (the i common
    * shingles occupy distinct ranks at or above s*'s). Joining prefix
    * entries (rank ≤ n − q + 1, i.e. the rarest ~20% + 1 of each doc)
    * against full entries under the PPJoin positional bound
    * (f.rn ≤ f.n − p.q + 1) and length bound (f.n ≥ p.q) therefore
    * finds EVERY qualifying pair — zero recall loss, pinned by the
    * parity spec against the brute count join. Candidate volume is
    * Σ_sh prefixDf(sh)·boundedDf(sh): a boilerplate shingle (huge df)
    * enters a doc's rarest-first prefix only when the doc is almost
    * nothing but hotter boilerplate, so both factors collapse exactly
    * where Σ df² explodes; candidates degrade toward all-pairs only
    * when the OUTPUT itself does (a corpus of near-identical docs).
    * Verification then computes exact i per surviving pair by
    * intersecting the two docs' sorted shingle-hash arrays (distinct
    * 8-byte hashes per doc, so set size IS the count; the oracle hashes
    * identically, keeping the contract hash-exact) — cost
    * O(candidates · doc length), output-shaped, no quadratic stage.
    */
  /** Universe-partition count for the sound candidate bound below: more
    * parts = a tighter bound on random pairs (expected Σ min shrinks
    * toward 0 as parts grow past the doc size) at 2 bytes/part carried
    * through the candidate join. 64 puts a ~47-shingle doc's random-pair
    * bound at ~20 — far under its q ≈ 38 — while the vector stays one
    * cache line of shorts.
    */
  val OverlapParts = 64

  /** Candidate-volume budget for the exact-overlap build, as a predicted
    * prefix-join row count (conf `spark.graft.overlap.candidateBudget`).
    * The exact trio has a MEASURED decade ceiling: the sf100 attempt
    * (5M docs) ran the local disk out inside this build, leaving the
    * caller a dead SparkContext instead of an answer. The predictor is
    * one aggregation over the (already materialized) shingle index:
    * join candidates are bounded by Σ_sh prefixDf·df, and the rarest-
    * first prefix holds ≈ (n−q+1)/n ≈ 1/5 of each doc's entries, so
    * est ≈ Σ df²/5. Measured anchors: sf3 ≈ 2.2e8 candidates (fine),
    * sf10 ≈ 3.6e9 (41.7 s, the proven rung), sf100 ≈ 100× sf10 (dead).
    * The default budget sits one decade above the proven rung and one
    * below the measured death. Past it the build REFUSES with a pointer
    * to the corpus-scale substitute (the banded-minhash graph —
    * [[dedupKeepBestMinhash]] and friends) instead of dying mid-shuffle;
    * refusal, not silent delegation, because the minhash graph is a
    * different (banded) pair set and swapping it in silently would
    * change declared output semantics.
    */
  val OverlapCandidateBudgetDefault = 40000000000L // 4e10 ≈ 10× the proven rung

  private[graft] def overlapPairsPlan(s: SparkSession, dir: String): DataFrame = {
    val g = OverlapParts
    val sh = docShingles(s, dir)
    val budget = s.conf.getOption("spark.graft.overlap.candidateBudget")
      .map(_.toLong).getOrElse(OverlapCandidateBudgetDefault)
    // coalesce: over an EMPTY shingle set sum() is NULL and getLong would
    // NPE — a degenerate corpus should fall through to the normal build
    val est = sh.groupBy(col("sh")).agg(count(lit(1)).as("df"))
      .agg(coalesce(sum(col("df") * col("df")), lit(0L)).as("s"))
      .head().getLong(0) / 5
    if (est > budget)
      throw new IllegalStateException(
        s"exact-overlap build refused: predicted ~$est candidate pairs " +
          s"exceeds the candidate budget $budget (the build spills " +
          "candidate-join state to disk and a corpus this size has a " +
          "measured disk-death at the next decade). Use the banded " +
          "minhash graph instead (dedup_minhash_lsh / " +
          "dedup_keep_best_minhash — the corpus-scale rung, measured at " +
          "5M docs), or raise spark.graft.overlap.candidateBudget if " +
          "this cluster's shuffle capacity genuinely allows it.")
    // per-doc size + universe-partition count vector (shingle → one of g
    // deterministic parts; cnt[j] = how many of the doc's shingles land
    // in part j). For ANY pair, |A∩B| ≤ Σ_j min(cntA[j], cntB[j]) — each
    // shared shingle lands in the same part on both sides — so the
    // zip_with/min/aggregate bound below is a SOUND i upper bound
    // (partition-based filtering à la PTJ): it can never prune a
    // qualifying pair, because a qualifying pair generated via guaranteed
    // side p has i ≥ p.q and thus bound ≥ p.q. Per-part counts CLAMP at
    // Short.MaxValue (not cast-wrap, which goes negative and unsoundly
    // understates the bound): an average doc needs ~2M shingles to
    // saturate a part, but the bound must not depend on hash balance.
    // Soundness under clamping is restored inside [[MinSumExpr]]: a
    // slot whose min is the clamp value means the true min is
    // unknowable, and the expression returns Int.MaxValue (never prune)
    // for that pair instead of a possibly-understated sum.
    val perDoc = sh
      .withColumn("pt", pmod(xxhash64(col("sh")), lit(g.toLong)).cast("int"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n"), collect_list(col("pt")).as("pl"))
      .select(col("doc_id"), col("n"),
        transform(sequence(lit(0), lit(g - 1)),
          j => least(size(filter(col("pl"), x => x === j)),
            lit(Short.MaxValue.toInt)).cast("short")).as("cnt"))
    val dfreq = sh.groupBy(col("sh")).agg(count(lit(1)).as("df"))
    val wDoc = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("df"), col("sh"))
    val ranked = sh.join(dfreq, "sh")
      .withColumn("rn", row_number().over(wDoc))
      .join(perDoc, "doc_id")
      .withColumn("q", expr("(n * 4 + 4) div 5")) // ⌈0.8·n⌉, integer-exact
      .select(col("doc_id"), col("sh"), col("rn"), col("n"), col("q"), col("cnt"))
    val prefix = ranked.filter(col("rn") <= col("n") - col("q") + 1)
      .select(col("doc_id"), col("sh"), col("q"), col("cnt"))
    // the partition bound is evaluated INSIDE the join (a residual
    // predicate on the streamed match block), so on a uniform-df corpus
    // — where single-shingle prefix collisions are the dominant, purely
    // random candidate mass (measured at the sf10 rung: 27,842 distinct
    // shingles, df ≈ 850 everywhere, 3.6e9 collisions) — the false
    // candidates die before ever reaching the distinct's shuffle or the
    // verification join (measured 2.2e8 → 6.9e5 at sf3). The fused
    // codegen [[graft.functions.MinSumExpr]] keeps the residual at
    // nanoseconds per evaluation; its HOF equivalent measured ~6 µs and
    // dominated the build.
    graft.functions.MinSumExpr.register(s)
    val minSum = call_function("min_sum", col("p.cnt"), col("f.cnt"))
    val cand = prefix.as("p").join(ranked.as("f"),
        col("p.sh") === col("f.sh") && col("p.doc_id") =!= col("f.doc_id") &&
          col("f.rn") <= col("f.n") - col("p.q") + 1 &&
          col("f.n") >= col("p.q") &&
          minSum >= col("p.q"))
      .select(least(col("p.doc_id"), col("f.doc_id")).as("lo"),
        greatest(col("p.doc_id"), col("f.doc_id")).as("hi"))
      .distinct()
    val sets = sh.groupBy(col("doc_id"))
      .agg(sort_array(collect_list(col("sh"))).as("ss"))
    cand
      .join(sets.select(col("doc_id").as("lo"), col("ss").as("ss_lo")), "lo")
      .join(sets.select(col("doc_id").as("hi"), col("ss").as("ss_hi")), "hi")
      .select(col("lo"), col("hi"),
        size(array_intersect(col("ss_lo"), col("ss_hi"))).cast("long").as("i"),
        size(col("ss_lo")).cast("long").as("nlo"),
        size(col("ss_hi")).cast("long").as("nhi"))
      .withColumn("jaccard",
        col("i").cast("double") / (col("nlo") + col("nhi") - col("i")))
      .withColumn("c_lo", col("i").cast("double") / col("nlo"))
      .withColumn("c_hi", col("i").cast("double") / col("nhi"))
      .filter(col("jaccard") >= 0.8 || col("c_lo") >= 0.9 || col("c_hi") >= 0.9)
  }

  /** Spec scaffolding ONLY — the plain Σ df² co-occurrence count join,
    * ground truth by construction for [[overlapPairsPlan]]'s
    * prefix-filtered build (never run in production: its candidate
    * volume is the data-dependent quadratic the prefix filter exists to
    * avoid).
    */
  private[graft] def overlapPairsBrute(s: SparkSession, dir: String): DataFrame = {
    val sh = docShingles(s, dir)
    val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    sh.as("x").join(sh.as("y"),
        col("x.sh") === col("y.sh") && col("x.doc_id") < col("y.doc_id"))
      .groupBy(col("x.doc_id").as("lo"), col("y.doc_id").as("hi"))
      .agg(count(lit(1)).as("i"))
      .join(sizes.withColumnRenamed("doc_id", "lo").withColumnRenamed("n", "nlo"), "lo")
      .join(sizes.withColumnRenamed("doc_id", "hi").withColumnRenamed("n", "nhi"), "hi")
      .withColumn("jaccard",
        col("i").cast("double") / (col("nlo") + col("nhi") - col("i")))
      .withColumn("c_lo", col("i").cast("double") / col("nlo"))
      .withColumn("c_hi", col("i").cast("double") / col("nhi"))
      .filter(col("jaccard") >= 0.8 || col("c_lo") >= 0.9 || col("c_hi") >= 0.9)
  }

  private def overlapPairs(s: SparkSession, dir: String): DataFrame =
    graft.Shared.materialize(s, dir, "overlap_pairs")(overlapPairsPlan(s, dir))

  /** Unordered jaccard ≥ 0.8 pair set — a cheap filter over the shared
    * [[overlapPairs]] frame, consumed by `dedup_ngram_jaccard` and
    * `dedup_clusters` (edge list, traversed once per propagation round —
    * the source frame is already materialized and tiny).
    */
  private def jaccardPairs(s: SparkSession, dir: String): DataFrame =
    overlapPairs(s, dir)
      .filter(col("jaccard") >= 0.8)
      .select(col("lo").as("doc_a"), col("hi").as("doc_b"), col("jaccard"))

  def dedupNgramJaccard(s: SparkSession, dir: String): DataFrame =
    jaccardPairs(s, dir).orderBy(col("doc_a"), col("doc_b"))

  private val dedupNgramJaccardSql =
    s"""$shinglesCte,
       |sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
       |inter AS (
       |  SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, COUNT(*) AS i
       |  FROM sh x JOIN sh y ON x.sh = y.sh AND x.doc_id < y.doc_id
       |  GROUP BY 1, 2)
       |SELECT doc_a, doc_b,
       |  CAST(i AS DOUBLE) / (sa.n + sb.n - i) AS jaccard
       |FROM inter
       |JOIN sizes sa ON sa.doc_id = doc_a
       |JOIN sizes sb ON sb.doc_id = doc_b
       |WHERE CAST(i AS DOUBLE) / (sa.n + sb.n - i) >= 0.8
       |ORDER BY doc_a, doc_b""".stripMargin

  // ------------------------------------------------------- containment
  /** Directional near-dup by shingle CONTAINMENT: C(A→B) =
    * |shingles(A) ∩ shingles(B)| / |shingles(A)| ≥ 0.9. Jaccard misses
    * the doc-in-doc case (a short document quoted whole inside a much
    * longer one scores low symmetric overlap but containment ≈ 1) — the
    * boilerplate/quotation shape a training-corpus dedup pass needs in
    * addition to symmetric similarity. Candidates come from the same
    * shared shingle-equality self-join as Jaccard (documents meet only
    * where they share a shingle — bounded-key hash join, never
    * all-pairs), with only the contained side's size in the
    * denominator. Emits both directions of a mutual pair; `doc_a` is
    * the contained document.
    */
  /** |A∩B| is symmetric, so the shared [[overlapPairs]] frame holds each
    * unordered pair once; both containment directions come out
    * arithmetically in one pass (i/na for a→b, i/nb for b→a — an
    * explode, not a union, which would re-run the subtree per branch).
    * At 100 TB the exact form is the oracle-checked reference — the
    * linear-cost path for this decision is the MinHash/SimHash banding
    * ladder above.
    */
  def dedupContainment(s: SparkSession, dir: String): DataFrame =
    overlapPairs(s, dir)
      .select(explode(array(
        struct(col("lo").as("doc_a"), col("hi").as("doc_b"),
          col("c_lo").as("containment")),
        struct(col("hi").as("doc_a"), col("lo").as("doc_b"),
          col("c_hi").as("containment")))).as("p"))
      .select(col("p.doc_a").as("doc_a"), col("p.doc_b").as("doc_b"),
        col("p.containment").as("containment"))
      .filter(col("containment") >= 0.9)
      .orderBy(col("doc_a"), col("doc_b"))

  private val dedupContainmentSql =
    s"""$shinglesCte,
       |sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
       |inter AS (
       |  SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, COUNT(*) AS i
       |  FROM sh x JOIN sh y ON x.sh = y.sh AND x.doc_id <> y.doc_id
       |  GROUP BY 1, 2)
       |SELECT doc_a, doc_b, CAST(i AS DOUBLE) / sa.n AS containment
       |FROM inter
       |JOIN sizes sa ON sa.doc_id = doc_a
       |WHERE CAST(i AS DOUBLE) / sa.n >= 0.9
       |ORDER BY doc_a, doc_b""".stripMargin

  // ------------------------------------------------------- minhash+lsh
  /** MinHash signature matrix for every document: k permutations of the
    * shingle's 60-bit md5 hash. Exposed for tests and the LSH pipeline.
    */
  def minhashSignatures(s: SparkSession, dir: String, k: Int = 32): DataFrame = {
    // the shared index already stores the 60-bit md5 shingle hash — the
    // signatures are bit-identical to hashing the strings here
    val base = docShingles(s, dir)
    val aggs: Seq[Column] = (0 until k).map(i =>
      min(TextFns.minhashPerm(col("sh"), i)).as(s"m$i"))
    base.groupBy(col("doc_id")).agg(aggs.head, aggs.tail: _*)
  }

  /** MinHash + banded LSH near-dup candidates with signature-estimated
    * Jaccard ≥ 0.5. k=32 hashes, 8 bands × 4 rows: P(candidate) ≈
    * 1−(1−j⁴)⁸ — steep around j≈0.5. The candidate join keys on
    * (band index, band key): linear scale-out, no all-pairs stage. The
    * band key is the joined signature string here (oracle-exact); at
    * scale you'd hash it to a fixed-width 64-bit key — same joins,
    * cheaper bytes. est_jaccard = matches/32 is an exact dyadic, so the
    * double hash-matches DuckDB bit-for-bit.
    */
  /** Degenerate-band bucket cap for [[dedupMinhashLsh]]'s candidate
    * join. A band bucket holding B docs contributes B²/2 candidate
    * pairs; on corpora whose shingle UNIVERSE is small relative to the
    * corpus (heavy boilerplate, tiny vocabularies), minhash minima
    * concentrate on the permutations' smallest image values and a few
    * band keys go degenerate — measured on the 5M-doc sf100 rung:
    * Σ(bucket²) = 4.4e9 join rows with ~8,800-doc hot buckets, 100× the
    * sf10 bound from 10× the docs (the run died spilling the local
    * disk). Buckets past the cap are EXCLUDED from candidate
    * generation: an over-full bucket's key carries no discriminative
    * signal (0.18% of the whole corpus shares it), and a true est≥0.5
    * pair is lost only if EVERY band the pair agrees on is degenerate —
    * a j≈0.9 pair agrees on ~7 of 8 bands in expectation. 2000 is
    * invisible through sf10 (measured max bucket 857, so every
    * artifact and oracle at the driver's scales is bit-identical) and
    * bounds the per-bucket join work at cap² regardless of corpus.
    */
  val LshBucketCap = 2000L

  def dedupMinhashLsh(s: SparkSession, dir: String): DataFrame =
    sharedMinhashPairs(s, dir).orderBy(col("doc_a"), col("doc_b"))

  /** Session-shared banded est ≥ 0.5 pair set at the production cap —
    * the minhash analog of [[overlapPairs]]: `dedup_minhash_lsh` reads
    * it sorted, [[dedupKeepBestMinhash]] clusters over it, so the
    * banded pipeline builds ONCE per (session, dataset) instead of once
    * per query. `Shared.materialize` checkpoints it eagerly and
    * SERIALIZED, which is also exactly what the propagation loop needs:
    * it re-reads the edge list every round (lazy edges measured
    * ~46 s/round at sf10 re-running the whole pipeline), and the
    * deserialized checkpoint default OOM'd the 23M-row sf100
    * materialization before this moved under Shared.
    */
  private def sharedMinhashPairs(s: SparkSession, dir: String): DataFrame =
    graft.Shared.materialize(s, dir, "minhash_pairs")(
      minhashPairs(s, dir, LshBucketCap))

  /** [[dedupMinhashLsh]] with an explicit bucket cap — `Long.MaxValue`
    * recovers the pure uncapped banding (the recall-A/B baseline);
    * tiny caps force the identical-signature rescue on the whole
    * corpus (spec-pinned).
    */
  def dedupMinhashLshCapped(s: SparkSession, dir: String, cap: Long): DataFrame =
    minhashPairs(s, dir, cap).orderBy(col("doc_a"), col("doc_b"))

  /** The est ≥ 0.5 pair set WITHOUT the presentation sort — the form
    * graph consumers take ([[dedupKeepBestMinhash]]'s component pass
    * reads the edges in any order); the driver query above adds the
    * ORDER BY for the oracle.
    */
  def minhashPairs(s: SparkSession, dir: String, cap: Long): DataFrame = {
    val k = 32
    val bands = 8
    val rows = k / bands
    val sig = minhashSignatures(s, dir, k).cache()
    val sigArr = sig.withColumn("sig", array((0 until k).map(i => col(s"m$i")): _*))
    val banded = sigArr.select(
      col("doc_id"),
      posexplode(transform(sequence(lit(0), lit(bands - 1)),
        b => array_join(transform(slice(col("sig"), b * rows + 1, lit(rows)),
          v => v.cast("string")), ","))))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "bh")
    // bucket-size window shares the (band, bh) shuffle the self-join
    // needs anyway (ReusedExchange serves both join sides); the filter
    // drops degenerate buckets BEFORE the join fan-out (see LshBucketCap
    // — the quadratic lives in the join output, so filtering after would
    // not help). Measured in both directions at sf10: the "cheaper"
    // aggregate-overcap-keys + broadcast anti/semi formulation ran
    // 15.2 s warm vs this window plan's 10.2 s — when nearly every
    // bucket is unique the groupBy(band,bh) aggregate gets no combiner
    // reduction and its shuffle is pure addition, while the window rides
    // the join's own exchange.
    val wBucket = org.apache.spark.sql.expressions.Window
      .partitionBy(col("band"), col("bh"))
    val sized = banded.withColumn("bn", count(lit(1)).over(wBucket))
    val eligible = sized
      .filter(col("bn") <= cap)
      .select(col("doc_id"), col("band"), col("bh"))
    val cand = eligible.as("x").join(eligible.as("y"),
        col("x.band") === col("y.band") && col("x.bh") === col("y.bh") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()
    // IDENTICAL-SIGNATURE RESCUE for over-cap buckets. A bare cap loses
    // every pair whose agreeing bands are all degenerate — catastrophic
    // for exactly the truest duplicates: a cluster of > cap docs sharing
    // the SAME signature has all 8 of its band buckets over cap, so the
    // bare cap silently drops the whole cluster. Docs seen in any
    // over-cap bucket are re-blocked by their FULL 32-slot signature:
    // equal-signature pairs (est = 1.0) are emitted from that equality
    // join, whose fan-out is Σ(equal-signature group size)² — every such
    // pair is REAL OUTPUT (est 1.0 ≥ 0.5), so the rescue is output-
    // bound, never a revived bucket quadratic. The declared semantics
    // (mirrored exactly in the DuckDB oracle at every scale): banding,
    // minus over-cap buckets, plus equal-full-signature pairs among
    // over-cap members. What remains lost vs pure banding is the
    // probabilistic tail — pairs whose EVERY agreeing band is degenerate
    // AND whose signatures differ somewhere (est < 1.0); no scheme can
    // recover those without re-running the bucket quadratic the cap
    // exists to prevent.
    val overCapDocs = sized.filter(col("bn") > cap)
      .select(col("doc_id")).distinct()
    val fullSig = sigArr
      .join(overCapDocs, "doc_id")
      .select(col("doc_id"),
        array_join(transform(col("sig"), v => v.cast("string")), ",").as("fs"))
    val rescue = fullSig.as("x").join(fullSig.as("y"),
        col("x.fs") === col("y.fs") && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
    val est = cand.unionByName(rescue).distinct()
      .join(sigArr.select(col("doc_id").as("doc_a"), col("sig").as("sig_a")), "doc_a")
      .join(sigArr.select(col("doc_id").as("doc_b"), col("sig").as("sig_b")), "doc_b")
      .withColumn("est_jaccard",
        aggregate(zip_with(col("sig_a"), col("sig_b"),
          (a, b) => when(a === b, 1).otherwise(0)), lit(0), (acc, x) => acc + x)
          .cast("double") / k)
    est.filter(col("est_jaccard") >= 0.5)
      .select(col("doc_a"), col("doc_b"), col("est_jaccard"))
  }

  /** Shared oracle CTE chain for the minhash family: permutation
    * signatures → banding → bucket cap → identical-signature rescue →
    * `est(doc_a, doc_b, est_jaccard)`. [[dedupMinhashLshSql]] selects
    * from it directly; [[dedupKeepBestMinhashSql]] builds the recursive
    * component CTE on top.
    */
  private def minhashEstCtes: String = {
    val k = 32
    val p = TextFns.minhashPrime
    val perms = (0 until k).map { i =>
      val a = ((2L * i + 1L) * 2654435761L) % p
      val b = (i * 1000003L + 12345L) % p
      s"MIN(((h & 2147483647) * $a + $b) % $p) AS m$i"
    }
    val bandRows = (0 until 8).map { bnd =>
      val cols = (0 until 4).map(r => s"CAST(m${bnd * 4 + r} AS VARCHAR)")
        .mkString(" || ',' || ")
      s"SELECT doc_id, $bnd AS band, $cols AS bh FROM sig"
    }
    val eqSum = (0 until k)
      .map(i => s"CASE WHEN sa.m$i = sb.m$i THEN 1 ELSE 0 END").mkString(" + ")
    val fullSig = (0 until k).map(i => s"CAST(m$i AS VARCHAR)")
      .mkString(" || ',' || ")
    // the cap + identical-signature rescue are part of the DECLARED
    // semantics, so the oracle replays them exactly (see LshBucketCap
    // and the rescue comment in dedupMinhashLshCapped) — both engines
    // agree at EVERY corpus scale, not just where no bucket is over cap
    s"""$shinglesCte,
       |hs AS (SELECT doc_id, sh AS h FROM sh),
       |sig AS (SELECT doc_id, ${perms.mkString(", ")} FROM hs GROUP BY doc_id),
       |banded AS (${bandRows.mkString(" UNION ALL ")}),
       |bsz AS (SELECT band, bh, COUNT(*) AS bn FROM banded GROUP BY band, bh),
       |eligible AS (
       |  SELECT banded.doc_id, banded.band, banded.bh
       |  FROM banded JOIN bsz USING (band, bh) WHERE bn <= $LshBucketCap),
       |overcap AS (
       |  SELECT DISTINCT banded.doc_id
       |  FROM banded JOIN bsz USING (band, bh) WHERE bn > $LshBucketCap),
       |fs AS (
       |  SELECT sig.doc_id, $fullSig AS fsig
       |  FROM sig JOIN overcap ON overcap.doc_id = sig.doc_id),
       |cand AS (
       |  SELECT DISTINCT doc_a, doc_b FROM (
       |    SELECT x.doc_id AS doc_a, y.doc_id AS doc_b
       |    FROM eligible x JOIN eligible y
       |      ON x.band = y.band AND x.bh = y.bh AND x.doc_id < y.doc_id
       |    UNION ALL
       |    SELECT x.doc_id AS doc_a, y.doc_id AS doc_b
       |    FROM fs x JOIN fs y
       |      ON x.fsig = y.fsig AND x.doc_id < y.doc_id)),
       |est AS (
       |  SELECT doc_a, doc_b, CAST($eqSum AS DOUBLE) / $k AS est_jaccard
       |  FROM cand JOIN sig sa ON sa.doc_id = doc_a JOIN sig sb ON sb.doc_id = doc_b)""".stripMargin
  }

  private val dedupMinhashLshSql: String =
    s"""$minhashEstCtes
       |SELECT doc_a, doc_b, est_jaccard FROM est WHERE est_jaccard >= 0.5
       |ORDER BY doc_a, doc_b""".stripMargin

  /** Cap-visibility report for [[dedupMinhashLsh]]'s declared semantics:
    * how hard [[LshBucketCap]] is biting on THIS corpus — over-cap band
    * buckets, documents routed through the identical-signature rescue,
    * and the rescued (est = 1.0) pair count. The cap permanently trades
    * away the probabilistic tail (est ∈ [0.5, 1.0) pairs whose every
    * agreeing band is degenerate), so an operator needs to SEE when a
    * corpus enters that regime instead of inferring it from recall
    * drift; all-zeros (every driver sf through sf10, measured max bucket
    * 857) certifies the capped output is bit-identical to pure banding.
    * One extra banded aggregation + the rescue's own equality join —
    * report-cadence cost, not on the pair-build path.
    */
  def dedupMinhashCapReport(s: SparkSession, dir: String): DataFrame = {
    val k = 32
    val bands = 8
    val rows = k / bands
    val sigArr = minhashSignatures(s, dir, k)
      .withColumn("sig", array((0 until k).map(i => col(s"m$i")): _*))
    val banded = sigArr.select(
      col("doc_id"),
      posexplode(transform(sequence(lit(0), lit(bands - 1)),
        b => array_join(transform(slice(col("sig"), b * rows + 1, lit(rows)),
          v => v.cast("string")), ","))))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "bh")
    val bsz = banded.groupBy(col("band"), col("bh"))
      .agg(count(lit(1)).as("bn"))
    val overBuckets = bsz.filter(col("bn") > LshBucketCap)
    val overDocs = banded
      .join(overBuckets.select(col("band"), col("bh")), Seq("band", "bh"))
      .select(col("doc_id")).distinct()
    val fullSig = sigArr.join(overDocs, "doc_id")
      .select(col("doc_id"),
        array_join(transform(col("sig"), v => v.cast("string")), ",").as("fs"))
    val rescued = fullSig.as("x").join(fullSig.as("y"),
      col("x.fs") === col("y.fs") && col("x.doc_id") < col("y.doc_id"))
    overBuckets.agg(count(lit(1)).as("n_overcap_buckets"))
      .crossJoin(overDocs.agg(count(lit(1)).as("n_overcap_docs")))
      .crossJoin(rescued.agg(count(lit(1)).as("n_rescued_pairs")))
  }

  private val dedupMinhashCapReportSql: String =
    // minhashEstCtes' bsz/overcap/fs CTEs are exactly the report's
    // inputs (unreferenced trailing CTEs are legal and ignored)
    s"""$minhashEstCtes,
       |rescued AS (
       |  SELECT x.doc_id AS a, y.doc_id AS b
       |  FROM fs x JOIN fs y ON x.fsig = y.fsig AND x.doc_id < y.doc_id)
       |SELECT
       |  (SELECT COUNT(*) FROM bsz WHERE bn > $LshBucketCap) AS n_overcap_buckets,
       |  (SELECT COUNT(*) FROM overcap) AS n_overcap_docs,
       |  (SELECT COUNT(*) FROM rescued) AS n_rescued_pairs""".stripMargin

  /** Corpus dedup report: the near-dup CLUSTER-SIZE histogram over the
    * minhash graph — (cluster size, number of clusters), size 1 =
    * unique docs. The first thing a curation team reads off a new
    * crawl: a heavy tail of large clusters means boilerplate; mass at
    * size 2–3 means genuine near-dup structure. Cost beyond the shared
    * pair index is the CC pass (edge-subgraph only) plus two tiny
    * aggregations — output is ≤ max-cluster-size rows.
    */
  def dedupClusterHistogram(s: SparkSession, dir: String): DataFrame = {
    val pairs = sharedMinhashPairs(s, dir).select(col("doc_a"), col("doc_b"))
    clustersOf(s, pairs, Tables.documents(s, dir).select(col("doc_id")))
      .groupBy(col("cluster")).agg(count(lit(1)).as("cluster_size"))
      .groupBy(col("cluster_size")).agg(count(lit(1)).as("n_clusters"))
      .orderBy(col("cluster_size"))
  }

  private val dedupClusterHistogramSql: String =
    s"""${minhashEstCtes.replaceFirst("WITH docs AS", "WITH RECURSIVE docs AS")},
       |mh_pairs AS (
       |  SELECT doc_a, doc_b FROM est WHERE est_jaccard >= 0.5),
       |und AS (
       |  SELECT doc_a AS src, doc_b AS dst FROM mh_pairs
       |  UNION ALL SELECT doc_b, doc_a FROM mh_pairs),
       |reach(id, lbl) AS (
       |  SELECT doc_id, doc_id FROM docs
       |  UNION
       |  SELECT und.dst, reach.lbl FROM reach JOIN und ON und.src = reach.id),
       |clusters AS (SELECT id AS doc_id, MIN(lbl) AS cluster FROM reach GROUP BY id),
       |sizes AS (SELECT cluster, COUNT(*) AS cluster_size FROM clusters GROUP BY cluster)
       |SELECT cluster_size, COUNT(*) AS n_clusters FROM sizes
       |GROUP BY cluster_size ORDER BY cluster_size""".stripMargin

  private val dedupKeepBestMinhashSql: String = {
    val stop = TextAnalysis.stopwords.map(w => s"'$w'")
      .mkString("t -> t IN (", ", ", ")")
    s"""${minhashEstCtes.replaceFirst("WITH docs AS", "WITH RECURSIVE docs AS")},
       |mh_pairs AS (
       |  SELECT doc_a, doc_b FROM est WHERE est_jaccard >= 0.5),
       |und AS (
       |  SELECT doc_a AS src, doc_b AS dst FROM mh_pairs
       |  UNION ALL SELECT doc_b, doc_a FROM mh_pairs),
       |reach(id, lbl) AS (
       |  SELECT doc_id, doc_id FROM docs
       |  UNION
       |  SELECT und.dst, reach.lbl FROM reach JOIN und ON und.src = reach.id),
       |clusters AS (SELECT id AS doc_id, MIN(lbl) AS cluster FROM reach GROUP BY id),
       |q AS (
       |  SELECT doc_id,
       |    (CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks)) *
       |      (1.0 - CAST(len(list_filter(toks, $stop)) AS DOUBLE) / len(toks))
       |      AS score
       |  FROM docs),
       |j AS (
       |  SELECT c.cluster, c.doc_id, q.score,
       |    COUNT(*) OVER (PARTITION BY c.cluster) AS n_members,
       |    ROW_NUMBER() OVER (PARTITION BY c.cluster
       |                       ORDER BY q.score DESC, c.doc_id) AS rn
       |  FROM clusters c JOIN q USING (doc_id))
       |SELECT cluster, doc_id, score, n_members FROM j WHERE rn = 1
       |ORDER BY cluster""".stripMargin
  }

  // ----------------------------------------------------------- simhash
  /** SimHash near-dups: 128-bit signature per document, candidates via
    * 8×16-bit band equality — by pigeonhole any pair within hamming ≤ 7
    * has at least one identical band, so the emitted hamming ≤ 7 set is
    * exactly recalled — verified with `bit_count(xor)` over both halves.
    * (Buckets past [[SimhashBucketCap]] route through an exact 14-bit
    * sub-band rescue instead of the direct self-join, so the guarantee
    * holds at every scale while degenerate-bucket work stays bounded —
    * design and measurements at the constant.)
    *
    * The 16-bit band width is the scale contract: band-bucket occupancy
    * is corpus/65536 per band, so candidate volume stays output-shaped
    * instead of the (corpus/256)² the previous 64-bit/8×8-band scheme
    * produced (measured 74× at the sf10 decade — quadratic). The wider
    * signature keeps the full pigeonhole guarantee at the same hamming ≤ 7
    * radius; on 128 bits that radius is RELATIVELY tighter (0.055 vs
    * 0.109), i.e. this detects closer near-dups.
    *
    * Recall vs the jaccard-0.8 exact pairs as a function of the hamming
    * threshold (measured in round 9 by the since-retired `SimhashRecall`
    * probe, whose numbers this table keeps; "banded" =
    * what the shipped 8-band generator recalls, "intrinsic" = the ceiling
    * with perfect candidate generation):
    * {{{
    * threshold t            3     5     7*    9     11    13    15
    * 500 docs  (28 pairs)  .536  .821  .857  .857  .893  .929  .964
    * 5000 docs (256 pairs) .391  .652  .766  .875  .941  .961  .973
    * }}}
    * (* = shipped operating point, the largest t the 8 bands recall
    * EXACTLY by pigeonhole.) On both corpora banded equals intrinsic at
    * EVERY threshold measured — the generator loses nothing even past
    * its guarantee on real near-dup structure. If an operating point
    * wants a looser radius (say t = 11, 0.94 recall at 5k docs), the
    * radius knob is band COUNT: pigeonhole at radius t needs t+1 bands,
    * so 12 16-bit bands over a 192-bit signature (or 16 over 256) keeps
    * occupancy at corpus/65536 while guaranteeing t = 11. Occupancy at
    * billions of documents is the OTHER knob, band width: 8×32-bit
    * bands over a 256-bit sha2 signature, same plan shape. Full value
    * oracle: the 128 token-hash bits are four 32-bit md5 truncations
    * DuckDB parses identically.
    */
  /** SimHash signatures via explode + 128 codegen'd vote aggregates — the
    * hot-path formulation (the compact `TextFns.simhash128` HOF fold is
    * interpreted; SimhashParitySpec asserts bit-equality of the two). The
    * shuffle carries 130 small columns per doc with map-side partial sums.
    * Bit b of the signature comes from md5 word b/32 (w0 = lowest hex
    * chars 25-32, … w3 = chars 1-8), bit b%32 — `sim_lo` packs bits 0-63,
    * `sim_hi` bits 64-127.
    */
  def simhashSignatures(s: SparkSession, dir: String): DataFrame = {
    val tok = Tables.documents(s, dir)
      .select(col("doc_id"), explode(toks).as("tok"))
      .select(col("doc_id") +: (0 until 4).map(i =>
        conv(substring(md5(col("tok")), 25 - 8 * i, 8), 16, 10)
          .cast("long").as(s"w$i")): _*)
    val voteCols = (0 until 128).map { b =>
      sum(shiftright(col(s"w${b / 32}"), b % 32).bitwiseAND(lit(1L)) * 2 - 1)
        .as(s"b$b")
    }
    def pack(base: Int): Column =
      (0 until 64).map(j =>
        when(col(s"b${base + j}") > 0, lit(1L << j)).otherwise(lit(0L)))
        .reduce(_.bitwiseOR(_))
    tok.groupBy(col("doc_id")).agg(voteCols.head, voteCols.tail: _*)
      .select(col("doc_id"), pack(64).as("sim_hi"), pack(0).as("sim_lo"))
  }

  /** Degenerate-band bucket threshold for [[dedupSimhash]]'s candidate
    * join — the simhash sibling of [[LshBucketCap]], found the same way
    * one decade later: the 5M-doc sf100 rung ran the banded join at
    * 1,913 s (60× the sf10 time at 10× the docs). On corpora whose
    * token distributions cluster (this generator's 30-word vocabulary;
    * real-world analog: heavy boilerplate), simhash signatures
    * concentrate and single 16-bit band values go degenerate — measured
    * occupancy of the hottest (band, bh) bucket by corpus: 42 docs at
    * 500 docs, 317 at 5k, 3,819 at 50k, 38,919 at 500k (7.8% of the
    * corpus behind ONE band value; Σbucket² = 15.5e9, which at the
    * measured ~130 ns/candidate IS the 31.6 s sf10 time).
    *
    * Unlike minhash's est≥0.5 pairs (~7 of 8 bands agree in
    * expectation), a radius-7 simhash pair is guaranteed only ONE
    * agreeing band, so plain exclusion is NOT a small recall trade
    * here — measured before rejecting it: a bare cap at sf10 lost
    * 54,062 of 95,961 true pairs (56%; the hot buckets are exactly
    * where near-identical docs collide). Over-cap buckets are instead
    * routed to an exact RESCUE: within a hot (band, bh) bucket both
    * docs agree on all 16 band bits, so every one of the pair's ≤ 7
    * differing bits lives in the remaining 112 — re-blocking those 112
    * bits into 8×14-bit sub-bands pigeonholes ≥ 1 agreeing sub-band,
    * and joining hot rows on (band, bh, sub-band, sub-value) recovers
    * every radius-7 pair. Work falls from B² per hot bucket to
    * Σ(sub-bucket²): identical-signature clusters (where candidates are
    * all TRUE pairs) stay together — output-shaped — while merely
    * band-degenerate docs split ~14 fresh bits apart. The full
    * formulation is therefore exact at EVERY scale (A/B-verified:
    * lost=0 at sf1 and sf10 against the uncapped join); the DuckDB
    * oracle stays the capless formulation, equal by that exactness.
    */
  val SimhashBucketCap = 2000L

  def dedupSimhash(s: SparkSession, dir: String): DataFrame =
    dedupSimhashCapped(s, dir, SimhashBucketCap)

  /** [[dedupSimhash]] with an explicit bucket cap — `Long.MaxValue`
    * recovers the uncapped formulation (the recall-A/B baseline).
    */
  def dedupSimhashCapped(s: SparkSession, dir: String, cap: Long): DataFrame = {
    // per-query cache, NOT a Shared materialization: measured at sf1,
    // the banded self-join over checkpointed signature blocks ran 2×
    // slower than over the same-plan cached aggregate (19 s vs 9 s —
    // the LogicalRDD source loses the aggregate's statistics, and the
    // join replans worse); the vote aggregation itself is ~1/3 of the
    // query, so the honest per-query cost stays visible either way
    val sh = simhashSignatures(s, dir).cache()
    // band b covers signature bits 16b..16b+15: bands 0-3 slice sim_lo,
    // bands 4-7 slice sim_hi (16·4 = 64, so the formula is uniform)
    val bandedAll = sh.select(col("doc_id"), col("sim_hi"), col("sim_lo"),
      posexplode(transform(sequence(lit(0), lit(7)),
        b => when(b < 4,
            call_function("shiftrightunsigned", col("sim_lo"), lit(16) * b))
          .otherwise(
            call_function("shiftrightunsigned", col("sim_hi"), lit(16) * (b - 4)))
          .bitwiseAND(lit(0xFFFFL)))))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "bh")
    // bucket-size window shares the (band, bh) shuffle the self-join
    // needs anyway; degenerate buckets are ROUTED (not dropped) before
    // the join fan-out — the quadratic lives in the join's candidate
    // volume (see SimhashBucketCap)
    val wBucket = org.apache.spark.sql.expressions.Window
      .partitionBy(col("band"), col("bh"))
    val withBn = bandedAll.withColumn("bn", count(lit(1)).over(wBucket))
    def ham(x: String, y: String): Column =
      (bit_count(col(s"$x.sim_hi").bitwiseXOR(col(s"$y.sim_hi"))) +
        bit_count(col(s"$x.sim_lo").bitwiseXOR(col(s"$y.sim_lo")))).as("hamming")
    val banded = withBn.filter(col("bn") <= cap)
      .select(col("doc_id"), col("sim_hi"), col("sim_lo"),
        col("band"), col("bh"))
    val smallPairs = banded.as("x").join(banded.as("y"),
        col("x.band") === col("y.band") && col("x.bh") === col("y.bh") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
        ham("x", "y"))
      // hamming is pair-intrinsic (band-independent), so the threshold
      // prunes BEFORE the cross-band dedup — the distinct shuffles only
      // true near-dup pairs, not every banded candidate (the candidate
      // count grows quadratically with bucket occupancy; the survivor
      // count grows with actual near-dups)
      .filter(col("hamming") <= 7)

    // exact rescue for over-cap buckets: both members of a radius-7
    // pair in the same (band, bh) bucket agree on all 16 band bits, so
    // all ≤ 7 flips live in the OTHER 112 bits — close the 16-bit hole,
    // slice the remainder into 8×14-bit sub-bands, and by pigeonhole
    // ≥ 1 sub-band is flip-free. JVM shifts are mod-64, so every
    // column-amount shift is split in two (p ≤ 48, then 16).
    def shr(c: Column, n: Column): Column =
      call_function("shiftrightunsigned", c, n)
    def shl(c: Column, n: Column): Column = call_function("shiftleft", c, n)
    val p = (col("band") % 4) * 16
    val below = shl(lit(1L), p) - 1 // low-p-bits mask (p=0 → 0)
    val restLo = when(col("band") < 4,
      col("sim_lo").bitwiseAND(below)
        .bitwiseOR(shl(shr(shr(col("sim_lo"), p), lit(16)), p))
        .bitwiseOR(shl(col("sim_hi").bitwiseAND(lit(0xFFFFL)), lit(48))))
      .otherwise(col("sim_lo"))
    val restHi = when(col("band") < 4, shr(col("sim_hi"), lit(16)))
      .otherwise(col("sim_hi").bitwiseAND(below)
        .bitwiseOR(shl(shr(shr(col("sim_hi"), p), lit(16)), p)))
    val mask14 = lit(0x3FFFL)
    val subSlices = array(
      restLo.bitwiseAND(mask14),
      shr(restLo, lit(14)).bitwiseAND(mask14),
      shr(restLo, lit(28)).bitwiseAND(mask14),
      shr(restLo, lit(42)).bitwiseAND(mask14),
      shr(restLo, lit(56)).bitwiseAND(lit(0xFFL))
        .bitwiseOR(shl(restHi.bitwiseAND(lit(0x3FL)), lit(8))),
      shr(restHi, lit(6)).bitwiseAND(mask14),
      shr(restHi, lit(20)).bitwiseAND(mask14),
      shr(restHi, lit(34)).bitwiseAND(mask14))
    val hotSub = withBn.filter(col("bn") > cap)
      .select(col("doc_id"), col("sim_hi"), col("sim_lo"),
        col("band"), col("bh"), posexplode(subSlices).as(Seq("sb", "sbh")))
    val hotPairs = hotSub.as("x").join(hotSub.as("y"),
        col("x.band") === col("y.band") && col("x.bh") === col("y.bh") &&
          col("x.sb") === col("y.sb") && col("x.sbh") === col("y.sbh") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
        ham("x", "y"))
      .filter(col("hamming") <= 7)

    smallPairs.unionByName(hotPairs)
      .distinct()
      .orderBy(col("doc_a"), col("doc_b"))
  }

  private val dedupSimhashSql: String = {
    val votes = (0 until 128).map { b =>
      s"SUM(CASE WHEN ((w${b / 32} >> ${b % 32}) & 1) = 1 THEN 1 ELSE -1 END) AS v$b"
    }
    val bits = (0 until 128).map(b => s"CASE WHEN v$b > 0 THEN 1 ELSE 0 END AS g$b")
    val bandRows = (0 until 8).map { bnd =>
      val e = (0 until 16).map(j => s"g${bnd * 16 + j} * ${1 << j}").mkString(" + ")
      s"SELECT doc_id, $bnd AS band, $e AS bh FROM bits"
    }
    // DuckDB's expression binder recurses per '+' chain link and caps at
    // depth 128 — group the 128 hamming terms into parenthesized 16-term
    // sub-sums so the tree stays shallow
    val ham = (0 until 128)
      .map(i => s"CASE WHEN ba.g$i <> bb.g$i THEN 1 ELSE 0 END")
      .grouped(16).map(_.mkString("(", " + ", ")")).mkString(" + ")
    val words = (0 until 4).map(i =>
      s"('0x' || substr(md5(tok), ${25 - 8 * i}, 8))::BIGINT AS w$i")
    s"""WITH docs AS (
       |  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks FROM documents),
       |t AS (SELECT doc_id, unnest(toks) AS tok FROM docs),
       |th AS (SELECT doc_id, ${words.mkString(", ")} FROM t),
       |votes AS (SELECT doc_id, ${votes.mkString(", ")} FROM th GROUP BY doc_id),
       |bits AS (SELECT doc_id, ${bits.mkString(", ")} FROM votes),
       |banded AS (${bandRows.mkString(" UNION ALL ")}),
       |cand AS (
       |  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
       |  FROM banded x JOIN banded y
       |    ON x.band = y.band AND x.bh = y.bh AND x.doc_id < y.doc_id),
       |ham AS (
       |  SELECT doc_a, doc_b, CAST($ham AS BIGINT) AS hamming
       |  FROM cand JOIN bits ba ON ba.doc_id = doc_a JOIN bits bb ON bb.doc_id = doc_b)
       |SELECT doc_a, doc_b, hamming FROM ham WHERE hamming <= 7
       |ORDER BY doc_a, doc_b""".stripMargin
  }

  // ---------------------------------------------------------- clusters
  /** Dedup completion: connected components over the near-dup pair graph,
    * so transitive duplicates (A~B, B~C ⇒ {A,B,C}) collapse to one
    * canonical representative (the component's min doc_id).
    *
    * Iterative min-label propagation with path halving (adopt the label of
    * my label each round ⇒ O(log diameter) rounds). Cost discipline per
    * round: exactly ONE materialization job — the whole round (neighbor-min
    * join+agg, label update, pointer jump, and a `chg` convergence flag) is
    * one plan ending in an eager `localCheckpoint`; convergence is then an
    * `isEmpty` probe over the just-cached blocks, and the superseded
    * round's blocks are unpersisted immediately. The edge list is the
    * shared [[jaccardPairs]] materialization, and iteration runs ONLY over
    * the edge-induced subgraph (|edge nodes| ≪ |corpus| at any scale);
    * edge-free documents are their own cluster and join back at the end.
    * Oracle: DuckDB recursive CTE computing min reachable id.
    */
  def dedupClusters(s: SparkSession, dir: String): DataFrame =
    clustersOf(s, jaccardPairs(s, dir),
      Tables.documents(s, dir).select(col("doc_id")))

  /** [[dedupClusters]]' label-propagation core over an ARBITRARY
    * near-dup pair graph — the edge set is a parameter so the same
    * convergence loop serves both the exact jaccard graph (above) and
    * the banded-minhash graph ([[dedupKeepBestMinhash]], the corpus-
    * scale rung). `pairs` needs columns (doc_a, doc_b); `universe` the
    * doc_id frame whose edge-free members become singleton clusters.
    */
  def clustersOf(s: SparkSession, pairs: DataFrame,
                 universe: DataFrame): DataFrame = {
    val sc = s.sparkContext
    // Mirror the (checkpointed) pair list; narrow re-read per round, no
    // separate materialization needed.
    val edges = pairs.select(col("doc_a"), col("doc_b"))
    val und = edges
      .select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .unionByName(edges
        .select(col("doc_b").as("src"), col("doc_a").as("dst")))

    // Each round must truncate lineage (localCheckpoint), not chain
    // cache(): unpersisting a round's cache cascades into caches built on
    // top of it, silently recomputing the whole upstream per round.
    def checkpointTracking(df: DataFrame): (DataFrame, Set[Int]) = {
      val before = sc.getPersistentRDDs.keySet.toSet
      val ck = df.localCheckpoint()
      (ck, sc.getPersistentRDDs.keySet.toSet -- before)
    }
    def release(ids: Set[Int]): Unit =
      ids.foreach(id => sc.getPersistentRDDs.get(id).foreach(_.unpersist(blocking = false)))

    var (labels, labelIds) = checkpointTracking(
      und.select(col("src").as("doc_id")).distinct()
        .withColumn("cluster", col("doc_id")))
    var converged = false
    var rounds = 0
    while (!converged && rounds < 64) {
      rounds += 1
      val nbrMin = und
        .join(labels, und("src") === labels("doc_id"))
        .groupBy(col("dst").as("d"))
        .agg(min(col("cluster")).as("nbr"))
      val step1 = labels
        .join(nbrMin, labels("doc_id") === nbrMin("d"), "left")
        .select(col("doc_id"), col("cluster").as("old"),
          least(col("cluster"), coalesce(col("nbr"), col("cluster"))).as("c1"))
      val jump = step1.select(col("doc_id").as("pid"), col("c1").as("pc"))
      val updated = least(col("c1"), coalesce(col("pc"), col("c1")))
      val (next, nextIds) = checkpointTracking(
        step1.join(jump, step1("c1") === jump("pid"), "left")
          .select(col("doc_id"), updated.as("cluster"),
            (updated =!= col("old")).as("chg")))
      converged = next.filter(col("chg")).isEmpty // probe over cached blocks
      release(labelIds)
      labels = next.drop("chg")
      labelIds = nextIds
    }
    // The final round's blocks back the returned (lazy) plan — released by
    // the caller via Shared.releaseTransient once the result is consumed.
    universe.select(col("doc_id"))
      .join(labels.withColumnRenamed("doc_id", "ldoc"),
        col("doc_id") === col("ldoc"), "left")
      .select(col("doc_id"), coalesce(col("cluster"), col("doc_id")).as("cluster"))
      .orderBy(col("doc_id"))
  }

  private val dedupClustersSql =
    s"""${shinglesCte.replaceFirst("WITH docs AS", "WITH RECURSIVE docs AS")},
       |sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
       |inter AS (
       |  SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, COUNT(*) AS i
       |  FROM sh x JOIN sh y ON x.sh = y.sh AND x.doc_id < y.doc_id
       |  GROUP BY 1, 2),
       |edges AS (
       |  SELECT doc_a, doc_b FROM inter
       |  JOIN sizes sa ON sa.doc_id = doc_a
       |  JOIN sizes sb ON sb.doc_id = doc_b
       |  WHERE CAST(i AS DOUBLE) / (sa.n + sb.n - i) >= 0.8),
       |und AS (
       |  SELECT doc_a AS src, doc_b AS dst FROM edges
       |  UNION ALL SELECT doc_b, doc_a FROM edges),
       |reach(id, lbl) AS (
       |  SELECT doc_id, doc_id FROM docs
       |  UNION
       |  SELECT und.dst, reach.lbl FROM reach JOIN und ON und.src = reach.id)
       |SELECT id AS doc_id, MIN(lbl) AS cluster FROM reach GROUP BY id
       |ORDER BY doc_id""".stripMargin

  // --------------------------------------------------- quality retention
  /** Quality-aware canonical retention: per near-dup cluster, keep the
    * HIGHEST-QUALITY member (max [[TextAnalysis.textQuality]] score,
    * min doc_id on ties) instead of [[dedupClusters]]' min-id
    * representative — the curation move real pipelines make (CCNet/C4
    * lineage: among duplicates, retain the cleanest copy, not the one
    * that happened to be crawled first).
    *
    * Shape at 100 TB: the cluster assignment is the CC pass (already
    * scaled — edge-induced subgraph only), the score is map-only over the
    * corpus scan, and the retention itself is ONE aggregation shuffle on
    * cluster id with map-side partial `max_by` — no window over the
    * corpus, no second shuffle. (Physically a SortAggregate pair, not
    * hash: `max_by`'s argmax buffer is a struct, which the hash-agg
    * codegen's mutable-primitive buffer cannot hold — the exchange
    * count, the metric that matters at scale, is pinned by spec.) Ties
    * are impossible in the `max_by` ordering (the struct's second
    * field, −doc_id, is unique), so the result is deterministic under
    * any partitioning.
    */
  def dedupKeepBest(s: SparkSession, dir: String): DataFrame =
    keepBestOf(dedupClusters(s, dir),
      Tables.documents(s, dir).select(
        col("doc_id"), TextAnalysis.scoreExpr(col("text")).as("score")))

  /** The retention aggregation alone — cluster assignment and quality
    * score are parameters so the same one-shuffle `max_by` serves the
    * exact graph ([[dedupKeepBest]]) and the minhash graph
    * ([[dedupKeepBestMinhash]]).
    */
  def keepBestOf(clusters: DataFrame, quality: DataFrame): DataFrame =
    clusters
      .join(quality, Seq("doc_id"))
      .groupBy(col("cluster"))
      .agg(
        max_by(struct(col("doc_id"), col("score")),
          struct(col("score"), -col("doc_id"))).as("best"),
        count(lit(1)).as("n_members"))
      .select(col("cluster"), col("best.doc_id").as("doc_id"),
        col("best.score").as("score"), col("n_members"))
      .orderBy(col("cluster"))

  /** [[dedupKeepBest]] on the CORPUS-SCALE ladder rung: clusters come
    * from the banded-MinHash near-dup graph (est_jaccard ≥ 0.5 pairs,
    * cap + identical-signature rescue — [[dedupMinhashLshCapped]])
    * instead of the exact shingle-overlap graph. This is the variant a
    * 100 TB curation pass actually runs: every stage is the sf100-
    * measured minhash pipeline plus the (edge-subgraph-only) label
    * propagation and one retention shuffle — no stage touches the
    * exact `overlap_pairs` build whose measured decade ceiling the
    * exact variant inherits. Same output contract: one row per
    * cluster, highest-score member kept, min doc_id on ties
    * (tie-free `max_by` ordering), singleton docs are their own
    * cluster.
    */
  def dedupKeepBestMinhash(s: SparkSession, dir: String): DataFrame = {
    // The edge list is the shared materialized pair set (see
    // sharedMinhashPairs for the two measured reasons it must be a
    // checkpoint, and a serialized one) — the loop's narrow per-round
    // re-reads hit its blocks, same contract as dedupClusters over the
    // shared overlap_pairs frame.
    val pairs = sharedMinhashPairs(s, dir)
      .select(col("doc_a"), col("doc_b"))
    keepBestOf(
      clustersOf(s, pairs, Tables.documents(s, dir).select(col("doc_id"))),
      Tables.documents(s, dir).select(
        col("doc_id"), TextAnalysis.scoreExpr(col("text")).as("score")))
  }

  private val dedupKeepBestSql = {
    val stop = TextAnalysis.stopwords.map(w => s"'$w'")
      .mkString("t -> t IN (", ", ", ")")
    s"""${shinglesCte.replaceFirst("WITH docs AS", "WITH RECURSIVE docs AS")},
       |sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
       |inter AS (
       |  SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, COUNT(*) AS i
       |  FROM sh x JOIN sh y ON x.sh = y.sh AND x.doc_id < y.doc_id
       |  GROUP BY 1, 2),
       |edges AS (
       |  SELECT doc_a, doc_b FROM inter
       |  JOIN sizes sa ON sa.doc_id = doc_a
       |  JOIN sizes sb ON sb.doc_id = doc_b
       |  WHERE CAST(i AS DOUBLE) / (sa.n + sb.n - i) >= 0.8),
       |und AS (
       |  SELECT doc_a AS src, doc_b AS dst FROM edges
       |  UNION ALL SELECT doc_b, doc_a FROM edges),
       |reach(id, lbl) AS (
       |  SELECT doc_id, doc_id FROM docs
       |  UNION
       |  SELECT und.dst, reach.lbl FROM reach JOIN und ON und.src = reach.id),
       |clusters AS (SELECT id AS doc_id, MIN(lbl) AS cluster FROM reach GROUP BY id),
       |q AS (
       |  SELECT doc_id,
       |    (CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks)) *
       |      (1.0 - CAST(len(list_filter(toks, $stop)) AS DOUBLE) / len(toks))
       |      AS score
       |  FROM docs),
       |j AS (
       |  SELECT c.cluster, c.doc_id, q.score,
       |    COUNT(*) OVER (PARTITION BY c.cluster) AS n_members,
       |    ROW_NUMBER() OVER (PARTITION BY c.cluster
       |                       ORDER BY q.score DESC, c.doc_id) AS rn
       |  FROM clusters c JOIN q USING (doc_id))
       |SELECT cluster, doc_id, score, n_members FROM j WHERE rn = 1
       |ORDER BY cluster""".stripMargin
  }

  // --------------------------------------------------------- winnowing
  /** Winnowing document fingerprints (the MOSS scheme): hash every
    * positional 3-gram shingle (rolling k-gram), then keep the minimum
    * hash of each sliding window of `w` consecutive positions. Guarantees:
    * any shared substring of length ≥ k + w − 1 tokens yields at least one
    * shared fingerprint, while storing only ~2/(w+1) of the hashes —
    * the sublinear sketch for plagiarism/near-dup detection. Relational
    * plan: positioned shingles → `min over (doc, position window)` →
    * distinct.
    *
    * The shingle hash is the md5 hex STRING (lexicographic min): any
    * injective deterministic hash satisfies the winnowing guarantees, and
    * md5 is bit-reproducible in DuckDB, giving this a full value oracle
    * (xxhash64 would be rows-only). At petabyte scale the index would
    * store a fixed-width 64-bit truncation instead of the 32-char string —
    * same scheme, cheaper keys.
    */
  /** Distinct (doc_id, fingerprint) pairs — the index a winnowing-based
    * matcher joins on. Only full windows fingerprint (trailing partial
    * windows are dropped), per the standard scheme.
    */
  def winnowIndex(s: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("p"))
    val winSize = 4
    positionedShingles(s, dir)
      .select(col("doc_id"), col("p"), md5(col("sh")).as("h"))
      .withColumn("fp", min(col("h")).over(w.rowsBetween(0, winSize - 1)))
      // a full window needs winSize trailing shingles: lead(h, winSize-1)
      // exists exactly when the window is complete
      .withColumn("full", lead(col("h"), winSize - 1).over(w).isNotNull)
      .filter(col("full"))
      .select(col("doc_id"), col("fp"))
      .distinct()
  }

  def textWinnowFingerprints(s: SparkSession, dir: String): DataFrame =
    winnowIndex(s, dir)
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_fps"), min(col("fp")).as("min_fp"), max(col("fp")).as("max_fp"))
      .orderBy(col("doc_id"))

  private val textWinnowFingerprintSql =
    """WITH docs AS (
      |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks FROM documents),
      |t AS (
      |  SELECT doc_id, generate_subscripts(toks, 1) AS p, unnest(toks) AS tok FROM docs),
      |sh AS (
      |  SELECT a.doc_id, a.p, md5(a.tok || ' ' || b.tok || ' ' || c.tok) AS h
      |  FROM t a
      |  JOIN t b ON a.doc_id = b.doc_id AND b.p = a.p + 1
      |  JOIN t c ON a.doc_id = c.doc_id AND c.p = a.p + 2),
      |win AS (
      |  SELECT doc_id, p, h,
      |         MIN(h) OVER (PARTITION BY doc_id ORDER BY p
      |                      ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp,
      |         LEAD(h, 3) OVER (PARTITION BY doc_id ORDER BY p) AS l3
      |  FROM sh),
      |fps AS (SELECT DISTINCT doc_id, fp FROM win WHERE l3 IS NOT NULL)
      |SELECT doc_id, COUNT(*) AS n_fps, MIN(fp) AS min_fp, MAX(fp) AS max_fp
      |FROM fps GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // ------------------------------------------------- repeated spans
  /** Cross-document repeated-span detection — substring-level dedup (the
    * Lee et al. "Deduplicating Training Data Makes Language Models
    * Better" criterion, re-expressed relationally): a token position is
    * DUPLICATED when some word-3-gram covering its 3-gram start also
    * occurs in at least one OTHER document; per document, duplicated
    * 3-gram occurrences merge into maximal spans (gaps-and-islands over
    * positions — overlapping or adjacent windows fuse), and the query
    * emits per-doc span statistics: the signal a curation pipeline
    * thresholds to drop boilerplate-heavy documents or clip copied
    * passages, one level finer than the whole-doc jaccard/minhash rungs.
    *
    * Plan shape at 100 TB — every stage linear: the duplicated-shingle
    * set is one count over the SHARED distinct (doc, shingle-hash) index
    * (count ≥ 2 ⇔ present in ≥ 2 docs, because the index is distinct per
    * doc); occurrence tagging is one hash join of positional shingles
    * against that set on 8-byte keys (a semi join — no pairwise stage of
    * any kind, unlike every operator above this one); span merging is a
    * per-doc window — embarrassingly parallel, partitions bounded by
    * document length.
    */
  /** Per-doc maximal-span statistics from marked k-gram start positions
    * `(doc_id, p)`: merge each occurrence's covered token interval
    * [p, p+k−1] with classic gaps-and-islands (overlapping or abutting
    * windows fuse), return one row per doc that has ≥ 1 span —
    * (doc_id, n_spans, covered_tokens, max_span). The window partitions
    * by doc_id: embarrassingly parallel, partitions bounded by document
    * length. Shared by [[dedupRepeatedSpans]] (k=3, cross-doc duplicated
    * 3-grams) and [[textDecontaminateSpans]] (k=8, eval-matching 8-grams).
    */
  private def spanStats(occ: DataFrame, k: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("p"))
    occ
      .withColumn("pe", col("p") + lit(k - 1))
      // a new span starts where this window neither overlaps nor abuts
      // the furthest end seen so far
      .withColumn("prev_max", max(col("pe")).over(w.rowsBetween(
        org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)))
      .withColumn("new_span", when(
        col("prev_max").isNull || col("p") > col("prev_max") + 1, 1
      ).otherwise(0))
      .withColumn("span_id", sum(col("new_span")).over(w))
      .groupBy(col("doc_id"), col("span_id"))
      .agg(min(col("p")).as("ss"), max(col("pe")).as("se"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_spans"),
        sum(col("se") - col("ss") + 1).as("covered_tokens"),
        max(col("se") - col("ss") + 1).cast("long").as("max_span"))
  }

  def dedupRepeatedSpans(s: SparkSession, dir: String): DataFrame = {
    val dupSh = docShingles(s, dir).groupBy(col("sh"))
      .agg(count(lit(1)).as("docs_with"))
      .filter(col("docs_with") >= 2)
      .select(col("sh"))
    val occ = positionedShingles(s, dir)
      .select(col("doc_id"), col("p"), md5Long60(col("sh")).as("sh"))
      .join(dupSh, Seq("sh"), "left_semi")
      .select(col("doc_id"), col("p"))
    val spans = spanStats(occ, k = 3)
      .withColumnRenamed("covered_tokens", "dup_tokens")
    Tables.documents(s, dir)
      .select(col("doc_id"), size(toks).cast("long").as("n_tokens"))
      .join(spans, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        coalesce(col("dup_tokens"), lit(0L)).as("dup_tokens"),
        coalesce(col("max_span"), lit(0L)).as("max_span"))
      .withColumn("dup_ratio", when(col("n_tokens") > 0,
        col("dup_tokens").cast("double") / col("n_tokens")).otherwise(lit(0.0)))
      .orderBy(col("doc_id"))
  }

  private val dedupRepeatedSpansSql =
    s"""$shinglesCte,
      |occ AS (
      |  SELECT a.doc_id, a.p,
      |    ('0x' || substr(md5(a.tok || ' ' || b.tok || ' ' || c.tok), 1, 15))::BIGINT AS h
      |  FROM t a
      |  JOIN t b ON a.doc_id = b.doc_id AND b.p = a.p + 1
      |  JOIN t c ON a.doc_id = c.doc_id AND c.p = a.p + 2),
      |dup AS (
      |  SELECT sh AS h FROM sh GROUP BY sh HAVING COUNT(*) >= 2),
      |d_occ AS (SELECT occ.doc_id, occ.p FROM occ JOIN dup USING (h)),
      |isl AS (
      |  SELECT doc_id, p, p + 2 AS pe,
      |         MAX(p + 2) OVER (PARTITION BY doc_id ORDER BY p
      |                          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_max
      |  FROM d_occ),
      |sp AS (
      |  SELECT doc_id, p, pe,
      |         SUM(CASE WHEN prev_max IS NULL OR p > prev_max + 1 THEN 1 ELSE 0 END)
      |           OVER (PARTITION BY doc_id ORDER BY p) AS span_id
      |  FROM isl),
      |spans AS (
      |  SELECT doc_id, span_id, MIN(p) AS ss, MAX(pe) AS se
      |  FROM sp GROUP BY doc_id, span_id),
      |per_doc AS (
      |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_spans,
      |         CAST(SUM(se - ss + 1) AS BIGINT) AS dup_tokens,
      |         CAST(MAX(se - ss + 1) AS BIGINT) AS max_span
      |  FROM spans GROUP BY doc_id),
      |nt AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens FROM docs)
      |SELECT nt.doc_id, nt.n_tokens,
      |       COALESCE(n_spans, 0) AS n_spans,
      |       COALESCE(dup_tokens, 0) AS dup_tokens,
      |       COALESCE(max_span, 0) AS max_span,
      |       CASE WHEN nt.n_tokens > 0
      |            THEN CAST(COALESCE(dup_tokens, 0) AS DOUBLE) / nt.n_tokens
      |            ELSE 0.0 END AS dup_ratio
      |FROM nt LEFT JOIN per_doc USING (doc_id)
      |ORDER BY nt.doc_id""".stripMargin

  // ------------------------------------------------------------ export
  // --------------------------------------------------- decontamination
  /** Benchmark decontamination: flag training documents sharing any
    * 8-gram with the evaluation set (here a deterministic pseudo-benchmark,
    * `doc_id % 7 = 0`; a real deployment supplies the benchmark corpus).
    * Plan shape: the eval side is a SEPARATE filtered scan — its predicate
    * pushes down, and a real benchmark is megabytes, so it broadcasts;
    * the train side streams through one shingle-equality hash join, never
    * an all-pairs comparison. 8-gram windows (vs the 3-gram similarity
    * index) make incidental overlap vanishingly unlikely — a hit means
    * copied spans, the decontamination criterion.
    */
  /** Positional 8-gram shingles of a (doc_id, text) frame — relational
    * and WINDOW-FREE: posexplode keeps the token array alongside each
    * row, so the 7 successor tokens come from element_at(toks, pos+2..8)
    * in the same whole-stage-codegen stage. The earlier window-lead
    * formulation (chosen over the interpreted HOF shingle builder — that
    * trade stands) still paid a full exchange + sort by doc_id before
    * the first shingle existed; the element_at form produces identical
    * (doc_id, pos, sh) rows with ZERO exchanges, so the per-drop decon
    * gate and every decontamination query start at the scan.
    */
  private def positioned8(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), TextFns.tokens(col("text")).as("toks"))
      .select(col("doc_id"), col("toks"),
        posexplode(col("toks")).as(Seq("pos", "tok")))
      .filter(col("pos") <= size(col("toks")) - 8) // complete 8-token windows
      .select(col("doc_id"), col("pos"),
        concat_ws(" ",
          col("tok") +: (2 to 8).map(i =>
            element_at(col("toks"), col("pos") + i)): _*).as("sh"))

  private def shingled8(docs: DataFrame): DataFrame =
    positioned8(docs).select(col("doc_id"), col("sh")).distinct()

  /** Decontaminate `train` against an ARBITRARY benchmark corpus — the
    * deployment form: both frames are (doc_id, text); output is one row
    * per contaminated (train_doc, eval_doc) pair with the shared-8-gram
    * count. The benchmark side is broadcast (an eval set is megabytes
    * against a 100 TB train corpus); the train side streams through one
    * shingle-equality hash join — never an all-pairs comparison.
    */
  def textDecontaminateAgainst(train: DataFrame, benchmark: DataFrame): DataFrame = {
    val ev = shingled8(benchmark).withColumnRenamed("doc_id", "eval_doc")
    val tr = shingled8(train).withColumnRenamed("doc_id", "train_doc")
    tr.join(broadcast(ev), "sh")
      .groupBy(col("train_doc"), col("eval_doc"))
      .agg(count(lit(1)).as("n_shared"))
      .orderBy(col("train_doc"), col("eval_doc"))
  }

  /** The static eval-side state a CONTINUOUS decontamination gate
    * broadcasts: distinct 8-gram shingles of the benchmark corpus,
    * 64-bit-hashed so a multi-million-shingle eval set broadcasts as
    * longs (8 B each) instead of ~60 B strings. Compute once, persist,
    * reuse for every drop — the benchmark does not change per batch.
    */
  def evalShingleHashes(benchmark: DataFrame): DataFrame =
    shingled8(benchmark).select(xxhash64(col("sh")).as("shh")).distinct()

  /** Doc-level decontamination ADMISSION — the streaming form of
    * [[textDecontaminateAgainst]]: drop every train document sharing any
    * 8-gram with the (pre-hashed) eval set, keep the rest. A pure
    * per-document predicate given the static eval state, so chunked
    * ingest trivially equals the one-shot filter — the property the
    * continuous pipeline asserts. Per-drop cost is one map (positional
    * 8-grams of the BATCH) + one broadcast semi join: O(batch), the
    * corpus is never touched. Hash collisions (~|eval|·|batch shingles|
    * / 2^64) can only over-reject, never admit contamination.
    */
  def decontaminateAdmit(train: DataFrame, evalHashes: DataFrame): DataFrame = {
    val hit = positioned8(train)
      .select(col("doc_id"), xxhash64(col("sh")).as("shh"))
      .join(broadcast(evalHashes), Seq("shh"), "left_semi")
      .select(col("doc_id")).distinct()
    train.join(hit, Seq("doc_id"), "left_anti")
  }

  /** Bloom summary (serialized bytes) of a pre-hashed eval relation —
    * built ONCE per eval version with Spark's own `BloomFilterAggregate`
    * and reused across every drop of a stream (null for an empty
    * relation). Capacity is the measured hash count: a fixed guess
    * erodes the FPP the moment the suite outgrows it.
    */
  /** BloomFilterAggregate silently CLAMPS its `estimatedNumItems` (and
    * the derived bit count) to the session confs
    * `spark.sql.optimizer.runtime.bloomFilter.maxNumItems` / `maxNumBits`
    * (defaults 4M items / 64Mi bits) — past that suite size the
    * capacity-tracks-measured-count property would quietly stop holding
    * and the FPP erode (a perf regression only: every caller re-verifies
    * exactly, but the Bloom would stop pruning). Raise both confs to
    * cover `n` BEFORE building, so capacity genuinely tracks the
    * measured count at any suite size. ~9.6 bits/item is the optimal
    * sizing at the aggregate's default 3% FPP, padded up.
    */
  /** Run `body` with the optimizer bloom caps raised to cover `n`, then
    * RESTORE the prior values: the caps also govern Spark's OWN
    * runtime-bloom-join injection, and leaving a 100M-item raise behind
    * would let every later large join in a shared session build
    * hundreds-of-MB blooms — an invisible cross-query side effect. The
    * aggregate inside `body` is built and executed eagerly (both
    * callers `.collect()`), so the scope genuinely covers it.
    */
  private def withBloomCapacity[T](s: SparkSession, n: Long)(body: => T): T = {
    val keys = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.maxNumItems" ->
        math.max(n, 4000000L),
      "spark.sql.optimizer.runtime.bloomFilter.maxNumBits" ->
        math.max(n * 10L, 67108864L))
    val prior = keys.map { case (k, _) => k -> s.conf.getOption(k) }
    keys.foreach { case (k, needed) =>
      if (s.conf.getOption(k).map(_.toLong).getOrElse(0L) < needed)
        s.conf.set(k, needed.toString)
    }
    try body
    finally prior.foreach {
      case (k, Some(v)) => s.conf.set(k, v)
      case (k, None) => s.conf.unset(k)
    }
  }

  def evalBloomOf(s: SparkSession, evalHashes: DataFrame): Array[Byte] = {
    s.sessionState.functionRegistry.createOrReplaceTempFunction(
      "graft_bloom_agg",
      exprs => new org.apache.spark.sql.catalyst.expressions.aggregate
        .BloomFilterAggregate(exprs(0), exprs(1)),
      "built-in")
    val n = math.max(evalHashes.count(), 1L)
    withBloomCapacity(s, n) {
      evalHashes
        .agg(call_function("graft_bloom_agg", col("shh"), lit(n)).as("bf"))
        .collect()(0).getAs[Array[Byte]](0)
    }
  }

  /** [[decontaminateAdmit]] for the STREAMING gate when the eval hash
    * relation is large and static per version: the r14 form rebuilt and
    * re-broadcast the multi-million-hash relation on EVERY drop (the
    * measured per-drop dominant once the v2 suite landed — ~4 s/drop at
    * the 1M soak). Here the per-version Bloom summary (megabytes,
    * broadcast ONCE, carried across drops as a handle) prunes the
    * batch's shingle hashes map-side, and the exact verify join runs
    * with the tiny SURVIVOR side broadcast against the persisted hash
    * relation — no false negatives plus exact verification, so the
    * admitted set is IDENTICAL to [[decontaminateAdmit]]'s (spec-pinned;
    * the one-shot expectation paths keep using the exact form for that
    * reason). Per-drop cost: one codegen bloom probe over the batch's
    * shingles + one scan of the cached hash relation.
    */
  def decontaminateAdmitBloom(s: SparkSession, train: DataFrame,
                              evalHashes: DataFrame,
                              bloom: org.apache.spark.broadcast.Broadcast[Array[Byte]])
      : DataFrame = {
    val fn = graft.functions.BloomBcastExpr.register(s, bloom)
    val survivors = positioned8(train)
      .select(col("doc_id"), xxhash64(col("sh")).as("shh"))
      .filter(call_function(fn, col("shh")))
    val hit = evalHashes.join(broadcast(survivors), Seq("shh"))
      .select(col("doc_id")).distinct()
    train.join(hit, Seq("doc_id"), "left_anti")
  }

  def textDecontaminate(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    textDecontaminateAgainst(
      docs.filter(col("doc_id") % 7 =!= 0),
      docs.filter(col("doc_id") % 7 === 0))
  }

  /** Span-level decontamination — the CLIP form: instead of flagging
    * whole (train, eval) doc pairs, mark WHICH token spans of each train
    * document match any evaluation 8-gram, merged maximally (a pipeline
    * that drops whole documents at any hit over-deletes; the standard
    * remedy excises the contaminated spans and keeps the rest). Output is
    * one row per contaminated train doc: span count, contaminated token
    * count, longest span, contamination ratio — the clip plan a
    * downstream rewrite executes.
    *
    * Same join discipline as [[textDecontaminateAgainst]]: the eval
    * shingle set broadcasts, the train side streams its positional
    * 8-grams through one semi join (occurrences keep positions, so no
    * distinct before the join — still linear, never pairwise), and the
    * span merge is the shared per-doc gaps-and-islands window.
    */
  /** (train frame, matched positional-8-gram occurrences `(doc_id, pos)`)
    * for the %7 benchmark split — the ONE definition of "contaminated
    * position" that both [[textDecontaminateSpans]] and
    * [[textClipContaminated]] consume. The clip's correctness story is
    * "executes exactly the plan the span query computes"; sharing this
    * makes that identity structural instead of textual duplication.
    */
  private def contaminatedOcc(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val docs = Tables.documents(s, dir)
    val train = docs.filter(col("doc_id") % 7 =!= 0)
    val evSh = shingled8(docs.filter(col("doc_id") % 7 === 0)).select(col("sh"))
    val occ = positioned8(train)
      .join(broadcast(evSh), Seq("sh"), "left_semi")
      .select(col("doc_id"), col("pos"))
    (train, occ)
  }

  def textDecontaminateSpans(s: SparkSession, dir: String): DataFrame = {
    val (train, occ0) = contaminatedOcc(s, dir)
    val occ = occ0.select(col("doc_id"), col("pos").as("p"))
    spanStats(occ, k = 8)
      .join(train.select(col("doc_id"),
        size(TextFns.tokens(col("text"))).cast("long").as("n_tokens")), "doc_id")
      .select(col("doc_id").as("train_doc"), col("n_tokens"), col("n_spans"),
        col("covered_tokens").as("contaminated_tokens"), col("max_span"))
      .withColumn("contamination_ratio",
        col("contaminated_tokens").cast("double") / col("n_tokens"))
      .orderBy(col("train_doc"))
  }

  /** The clip itself — the rewrite [[textDecontaminateSpans]] plans:
    * for every contaminated train document, excise all tokens covered by
    * an eval-matching 8-gram and re-assemble the remaining tokens in
    * order. Output is one row per contaminated doc with the cleaned text
    * and the kept-token count (possibly 0 tokens / empty string when the
    * whole document is contaminated) — what a curation pipeline writes
    * back in place of dropping the document.
    *
    * Cost stays linear: covered positions explode from MATCHED 8-gram
    * starts only (≤ 8× the match count, not the corpus), kept tokens are
    * one anti join on (doc, pos), and reassembly is a per-doc sort-merge
    * of its own tokens — no stage touches more than the corpus token
    * stream once.
    */
  /** Clip executor shared by [[textClipContaminated]] (k=8, eval-matching
    * spans) and [[dedupClipRepeated]] (k=3, non-canonical duplicated
    * spans): given a docs universe and marked k-gram start occurrences
    * `(doc_id, pos)`, excise every covered token and re-assemble the
    * survivors in order — one row per AFFECTED doc (doc_id, n_tokens,
    * kept_tokens, clean_text; empty string when fully covered). Covered
    * positions explode from matched starts only (≤ k× the match count),
    * kept tokens are one (doc, pos) anti join, reassembly a per-doc sort
    * of its own tokens — all linear.
    */
  private def clipSpans(docs: DataFrame, occ: DataFrame, k: Int): DataFrame = {
    val covered = occ
      .select(col("doc_id"),
        explode(sequence(col("pos"), col("pos") + (k - 1))).as("pos"))
      .distinct()
    val toksPos = docs.select(col("doc_id"),
      posexplode(TextFns.tokens(col("text"))).as(Seq("pos", "tok")))
    val kept = toksPos.join(covered, Seq("doc_id", "pos"), "left_anti")
    val affected = covered.select(col("doc_id")).distinct()
    val cleaned = kept
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("kept_tokens"),
        array_join(transform(
          array_sort(collect_list(struct(col("pos"), col("tok")))),
          x => x.getField("tok")), " ").as("clean_text"))
    affected
      .join(docs.select(col("doc_id"),
        size(TextFns.tokens(col("text"))).cast("long").as("n_tokens")), "doc_id")
      .join(cleaned, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("kept_tokens"), lit(0L)).as("kept_tokens"),
        coalesce(col("clean_text"), lit("")).as("clean_text"))
      .orderBy(col("doc_id"))
  }

  def textClipContaminated(s: SparkSession, dir: String): DataFrame = {
    val (train, occ) = contaminatedOcc(s, dir)
    clipSpans(train, occ, k = 8)
      .withColumnRenamed("doc_id", "train_doc")
  }

  /** Self-dedup clip — the first-wins span-removal rewrite (the Lee et
    * al. "keep one copy" discipline at span granularity): for every
    * word-3-gram shared by ≥ 2 documents, the CANONICAL document is the
    * smallest doc_id containing it (the same first-wins rule the exact
    * dedup and incremental-admission rungs use); every occurrence in a
    * NON-canonical document is clipped, so exactly one copy of each
    * repeated span survives in the corpus. Output is one row per
    * affected doc with the cleaned text. Plan shape: the canonical map
    * is one aggregate over the shared distinct (doc, shingle-hash)
    * index; occurrence tagging one 8-byte-key hash join; the clip is
    * [[clipSpans]] — all linear, no pairwise stage.
    */
  def dedupClipRepeated(s: SparkSession, dir: String): DataFrame = {
    val canon = docShingles(s, dir).groupBy(col("sh"))
      .agg(count(lit(1)).as("docs_with"), min(col("doc_id")).as("canon"))
      .filter(col("docs_with") >= 2)
      .select(col("sh"), col("canon"))
    val occ = positionedShingles(s, dir)
      .select(col("doc_id"), col("p").as("pos"), md5Long60(col("sh")).as("sh"))
      .join(canon, "sh")
      .filter(col("doc_id") =!= col("canon"))
      .select(col("doc_id"), col("pos"))
    clipSpans(Tables.documents(s, dir), occ, k = 3)
  }

  private val dedupClipRepeatedSql =
    s"""$shinglesCte,
      |occ AS (
      |  SELECT a.doc_id, a.p,
      |    ('0x' || substr(md5(a.tok || ' ' || b.tok || ' ' || c.tok), 1, 15))::BIGINT AS h
      |  FROM t a
      |  JOIN t b ON a.doc_id = b.doc_id AND b.p = a.p + 1
      |  JOIN t c ON a.doc_id = c.doc_id AND c.p = a.p + 2),
      |canon AS (
      |  SELECT sh AS h, MIN(doc_id) AS canon FROM sh
      |  GROUP BY sh HAVING COUNT(*) >= 2),
      |d_occ AS (
      |  SELECT occ.doc_id, occ.p FROM occ JOIN canon USING (h)
      |  WHERE occ.doc_id != canon.canon),
      |cov AS (SELECT DISTINCT doc_id, unnest(generate_series(p, p + 2)) AS pos
      |        FROM d_occ),
      |kept AS (
      |  SELECT t.doc_id, t.p AS pos, t.tok FROM t
      |  LEFT JOIN cov ON t.doc_id = cov.doc_id AND t.p = cov.pos
      |  WHERE cov.doc_id IS NULL),
      |cleaned AS (
      |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS kept_tokens,
      |         string_agg(tok, ' ' ORDER BY pos) AS clean_text
      |  FROM kept GROUP BY doc_id),
      |affected AS (SELECT DISTINCT doc_id FROM cov),
      |nt AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens FROM docs)
      |SELECT a.doc_id, nt.n_tokens,
      |       COALESCE(cleaned.kept_tokens, 0) AS kept_tokens,
      |       COALESCE(cleaned.clean_text, '') AS clean_text
      |FROM affected a
      |JOIN nt USING (doc_id)
      |LEFT JOIN cleaned USING (doc_id)
      |ORDER BY a.doc_id""".stripMargin

  private val textClipContaminatedSql =
    """WITH docs AS (
      |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks FROM documents),
      |idx AS (SELECT doc_id, toks,
      |               unnest(generate_series(1, len(toks) - 7)) AS i
      |        FROM docs),
      |g AS (SELECT doc_id, i AS p, array_to_string(toks[i:i+7], ' ') AS sh FROM idx),
      |ev AS (SELECT DISTINCT sh FROM g WHERE doc_id % 7 = 0),
      |occ AS (SELECT g.doc_id, g.p FROM g JOIN ev USING (sh) WHERE g.doc_id % 7 != 0),
      |cov AS (SELECT DISTINCT doc_id, unnest(generate_series(p, p + 7)) AS pos FROM occ),
      |t AS (SELECT doc_id, generate_subscripts(toks, 1) AS pos, unnest(toks) AS tok
      |      FROM docs WHERE doc_id % 7 != 0),
      |kept AS (
      |  SELECT t.doc_id, t.pos, t.tok FROM t
      |  LEFT JOIN cov ON t.doc_id = cov.doc_id AND t.pos = cov.pos
      |  WHERE cov.doc_id IS NULL),
      |cleaned AS (
      |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS kept_tokens,
      |         string_agg(tok, ' ' ORDER BY pos) AS clean_text
      |  FROM kept GROUP BY doc_id),
      |contaminated AS (SELECT DISTINCT doc_id FROM cov),
      |nt AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens FROM docs)
      |SELECT c.doc_id AS train_doc, nt.n_tokens,
      |       COALESCE(cleaned.kept_tokens, 0) AS kept_tokens,
      |       COALESCE(cleaned.clean_text, '') AS clean_text
      |FROM contaminated c
      |JOIN nt USING (doc_id)
      |LEFT JOIN cleaned USING (doc_id)
      |ORDER BY train_doc""".stripMargin

  private val textDecontaminateSpansSql =
    """WITH docs AS (
      |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks FROM documents),
      |idx AS (SELECT doc_id, toks,
      |               unnest(generate_series(1, len(toks) - 7)) AS i
      |        FROM docs),
      |g AS (SELECT doc_id, i AS p, array_to_string(toks[i:i+7], ' ') AS sh FROM idx),
      |ev AS (SELECT DISTINCT sh FROM g WHERE doc_id % 7 = 0),
      |occ AS (SELECT g.doc_id, g.p FROM g JOIN ev USING (sh) WHERE g.doc_id % 7 != 0),
      |isl AS (
      |  SELECT doc_id, p, p + 7 AS pe,
      |         MAX(p + 7) OVER (PARTITION BY doc_id ORDER BY p
      |                          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_max
      |  FROM occ),
      |sp AS (
      |  SELECT doc_id, p, pe,
      |         SUM(CASE WHEN prev_max IS NULL OR p > prev_max + 1 THEN 1 ELSE 0 END)
      |           OVER (PARTITION BY doc_id ORDER BY p) AS span_id
      |  FROM isl),
      |spans AS (
      |  SELECT doc_id, span_id, MIN(p) AS ss, MAX(pe) AS se
      |  FROM sp GROUP BY doc_id, span_id),
      |per_doc AS (
      |  SELECT doc_id AS train_doc, CAST(COUNT(*) AS BIGINT) AS n_spans,
      |         CAST(SUM(se - ss + 1) AS BIGINT) AS contaminated_tokens,
      |         CAST(MAX(se - ss + 1) AS BIGINT) AS max_span
      |  FROM spans GROUP BY doc_id),
      |nt AS (SELECT doc_id AS train_doc, CAST(len(toks) AS BIGINT) AS n_tokens FROM docs)
      |SELECT p.train_doc, nt.n_tokens, p.n_spans, p.contaminated_tokens, p.max_span,
      |       CAST(p.contaminated_tokens AS DOUBLE) / nt.n_tokens AS contamination_ratio
      |FROM per_doc p JOIN nt USING (train_doc)
      |ORDER BY train_doc""".stripMargin

  /** [[textDecontaminateAgainst]] with a BLOOM pre-filter on the train
    * side — the 100 TB shape when the benchmark's shingle set is too big
    * to broadcast-join raw but its Bloom summary is not: a compact filter
    * over the benchmark shingles prunes the train corpus map-side BEFORE
    * any join, so only candidate shingles reach the shuffle. The filter is
    * built distributed with Spark's own `BloomFilterAggregate` (what AQE
    * injects for shuffle joins), sized from the MEASURED benchmark shingle
    * count (a fixed capacity silently inflates the false-positive rate the
    * moment the benchmark outgrows it — FPP erosion, never a wrong
    * answer), then shipped as a BROADCAST variable consumed by
    * [[graft.functions.BloomBcastExpr]] — task binaries carry a handle,
    * not the filter, so filter size never inflates task serialization.
    * Bloom filters admit no false negatives and the exact join still runs
    * on the survivors, so the result is IDENTICAL to the exact form —
    * pinned by spec and by sharing its DuckDB oracle.
    *
    * Caller-owned cache lifecycle: the returned plan reads a CACHED
    * benchmark shingle frame (it feeds both the filter build and the
    * verification join; uncached, the windowed shingling runs twice).
    * The cache is materialized before return; library callers embedding
    * this in a long-lived session should release it after consuming the
    * result — `spark.catalog.clearCache()` or track via the Spark UI
    * storage tab. Bench/Verify release it in their per-query cleanup.
    */
  def textDecontaminateBloomAgainst(s: SparkSession, train: DataFrame,
                                    benchmark: DataFrame,
                                    expectedItems: Option[Long] = None): DataFrame = {
    s.sessionState.functionRegistry.createOrReplaceTempFunction(
      "graft_bloom_agg",
      exprs => new org.apache.spark.sql.catalyst.expressions.aggregate
        .BloomFilterAggregate(exprs(0), exprs(1)),
      "built-in")
    val ev = shingled8(benchmark).withColumnRenamed("doc_id", "eval_doc").cache()
    val tr = shingled8(train).withColumnRenamed("doc_id", "train_doc")
    // capacity = the actual distinct-shingle count (the count also
    // materializes the cache, so the bloom agg below reads cached blocks);
    // callers with a known corpus can pin it and skip the counting job
    val nItems = expectedItems.getOrElse(math.max(ev.count(), 1L))
    val bf = withBloomCapacity(s, nItems) {
      ev.agg(call_function("graft_bloom_agg",
          xxhash64(col("sh")), lit(nItems)).as("bf"))
        .collect()(0).getAs[Array[Byte]](0)
    }
    val pruned =
      if (bf == null) tr.filter(lit(false)) // empty benchmark: no overlaps
      else {
        val bcast = s.sparkContext.broadcast(bf)
        tr.filter(call_function(
          graft.functions.BloomBcastExpr.register(s, bcast),
          xxhash64(col("sh"))))
      }
    // deliberately NOT a broadcast join: this variant exists for the
    // regime where the benchmark shingle set exceeds broadcast size (only
    // its Bloom summary fits) — the verification join shuffles the
    // PRUNED survivors against it, which is exactly the shape that
    // survives that regime
    pruned.join(ev, "sh")
      .groupBy(col("train_doc"), col("eval_doc"))
      .agg(count(lit(1)).as("n_shared"))
      .orderBy(col("train_doc"), col("eval_doc"))
  }

  def textDecontaminateBloom(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    textDecontaminateBloomAgainst(s,
      docs.filter(col("doc_id") % 7 =!= 0),
      docs.filter(col("doc_id") % 7 === 0))
  }

  /** EVAL-VERSION BACK-SCREENING as a first-class batch operator: a new
    * eval version screens later drops in the stream ([[EvalSet]]), but
    * the ALREADY-ADMITTED corpus must be re-screened by a separate batch
    * pass — this is that pass, driven end-to-end through the versioned
    * store. v1 (half the held-out slice, `doc_id % 14 = 0`) admits the
    * train corpus; v2 (the full slice, `% 7 = 0`) is published; the
    * back-screen flags exactly the v1-admitted docs contaminated under
    * v2 — the takedown feed a production pipeline would hand to
    * [[Retraction]]. Cost shape: one pruned read of the v2 hash
    * relation (broadcast) + one pass over the admitted corpus — the
    * same O(corpus) map + broadcast-semi-join as the per-drop gate,
    * never corpus × eval.
    */
  def textDeconBackscreen(s: SparkSession, dir: String): DataFrame = {
    val evalDir = graft.Shared.scratchDir("graft-backscreen")
    graft.Shared.scratchRun(evalDir) {
      val docs = Tables.documents(s, dir)
      EvalSet.publish(s, evalDir, docs.filter(col("doc_id") % 14 === 0))
      EvalSet.publish(s, evalDir, docs.filter(col("doc_id") % 7 === 0))
      val train = docs.filter(col("doc_id") % 7 =!= 0)
      val admittedV1 = decontaminateAdmit(train, EvalSet.hashesAt(s, evalDir, 1))
      val survivorsV2 =
        decontaminateAdmit(admittedV1, EvalSet.hashesAt(s, evalDir, 2))
      admittedV1.select(col("doc_id"))
        .join(survivorsV2.select(col("doc_id")), Seq("doc_id"), "left_anti")
        .orderBy(col("doc_id"))
    }
  }

  private val textDeconBackscreenSql =
    """WITH docs AS (
      |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks FROM documents),
      |idx AS (SELECT doc_id, toks,
      |               unnest(generate_series(1, len(toks) - 7)) AS i
      |        FROM docs),
      |sh AS (SELECT DISTINCT doc_id, array_to_string(toks[i:i+7], ' ') AS sh
      |       FROM idx),
      |ev1 AS (SELECT DISTINCT sh FROM sh WHERE doc_id % 14 = 0),
      |ev2 AS (SELECT DISTINCT sh FROM sh WHERE doc_id % 7 = 0),
      |contam1 AS (SELECT DISTINCT t.doc_id FROM sh t JOIN ev1 ON t.sh = ev1.sh
      |            WHERE t.doc_id % 7 != 0),
      |contam2 AS (SELECT DISTINCT t.doc_id FROM sh t JOIN ev2 ON t.sh = ev2.sh
      |            WHERE t.doc_id % 7 != 0)
      |SELECT CAST(doc_id AS BIGINT) AS doc_id FROM docs
      |WHERE doc_id % 7 != 0
      |  AND doc_id NOT IN (SELECT doc_id FROM contam1)
      |  AND doc_id IN (SELECT doc_id FROM contam2)
      |ORDER BY doc_id""".stripMargin

  private val textDecontaminateSql =
    """WITH docs AS (
      |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks FROM documents),
      |idx AS (SELECT doc_id, toks,
      |               unnest(generate_series(1, len(toks) - 7)) AS i
      |        FROM docs),
      |sh AS (SELECT DISTINCT doc_id, array_to_string(toks[i:i+7], ' ') AS sh
      |       FROM idx),
      |ev AS (SELECT * FROM sh WHERE doc_id % 7 = 0),
      |tr AS (SELECT * FROM sh WHERE doc_id % 7 != 0)
      |SELECT tr.doc_id AS train_doc, ev.doc_id AS eval_doc, COUNT(*) AS n_shared
      |FROM tr JOIN ev ON tr.sh = ev.sh
      |GROUP BY 1, 2 ORDER BY train_doc, eval_doc""".stripMargin

  val queries: Map[String, Q] = Map(
    "text_decontaminate" -> (textDecontaminate _),
    "text_decon_backscreen" -> (textDeconBackscreen _),
    "text_decontaminate_spans" -> (textDecontaminateSpans _),
    "text_clip_contaminated" -> (textClipContaminated _),
    "text_decontaminate_bloom" -> (textDecontaminateBloom _),
    "dedup_clusters" -> (dedupClusters _),
    "dedup_keep_best" -> (dedupKeepBest _),
    "dedup_keep_best_minhash" -> (dedupKeepBestMinhash _),
    "dedup_cluster_histogram" -> (dedupClusterHistogram _),
    "text_winnow_fingerprint" -> (textWinnowFingerprints _),
    "dedup_exact" -> (dedupExact _),
    "dedup_repeated_spans" -> (dedupRepeatedSpans _),
    "dedup_clip_repeated" -> (dedupClipRepeated _),
    "dedup_ngram_jaccard" -> (dedupNgramJaccard _),
    "dedup_containment" -> (dedupContainment _),
    "dedup_minhash_lsh" -> (dedupMinhashLsh _),
    "dedup_minhash_cap_report" -> (dedupMinhashCapReport _),
    "dedup_simhash" -> (dedupSimhash _))

  val oracles: Map[String, String] = Map(
    "text_decontaminate" -> textDecontaminateSql,
    "text_decon_backscreen" -> textDeconBackscreenSql,
    "text_decontaminate_spans" -> textDecontaminateSpansSql,
    "text_clip_contaminated" -> textClipContaminatedSql,
    // no false negatives + identical exact join downstream => the bloom
    // variant provably computes the same result; it shares the oracle
    "text_decontaminate_bloom" -> textDecontaminateSql,
    "dedup_clusters" -> dedupClustersSql,
    "dedup_keep_best" -> dedupKeepBestSql,
    "dedup_keep_best_minhash" -> dedupKeepBestMinhashSql,
    "dedup_cluster_histogram" -> dedupClusterHistogramSql,
    "dedup_exact" -> dedupExactSql,
    "dedup_repeated_spans" -> dedupRepeatedSpansSql,
    "dedup_clip_repeated" -> dedupClipRepeatedSql,
    "dedup_ngram_jaccard" -> dedupNgramJaccardSql,
    "dedup_containment" -> dedupContainmentSql,
    "dedup_minhash_lsh" -> dedupMinhashLshSql,
    "dedup_minhash_cap_report" -> dedupMinhashCapReportSql,
    "dedup_simhash" -> dedupSimhashSql,
    "text_winnow_fingerprint" -> textWinnowFingerprintSql)
}
