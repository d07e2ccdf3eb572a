package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DoubleType, LongType, StringType, StructField, StructType}

import graft.Trace
import graft.streaming.BucketState

/** Incremental QUALITY-AWARE RETENTION over a persisted banded-MinHash
  * cluster index — the streaming form of [[Dedup.dedupKeepBestMinhash]]
  * and the retention semantics the live pipeline was missing: the
  * first-wins admission of [[IncrementalNearDup]] DISCARDS a
  * higher-quality duplicate that arrives after its cluster's first
  * member, while a real curation pipeline must keep the BEST member of
  * every near-dup cluster no matter the arrival order
  * (replace-on-better). This is the reference's last-correct-state-per-
  * key semantic (`/root/reference/tests/test_consistency.py:56-75`)
  * lifted from primary keys to near-dup clusters: the key is the
  * cluster, the "latest state" is the best-scoring member so far.
  *
  * CONTRACT: after ingesting any ascending-doc_id partition of a corpus
  * in any number of batches, [[snapshot]] EQUALS the one-shot
  * `keepBestOf(clustersOf(prefix-capped verified pairs), scoreExpr)`
  * over the union — per cluster (= min doc_id of the connected
  * component of the verified near-dup graph) the row (cluster, best
  * doc_id, best score, n_members), max score winning, min doc_id on
  * ties. The edge predicate is the prefix-capped graph DECLARED at
  * [[IncrementalNearDup.bucketCap]]: same shingle window, same 60-bit
  * md5, same 32 permutations, same 8×4 banding
  * ([[IncrementalNearDup.bandRowsOf]] — one hash ladder, drift
  * impossible), est-Jaccard ≥ 0.5 via [[IncrementalNearDup.nearDup]],
  * banded candidates bounded per bucket by the cap with saturated
  * arrivals routed through the identical-signature rescue. The cap is
  * the r12 contract's "declared future knob", landed: the uncapped
  * form produced a measured 122M-edge batch subgraph at the 5M-doc
  * sf100 rung and ran a 64 GB disk to death, exactly the degeneracy
  * class the one-shot rung's [[Dedup.LshBucketCap]] bounds. Below the
  * cap (every scale through sf10 — measured max bucket 857) the graph
  * IS the uncapped graph, so all prior-round artifacts are unchanged;
  * where the cap bites, the DuckDB oracle replays the identical
  * prefix-capped semantics, so streamed ≡ batch replay still gates
  * every scale.
  *
  * WHY CLUSTERS ARE HARD INCREMENTALLY (and what this does about it):
  * a new document can BRIDGE two existing clusters, so cluster
  * identity cannot be frozen at insert time. The index therefore
  * stores, per document, the cluster root AS OF its insertion, plus an
  * append-only FORWARDING relation (old root → smaller root) written
  * whenever a batch merges components — a relational union-find.
  * Because drops arrive in ascending doc_id order, roots only ever
  * decrease toward the component's true minimum, so "min(to) per from"
  * is always the freshest pointer and resolution is a short pointer
  * chase. Every batch path-compresses the chains it walks (it appends
  * label → final-root rows for each label it had to resolve), so
  * chains stay near length 1 for hot clusters; [[snapshot]] resolves
  * all labels to fixpoint regardless, so even a cold chain of any
  * length reads correctly.
  *
  * Index layout (one [[BucketState]] store, one manifest, one atomic
  * commit per batch — layout stamp `keepbest-v2`): five row kinds under
  * one schema `(band, bh, doc_id, sig, label, score)`, bucketed by
  * `xxhash64(band, bh)`:
  *  - band rows `(band ∈ [0,8), bh, doc_id)` — LSH keys, the batch's
  *    candidate probe reads only the buckets its own band rows hash
  *    into (partition-pruned paths);
  *  - sig rows `(band = -1, bh = doc_id, sig)` — one 32-slot signature
  *    per doc, fetched only for the buckets candidate seen-ids hash to;
  *  - member rows `(band = -2, bh = doc_id, label, score)` — the
  *    doc's insert-time cluster root and quality score, fetched only
  *    for candidate seen-ids;
  *  - fwd rows `(band = -3, bh = "fwd", doc_id = from, label = to)` —
  *    the union-find forwarding relation, pinned to ONE constant bucket
  *    and read as one bounded frame per batch (merge-bounded, path-
  *    compressed — see [[fwdBucket]] for why it wants the opposite
  *    layout from the corpus-proportional row kinds);
  *  - sig-key rows `(band = -4, bh = md5(sig), doc_id = batch min)` —
  *    the identical-signature rescue's lookup relation (one narrow row
  *    per distinct sig per batch; readers min over appended rows).
  * Every read side is O(batch ∪ touched index): the corpus is never
  * rescanned, and at 100 TB a drop moves only its own band keys, the
  * signatures/members of its collision candidates, and the (merge-
  * bounded, path-compressed) forwarding rows of the labels it touches.
  * The per-batch component pass runs over the BATCH SUBGRAPH only
  * (batch docs + the existing roots its edges reach) — label
  * propagation cost is edge-shaped, never corpus-shaped.
  */
object IncrementalKeepBest {

  private val rowSchema = StructType(Seq(
    StructField("band", LongType), StructField("bh", StringType),
    StructField("doc_id", LongType),
    StructField("sig", ArrayType(LongType, containsNull = false)),
    StructField("label", LongType), StructField("score", DoubleType)))

  private val memberSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("label", LongType),
    StructField("score", DoubleType)))

  /** Corpus-proportional row kinds (band/sig/member) hash over buckets
    * `[0, nBuckets-1)`; bucket `nBuckets-1` is RESERVED for forwarding
    * rows alone. Unlike the other kinds — spread for pruned point
    * reads — the forwarding relation is bounded by the number of CLUSTER
    * MERGES ever performed and path compression keeps it near-minimal,
    * so the resolver wants the opposite layout: the whole relation in
    * one place, read once per batch, joined in memory across fixpoint
    * rounds — and nothing else in its bucket, or the read drags 1/N of
    * the whole index along (measured: resolve grew 0.3 → 1.7 s/drop in
    * the traced 200k soak while sharing a hashed bucket). (A deployment
    * at billions of merges would shard this by `from`; the read pattern
    * stays one bounded frame, not point reads.)
    */
  private def fwdBucket(nBuckets: Int): Long = nBuckets - 1L

  private def bucketOf(nBuckets: Int) =
    when(col("band") === -3L, lit(fwdBucket(nBuckets)))
      .otherwise(pmod(xxhash64(col("band"), col("bh")),
        lit((nBuckets - 1).toLong)))

  private def kindBucketOf(kind: Long, key: Column, nBuckets: Int): Column =
    pmod(xxhash64(lit(kind), key.cast("string")), lit((nBuckets - 1).toLong))

  private def emptyIdx(spark: SparkSession): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      rowSchema.add("p", LongType))

  /** Driver union-find over a collected edge list — min-id roots, path
    * compression; exactly [[Dedup.clustersOf]]'s answer ((doc_id,
    * cluster) over `universe`, cluster = min reachable id, singletons
    * label themselves), pinned equal by spec with the threshold forced
    * both ways. Only called under the bounded-edge regime.
    */
  private def unionFindLabels(spark: SparkSession, pairs: DataFrame,
                              universe: DataFrame): DataFrame = {
    val parent = scala.collection.mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent(r)
      var c = x
      while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    pairs.select(col("doc_a"), col("doc_b")).collect().foreach { row =>
      val (ra, rb) = (find(row.getLong(0)), find(row.getLong(1)))
      if (ra != rb) {
        if (ra < rb) parent(rb) = ra else parent(ra) = rb
      }
    }
    // snapshot the keys BEFORE walking: find() path-compresses into the
    // same map, and iterating a live mutable.HashMap view while writing
    // to it is an implementation-detail bet even when no entry is
    // structurally added
    val labels = parent.keys.toSeq.map(id => (id, find(id)))
    val labDf = spark.createDataFrame(labels).toDF("ldoc", "lcluster")
    universe.select(col("doc_id"))
      .join(broadcast(labDf), col("doc_id") === col("ldoc"), "left")
      .select(col("doc_id"),
        coalesce(col("lcluster"), col("doc_id")).as("cluster"))
  }

  /** Resolve each distinct `lbl` to its current root by chasing the
    * forwarding relation to fixpoint. `readFwd(frontierRoots)` returns
    * `(from, to)` rows covering at least the frontier (bucket-pruned in
    * ingest, a single pre-read frame in snapshot); "min(to) per from"
    * picks the freshest pointer since roots only decrease. Frames here
    * are label-frontier-sized (edge-bounded), never corpus-sized.
    */
  private def resolve(labels: DataFrame, readFwd: DataFrame => DataFrame)
      : DataFrame = {
    // curP is the frame persist() was CALLED on: unpersisting a Project
    // over a cached plan is a CacheManager no-op (no sameResult entry),
    // so releasing each round's blocks needs the persisted handle itself
    var curP = labels.select(col("lbl"), col("lbl").as("root")).persist()
    curP.count()
    var cur = curP
    var rounds = 0
    var done = false
    while (!done && rounds < 64) {
      rounds += 1
      val fwd = readFwd(cur.select(col("root")).distinct())
        .groupBy(col("from")).agg(min(col("to")).as("to"))
      val next = cur.join(fwd, cur("root") === fwd("from"), "left")
        .select(col("lbl"), coalesce(col("to"), col("root")).as("root"),
          col("to").isNotNull.as("chg"))
        .persist()
      done = next.filter(col("chg")).limit(1).isEmpty
      curP.unpersist()
      curP = next
      cur = next.drop("chg")
    }
    // chain length is a data-dependent invariant (path compression keeps
    // it near 1, but nothing structural caps it at 64 the way clustersOf's
    // diameter argument does) — a silent exit here would return stale
    // roots and a WRONG snapshot instead of an error
    require(done,
      "forwarding-chain resolution did not converge within 64 rounds — " +
        "the union-find index is deeper than path compression should " +
        "ever allow; refusing to answer from stale roots")
    cur
  }

  /** Ingest `docs` (columns `doc_id`, `text`; ids strictly above every
    * previously ingested id — the same ascending contract as
    * [[IncrementalDedup]]/[[IncrementalNearDup]]) into the cluster
    * index at `indexDir`. Returns this batch's member rows
    * `(doc_id, label, score)` — label = the component root as of this
    * batch. Replay contract identical to the sibling indexes: same
    * batchId + same input → idempotent no-op returning the same rows;
    * different input fails loudly.
    */
  /** `edgesIn`: OVERLAY mode — the store is layered on a banded
    * [[IncrementalNearDup]] index that already discovered and est-verified
    * this batch's near-dup edges ([[IncrementalNearDup.ingestWithEdges]]).
    * The overlay persists ONLY member + forwarding rows (layout stamp
    * `keepbest-overlay-v1`): no duplicate band/sig state at rest (at
    * 100 TB, storing the banded corpus once per retention policy is the
    * waste), no duplicate candidate probe/sig fetch/verify per drop (the
    * pipeline's measured kb-dominance was exactly this duplicated work).
    * Contract: the overlay must consume the SAME batch sequence as the
    * banded index supplying its edges — one foreachBatch feeding both is
    * the enforcement point (the shared batchId + fingerprint guards make
    * a replay of either side idempotent). A full-mode store and an
    * overlay store are mutually unreadable by stamp.
    */
  /** `retractIds`: an optional takedown set committed WITH this batch —
    * member, band, sig and sig-key rows of the named ids are masked from
    * stored reads and the snapshot (the cluster's best becomes the best
    * SURVIVING member; a fully-retracted cluster disappears until a new
    * arrival re-populates it). Forwarding rows are EXEMPT: they are
    * label-graph edges keyed by cluster labels, not member rows — a
    * retracted doc whose id names a cluster label keeps naming it, the
    * way a dropped min-id keeps naming a component in any union-find.
    * See [[Retraction]] for the shared takedown design.
    */
  def ingest(spark: SparkSession, indexDir: String, docs: DataFrame,
             batchId: Long, nBuckets: Int = 64,
             bandsIn: Option[DataFrame] = None,
             edgesIn: Option[(DataFrame, DataFrame)] = None,
             retractIds: Option[DataFrame] = None): DataFrame = {
    require(nBuckets >= 2, "keep-best index needs >= 2 buckets (one is reserved for forwarding rows)")
    // every stage is a Trace span — the per-drop cost must be
    // attributable per stage, not guessed (the pipeline soak quantifies
    // the total, the spans name it)
    val membersDir = s"$indexDir/members/${batchId + 1}"
    val clean = docs
      .filter(col("doc_id").isNotNull && col("text").isNotNull)
      .select(col("doc_id").cast("long").as("doc_id"), col("text"))
    val overlay = edgesIn.isDefined
    // bandsIn: caller-shared bandRowsOf(docs) — see the IncrementalNearDup
    // ingest doc; bandRowsOf null-filters itself, so bands-of-docs equals
    // bands-of-clean and the fingerprint (over clean) is unchanged.
    // Overlay mode never touches band rows at all (edges arrive verified).
    val ownBands = !overlay && bandsIn.isEmpty
    val bandsOpt: Option[DataFrame] =
      if (overlay) None
      else Some(bandsIn.getOrElse(IncrementalNearDup.bandRowsOf(clean)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)))
    // narrow single-consumer map (the members projection) — no persist
    val scored = clean
      .select(col("doc_id"), TextAnalysis.scoreExpr(col("text")).as("score"))
    val retract = retractIds.map(Retraction.normIds(_).persist())
    try {
      // fingerprint covers the FULL batch (short no-shingle docs are
      // members too, so they must perturb it); touched band buckets come
      // off the persisted band rows (full mode only — the overlay's
      // segment holds no band rows to probe). The two probes are
      // independent read-only actions over different frames, so they run
      // on two driver threads and overlap (guide §2.6) — the serial form
      // measured 1.2 s/ingest of pure back-to-back job latency.
      val (batchFp, touched) = Trace.span("kb", "fp_touched", batchId) {
        import scala.concurrent.{Await, Future}
        import scala.concurrent.duration.Duration
        import scala.concurrent.ExecutionContext.Implicits.global
        val touchedF = Future(
          bandsOpt.map(_.select(bucketOf(nBuckets).as("p")).distinct()
            .collect().map(_.getLong(0)).toSet).getOrElse(Set.empty[Long]))
        val fp = Retraction.mixFp(BucketState.inputFingerprint(clean),
          retract.map(BucketState.inputFingerprint))
        (fp, Await.result(touchedF, Duration.Inf))
      }
      // the one batch protocol (BucketState.appendBatch — see
      // IncrementalDedup.ingest) with this store's layout stamp
      BucketState.appendBatch(spark, indexDir, "kb", batchId, batchFp,
          Some(if (overlay) "keepbest-overlay-v1" else "keepbest-v2")) {
        (m, versionDir) =>
          // surviving-view mask — stored tombstones ∪ this batch's own set
          // (identical on first run and replay; see IncrementalNearDup);
          // None on a takedown-free store (Retraction.tombsOf)
          val tombs = Retraction.tombsOf(spark, indexDir, m, emptyIdx(spark),
            "doc_id", retract)
          val sc = spark.sparkContext
          // everything persisted/checkpointed from here to the segment
          // write is batch-local scratch — released as one tracked diff
          // after the writes land (nothing in this store's protocol
          // persists RDDs concurrently: compactConcurrent is a pure
          // read→write and the single-writer contract excludes other
          // ingests, so the diff captures only this thread's blocks)
          val before = sc.getPersistentRDDs.keySet.toSet
          // all stored reads in this ingest go through the manifest-
          // keyed session view (BucketState.readStoreView): per drop
          // the parquet cost is one batch-sized delta leaf and every
          // bucket prune an in-memory filter; this store's tracked-
          // diff scratch sweeps subtract viewRddIds so the view's
          // blocks survive them
          val view = BucketState.readStoreView(spark, indexDir, m,
            emptyIdx(spark))
          def readKind(buckets: Set[Long], kind: Long): DataFrame =
            view.filter(col("p").isin(buckets.toSeq: _*))
              .filter(col("band") === kind)

          // ---- edge discovery -----------------------------------
          // overlay: edges arrive verified from the banded index;
          // full mode discovers them from this store's own band/sig
          // rows. Either way, downstream consumes (edgesSeen
          // (doc_id, seen_id), edgesBatch (doc_a, doc_b)).
          var scratchToRelease: List[DataFrame] = Nil
          var ownEdges = false
          val (edgesSeen, edgesBatch, memberBuckets) = edgesIn match {
            case Some((es, eb)) =>
              val mb = Trace.span("kb", "member_probe", batchId)(es
                .select(kindBucketOf(-2L, col("seen_id"), nBuckets).as("p"))
                .distinct().collect().map(_.getLong(0)).toSet)
              (es, eb, mb)
            case None =>
              val Ser = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER
              val bands = bandsOpt.get
              // persisted: consumed twice (withPred's count + the
              // candidate join); released with the batch scratch.
              // Tombstone-masked: discovery runs against the
              // surviving index (sig/member reads need no mask of
              // their own — they only join on seen_ids drawn from
              // this masked frame)
              // guard input: UNRESTRICTED touched-bucket stored rows
              // (join-free two-stage aggregate — see IncrementalNearDup's
              // verifiedEdges for the restructuring and the equality
              // argument); the candidate join keeps the batch-touched
              // group restriction (exact refinement, measured 2.2%
              // stored-row selectivity at the 1M soak), left lazy —
              // the join is its only consumer on the unsaturated path
              val batchGroups = bands.select(col("band"), col("bh"))
                .distinct()
              val storedTouched = Retraction.maskIfAny(
                  view.filter(col("p").isin(touched.toSeq: _*))
                  .filter(col("band") >= 0)
                  .select(col("band"), col("bh"), col("doc_id")),
                  tombs, "doc_id")
              val prevBands0 = storedTouched
                .join(batchGroups, Seq("band", "bh"), "left_semi")
              // prefix-capped discovery + identical-signature rescue —
              // the exact declared semantics of
              // [[IncrementalNearDup.bucketCap]]; this path keeps its
              // own copy because the store layouts differ and it fuses
              // sig+member probes into ONE collect (job count is the
              // dominant per-drop cost at small drops)
              val cap = IncrementalNearDup.bucketCap(spark)
              // saturation short-circuit — the verifiedEdges guard's
              // verbatim: no bucket's combined occupancy above the cap
              // ⇒ every row eligible, none rescue-bound, and the rank
              // window + count join + probe are skipped (capped ≡
              // uncapped below saturation is the spec'd identity).
              // The SAME pass collects the sig+member probe buckets
              // (the r14 standalone cand_probe collect, folded — the
              // verifiedEdges argument verbatim): candidate seen_ids
              // are stored docs in batch-touched (band,bh) groups,
              // and a RESCUE partner shares every band group with its
              // saturated batch doc (identical full signature ⇒
              // identical band hashes), so its buckets are covered
              // too; probing a superset is sound — both downstream
              // reads re-join on seen_id. The probe set rides as a
              // BITMASK (bit_or at both levels — O(1) aggregate
              // state; see the IncrementalNearDup guard for why
              // per-group collection dies at the decade), capping
              // this fused form at 64 buckets — wider stores keep
              // the standalone collect.
              val fusedProbe = nBuckets <= 64
              val storedRows = storedTouched.select(col("band"), col("bh"),
                (call_function("shiftleft", lit(1L),
                   kindBucketOf(-1L, col("doc_id"), nBuckets).cast("int"))
                  .bitwiseOR(call_function("shiftleft", lit(1L),
                    kindBucketOf(-2L, col("doc_id"), nBuckets).cast("int"))))
                  .as("m"))
              // when-guarded max/mask restrict to batch-touched groups
              // (c > stored ⟺ some batch row in the group) — identical
              // to the r17 semi-join-restricted aggregate, two stages
              val guardRow = Trace.span("kb", "occupancy_guard", batchId,
                  IncrementalNearDup.occupancyFields(cap))(storedRows
                .unionByName(bands.select(col("band"), col("bh"),
                  lit(null).cast("long").as("m")))
                .groupBy(col("band"), col("bh"))
                .agg(count(lit(1)).as("c"), count(col("m")).as("stored"),
                  bit_or(col("m")).as("mm"))
                .agg(max(when(col("c") > col("stored"), col("c"))).as("mx"),
                  bit_or(when(col("c") > col("stored"), col("mm")))
                    .as("mask"))
                .collect()(0))
              val maxOcc = guardRow
              lazy val maskBuckets: Set[Long] =
                if (guardRow.isNullAt(1)) Set.empty
                else {
                  val mask = guardRow.getLong(1)
                  (0 until 64).collect {
                    case b if (mask & (1L << b)) != 0 => b.toLong
                  }.toSet
                }
              val canSaturate = !maxOcc.isNullAt(0) && maxOcc.getLong(0) > cap
              val prevBands =
                if (canSaturate) {
                  val p = prevBands0.persist(Ser); scratchToRelease ::= p; p
                } else prevBands0
              val rankedOpt =
                if (canSaturate) {
                  val r = IncrementalNearDup.withPred(bands, prevBands)
                    .persist(Ser)
                  scratchToRelease ::= r
                  Some(r)
                } else None
              val elig = rankedOpt.map(_.filter(col("pred") <= cap))
                .getOrElse(bands.select(col("band"), col("bh"), col("doc_id")))
              // NARROW candidate pairs — sigs re-joined only inside
              // the verify stage; see IncrementalNearDup.verifiedEdges
              // for the measured sf100 disk-death the wide form caused
              // fused path: the es checkpoint is the frame's only
              // consumer, no persist; the >64-bucket fallback probes
              // it too, so it persists with the batch scratch
              val cand0 = elig.as("b").join(prevBands.as("i"),
                  col("b.band") === col("i.band") && col("b.bh") === col("i.bh") &&
                    col("i.doc_id") < col("b.doc_id"))
                .select(col("b.doc_id").as("doc_id"),
                  col("i.doc_id").as("seen_id"))
                .distinct()
              val cand =
                if (fusedProbe) cand0
                else { val c = cand0.persist(Ser); scratchToRelease ::= c; c }
              val batchSigs = bands.filter(col("band") === 0L)
                .select(col("doc_id"), col("sig"))
              // rescue edges for saturated arrivals — zero probe jobs
              // when the occupancy guard ruled saturation out (every
              // driver scale), one cheap probe otherwise
              val anySaturated = rankedOpt.exists(r =>
                Trace.span("kb", "saturation_probe", batchId)(
                  !r.filter(col("pred") > cap).limit(1).isEmpty))
              val (rescueSeen, rescueBatch) =
                if (!anySaturated)
                  (spark.range(0).select(col("id").as("doc_id"),
                     col("id").as("seen_id")),
                   spark.range(0).select(col("id").as("doc_a"),
                     col("id").as("doc_b")))
                else {
                  val sigKeys = batchSigs.select(col("doc_id"),
                    IncrementalNearDup.sigKey(col("sig")).as("sk"))
                  val resc = rankedOpt.get.filter(col("pred") > cap)
                    .select(col("doc_id")).distinct()
                    .join(sigKeys, Seq("doc_id"))
                    .persist(Ser)
                  scratchToRelease ::= resc
                  val skBuckets = Trace.span("kb", "rescue_probe", batchId)(resc
                    .select(kindBucketOf(-4L, col("sk"), nBuckets).as("p"))
                    .distinct().collect().map(_.getLong(0)).toSet)
                  // retracted recorded minima lose their anchor role
                  // — the IncrementalNearDup takedown semantics
                  val storedMin = Retraction.maskIfAny(
                      readKind(skBuckets, -4L), tombs, "doc_id")
                    .select(col("bh").as("sk"), col("doc_id").as("cand_id"))
                  val seenMin = resc.join(storedMin, Seq("sk"))
                    .filter(col("cand_id") < col("doc_id"))
                    .groupBy(col("doc_id"))
                    .agg(min(col("cand_id")).as("smin"))
                  val batchMin = resc.join(
                      sigKeys.select(col("sk"), col("doc_id").as("odoc")),
                      Seq("sk"))
                    .filter(col("odoc") < col("doc_id"))
                    .groupBy(col("doc_id"))
                    .agg(min(col("odoc")).as("bmin"))
                  val both = seenMin
                    .join(batchMin, Seq("doc_id"), "full_outer")
                    .persist(Ser)
                  scratchToRelease ::= both
                  (both.filter(col("smin").isNotNull &&
                       (col("bmin").isNull || col("smin") < col("bmin")))
                     .select(col("doc_id"), col("smin").as("seen_id")),
                   both.filter(col("bmin").isNotNull &&
                       (col("smin").isNull || col("bmin") <= col("smin")))
                     .select(col("doc_id").as("doc_a"),
                       col("bmin").as("doc_b")))
                }
              // sig + member probe buckets: the guard aggregate's
              // bitmask (rescue partners' buckets included — see
              // that comment for why identical signatures put them
              // in batch-touched groups), or the r14 standalone
              // collect for >64-bucket stores
              val probeBuckets: Set[Long] =
                if (fusedProbe) maskBuckets
                else Trace.span("kb", "cand_probe", batchId)(cand.select(col("seen_id"))
                  .unionByName(rescueSeen.select(col("seen_id")))
                  .select(explode(array(
                    kindBucketOf(-1L, col("seen_id"), nBuckets),
                    kindBucketOf(-2L, col("seen_id"), nBuckets))).as("p"))
                  .distinct().collect().map(_.getLong(0)).toSet)
              val seenSigs = readKind(probeBuckets, -1L)
                .select(col("doc_id").as("seen_id"), col("sig").as("seen_sig"))
              // ONE tagged frame, ONE checkpoint action — the r14 nd
              // fusion mirrored (the split form ran the seen-side
              // verify as its own job, then re-ran the batch-side
              // verify inside the subgraph checkpoint): both edge
              // kinds verify in one job, where AQE can reuse the
              // shared band/sig exchanges across the two subtrees.
              // Local checkpoint, not persist: consumed across the
              // scratch releases below (same cascade immunity as the
              // subgraph — see that comment). distinct() over
              // (kind, a, b) ≡ the per-kind distincts.
              val seenTagged = cand.join(seenSigs, Seq("seen_id"))
                .join(batchSigs, Seq("doc_id"))
                .filter(IncrementalNearDup.nearDup(col("sig"), col("seen_sig")))
                .select(col("doc_id").as("a"), col("seen_id").as("b"))
                .unionByName(rescueSeen.select(col("doc_id").as("a"),
                  col("seen_id").as("b")))
                .select(lit(0).as("kind"), col("a"), col("b"))
              val batchTagged = elig.as("x").join(
                  bands.select(col("band"), col("bh"), col("doc_id")).as("y"),
                  col("x.band") === col("y.band") && col("x.bh") === col("y.bh") &&
                    col("y.doc_id") < col("x.doc_id"))
                .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
                .distinct()
                .join(batchSigs.select(col("doc_id").as("doc_a"),
                  col("sig").as("sig_a")), Seq("doc_a"))
                .join(batchSigs.select(col("doc_id").as("doc_b"),
                  col("sig").as("sig_b")), Seq("doc_b"))
                .filter(IncrementalNearDup.nearDup(col("sig_a"), col("sig_b")))
                .select(col("doc_a").as("a"), col("doc_b").as("b"))
                .unionByName(rescueBatch.select(col("doc_a").as("a"),
                  col("doc_b").as("b")))
                .select(lit(1).as("kind"), col("a"), col("b"))
              val fused = Trace.span("kb", "edges_ck", batchId)(seenTagged
                .unionByName(batchTagged).distinct().localCheckpoint(eager = true))
              ownEdges = true
              (fused.filter(col("kind") === 0)
                 .select(col("a").as("doc_id"), col("b").as("seen_id")),
               fused.filter(col("kind") === 1)
                 .select(col("a").as("doc_a"), col("b").as("doc_b")),
               probeBuckets)
          }
          try {
            // ---- seen-side label resolution -----------------------
            val seenLab = edgesSeen.join(
                readKind(memberBuckets, -2L)
                  .select(col("doc_id").as("seen_id"), col("label")),
                Seq("seen_id"))
              .select(col("doc_id"), col("seen_id"), col("label"))
              .persist()
            // the forwarding relation lives in ONE constant bucket
            // (merge-bounded and tiny — see fwdRows below), so it is
            // read ONCE per batch and the fixpoint loop joins against
            // the persisted frame; the first formulation re-opened
            // the scattered per-(version, bucket) files every round
            // and measured 0.36 → 3.8 s/drop over 8 drops in the
            // traced 200k pipeline soak
            val fwdAll = readKind(Set(fwdBucket(nBuckets)), -3L)
              .select(col("doc_id").as("from"), col("label").as("to"))
              .persist()
            // no merges recorded yet (the common early-corpus state) ⇒
            // every label IS its root: skip the fixpoint loop's
            // join/persist/probe jobs entirely
            val rootMap = Trace.span("kb", "resolve", batchId)(
              if (fwdAll.isEmpty)
                seenLab.select(col("label").as("lbl")).distinct()
                  .withColumn("root", col("lbl")).persist()
              else resolve(
                seenLab.select(col("label").as("lbl")).distinct(),
                _ => fwdAll))

            // ---- batch-subgraph components ------------------------
            // nodes: batch docs + the existing roots its edges reach;
            // cost is edge-shaped (Dedup.clustersOf over this subgraph),
            // the corpus is never touched. The subgraph frames MUST be
            // materialized (eager localCheckpoint) before the loop:
            // clustersOf re-reads its edge list every propagation
            // round, and a lazy edge list re-runs the whole upstream
            // (index bucket reads + sig fetch + est joins) per round —
            // measured as per-drop growth in the 500k pipeline soak
            // before this truncation.
            val toRoot = seenLab
              .join(rootMap, seenLab("label") === rootMap("lbl"))
              .select(col("doc_id").as("doc_a"), col("root").as("doc_b"))
              .distinct()
            // eager local checkpoint, deliberately NOT persist+count:
            // the CC loop re-reads this frame every round, and a
            // cached plan that still references this batch's scratch
            // frames gets its buffers cleared by the CacheManager
            // recache cascade when they unpersist — the persist form
            // re-ran the whole upstream once per action (measured
            // 7 → 66 s kb drops in the 200k soak). Truncated lineage
            // is immune, and the capped subgraph (≤ ~80M edges at the
            // 5M-doc rung) fits checkpoint blocks comfortably.
            val pairs = Trace.span("kb", "subgraph_ck", batchId)(edgesBatch.unionByName(toRoot)
              .localCheckpoint(eager = true))
            val universe = clean.select(col("doc_id"))
              .unionByName(pairs.select(col("doc_b").as("doc_id")))
              .distinct()
            // Two-regime component pass. The batch subgraph is
            // edge-bounded (near-dup relations of ONE drop), so for
            // any realistic drop it fits the driver: a union-find
            // over the collected edges replaces the distributed
            // label-propagation loop's ~6-8 jobs with one bounded
            // collect — the same bounded-collect class as the sig-
            // bucket lists (measured: the loop dominated the per-
            // ingest job count at small drops). Past the threshold
            // (conf `spark.graft.keepbest.ufMaxEdges`) the exact
            // same contract runs distributed via Dedup.clustersOf.
            val ufMax = spark.conf
              .getOption("spark.graft.keepbest.ufMaxEdges")
              .map(_.toLong).getOrElse(2000000L)
            val nEdges = pairs.count() // cached — metadata-cheap
            val useUf = nEdges <= ufMax
            val lab = Trace.span("kb", if (useUf) "cc_uf" else "cc_dist",
                batchId, (_: DataFrame) => Seq("edges" -> nEdges)) {
              val l = (if (useUf)
                         unionFindLabels(spark, pairs, universe)
                       else Dedup.clustersOf(spark, pairs, universe))
                .persist()
              l.count(); l
            }

            // ---- new forwarding rows ------------------------------
            // (a) real merges: an existing root whose component gained a
            // smaller root; (b) path compression: every label we had to
            // chase now points straight at its final root
            val mergeFwd = lab
              .join(toRoot.select(col("doc_b").as("doc_id")).distinct(),
                Seq("doc_id"))
              .filter(col("cluster") =!= col("doc_id"))
              .select(col("doc_id").as("from"), col("cluster").as("to"))
            val compressFwd = rootMap
              .join(lab, rootMap("root") === lab("doc_id"))
              .filter(col("lbl") =!= col("cluster"))
              .select(col("lbl").as("from"), col("cluster").as("to"))
            val fwdNew = mergeFwd.unionByName(compressFwd).distinct()

            // ---- member rows for the whole batch ------------------
            // persisted for the duration of the segment write: the
            // sub-plan feeds TWO union branches (the durable answer
            // rows and the registry's band=-2 rows) of the single
            // segment job, and only `lab` underneath it is pinned —
            // the `scored` side is a re-read of the batch source, so
            // without the persist a non-deterministic caller frame
            // could commit an answer file that diverges from the
            // registry rows in the same commit (the same hazard class
            // the vec ingest's retraction-frame persist closes).
            // Released by the tracked-diff sweep below.
            val members = scored
              .join(lab.withColumnRenamed("doc_id", "ldoc"),
                col("doc_id") === col("ldoc"), "left")
              .select(col("doc_id"),
                coalesce(col("cluster"), col("doc_id")).as("label"),
                col("score"))
              .persist()

            // the batch's durable member ANSWER rides the segment
            // write under the reserved staging bucket (one job where
            // r15 ran two — members.write, then a re-read to build
            // the member rows) and is renamed out before the one
            // atomic commit: five row kinds in full mode, member +
            // fwd + answer in overlay mode (the banded index already
            // holds the band/sig state an overlay would merely
            // duplicate). The members sub-plan evaluates once per
            // union branch — `lab` is persisted, the score map is a
            // cheap re-read of the batch source.
            val nullSig = lit(null).cast(ArrayType(LongType, containsNull = false))
            val answerRows = members
              .select(lit(-6L).as("band"), lit("").as("bh"),
                col("doc_id"), nullSig.as("sig"), col("label"),
                col("score"))
            val memberRows = members
              .select(lit(-2L).as("band"), col("doc_id").cast("string").as("bh"),
                col("doc_id"), nullSig.as("sig"), col("label"), col("score"))
            val fwdRows = fwdNew
              .select(lit(-3L).as("band"), lit("fwd").as("bh"),
                col("from").as("doc_id"), nullSig.as("sig"),
                col("to").as("label"), lit(null).cast("double").as("score"))
            val segRows = bandsOpt match {
              case Some(bands) =>
                val bandKeys = bands.select(col("band"), col("bh"), col("doc_id"),
                  nullSig.as("sig"), lit(null).cast("long").as("label"),
                  lit(null).cast("double").as("score"))
                val sigRows = bands.filter(col("band") === 0L)
                  .select(lit(-1L).as("band"), col("doc_id").cast("string").as("bh"),
                    col("doc_id"), col("sig"), lit(null).cast("long").as("label"),
                    lit(null).cast("double").as("score"))
                // sig-key rows — the identical-signature rescue's
                // lookup relation (one narrow row per distinct sig per
                // batch, min doc_id; see the IncrementalNearDup layout)
                val skRows = bands.filter(col("band") === 0L)
                  .select(IncrementalNearDup.sigKey(col("sig")).as("bh"),
                    col("doc_id"))
                  .groupBy(col("bh")).agg(min(col("doc_id")).as("doc_id"))
                  .select(lit(-4L).as("band"), col("bh"), col("doc_id"),
                    nullSig.as("sig"), lit(null).cast("long").as("label"),
                    lit(null).cast("double").as("score"))
                bandKeys.unionByName(sigRows).unionByName(skRows)
                  .unionByName(memberRows).unionByName(fwdRows)
              case None => memberRows.unionByName(fwdRows)
            }
            // tombstone rows ride the same segment and commit:
            // (band = -9, bh = "", doc_id, nulls, p = TombBucket)
            val segAll = segRows.withColumn("p", bucketOf(nBuckets))
              .unionByName(answerRows
                .withColumn("p", lit(BucketState.AnswerBucket)))
            val segWithTombs = retract.fold(segAll)(r =>
              segAll.unionByName(r.select(
                lit(-9L).as("band"), lit("").as("bh"), col("doc_id"),
                nullSig.as("sig"), lit(null).cast("long").as("label"),
                lit(null).cast("double").as("score"),
                lit(Retraction.TombBucket).as("p"))))
            Trace.span("kb", "segment_write", batchId)(
              segWithTombs
                .repartition(col("p"))
                .write.mode("overwrite").partitionBy("p")
                .parquet(versionDir))
            BucketState.claimAnswer(spark, versionDir, membersDir, memberSchema)

            // release this batch's component-pass checkpoints (tracked
            // diff — same exposure as clustersOf's own internal
            // tracking: nothing in this store's protocol persists RDDs
            // concurrently (compactConcurrent is a pure read→write and
            // the single-writer contract excludes other ingests), so
            // the diff captures only this thread's checkpoint blocks —
            // MINUS the session view's leaves, whose blocks this
            // ingest materialized inside the window but which outlive
            // the batch by design (BucketState.viewRddIds)
            lab.unpersist()
            (sc.getPersistentRDDs.keySet.toSet -- before --
                BucketState.viewRddIds)
              .foreach(id => sc.getPersistentRDDs.get(id)
                .foreach(_.unpersist(blocking = false)))
            seenLab.unpersist()
            if (ownEdges) edgesSeen.unpersist()
          } finally scratchToRelease.foreach(_.unpersist())
      }
    } finally {
      if (ownBands) bandsOpt.foreach(_.unpersist())
      retract.foreach(_.unpersist())
    }
    spark.read.schema(memberSchema).parquet(membersDir)
  }

  /** The retention answer over everything ingested so far: one row per
    * cluster `(cluster, doc_id, score, n_members)` — the best-scoring
    * member (min doc_id on ties, the [[Dedup.keepBestOf]] ordering),
    * with labels resolved through the forwarding relation to fixpoint.
    * This is the ONLY corpus-shaped pass in the operator (one member
    * scan + the label fixpoint + one `max_by` aggregation shuffle) —
    * the per-drop path above never runs it.
    */
  def snapshot(spark: SparkSession, indexDir: String): DataFrame = {
    // resolve() hands back a Project over its final persisted round, so a
    // plain unpersist() on the return value is a CacheManager no-op —
    // release everything this call pinned as one tracked diff instead
    // (the ingest pattern; same single-writer exposure, documented there)
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet.toSet
    // leased read: the whole snapshot pass (member scan, label fixpoint,
    // aggregation, the eager checkpoint below) runs with every
    // referenced version dir pinned against a concurrent fold's GC
    val (m, lease) = BucketState.readManifestLeased(spark, indexDir)
    try {
    val all = BucketState.readBuckets(spark, indexDir, m.buckets,
      emptyIdx(spark)).persist()
    // members minus stored takedowns: per cluster the best SURVIVING
    // member answers; forwarding rows stay (label graph, not members);
    // mask skipped on a takedown-free store (Retraction.tombsOf)
    val members = Retraction.maskIfAny(
        all.filter(col("band") === -2L),
        Retraction.tombsOf(spark, indexDir, m, emptyIdx(spark), "doc_id"), "doc_id")
      .select(col("doc_id"), col("label"), col("score"))
    val fwdAll = all.filter(col("band") === -3L)
      .select(col("doc_id").as("from"), col("label").as("to"))
    val roots = resolve(members.select(col("label").as("lbl")).distinct(),
      _ => fwdAll)
    val out = members.join(roots, members("label") === roots("lbl"))
      .groupBy(col("root").as("cluster"))
      .agg(
        max_by(struct(col("doc_id"), col("score")),
          struct(col("score"), -col("doc_id"))).as("best"),
        count(lit(1)).as("n_members"))
      .select(col("cluster"), col("best.doc_id").as("doc_id"),
        col("best.score").as("score"), col("n_members"))
      .orderBy(col("cluster"))
    // snapshot the pinned-block diff BEFORE checkpointing: the local
    // checkpoint's own blocks back `rows` and must outlive this call;
    // session-view leaves materialized by a concurrent ingest are not
    // this pass's scratch — spare them (BucketState.viewRddIds)
    val pinned = sc.getPersistentRDDs.keySet.toSet -- before --
      BucketState.viewRddIds
    // materialize before releasing the backing blocks
    val rows = out.localCheckpoint(eager = true)
    all.unpersist()
    pinned.foreach(id => sc.getPersistentRDDs.get(id)
      .foreach(_.unpersist(blocking = false)))
    rows
    } finally BucketState.releaseReads(lease)
  }

  // --------------------------------------------------- driver query
  /** Driver-facing demonstration: the documents table ingested as two
    * ascending-doc_id drops through a fresh cluster index (the same
    * mid-split shape as `dedup_incremental`/`dedup_neardup_incremental`;
    * the 3-chunk form and the merge/upgrade interleavings live in
    * `IncrementalKeepBestSpec`); the snapshot must equal the ONE-SHOT
    * DuckDB replay of the prefix-capped contract
    * ([[keepBestIncrementalSql]] — components of the capped verified
    * graph + keep-best aggregation, which below the cap coincides with
    * [[Dedup.dedupKeepBestMinhash]]'s answer). The equality IS the
    * correctness statement: retention upgrades and cluster merges
    * across drops land on exactly the batch answer.
    */
  def keepBestIncremental(s: SparkSession, dir: String): DataFrame =
    keepBestIncrementalAt(s, dir,
      java.nio.file.Files.createTempDirectory("graft-kb").toString)

  private[graft] def keepBestIncrementalAt(s: SparkSession, dir: String,
                                           indexDir: String): DataFrame = {
    val docs = graft.Tables.documents(s, dir).select(col("doc_id"), col("text"))
    val ids = docs.agg(min("doc_id"), max("doc_id")).collect()(0)
    val mid = (ids.getLong(0) + ids.getLong(1)) / 2
    ingest(s, indexDir, docs.filter(col("doc_id") <= mid), 0, nBuckets = 16)
      .count()
    ingest(s, indexDir, docs.filter(col("doc_id") > mid), 1, nBuckets = 16)
      .count()
    // snapshot() eagerly checkpoints, so the per-run index dir can be
    // reclaimed on success (repeated verify/bench runs would otherwise
    // accrete dead index state under /tmp)
    val out = snapshot(s, indexDir)
    graft.Shared.deleteDirTree(indexDir)
    out
  }

  /** Full DuckDB replay of the contract: connected components of the
    * prefix-capped verified graph ([[IncrementalNearDup.cappedGraphCtes]]
    * — the same CTE chain the admission oracle selects from) + the
    * keep-best aggregation (max score, min doc_id on ties, component
    * root = min member id). Below the cap this graph IS the uncapped
    * banded est≥0.5 graph, so at driver scales the result coincides with
    * the one-shot `dedup_keep_best_minhash` oracle this replaces — but
    * the replay stays exact at EVERY scale, including corpora where the
    * cap bites.
    */
  private val keepBestIncrementalSql: String = {
    val stop = TextAnalysis.stopwords.map(w => s"'$w'")
      .mkString("t -> t IN (", ", ", ")")
    s"""WITH RECURSIVE ${IncrementalNearDup.cappedGraphCtes},
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

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "dedup_keep_best_incremental" -> (keepBestIncremental _))

  val oracles: Map[String, String] = Map(
    "dedup_keep_best_incremental" -> keepBestIncrementalSql)
}
