package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.Trace

/** Manifest-committed, bucket-partitioned persistent state — the shared
  * durability substrate under every bucketed store: the CDC LSM replica
  * (`CdcStream`) and the four curation stores
  * (`operators.IncrementalDedup`, `IncrementalNearDup`,
  * `IncrementalKeepBest`, `IncrementalVecIndex`). It holds the store
  * protocol's shared parts: the one segment reader ([[readBuckets]]),
  * the one batch protocol ([[appendBatch]]: leased read → layout and
  * replay checks → reserve → stage → the one append commit
  * [[commitAppend]] → release → GC), the one fold ([[compactConcurrent]]
  * with the store's own [[Fold]], dispatched by [[maybeCompactConcurrent]]
  * and tripped by [[compactIfDue]]) and the one streaming ingress
  * ([[runIngest]]). The LSM replica stages before its fingerprint exists, so it shares
  * the parts below the check instead: [[stagingVersion]],
  * [[commitAppend]], the release rule of [[releaseVersion]] and the
  * conditional sweep [[gcVersionsIfDirty]].
  *
  * One GC rule: a reserved version released WITHOUT a commit (a failed
  * stage, an abandoned replay, a fold that died before its swap) marks
  * its dir GC-dirty, so the next writer's conditional sweep removes it.
  *
  * Layout: `stateDir/v=<version>/p=<bucket>/` parquet files in immutable version
  * dirs plus a `_CURRENT` manifest listing each live bucket's segments
  * (versions). A writer stages a new version dir, then commits
  * with ONE atomic rename of `_CURRENT` — a crash before the rename leaves
  * readers on complete pre-batch state; a crash after leaves garbage dirs
  * the next batch's GC removes. The manifest also records the committing
  * batch's input fingerprint so a replay can distinguish "this exact batch
  * already committed" (idempotent no-op) from "checkpoint was reset
  * against retained state" (fail loudly).
  *
  * At 100 TB this is the point: an incremental batch touches only the
  * buckets its keys hash into, so both the pre-state read (partition-
  * pruned paths) and the rewrite (one version dir holding only touched
  * buckets) are O(batch), never O(state). A read of any number of
  * segments is one parquet relation per chunk of leaf dirs, with its
  * schema taken from one footer on the driver ([[readBuckets]]), so
  * building it runs no Spark job.
  */
private[graft] object BucketState {

  /** Parsed `_CURRENT`: bucket → version, plus the committing batch's
    * (version, input fingerprint).
    */
  final case class Manifest(buckets: Map[Long, Set[Long]], fp: Option[(Long, Long)]) {
    /** The most segments any one bucket lists (0 when empty): the read
      * amplification every compaction policy bounds.
      */
    def maxSegments: Int = if (buckets.isEmpty) 0 else buckets.values.map(_.size).max
  }

  // ---- concurrent-writer coordination (in-process) -------------------
  //
  // The manifest commit is an atomic rename, but a read-modify-write of
  // it is not: two writers that both read manifest M and commit their
  // own successor lose one update. The LSM replica wants exactly that
  // concurrency — the streaming apply path appending segments while a
  // BACKGROUND compaction folds them (off the hot path) — so three
  // in-process primitives make it safe:
  //
  //  - [[manifestLock]]: one lock object per state dir; every
  //    read-manifest→commit-manifest critical section runs under it, so
  //    concurrent commits serialize and each sees the other's result.
  //  - [[reserveVersion]]: unique, monotonically-increasing physical
  //    version numbers per state dir — an apply and a compaction that
  //    both derive "max+1" from the same manifest snapshot would stage
  //    into the SAME `v=` dir and clobber each other's files.
  //  - in-flight registration (reserve/[[releaseVersion]]): a staged-but-
  //    uncommitted version dir is referenced by no manifest, so a
  //    concurrent writer's [[gcVersions]] would delete it mid-write;
  //    gcVersions transparently spares every registered in-flight
  //    version. Registrations die with the process — a crash leaves an
  //    orphan dir that the next writer's GC removes, same as before.
  //
  // Cross-process writers remain out of scope (same stance as the
  // checkpoint contract: one owning stream per state dir).

  private val locks =
    scala.collection.concurrent.TrieMap.empty[String, Object]
  private val counters =
    scala.collection.concurrent.TrieMap.empty[String, java.util.concurrent.atomic.AtomicLong]
  private val inFlight =
    scala.collection.concurrent.TrieMap.empty[(String, Long), Unit]

  /** Per-state-dir lock for manifest read-modify-write sections. */
  def manifestLock(stateDir: String): Object =
    locks.getOrElseUpdate(stateDir, new Object)

  /** Reserve a physical version number ≥ `atLeast`, unique within this
    * process for `stateDir`, and register it as in-flight (spared by
    * [[gcVersions]] until [[releaseVersion]]).
    */
  def reserveVersion(stateDir: String, atLeast: Long): Long = {
    val c = counters.getOrElseUpdate(stateDir, new java.util.concurrent.atomic.AtomicLong(0L))
    var v = 0L
    var done = false
    while (!done) {
      val cur = c.get()
      v = math.max(atLeast, cur + 1)
      done = c.compareAndSet(cur, v)
    }
    inFlight.put((stateDir, v), ())
    v
  }

  /** Deregister an in-flight version after its commit or abandonment.
    * An abandoned (`committed = false`) version leaves an unreferenced
    * dir, so the release marks `stateDir` GC-dirty and the next
    * [[gcVersionsIfDirty]] sweeps it. Both steps run under
    * [[manifestLock]], so a concurrent GC snapshot either still sees the
    * version in flight and is followed by the dirty mark, or sees it
    * dead and sweeps it.
    */
  def releaseVersion(stateDir: String, v: Long, committed: Boolean = false): Unit =
    manifestLock(stateDir).synchronized {
      inFlight.remove((stateDir, v))
      if (!committed) markGcDirty(stateDir)
    }

  private def inFlightVersions(stateDir: String): Set[Long] =
    inFlight.keysIterator.collect { case (d, v) if d == stateDir => v }.toSet

  // ---- read leases ---------------------------------------------------
  //
  // In-flight registration protects a writer's own STAGED dir from a
  // concurrent GC; it does nothing for the version dirs a writer READS.
  // The LSM apply path never reads state, so the original concurrent
  // protocol didn't need this — but the incremental index ingests
  // (IncrementalDedup / IncrementalNearDup) anti-join each batch against
  // prior segments, and a compaction running concurrently would swap the
  // manifest and GC exactly those segment dirs while the ingest's Spark
  // jobs are still scanning their files. A read lease pins the versions
  // a writer is reading: gcVersions spares every leased version, and the
  // lease dies with release (or the process — an orphaned lease after a
  // crash costs nothing: the next process starts with an empty registry
  // and its first GC removes the then-unreferenced dirs).

  private val readLeases =
    scala.collection.concurrent.TrieMap.empty[Long, (String, Set[Long])]
  private val leaseSeq = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Pin `versions` of `stateDir` against GC until [[releaseReads]]. */
  def leaseReads(stateDir: String, versions: Set[Long]): Long = {
    val id = leaseSeq.incrementAndGet()
    readLeases.put(id, (stateDir, versions))
    id
  }

  def releaseReads(leaseId: Long): Unit = readLeases.remove(leaseId)

  /** Manifest read + read lease on every referenced version, ATOMIC with
    * respect to concurrent locked swaps/GC snapshots (all take this
    * lock): either this read sees the pre-swap manifest and its lease is
    * registered before the swap's GC snapshot can run, or it sees the
    * post-swap manifest and leases the folded version — in both orders
    * every dir the caller will read survives until [[releaseReads]].
    * A lease taken from an UNLOCKED manifest read would race the
    * snapshot and pin nothing.
    */
  def readManifestLeased(spark: SparkSession, stateDir: String): (Manifest, Long) =
    manifestLock(stateDir).synchronized {
      val m = readManifest(spark, stateDir)
      (m, leaseReads(stateDir, m.buckets.values.flatten.toSet))
    }

  private def leasedVersions(stateDir: String): Set[Long] =
    readLeases.values.collect { case (d, vs) if d == stateDir => vs }
      .foldLeft(Set.empty[Long])(_ ++ _)

  // ---- single-writer session read view --------------------------------
  //
  // The ingest hot loop re-reads the SAME immutable segments every drop:
  // at the 1M pipeline soak the near-dup band store is ~2.1M rows by
  // drop 16 and the touched-bucket parquet read dominates the guard job
  // (traced 0.9 → 3.0 s/drop) even though all but the newest segment's
  // bytes were read last drop. Segments are immutable and the manifest
  // is the single source of truth for which (version, bucket) pairs are
  // live, so the manifest IS a cache key: this view caches the store's
  // rows as persisted in-memory leaves and maintains them incrementally —
  //
  //  - manifest unchanged            → the cached frame, zero I/O;
  //  - segments APPENDED (a commit)  → read only the delta pairs, one
  //    more persisted leaf unioned on (bounded by [[MaxViewLeaves]],
  //    and folds reset it long before the bound at normal cadences);
  //  - pairs REMOVED (fold/compact)  → full reset from parquet — the
  //    folded store is exactly one segment, so the reset read is the
  //    small one.
  //
  // Exactness: the view frame is readBuckets over the same manifest —
  // identical rows, so every consumer (guards, anti-joins, masks) is
  // bit-identical with the direct read; StoreViewSpec pins it across
  // appends, folds, and retractions. Scale shape: the leaves live in
  // executor block storage (MEMORY_AND_DISK_SER), exactly an LSM block
  // cache distributed over the cluster; the per-drop read cost drops
  // from O(store) to O(batch).
  //
  // Safety contracts, in the order they bite:
  //  - SINGLE WRITER per state dir (the checkpoint contract, declared
  //    since r9): a foreign writer's commit changes the manifest, which
  //    misses the cache and resets the view — stale data is impossible,
  //    only stale MEMORY would be, and the key prevents that.
  //  - GC: each view holds a read lease on every version it references
  //    (registered under the manifest lock, like every other lease), so
  //    a concurrent fold's GC spares the dirs backing un-materialized or
  //    evicted-and-recomputing blocks; the lease moves to the new
  //    version set on every view update.
  //  - Block loss is SAFE, not fatal: leaves are persist()ed, never
  //    localCheckpoint()ed, so a lost block recomputes from the leased
  //    parquet files.
  //  - The keep-best store releases batch scratch as a tracked
  //    getPersistentRDDs DIFF; view leaves materialized inside that
  //    window must survive it, so their cached-RDD ids are registered in
  //    [[viewRddIds]] and the sweeps subtract them.

  private final class ViewLeaf(val df: DataFrame) {
    @volatile var rddIds: Set[Int] = Set.empty
  }
  private final case class StoreView(pairs: Set[(Long, Long)],
                                     frame: DataFrame,
                                     leaves: List[ViewLeaf],
                                     leaseId: Long) {
    @volatile var lastUse: Long = System.nanoTime()
  }
  private val storeViews =
    scala.collection.concurrent.TrieMap.empty[String, StoreView]
  private val viewRdds =
    scala.collection.concurrent.TrieMap.empty[Int, Unit]
  // last pair set served per dir while NOT caching: a view is only built
  // once a dir shows the streaming signature — a second read whose pairs
  // EXTEND the first's. A one-shot chunked query (two ingests, one
  // stored read) never caches, so it never pays the view's extra
  // store materialization — at the 5M-doc decade rung that
  // materialization would be the dominant new cost for zero reuse.
  // Folds seed this with the folded pairs (compactConcurrent),
  // so a post-fold stream resumes caching on its first read.
  private val lastSeen =
    scala.collection.concurrent.TrieMap.empty[String, Set[(Long, Long)]]
  /** Union-tree depth bound before a full reset re-bases the view. */
  private val MaxViewLeaves = 8
  /** Live views bound — one-shot driver queries churn temp store dirs;
    * each eviction under pressure costs the victim a full O(store)
    * re-materialization on its next drop (the warning below says so).
    */
  private val MaxViews = 8
  /** Recency window (ns) inside which an evicted view counts as LIVE —
    * evicting one means the cache bound is defeated, not that a stale
    * one-shot dir aged out.
    */
  private val LiveEvictionNs = 60L * 1000 * 1000 * 1000

  /** Cached-RDD ids owned by live view leaves — tracked-diff scratch
    * sweeps (IncrementalKeepBest) must spare these blocks.
    */
  def viewRddIds: Set[Int] = viewRdds.keySet.toSet

  /** Is a view live for `stateDir`? (spec visibility — the one-shot
    * chunked-query pattern must NEVER build one.)
    */
  def hasView(stateDir: String): Boolean = storeViews.contains(stateDir)

  private def releaseView(v: StoreView): Unit = {
    releaseReads(v.leaseId)
    v.leaves.foreach { l =>
      l.rddIds.foreach(viewRdds.remove)
      l.df.unpersist(blocking = false)
    }
  }

  /** Drop the cached view for `stateDir` (callers that DELETE a store
    * dir outright — temp indexes — release its pinned blocks here;
    * normal folds/commits invalidate by manifest key change instead).
    */
  def invalidateView(stateDir: String): Unit = {
    val old = manifestLock(stateDir).synchronized {
      lastSeen.remove(stateDir)
      storeViews.remove(stateDir)
    }
    old.foreach(releaseView)
  }

  /** Scheme-stripped, dot-normalized, trailing-slash-free form of a
    * state-dir string, for PREFIX MATCHING only (registration keys stay
    * raw — they key locks and leases too). Catches the `file:` URI and
    * trailing-slash variants a caller might delete under; symlink
    * aliasing is out of scope (normalization never hits the filesystem).
    * Over-matching is safe here — invalidation only drops a cache.
    */
  private def normForMatch(s: String): String = {
    val p = new org.apache.hadoop.fs.Path(s).toUri.getPath
    if (p.length > 1 && p.endsWith("/")) p.dropRight(1) else p
  }

  /** Drop every view rooted under `path` — a recursive scratch-dir
    * delete (Shared.deleteDirTree) may hold several store dirs. Sweeps
    * `lastSeen` too: dirs that only ever did direct reads (the 2-chunk
    * driver-query pattern) have a signature entry but no view, and a
    * long Verify/bench session churns thousands of such temp dirs.
    * Matching is on normalized paths (see [[normForMatch]]) so a
    * `file:` URI or trailing-slash variant of the deleted root still
    * releases the views registered under the plain form.
    */
  def invalidateViewsUnder(path: String): Unit = {
    val root = normForMatch(path)
    (storeViews.keys ++ lastSeen.keys).toList.distinct
      .filter { d =>
        val n = normForMatch(d)
        n == root || n.startsWith(root + "/")
      }
      .foreach(invalidateView)
  }

  /** Release every live view (between-query cleanup in Verify/Bench —
    * Shared.releaseTransient — so leases and leaf blocks go together).
    */
  def invalidateAllViews(): Unit =
    (storeViews.keys ++ lastSeen.keys).toList.distinct.foreach(invalidateView)

  /** The store's rows under manifest `m` as a session-cached frame (all
    * buckets, `p` column included — callers filter). See the section
    * comment for the maintenance and safety story.
    */
  def readStoreView(spark: SparkSession, stateDir: String, m: Manifest,
                    empty: => DataFrame): DataFrame = {
    val want: Set[(Long, Long)] = m.buckets.toSeq
      .flatMap { case (b, vs) => vs.map(v => (v, b)) }.toSet
    if (want.isEmpty) return empty
    var toRelease: Option[StoreView] = None
    var newLeaf: Option[ViewLeaf] = None
    val frame = manifestLock(stateDir).synchronized {
      storeViews.get(stateDir) match {
        case Some(v) if v.pairs == want =>
          v.lastUse = System.nanoTime()
          v.frame
        case None if !lastSeen.get(stateDir)
              .exists(s => s.nonEmpty && s.subsetOf(want)) =>
          // no streaming signature yet: serve direct, remember the pairs
          lastSeen.put(stateDir, want)
          return readBuckets(spark, stateDir, m.buckets, empty)
        case prev =>
          // reusable base: current pairs extend it and the union tree
          // has room; otherwise (a fold removed pairs, or depth bound)
          // full reset — release the old leaves once the swap is done
          val base = prev.filter(p =>
            p.pairs.subsetOf(want) && p.leaves.size < MaxViewLeaves)
          val delta = base.fold(want)(b => want -- b.pairs)
          val deltaManifest: Map[Long, Set[Long]] = delta.groupBy(_._2)
            .view.mapValues(_.map(_._1)).toMap
          val leaf = new ViewLeaf(
            readBuckets(spark, stateDir, deltaManifest, empty)
              // SER: a deserialized-level A/B at the 1M soak was
              // timing-neutral (3,422 vs 3,207–3,542 docs/s spread,
              // same guard trend), so the smaller footprint wins —
              // at the decade the store's leaves must share executor
              // memory with everything else
              .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER))
          val merged = base.fold(leaf.df)(_.frame.unionByName(leaf.df))
          // lease BEFORE releasing the old one: version sets overlap on
          // the append path, so the dirs stay pinned across the swap
          val lease = leaseReads(stateDir, want.map(_._1))
          prev.foreach { p =>
            if (base.isEmpty) toRelease = Some(p)
            else releaseReads(p.leaseId)
          }
          newLeaf = Some(leaf)
          val view = StoreView(want, merged,
            leaf :: base.fold(List.empty[ViewLeaf])(_.leaves), lease)
          storeViews.put(stateDir, view)
          merged
      }
    }
    toRelease.foreach(releaseView)
    // materialize the new leaf OUTSIDE the lock (seconds-long on a
    // reset; the lease already pins its files) and claim its cached-RDD
    // ids — the before/after diff brackets only this count, and a
    // foreign id raced into the window costs one spared-scratch leak,
    // never a correctness miss
    newLeaf.foreach { l =>
      val before = spark.sparkContext.getPersistentRDDs.keySet.toSet
      l.df.count()
      val ids = spark.sparkContext.getPersistentRDDs.keySet.toSet -- before
      l.rddIds = ids
      ids.foreach(viewRdds.put(_, ()))
    }
    // bound live views across store dirs (temp-dir churn in the driver
    // queries): evict the least-recently-used OTHER dir, outside our
    // lock — invalidateView takes the victim's own. A victim used within
    // the live window means MORE streams than slots — the cache is being
    // defeated, every drop re-pays O(store); warn instead of silently
    // thrashing
    if (storeViews.size > MaxViews)
      storeViews.toSeq.filter(_._1 != stateDir)
        .sortBy(_._2.lastUse).headOption
        .foreach { case (dir, v) =>
          if (System.nanoTime() - v.lastUse < LiveEvictionNs)
            System.err.println(
              s"[store-view] evicting recently-used view for $dir: more " +
                s"concurrently streaming stores than the $MaxViews view " +
                "slots, so each re-reads O(store) per drop")
          invalidateView(dir)
        }
    frame
  }

  /** FileSystem for a path via the session's Hadoop conf — works for
    * local, HDFS, and object-store state dirs alike (java.io.File would
    * silently see "no state" on any non-local URI and discard prior state).
    */
  def hadoopFs(spark: SparkSession, path: String): org.apache.hadoop.fs.FileSystem =
    new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Layout-version guard for stores whose PHYSICAL row encoding has
    * changed across releases (e.g. the near-dup index's v1 → v2 move of
    * signatures off the band rows). The manifest records versions and
    * fingerprints but nothing about row layout, so without a marker a
    * reader silently misinterprets an old index — for the near-dup index
    * that meant an empty seen-signature set and every cross-batch
    * duplicate silently admitted. Call under the writer's lease/lock:
    * an EMPTY store is stamped with `layoutId`; a non-empty store must
    * carry a matching stamp or the read fails loudly (the store carries
    * no cross-layout durability promise — rebuild from the corpus).
    * Stamp-then-crash before the first manifest commit just re-stamps
    * the same id on replay; the write is idempotent.
    */
  def checkOrStampLayout(spark: SparkSession, stateDir: String,
                         m: Manifest, layoutId: String): Unit = {
    val fs = hadoopFs(spark, stateDir)
    val p = new org.apache.hadoop.fs.Path(s"$stateDir/_LAYOUT")
    def stamp(): Unit = writeAtomically(spark, s"$stateDir/_LAYOUT", layoutId)
    if (fs.exists(p)) {
      val in = fs.open(p)
      val found =
        try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
        finally in.close()
      if (found.isEmpty && m.buckets.isEmpty)
        // torn stamp from a pre-atomic-write release's crash window:
        // nothing committed, so re-stamping loses nothing
        stamp()
      else require(found == layoutId,
        s"state at $stateDir has layout '$found' but this reader expects " +
          s"'$layoutId' — rebuild the index; it carries no cross-layout " +
          "durability promise")
    } else if (m.buckets.nonEmpty) {
      throw new IllegalStateException(
        s"state at $stateDir has committed segments but no _LAYOUT stamp " +
          s"(written by a pre-'$layoutId' release) — rebuild the index; " +
          "it carries no cross-layout durability promise")
    } else stamp()
  }

  /** `_CURRENT` manifest: one `bucket,version` line per live SEGMENT
    * (a bucket may list several — every writer's [[commitAppend]] adds
    * one per contributing batch, LSM-style, and [[compactConcurrent]]
    * leaves one per folded bucket) plus one `fp,version,hash` line for
    * the committing batch. Empty = no committed state.
    */
  def readManifest(spark: SparkSession, stateDir: String): Manifest = {
    val fs = hadoopFs(spark, stateDir)
    val cur = new org.apache.hadoop.fs.Path(s"$stateDir/_CURRENT")
    if (!fs.exists(cur)) Manifest(Map.empty, None)
    else {
      val in = fs.open(cur)
      try {
        val lines = scala.io.Source.fromInputStream(in, "UTF-8").getLines()
          .filter(_.nonEmpty).map(_.split(",")).toSeq
        Manifest(
          lines.collect { case Array(b, v) => b.toLong -> v.toLong }
            .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap,
          lines.collectFirst { case Array("fp", v, h) => v.toLong -> h.toLong })
      } finally in.close()
    }
  }

  /** Order-independent fingerprint of a batch's input rows (xor of
    * per-row xxhash64, count mixed in so duplicate pairs cannot cancel to
    * an empty-batch fingerprint). Recorded in the manifest at commit and
    * required to MATCH before a replay treats the batch as already
    * applied.
    */
  def inputFingerprint(batch: DataFrame): Long = {
    val colList = batch.columns.sorted.map(c => s"`$c`").mkString(", ")
    val r = batch.selectExpr(
      s"coalesce(bit_xor(xxhash64(struct($colList))), 0L)", "count(*)").collect()(0)
    r.getLong(0) ^ java.lang.Long.rotateLeft(r.getLong(1), 32)
  }

  /** [[inputFingerprint]] and the batch's touched-bucket set in ONE
    * action (the fingerprint formula is bit-identical — manifests
    * recorded by either path replay against the other). Incremental
    * writers need both before staging; computing them separately costs a
    * second full pass over the batch, which at micro-batch cadence is
    * pure per-commit fixed overhead.
    */
  def inputFingerprintAndBuckets(batch: DataFrame,
                                 bucketCol: org.apache.spark.sql.Column)
      : (Long, Set[Long]) = {
    import org.apache.spark.sql.functions._
    val colList = batch.columns.sorted.map(c => s"`$c`").mkString(", ")
    val r = batch
      .select(expr(s"xxhash64(struct($colList))").as("h"), bucketCol.as("p"))
      .agg(coalesce(bit_xor(col("h")), lit(0L)), count(lit(1)),
        collect_set(col("p")))
      .collect()(0)
    (r.getLong(0) ^ java.lang.Long.rotateLeft(r.getLong(1), 32),
      r.getSeq[Long](2).toSet)
  }

  /** The PHYSICAL version dir batch `batchId` stages under: strictly
    * greater than every dir `m` references (so the pre-state read can
    * never touch the dir being written), and equal to the batch's logical
    * version `batchId+1` until a [[compactConcurrent]] fold has
    * renumbered dirs past it. Needs no fingerprint, so the LSM replica
    * reserves it before its stats job ends; `batchId = -1` (a commit that
    * is not a stream batch) gives the bucket max + 1.
    */
  def stagingVersion(m: Manifest, batchId: Long): Long =
    math.max(m.buckets.values.flatten.reduceOption(_ max _).getOrElse(0L) + 1,
      batchId + 1)

  /** Check an incoming data batch against the manifest: [[Proceed]] with
    * its [[stagingVersion]], [[AlreadyCommitted]] for a replay of the
    * manifest's last batch with the same fingerprint, or fail loudly on
    * a stale or reset checkpoint. The last committed DATA version is the
    * manifest's fp line (which the fold preserves verbatim), falling back
    * to the bucket max for pre-fingerprint manifests (where physical ==
    * logical). Writers reach it through [[appendBatch]]; the LSM replica,
    * which stages first, calls it before its commit.
    */
  def checkBatch(m: Manifest, batchId: Long, batchFp: Long): BatchCheck = {
    val logical = batchId + 1
    val lastData = m.fp.map(_._1).orElse(m.buckets.values.flatten.reduceOption(_ max _))
    lastData match {
      case Some(v) if v > logical =>
        throw new IllegalArgumentException(
          s"state manifest has committed through batch version $v but the " +
            s"stream is at batch $batchId: checkpoint and state dir must be " +
            "retained (or cleared) together")
      case Some(v) if v == logical =>
        // Replay of an ALREADY-COMMITTED batch (crash landed between the
        // manifest rename and the checkpoint commit). "Committed at my
        // version" alone is ambiguous when exactly one batch had
        // committed: a reset checkpoint over retained state produces the
        // same picture with POSSIBLY DIFFERENT DATA, and a silent no-op
        // would lose those events forever — require the recorded input
        // fingerprint to match.
        require(m.fp.contains(logical -> batchFp),
          s"state manifest already references batch version $logical but its " +
            s"recorded input fingerprint ${m.fp.fold(
              "(none — manifest predates fingerprints)")(_.toString())} " +
            s"does not match this batch's ($logical,$batchFp): the checkpoint " +
            "appears to have been reset against a retained state dir — retain " +
            "(or clear) both together")
        AlreadyCommitted
      case _ => Proceed(stagingVersion(m, batchId))
    }
  }

  sealed trait BatchCheck
  case object AlreadyCommitted extends BatchCheck
  final case class Proceed(physicalVersion: Long) extends BatchCheck

  /** Replace the small file at `path` with `text` in one atomic step:
    * write a `.tmp` sibling, CLOSE it, then FileContext.rename(OVERWRITE),
    * the atomic-replace primitive (plain FileSystem.rename won't clobber
    * on local/HDFS). A reader sees the old file or the whole new one,
    * never a torn one: the `_LAYOUT` stamp was once a direct
    * create-then-write, and a SIGKILL between the two left it EMPTY, so
    * every relaunch refused the store (the r15 chaos soak, kill 15 of
    * 20). On stores without atomic rename the deployment pins these
    * files elsewhere.
    */
  def writeAtomically(spark: SparkSession, path: String, text: String): Unit = {
    val dest = new org.apache.hadoop.fs.Path(path)
    val tmp = new org.apache.hadoop.fs.Path(s"$path.tmp")
    val out = hadoopFs(spark, path).create(tmp, true)
    try out.write(text.getBytes("UTF-8")) finally out.close()
    org.apache.hadoop.fs.FileContext.getFileContext(dest.toUri,
        spark.sparkContext.hadoopConfiguration)
      .rename(tmp, dest, org.apache.hadoop.fs.Options.Rename.OVERWRITE)
  }

  /** Write `_CURRENT` whole. Writers commit through [[commitAppend]] or
    * [[compactConcurrent]], which call this under [[manifestLock]]
    * against a fresh read; only a dir with no concurrent writer (a
    * freshly staged vector-index generation) may call it directly.
    */
  def commitManifest(spark: SparkSession, stateDir: String,
                     manifest: Map[Long, Set[Long]],
                     fp: Option[(Long, Long)]): Unit =
    writeAtomically(spark, s"$stateDir/_CURRENT",
      (manifest.toSeq.flatMap { case (b, vs) => vs.map(b -> _) }.sorted
        .map { case (b, v) => s"$b,$v" }
        ++ fp.map { case (v, h) => s"fp,$v,$h" }).mkString("\n"))

  /** The one append commit: add staged version `version` to every bucket
    * its dir holds and commit with `fp`, the batch's replay record (None
    * keeps the manifest's current one — a commit that is not a stream
    * batch, like an LSM retraction, must not disturb the replay chain).
    * The merge runs under [[manifestLock]] against a FRESH read: a
    * background fold may have swapped segment sets since the writer's
    * own manifest read, and folding that stale snapshot in would
    * resurrect compacted-away segments. The listing and the commit are
    * the `list_buckets` and `manifest_commit` spans of `store`, `batch`.
    */
  def commitAppend(spark: SparkSession, stateDir: String, version: Long,
                   fp: Option[(Long, Long)], store: String, batch: Long): Unit = {
    val staged = Trace.span(store, "list_buckets", batch)(
      listBuckets(spark, s"$stateDir/v=$version"))
    Trace.span(store, "manifest_commit", batch)(manifestLock(stateDir).synchronized {
      val m = readManifest(spark, stateDir)
      commitManifest(spark, stateDir,
        staged.foldLeft(m.buckets)((acc, b) =>
          acc.updated(b, acc.getOrElse(b, Set.empty[Long]) + version)),
        fp.orElse(m.fp))
    })
  }

  /** The one batch protocol of the curation stores, in this order: the
    * leased manifest read ([[readManifestLeased]]), the layout stamp
    * check when `layout` is given ([[checkOrStampLayout]]), the replay
    * check ([[checkBatch]]); on [[Proceed]] the reserved version,
    * `stage(m, versionDir)` (the store's segment write and answer claim),
    * [[commitAppend]] with the batch's replay record, and the release
    * ([[releaseVersion]] — uncommitted on a throw, so the staged dir is
    * swept); on [[AlreadyCommitted]] `replay(m)` under the same lease;
    * then the lease release and, outside it, the `gc` span of
    * [[gcVersionsIfDirty]]. The lease pins every dir the stage reads
    * against a concurrent fold's GC; the GC runs after the release, or
    * this batch's own lease would spare (and leak) the dirs a mid-ingest
    * fold superseded.
    */
  def appendBatch(spark: SparkSession, stateDir: String, store: String,
                  batchId: Long, batchFp: Long, layout: Option[String] = None)(
      stage: (Manifest, String) => Unit,
      replay: Manifest => Unit = _ => ()): Unit = {
    val (m, lease) = readManifestLeased(spark, stateDir)
    try {
      layout.foreach(checkOrStampLayout(spark, stateDir, m, _))
      checkBatch(m, batchId, batchFp) match {
        case AlreadyCommitted => replay(m)
        case Proceed(proposed) =>
          val version = reserveVersion(stateDir, proposed)
          var committed = false
          try {
            stage(m, s"$stateDir/v=$version")
            commitAppend(spark, stateDir, version, Some((batchId + 1) -> batchFp),
              store, batchId)
            committed = true
          } finally releaseVersion(stateDir, version, committed)
      }
    } finally releaseReads(lease)
    Trace.span(store, "gc", batchId)(gcVersionsIfDirty(spark, stateDir))
  }

  /** The one segment reader: the rows of every `(version, bucket)` leaf
    * dir `manifest` references, with a `long` `p` bucket column. Every
    * bucketed store reads through here — the four curation stores,
    * [[readStoreView]], [[unionFold]], the LSM replica (`CdcStream.readLsm`,
    * which its fold reads through too, splits its reserved buckets over
    * it) and its schema-evolving reads (one call per schema watermark,
    * each remapped). Only the referenced leaf dirs are read
    * (partition-pruned by construction), and building the frame runs no
    * Spark job: the leaf dirs come from the
    * manifest, the schema from [[segmentSchema]]'s footer read, and a
    * relation over at most `parallelPartitionDiscovery.threshold` root
    * paths lists them on the driver — past that, one relation per chunk,
    * unioned. `empty` is the zero-state of an empty manifest (it must
    * already carry `p`).
    *
    * `readSchema`, when given, is the explicit schema (it must include
    * `p`): parquet null-fills requested fields a file lacks, so version
    * dirs written under an OLDER, narrower image struct (pre-ADD-COLUMN)
    * read back widened — schema evolution over at-rest state without
    * rewriting untouched buckets.
    */
  def readBuckets(spark: SparkSession, stateDir: String,
                  manifest: Map[Long, Set[Long]], empty: => DataFrame,
                  readSchema: Option[org.apache.spark.sql.types.StructType] = None)
      : DataFrame = {
    val leaves = leafDirs(stateDir, manifest)
    if (leaves.isEmpty) return empty
    val schema = readSchema.getOrElse(segmentSchema(spark, stateDir, manifest))
    // a relation over more root paths than this lists them with a Spark
    // job, one task per path: past it, one relation per chunk, unioned
    val dirsPerScan = math.max(1, spark.conf
      .get("spark.sql.sources.parallelPartitionDiscovery.threshold").toInt)
    leaves.grouped(dirsPerScan)
      .map(spark.read.schema(schema).option("basePath", stateDir).parquet(_: _*))
      .reduce(_.union(_))
      .drop("v")
  }

  /** `manifest`'s leaf dirs in `(version, bucket)` order. */
  private def leafDirs(stateDir: String,
                       manifest: Map[Long, Set[Long]]): Seq[String] =
    manifest.toSeq.flatMap { case (b, vs) => vs.map(v => (v, b)) }.sorted
      .map { case (v, b) => s"$stateDir/v=$v/p=$b" }

  /** The at-rest schema of `manifest`'s newest leaf dir plus `p: long`,
    * off one parquet footer read on the driver (a plain
    * `spark.read.parquet` infers it with a Spark job). Spark stores its
    * row schema in every footer it writes; a footer without one falls
    * back to that inference. `manifest` must be non-empty.
    */
  def segmentSchema(spark: SparkSession, stateDir: String,
                    manifest: Map[Long, Set[Long]])
      : org.apache.spark.sql.types.StructType = {
    val leafDir = leafDirs(stateDir, manifest).last
    val file = hadoopFs(spark, leafDir)
      .listStatus(new org.apache.hadoop.fs.Path(leafDir))
      .map(_.getPath).find(_.getName.endsWith(".parquet"))
    file.flatMap { f =>
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(f,
          spark.sparkContext.hadoopConfiguration))
      try Option(r.getFooter.getFileMetaData.getKeyValueMetaData
        .get("org.apache.spark.sql.parquet.row.metadata"))
      finally r.close()
    }.map(org.apache.spark.sql.types.DataType.fromJson(_)
        .asInstanceOf[org.apache.spark.sql.types.StructType])
      .getOrElse(spark.read.parquet(leafDir).schema)
      .add("p", org.apache.spark.sql.types.LongType)
  }

  // ---- per-batch answer files staged inside the segment write ---------
  //
  // Every incremental index commits TWO durable artifacts per batch: the
  // segment (bucket rows, folded away by compaction) and the batch's
  // ANSWER (survivors / admitted / members — immutable per-batch files a
  // replay returns and snapshots union). Writing them as two Spark jobs
  // doubled the per-batch job count for what is one logical write; the
  // answer rows now ride the SAME repartition+partitionBy job under the
  // reserved bucket below, and [[claimAnswer]] renames that partition
  // dir to its durable per-batch location BEFORE the manifest commit.
  // Crash story unchanged: the manifest rename stays the only commit
  // point, a crashed attempt's half-staged answer dir is overwritten by
  // the replay (same per-batch path), and the orphan version dir is
  // GC'd. The bucket number collides with nothing: data buckets are
  // non-negative, tombstones are -1.

  /** Reserved staging bucket for a batch's answer rows. */
  val AnswerBucket = -2L

  /** Move the staged answer partition out of `versionDir` to `destDir`.
    * An absent partition (empty answer — every batch row rejected) writes
    * an empty-but-readable parquet dir with `emptySchema` instead, so
    * per-batch readers and glob unions over the answer root stay
    * schema-stable.
    */
  def claimAnswer(spark: SparkSession, versionDir: String, destDir: String,
                  emptySchema: org.apache.spark.sql.types.StructType): Unit = {
    val fs = hadoopFs(spark, destDir)
    val dest = new org.apache.hadoop.fs.Path(destDir)
    fs.mkdirs(dest.getParent)
    if (fs.exists(dest)) fs.delete(dest, true) // crashed prior attempt
    val src = new org.apache.hadoop.fs.Path(s"$versionDir/p=$AnswerBucket")
    // Hadoop rename reports some failures as FALSE, not an exception —
    // a silently-unclaimed answer partition would then be committed as a
    // data bucket (p=-2 in the manifest) AND the per-batch answer would
    // never exist; fail the batch loudly instead (the staged version dir
    // is uncommitted, so the replay re-stages everything)
    if (fs.exists(src)) {
      require(fs.rename(src, dest),
        s"failed to claim staged answer $src -> $dest (rename returned false)")
    }
    else spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], emptySchema)
      .write.mode("overwrite").parquet(destDir)
  }

  /** Buckets actually present under one version dir. */
  def listBuckets(spark: SparkSession, versionDir: String): Seq[Long] = {
    val fs = hadoopFs(spark, versionDir)
    fs.listStatus(new org.apache.hadoop.fs.Path(versionDir)).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("p="))
      .map(_.getPath.getName.stripPrefix("p=").toLong)
  }

  // ---- the one fold ----------------------------------------------------
  //
  // Every bucketed store compacts through [[compactConcurrent]] with the
  // fold it declares next to its layout: the four curation stores with
  // [[unionFold]] through their tombstone resolve, the CDC LSM replica
  // with its own (`CdcStream.lsmFold`). No caller builds a store's fold.
  // A store supplies only what its fold writes; the reservation, the
  // locked segment-preserving swap, the view bookkeeping, the GC and the
  // `fold` trace span are this one code, tripped by [[compactIfDue]].

  /** What one fold writes, built from the manifest snapshot it folds:
    * `rows` (with `p`; no row may move across buckets) and `staged`, run
    * on the written version dir before the swap — the LSM replica stamps
    * its schema watermark and raises its time-travel floor there, so the
    * swap can never name an unstamped dir.
    */
  final case class Folded(rows: DataFrame, staged: String => Unit = _ => ())

  /** A store's fold, named by its store (`lsm`, `exact`, `nd`, `kb`,
    * `vec`: the `store` of its `fold` span). `of(spark, stateDir, m)` is
    * what folding snapshot `m` of `stateDir` writes; None when `m` holds
    * nothing to fold.
    */
  final case class Fold(store: String,
                        of: (SparkSession, String, Manifest) => Option[Folded])

  /** A curation store's fold: every referenced row through `resolve`, the
    * store's tombstone fold ([[graft.operators.Retraction.foldTombstones]]).
    * Masked data rows AND the tombstones masking them may drop together,
    * because a tombstone can never mask a FUTURE row (ingestion is
    * ascending and tombstones name already-ingested ids), so once the
    * fold has applied a tombstone to every stored row, nothing it could
    * ever mask remains — including mid-fold late segments (late data ids
    * are above the tombstone's; a late RETRACTION segment survives the
    * swap verbatim and folds next time). `resolve` must preserve the `p`
    * column.
    */
  def unionFold(store: String, resolve: DataFrame => DataFrame): Fold =
    Fold(store, (spark, stateDir, m) =>
      if (m.buckets.isEmpty) None
      else Some(Folded(resolve(readBuckets(spark, stateDir, m.buckets,
        sys.error("unreachable — manifest non-empty"))))))

  /** Compact a bucket-state dir: rewrite every live bucket into ONE fresh
    * version dir and repoint the manifest at it. After many incremental
    * batches a bucket lists many segments (one more leaf dir per read,
    * each holding small files); the fold restores one segment per bucket
    * with the same atomic-rename commit, and the superseded dirs are
    * GC'd after.
    *
    * SAFE TO RUN CONCURRENTLY with append-only writers that commit
    * through [[commitAppend]] (the apply path and the ingests keep
    * landing O(batch) commits while a fold runs off the hot path). The
    * fold reads a manifest SNAPSHOT outside any lock and writes `fold`'s
    * rows into one reserved version dir; the swap runs under the
    * manifest lock against a FRESH read, replacing only the segments it
    * actually folded — segments appended mid-fold survive verbatim,
    * because every store's resolution is associative over segments
    * (a union for the curation stores, max-pos per key and max horizon
    * for the replica: resolve(folded ∪ late) ≡ resolve(old ∪ late)). The
    * replay fingerprint is taken from the fresh read, so a concurrent
    * batch's progress record is preserved (and a crash-replay of the
    * last data batch still recognizes itself post-fold). The snapshot's
    * dirs can't be GC'd mid-fold: they stay manifest-referenced until
    * this very swap, and at most one fold runs per dir
    * ([[maybeCompactConcurrent]]'s flag, or the caller's own thread).
    * A fold that writes is one `fold` span of `fold.store`, whose batch
    * is the last batch the folded snapshot had committed (−1 for none).
    * `beforeSwap` is a test seam: it runs after `staged`, before the
    * locked swap. A fold that throws before its swap releases its
    * version uncommitted, which marks the dir GC-dirty: the next
    * writer's [[gcVersionsIfDirty]] removes the staged dir. Readers of
    * prior state must hold a [[readManifestLeased]] lease, or the
    * post-swap GC could remove what they are scanning.
    */
  def compactConcurrent(spark: SparkSession, stateDir: String, fold: Fold,
                        beforeSwap: () => Unit = () => ()): Unit = {
    val m = readManifest(spark, stateDir)
    fold.of(spark, stateDir, m).foreach { f =>
      Trace.span(fold.store, "fold", m.fp.fold(-1L)(_._1 - 1)) {
        val newVersion = reserveVersion(stateDir, m.buckets.values.flatten.max + 1)
        val dir = s"$stateDir/v=$newVersion"
        var committed = false
        try {
          f.rows.repartition(org.apache.spark.sql.functions.col("p"))
            .write.mode("overwrite").partitionBy("p").parquet(dir)
          f.staged(dir)
          val outBuckets = listBuckets(spark, dir).toSet
          beforeSwap()
          val merged = manifestLock(stateDir).synchronized {
            val mNow = readManifest(spark, stateDir)
            val out = (mNow.buckets.keySet ++ outBuckets).flatMap { b =>
              val late = mNow.buckets.getOrElse(b, Set.empty[Long]) --
                m.buckets.getOrElse(b, Set.empty[Long])
              val segs = late ++
                (if (outBuckets.contains(b)) Set(newVersion) else Set.empty[Long])
              if (segs.isEmpty) None else Some(b -> segs)
            }.toMap
            commitManifest(spark, stateDir, out, mNow.fp)
            committed = true
            out
          }
          // retire the (now stale-by-key) session view so its lease doesn't
          // defer the sweep, and seed the streaming signature with the
          // folded pairs so the live stream resumes caching on its first
          // post-fold read; a concurrent ingest mid-read is safe — blocks
          // recompute from files its OWN lease still pins
          invalidateView(stateDir)
          lastSeen.put(stateDir, merged.toSeq
            .flatMap { case (b, vs) => vs.map(v => (v, b)) }.toSet)
          markGcDirty(stateDir) // superseded dirs exist until the sweep below
          gcVersions(spark, stateDir)
        } finally releaseVersion(stateDir, newVersion, committed)
      }
    }
  }

  private val compactingFlags =
    scala.collection.concurrent.TrieMap.empty[String, java.util.concurrent.atomic.AtomicBoolean]

  /** Is a background [[compactConcurrent]] running for `stateDir`?
    * (Soak/spec visibility — the data path never needs to ask.)
    */
  def compactionInFlight(stateDir: String): Boolean =
    compactingFlags.get(stateDir).exists(_.get())

  /** Waits until no background fold of any of `stateDirs` is in flight:
    * each has landed or died staged-only, so the stores' manifests and
    * segment counts describe quiesced state.
    */
  def quiesce(stateDirs: String*): Unit =
    stateDirs.foreach(d => while (compactionInFlight(d)) Thread.sleep(100))

  /** The one fold dispatcher: run [[compactConcurrent]] with `fold` now
    * (sync) or on a background daemon thread (async, at most one in
    * flight per state dir — a trip while one is running is a no-op; the
    * running fold will observe the extra segments on its next trip).
    * The thread clears the Spark job group it inherits from a streaming
    * batch: stopping that stream cancels its group, and the fold is not
    * the stream's to cancel.
    */
  def maybeCompactConcurrent(spark: SparkSession, stateDir: String,
                             async: Boolean, fold: Fold): Unit =
    if (!async) compactConcurrent(spark, stateDir, fold)
    else {
      val flag = compactingFlags.getOrElseUpdate(
        stateDir, new java.util.concurrent.atomic.AtomicBoolean(false))
      if (flag.compareAndSet(false, true)) {
        val t = new Thread(() => {
          spark.sparkContext.clearJobGroup()
          try compactConcurrent(spark, stateDir, fold)
          catch {
            case e: Throwable =>
              System.err.println(
                s"[compact] background compaction of $stateDir failed: ${e.getMessage}")
          } finally flag.set(false)
        }, s"compact-${stateDir.hashCode}")
        t.setDaemon(true)
        t.start()
      }
    }

  /** The one fold trigger rule: a store whose max segments per bucket is
    * `segs` owes a fold at `threshold` (0 = never).
    */
  def foldDue(segs: Int, threshold: Int): Boolean = threshold > 0 && segs >= threshold

  /** The one fold trigger: read `stateDir`'s manifest once and, when its
    * max segments per bucket reach `threshold` ([[foldDue]]), dispatch
    * `fold` through [[maybeCompactConcurrent]]. Returns that max (read
    * before the fold) for the caller's batch hooks and counters. Measured
    * read amplification is bounded at `threshold` by construction, and a
    * store whose drops land in few buckets per batch folds rarely.
    */
  def compactIfDue(spark: SparkSession, stateDir: String, threshold: Int,
                   async: Boolean, fold: Fold): Int = {
    val segs = readManifest(spark, stateDir).maxSegments
    if (foldDue(segs, threshold)) maybeCompactConcurrent(spark, stateDir, async, fold)
    segs
  }

  /** The one streaming ingress of a bucketed store. A (re)started stream
    * sweeps `stateDir` once (a crashed writer may have left staged dirs
    * this process never saw); then each micro-batch of `input` is one
    * `step` keyed by the checkpoint's batchId, and the store's replay
    * guarantees are exactly Structured Streaming's foreachBatch contract
    * (a crash between the manifest commit and the checkpoint commit
    * replays the batch; the recorded fingerprint makes it a no-op).
    * `step` commits the batch and returns the fold its store owes, which
    * [[compactIfDue]] trips at `compactWhenSegments`, synchronously or on
    * a background thread (`async`: commits keep landing while the store
    * folds, made safe by the locked commits and read leases). `onBatch`
    * gets (batchId, max segments per bucket after the commit).
    */
  def runIngest(input: DataFrame, stateDir: String, checkpointDir: String,
                compactWhenSegments: Int, async: Boolean,
                onBatch: (Long, Int) => Unit = (_, _) => ())(
                step: (DataFrame, Long) => Fold): StreamingQuery = {
    markGcDirty(stateDir)
    input.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val fold = step(batch, batchId)
        onBatch(batchId,
          compactIfDue(batch.sparkSession, stateDir, compactWhenSegments, async, fold))
      }
      .start()
  }

  /** Delete `v=` dirs no manifest entry references anymore. The live set
    * is derived from a FRESH manifest read under the per-dir manifest
    * lock — never passed in by the caller. A caller-supplied set is a
    * race: a concurrent writer that commits its version AND releases its
    * in-flight registration in the window between the caller's own
    * commit and this GC would have its manifest-referenced dir in
    * neither the caller's (stale) live set nor the in-flight registry,
    * and the GC would delete committed data.
    * In-flight (reserved, not yet committed) versions are still spared —
    * a concurrent writer's staged dir is invisible to the manifest but
    * must survive until its own commit or abandonment.
    *
    * Only the SNAPSHOT (manifest read + dir listing) holds the lock; the
    * recursive deletes run outside it, so a concurrent locked commit
    * ([[commitAppend]], a fold's swap) never waits behind filesystem deletes —
    * on an object store with many dead version dirs that wait would land
    * directly on the sub-second commit latency the LSM path exists for.
    * Deleting outside the lock is safe because doomed-ness is stable: a
    * version dead at snapshot time (absent from the manifest AND the
    * in-flight registry) can never become live again — [[reserveVersion]]
    * hands out monotonically-increasing, never-reused numbers and every
    * writer registers its version in-flight BEFORE staging a byte, so no
    * later commit can reference a number that was already dead.
    * Every commit path is locked ([[commitAppend]], [[compactConcurrent]]);
    * the one direct [[commitManifest]] caller, a vector-index cutover,
    * commits a fresh generation dir that no other writer or GC knows yet.
    */
  def gcVersions(spark: SparkSession, stateDir: String): Unit = {
    val doomed = manifestLock(stateDir).synchronized {
      val live = readManifest(spark, stateDir).buckets.values.flatten.toSet
      val hard = live ++ inFlightVersions(stateDir)
      val leased = leasedVersions(stateDir)
      val fs = hadoopFs(spark, stateDir)
      val dead = fs.listStatus(new org.apache.hadoop.fs.Path(stateDir)).toSeq
        .filter(s => s.isDirectory && s.getPath.getName.startsWith("v="))
        .filterNot(s => hard.contains(s.getPath.getName.stripPrefix("v=").toLong))
      // dirty-state bookkeeping for gcVersionsIfDirty, INSIDE the lock: a
      // lease-spared dead dir means work remains (some later GC must
      // retry); a clean sweep means hot-path callers can skip their GC
      // until a fold dirties the dir again. Written under the lock so a
      // concurrent fold's markGcDirty (which supersedes dirs only via a
      // locked commit) can never be clobbered by a stale put
      if (dead.exists(s =>
          leased.contains(s.getPath.getName.stripPrefix("v=").toLong)))
        gcClean.remove(stateDir)
      else gcClean.put(stateDir, ())
      dead.filterNot(s =>
          leased.contains(s.getPath.getName.stripPrefix("v=").toLong))
        .map(_.getPath)
    }
    val fs = hadoopFs(spark, stateDir)
    // the clean flag above was written on the assumption these deletes
    // succeed; if any fails (FALSE return or exception — transient FS
    // errors on object stores), the orphan dirs remain on disk and
    // gcVersionsIfDirty would skip every later sweep until a fold
    // re-dirtied the dir — re-dirty it ourselves so the next pass
    // retries. markGcDirty only removes the flag, so it can never
    // clobber a concurrent fold's own dirtying.
    val allDeleted = doomed.forall { p =>
      try fs.delete(p, true)
      catch {
        case e: java.io.IOException =>
          System.err.println(s"[gc] failed to delete $p: ${e.getMessage}")
          false
      }
    }
    if (!allDeleted) markGcDirty(stateDir)
  }

  // ---- conditional GC for the hot path ----------------------------------
  // An APPEND-ONLY writer never supersedes a version dir, so its
  // end-of-batch gcVersions finds garbage only when (a) a fold completed
  // mid-batch and this batch's own lease spared the folded dirs, (b) a
  // reserved version was released without a commit (a failed stage, the
  // LSM's abandoned replay, a fold that died before its swap), or (c) a
  // prior process or stream crashed mid-stage. All are rare next to the
  // per-batch cadence, and the unconditional GC costs a locked manifest
  // read + a full dir listing per batch per store. `gcClean` tracks
  // "the last GC swept everything" per state dir; folds and uncommitted
  // releases clear it, and a fresh process starts with it empty (the
  // stream runners clear it at start) so the first call always does a
  // real sweep (covering crash orphans).
  private val gcClean =
    scala.collection.concurrent.TrieMap.empty[String, Unit]

  /** Mark `stateDir` as needing a GC pass: a fold superseded dirs, a
    * reserved version was released uncommitted, or a stream (re)starts
    * over dirs a crashed writer may have left.
    */
  def markGcDirty(stateDir: String): Unit = gcClean.remove(stateDir)

  /** [[gcVersions]] unless the dir is known-clean: the last sweep
    * deleted everything dead, and since then no fold has superseded a
    * dir and no reserved version was released without a commit. Every
    * bucketed store's per-batch GC is this call ([[appendBatch]] and the
    * LSM replica's apply and retraction).
    */
  def gcVersionsIfDirty(spark: SparkSession, stateDir: String): Unit =
    if (!gcClean.contains(stateDir)) gcVersions(spark, stateDir)
}
