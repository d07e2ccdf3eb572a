package graft

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Per-session registry of shared materializations.
  *
  * Several query families recompute the same intermediate from scratch on
  * every call — the `cdc_*` queries each rebuild `Changelog.synthetic`
  * (4 scans of `orders` + a union), and the dedup ladder re-tokenizes the
  * corpus into `docShingles` three times. In a real deployment these are
  * maintained *indexes* of the pipeline, built once per dataset and shared
  * by every downstream query; this registry gives them exactly that
  * lifecycle inside one SparkSession: the first caller pays one
  * `localCheckpoint` (truncated lineage, cluster-cached blocks), every
  * later query over the same `sfDir` reads the blocks.
  *
  * The blocks are deliberately NOT released by per-query cache cleanup
  * ([[releaseTransient]] spares them): they are bounded, data-proportional
  * index state (a changelog and a shingle index), not per-query scratch.
  * Keyed by `sessionUUID` — collision-free across session restarts (an
  * identity-hash key could alias a stopped session's entry onto a new
  * session and hand out a DataFrame bound to a dead SparkContext).
  *
  * Lifecycle hygiene (long-lived JVMs hosting many contexts):
  *  - entries of STOPPED contexts are evicted on every [[materialize]]
  *    call — neither the memo nor the spared-RDD set grows across context
  *    restarts;
  *  - spared RDD ids are keyed by `(applicationId, rddId)` — RDD ids
  *    restart from 0 per SparkContext, so a bare id from a previous
  *    context would spare an unrelated transient block in the next one;
  *  - the registry lock covers only map bookkeeping; the eager
  *    `localCheckpoint` job runs outside it (per-entry lazy cell), so one
  *    session's build does not serialize unrelated sessions.
  */
object Shared {

  /** One memo entry: the owning session and a lazily-built checkpoint.
    * `lazy val` gives exactly-once build per cell with the monitor scoped
    * to THIS cell — concurrent materialize calls for different keys build
    * in parallel.
    */
  private final class Cell(val session: SparkSession, key: String, build: () => DataFrame) {
    lazy val df: DataFrame = {
      val t0 = System.nanoTime()
      // MEMORY_AND_DISK_SER, not the deserialized default: a shared index
      // is data-proportional (the sf100 shingle index is ~235M rows, and
      // deserialized row objects inflate it several-fold), and checkpoint
      // blocks are pinned lineage — they spill rather than evict, so an
      // oversized deserialized index squeezes execution memory for every
      // query in the session (measured as AGGREGATE_OUT_OF_MEMORY at the
      // 5M-doc rung). Serialized blocks keep the memory bound tight and
      // still spill to disk past it; eager, so blocks exist on return.
      val ck = build().localCheckpoint(eager = true,
        storageLevel = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
      buildSeconds.put(key, (System.nanoTime() - t0) / 1e9)
      // The checkpointed Dataset's plan IS a LogicalRDD over the
      // persisted RDD — read its id directly instead of diffing
      // getPersistentRDDs around the build (a diff would misclassify
      // any RDD a CONCURRENT query happens to persist in the window,
      // pinning per-query scratch for the session's lifetime).
      val appId = session.sparkContext.applicationId
      ck.queryExecution.analyzed.collect {
        case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd.id
      }.foreach(id => shared.put((appId, id), ()))
      ck
    }
  }

  private val memo = TrieMap.empty[(String, String, String), Cell]
  private val shared = TrieMap.empty[(String, Int), Unit]

  /** Wall-clock seconds each shared index took to build, by key (latest
    * build wins across sessions) — lets Bench itemize the untimed setup
    * pass instead of reporting one opaque number.
    */
  val buildSeconds = TrieMap.empty[String, Double]

  /** Session identity: applicationId (changes across context restarts) +
    * identity hash. Identity hashes are not unique, so hits additionally
    * require the SAME session object (`eq`) — a collision with a stopped
    * session's entry rebuilds instead of handing out a DataFrame bound to
    * a dead SparkContext.
    */
  private def sessionKey(s: SparkSession): String =
    s.sparkContext.applicationId + "#" + System.identityHashCode(s)

  /** Drop memo entries whose context is stopped, then spared ids whose
    * applicationId no longer has any live memo entry (a spared id is only
    * ever registered by a memo build, so a live registrant implies a live
    * memo entry — see [[Cell.df]]).
    */
  private def evictStopped(): Unit = {
    memo.filterInPlace { case (_, c) => !c.session.sparkContext.isStopped }
    val liveApps = memo.values.map(_.session.sparkContext.applicationId).toSet
    shared.filterInPlace { case ((app, _), _) => liveApps.contains(app) }
  }

  /** Memoized `build.localCheckpoint()` for (session, dir, key). */
  def materialize(s: SparkSession, dir: String, key: String)(build: => DataFrame): DataFrame = {
    val cell = synchronized {
      evictStopped()
      val k = (sessionKey(s), dir, key)
      memo.get(k) match {
        case Some(c) if c.session eq s => c
        case _ =>
          val fresh = new Cell(s, key, () => build)
          memo.put(k, fresh)
          fresh
      }
    }
    cell.df // builds outside the registry lock; per-cell exactly-once
  }

  /** A fresh scratch dir under the temp root, named by `prefix`: the
    * per-run store of a driver query or a probe.
    */
  def scratchDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  /** Runs `body` over the scratch dir `dir` and deletes the dir when the
    * body ends, returned or thrown: repeated verify/bench runs would
    * otherwise accrete dead stores under /tmp, and `graft.Verify` goes on
    * after a failed query.
    */
  def inScratch[T](dir: String)(body: => T): T =
    try body finally deleteDirTree(dir)

  /** The scratch run of a store-backed driver query: [[inScratch]] whose
    * answer is eagerly checkpointed before the dir goes, since the lazy
    * answer reads the dir.
    */
  def scratchRun(dir: String)(answer: => DataFrame): DataFrame =
    inScratch(dir)(answer.localCheckpoint(eager = true))

  /** An [[ascendingSplit]]: chunk `i` holds the rows whose id is in
    * `(cuts(i), cuts(i + 1)]`.
    */
  final case class Split(chunks: Seq[DataFrame], cuts: Seq[Long])

  /** `df` split into `n` ascending ranges of its non-negative id column
    * `id`, over the cuts `lo - 1`, `lo + (hi - lo) * i / n` and `hi` (`lo`
    * and `hi` its min and max, read in one job): the chunks of a chunked
    * ingest that must equal the one-shot answer.
    */
  def ascendingSplit(df: DataFrame, id: String, n: Int): Split = {
    import org.apache.spark.sql.functions.{col, max, min}
    val b = df.agg(min(id), max(id)).collect()(0)
    val (lo, hi) = (b.getLong(0), b.getLong(1))
    val cuts = (lo - 1) +: (1 until n).map(i => lo + (hi - lo) * i / n) :+ hi
    Split(cuts.sliding(2).map { case Seq(a, c) =>
      df.filter(col(id) > a && col(id) <= c)
    }.toSeq, cuts)
  }

  /** Best-effort recursive delete of a per-run scratch directory
    * ([[inScratch]]). Call only after the answer has been MATERIALIZED
    * (eager localCheckpoint) — a lazy frame still reading the dir would
    * break.
    */
  def deleteDirTree(path: String): Unit = {
    // any session read view rooted under the dying tree goes with it —
    // its leases and leaf blocks would otherwise pin deleted state
    graft.streaming.BucketState.invalidateViewsUnder(path)
    // …and any frozen-params cache entry (vec index): a recreated store
    // dir must never serve a dead generation's quantizers
    graft.operators.IncrementalVecIndex.invalidateParamsUnder(path)
    val root = java.nio.file.Paths.get(path)
    if (java.nio.file.Files.exists(root)) {
      val walk = java.nio.file.Files.walk(root)
      try walk.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .forEach(p => java.nio.file.Files.deleteIfExists(p))
      finally walk.close()
    }
  }

  /** Unpersist every persistent RDD except the shared materializations.
    *
    * `spark.catalog.clearCache()` drops `cache()`d plans but not
    * `localCheckpoint` blocks (they live outside the CacheManager), so
    * iterative operators would otherwise accumulate superseded round
    * state across a 50-query Verify/Bench session. Call between queries,
    * AFTER the query's result has been consumed — a localCheckpoint's
    * lineage is truncated, so its blocks must outlive its readers.
    */
  def releaseTransient(s: SparkSession): Unit = {
    // retire session read views first so their leases, leaf-id registry,
    // and blocks release coherently (the raw sweep below would strand
    // the registry entries while killing the blocks)
    graft.streaming.BucketState.invalidateAllViews()
    val appId = s.sparkContext.applicationId
    s.sparkContext.getPersistentRDDs.valuesIterator
      .filter(r => !shared.contains((appId, r.id)))
      .foreach(_.unpersist(blocking = false))
  }
}
