package graft.operators

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame

/** Unified cache governance for operator-held state.
  *
  * Round-6 lesson (driver bench): each operator's cache was individually
  * bounded (Dedup LRU=4, JsonIndex LRU=4, IVF LRU=4) but nothing bounded
  * their SUM, and localCheckpoint blocks outlived their consumers — a
  * long-lived session degraded 20–300× by suite end as storage memory
  * squeezed execution memory. A 100 TB analytics service session must not
  * degrade as operators come and go, so ALL operator caches now share ONE
  * budget here, and every eager localCheckpoint is tracked in
  * [[Checkpoints]] so orphaned blocks are reclaimed deterministically
  * between queries instead of waiting on GC + ContextCleaner.
  *
  * Reference analog: the reference bounds query-engine scratch state with a
  * single broker/server-level memory budget, not per-operator ones
  * (`pinot-core/.../query/scheduler/resources/ResourceManager`).
  */
object GraftCache {

  /** One entry budget across ALL owners. Entries are whole cached tables
    * (signatures, posting lists, IVF assignments) — the budget bounds how
    * many such tables a session retains, LRU across operators.
    *
    * 32 (round 11, was 12): the suite's cached working set outgrew the
    * old cap — by the 200-gate mark the minhash-pairs entry built early
    * in the dedup family was evicted before the clusters gates re-read
    * it ~30 queries later, turning a 0.2 s warm hit into a 10 s cold
    * rebuild in-suite. Entries are localCheckpointed derived tables
    * (tens of MB at sf0.1), so the wider cap costs ~low GB against the
    * 128 GiB heap; the scale pass still clearAll()s before 10×. */
  @volatile var globalCapacity: Int = 32

  private val ownerCaps =
    scala.collection.concurrent.TrieMap.empty[String, Int]
  private final case class Entry(value: AnyRef, release: () => Unit)

  // access-order = LRU across every owner
  private val map =
    new java.util.LinkedHashMap[(String, AnyRef), Entry](32, 0.75f, true)

  /** Per-owner capacity (test hook — owners default to the global cap). */
  def setOwnerCapacity(owner: String, cap: Int): Unit =
    map.synchronized { ownerCaps.put(owner, cap); enforce() }
  def ownerCapacity(owner: String): Int =
    ownerCaps.getOrElse(owner, globalCapacity)

  /** Releases of EVICTED entries are deferred here and run by
    * [[Checkpoints.sweep]] — i.e. between queries — because an evicted
    * entry's frame may still be held by a running query, and for
    * checkpoint-backed frames release destroys blocks that cannot
    * recompute. Explicit [[clear]]/[[clearAll]] stay immediate. */
  private val evictedReleases =
    new java.util.concurrent.ConcurrentLinkedQueue[() => Unit]()

  // Session-lifetime counters for the bench artifact's `cache` block: an
  // eviction storm (cap outgrown by the suite's working set — round 11's
  // 12→32 bump) must be visible from the JSON alone, before it costs
  // 10 s in-suite rebuilds. Monotonic; readers diff snapshots.
  private val hitCount = new java.util.concurrent.atomic.AtomicLong()
  private val missCount = new java.util.concurrent.atomic.AtomicLong()
  private val evictCount = new java.util.concurrent.atomic.AtomicLong()

  /** (hits, misses, evictions) since session start. */
  def statsSnapshot(): (Long, Long, Long) =
    (hitCount.get(), missCount.get(), evictCount.get())

  /** Fetch-or-build. `release` frees the entry's distributed state once it
    * can no longer be in use: at the sweep after eviction (see
    * [[Checkpoints.releaseFrame]] for DataFrame entries), or immediately on
    * explicit clear. */
  def getOrBuild[T <: AnyRef](owner: String, key: AnyRef)
                             (build: => T)(release: T => Unit): T = {
    map.synchronized {
      val hit = map.get((owner, key))
      if (hit != null) {
        hitCount.incrementAndGet()
        return hit.value.asInstanceOf[T]
      }
    }
    // build OUTSIDE the lock: builds run Spark jobs (seconds); holding the
    // lock would serialize unrelated operators' cache access behind them.
    missCount.incrementAndGet()
    val built = build
    val (result, loser) = map.synchronized {
      val prev = map.get((owner, key))
      if (prev != null) {
        // Lost a build race. The published entry may already be held by the
        // winner's caller, so it MUST survive; our fresh copy is unpublished
        // (no other thread can hold it) and is safe to free right away.
        (prev.value.asInstanceOf[T], Some(() => release(built)))
      } else {
        map.put((owner, key), Entry(built, () => release(built)))
        enforce()
        (built, None)
      }
    }
    loser.foreach(f => f())
    result
  }

  /** Run deferred eviction releases. Called from [[Checkpoints.sweep]]
    * (between queries), so queries that still hold an evicted frame finish
    * against valid blocks. */
  private[graft] def drainEvicted(): Unit = {
    var f = evictedReleases.poll()
    while (f != null) {
      try f() catch { case _: Throwable => () }
      f = evictedReleases.poll()
    }
  }

  private[graft] def pendingEvictedCount: Int = evictedReleases.size()

  def keys(owner: String): Set[AnyRef] = map.synchronized {
    import scala.jdk.CollectionConverters._
    map.keySet.asScala.collect { case (o, k) if o == owner => k }.toSet
  }

  /** Drop (and release) every entry of one owner. */
  def clear(owner: String): Unit = map.synchronized {
    import scala.jdk.CollectionConverters._
    val doomed = map.entrySet().asScala
      .filter(_.getKey._1 == owner).toList
    doomed.foreach { e => e.getValue.release(); map.remove(e.getKey) }
  }

  /** Drop (and release) everything. */
  def clearAll(): Unit = map.synchronized {
    import scala.jdk.CollectionConverters._
    map.values.asScala.foreach(_.release())
    map.clear()
  }

  // Evict LRU-first: global budget, then any owner over its own cap.
  // Releases are DEFERRED to the next sweep, not run here: a query holding
  // the evicted frame may still be mid-flight, and checkpoint-backed
  // frames die permanently when their blocks go.
  private def enforce(): Unit = {
    import scala.jdk.CollectionConverters._
    while (map.size() > globalCapacity) {
      val eldest = map.entrySet().iterator().next()
      evictedReleases.add(eldest.getValue.release)
      map.remove(eldest.getKey)
      evictCount.incrementAndGet()
    }
    val counts = map.keySet().asScala.groupBy(_._1).map { case (o, ks) =>
      o -> ks.size }
    counts.foreach { case (owner, n) =>
      var over = n - ownerCapacity(owner)
      if (over > 0) {
        val it = map.entrySet().iterator()
        while (over > 0 && it.hasNext) {
          val e = it.next()
          if (e.getKey._1 == owner) {
            evictedReleases.add(e.getValue.release); it.remove(); over -= 1
            evictCount.incrementAndGet()
          }
        }
      }
    }
  }
}

/** Ledger of eagerly-localCheckpoint'd frames, so their block-manager
  * blocks can be freed deterministically instead of drifting until GC +
  * ContextCleaner notice (round 6's session-degradation root cause: the
  * blocks of finished incremental-dedup batches and label-propagation
  * rounds accumulated across a 165-query suite).
  *
  * Lifecycle: [[eager]] tracks a frame's checkpoint RDDs; [[release]]
  * frees them immediately (the frame becomes UNUSABLE — checkpointed RDDs
  * cannot recompute); [[pin]] marks frames whose blocks are owned by a
  * cache entry (freed on that entry's eviction, not by sweep);
  * [[sweep]] frees every tracked, unpinned checkpoint — harness-only,
  * called BETWEEN queries (Bench/Verify), never mid-query, because it
  * frees every running stream's blocks too.
  *
  * Owner scopes: a checkpoint taken while the current thread runs inside
  * a [[Scope]] (a streaming sink's micro-batch, on the query's own
  * stream thread) is owned by that scope, and the scope frees its own
  * blocks one batch later — never another sink's, so two streaming
  * queries in one session cannot free each other's in-flight frames.
  * Checkpoints taken outside any scope (batch gates) wait for
  * [[sweep]]. */
object Checkpoints {

  private val live =
    new java.util.concurrent.ConcurrentHashMap[
      Int, java.lang.ref.WeakReference[RDD[_]]]()
  private val pinnedIds =
    java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()

  /** Reliable-mode switch (round 15, was a code edit): every iterative
    * operator (PageRank, label propagation, incremental ledgers) routes
    * its per-round lineage truncation through here, and localCheckpoint
    * is the right single-app trade (memory+disk blocks, no HDFS round
    * trip) — but its blocks die with their executor, so a preemptible
    * 1000-executor run needs `checkpoint()` against reliable storage.
    * `spark.graft.checkpoint.reliable=true` flips EVERY [[eager]]/
    * [[lazily]] call site to `checkpoint()`;
    * `spark.graft.checkpoint.dir` names the storage (a durable
    * DFS path in production; defaults to a local tmp dir so the mode is
    * testable here). Results are identical under either mode — spec
    * `ReliableCheckpointSpec` pins that on an iterative operator. */
  private def reliableMode(df: DataFrame): Boolean =
    df.sparkSession.conf
      .get("spark.graft.checkpoint.reliable", "false")
      .equalsIgnoreCase("true")

  private def ensureCheckpointDir(df: DataFrame): Unit = {
    val sc = df.sparkSession.sparkContext
    if (sc.getCheckpointDir.isEmpty)
      sc.setCheckpointDir(df.sparkSession.conf.get(
        "spark.graft.checkpoint.dir", "/tmp/graft-checkpoints"))
  }

  private val current = new ThreadLocal[Scope]

  private def track(out: DataFrame): DataFrame = {
    val scope = current.get
    rddsOf(out).foreach { r =>
      live.put(r.id, new java.lang.ref.WeakReference[RDD[_]](r))
      if (scope != null) scope.own(r.id)
    }
    out
  }

  /** The checkpoints one owner (a micro-batch sink instance) takes, freed
    * with a ONE-BATCH delay: [[batch]] runs its body with this scope as
    * the thread's current one, then frees the scope's unpinned
    * checkpoints tracked before that batch began. So the frame a batch
    * hands its handler stays valid until the end of the NEXT batch; a
    * handler that keeps a checkpointed frame longer must [[pin]] it.
    * A frame pinned meanwhile (cache-owned) leaves the scope unfreed. */
  private[graft] final class Scope {
    private val ids = scala.collection.mutable.Set.empty[Int]
    private[Checkpoints] def own(id: Int): Unit = synchronized { ids += id }

    def batch[A](body: => A): A = {
      val prior = synchronized { val p = ids.toList; ids.clear(); p }
      val outer = current.get
      current.set(this)
      val out = try body finally current.set(outer)
      prior.foreach(free)
      out
    }
  }

  /** Eagerly checkpoint `df` (lineage truncation) and track the
    * materialized blocks. localCheckpoint by default; reliable
    * `checkpoint()` when `spark.graft.checkpoint.reliable=true` — see
    * [[reliableMode]]. For reliable checkpoints the tracked "release" is
    * a no-op on the data (it lives in files, not executor blocks);
    * `spark.cleaner.referenceTracking.cleanCheckpoints` governs file
    * cleanup, exactly Spark's contract. */
  def eager(df: DataFrame): DataFrame =
    if (reliableMode(df)) {
      ensureCheckpointDir(df)
      track(df.checkpoint(true))
    } else track(df.localCheckpoint(true))

  /** Lazily checkpoint `df` and track it: the checkpoint materializes as
    * a side effect of the FIRST action that computes the frame — lets an
    * iterative round fold its materialization and its convergence check
    * into ONE job ([[Dedup.clusters]]). The materializing action MUST
    * compute every partition (count(), not isEmpty/limit) or the
    * truncated lineage leaves holes. Honors the same reliable-mode
    * switch as [[eager]]. */
  def lazily(df: DataFrame): DataFrame =
    if (reliableMode(df)) {
      ensureCheckpointDir(df)
      track(df.checkpoint(false))
    } else track(df.localCheckpoint(false))

  /** The checkpoint RDDs a frame reads (LogicalRDD leaves of its plan). */
  private[graft] def rddsOf(df: DataFrame): Seq[RDD[_]] =
    try df.queryExecution.logical.collect {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd
    } catch { case _: Throwable => Nil }

  /** Mark a frame's checkpoint blocks as cache-owned: sweep skips them. */
  def pin(df: DataFrame): Unit = rddsOf(df).foreach(r => pinnedIds.add(r.id))

  /** Free a frame's checkpoint blocks NOW (frame becomes unusable). */
  def release(df: DataFrame): Unit = rddsOf(df).foreach(releaseRdd)

  /** Full release of a cached frame: CacheManager unpersist (persisted
    * entries) + checkpoint-block release (checkpoint-backed entries).
    * The standard eviction callback for DataFrame cache entries. */
  def releaseFrame(df: DataFrame): Unit = {
    try df.unpersist(false) catch { case _: Throwable => () }
    release(df)
  }

  private def releaseRdd(r: RDD[_]): Unit = {
    try r.unpersist(false) catch { case _: Throwable => () }
    live.remove(r.id)
    pinnedIds.remove(r.id)
  }

  /** Free every tracked, unpinned checkpoint — every stream's and every
    * batch query's — plus the releases of cache entries evicted since
    * the last sweep. Harness-only: call between queries. */
  def sweep(): Unit = {
    GraftCache.drainEvicted()
    live.keySet.forEach(id => free(id))
  }

  /** Free one tracked checkpoint unless it is pinned (cache-owned). */
  private def free(id: Int): Unit =
    if (!pinnedIds.contains(id)) {
      val ref = live.remove(id)
      val r = if (ref == null) null else ref.get()
      if (r != null) { try r.unpersist(false) catch { case _: Throwable => () } }
    }

  /** Ids of the currently tracked checkpoints (all owners). */
  def liveIds: Set[Int] = {
    import scala.jdk.CollectionConverters._
    live.keySet.asScala.toSet
  }

  private[graft] def liveCount: Int = live.size()
  private[graft] def pinnedCount: Int = pinnedIds.size()
}
