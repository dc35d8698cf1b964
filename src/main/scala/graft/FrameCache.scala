package graft

import org.apache.spark.sql.SparkSession

/** The session frame cache: every session-lifetime frame a query builder
  * reuses across queries (checkpointed joins, fitted models, candidate
  * pair sets) lives here, one slot per (session, label, dir). A slot holds
  * the value together with the fingerprint of the table it was built from
  * ([[Tables.fingerprint]]): an access whose fingerprint differs (data
  * regenerated in place) releases the old value and rebuilds, so a slot
  * never serves a stale frame and never strands superseded blocks.
  *
  * Budget. Round 12 showed that 300+ queries in one session, each pinning
  * persisted / localCheckpoint'ed frames that were never unpersisted,
  * saturate the storage pool, and every later data-sized build then runs
  * under eviction churn (basket_lift: 0.8 s steady → 73 s under
  * pressure). So the slots form one access-ordered LRU, and once the
  * session's cached bytes (memory + disk) exceed ~30% of the heap — the
  * unified-memory share storage can hold without execution evicting it —
  * least-recently-used slots are evicted and released. Recently touched
  * slots survive: a query's own frames (possibly lineage-truncated
  * localCheckpoints that cannot be recomputed once their blocks drop) must
  * outlive the query. [[pinScope]] makes that airtight for registry
  * builds; the 8-access recency window is the fallback for unscoped calls.
  */
object FrameCache {
  private final case class Key(spark: SparkSession, label: String, dir: String)
  private final class Slot(val fp: String, val value: Any, var stamp: Long)

  /** The one map. Access-ordered, so iteration runs least- to most-
    * recently used. Guarded by its own monitor, as are the fields below.
    */
  private val slots = new java.util.LinkedHashMap[Key, Slot](64, 0.75f, true)
  private var accessSeq = 0L
  /** Slots touched within this many accesses of now are never evicted by
    * per-access enforcement outside a [[pinScope]].
    */
  private val protectWindow = 8L
  /** Slots touched inside the current [[pinScope]]: never evicted while
    * that scope's query is being built. Eviction only runs on a cache
    * access, so they also stay safe through the query's execution: the
    * next access that could evict them happens inside the next query's
    * build, which resets the set.
    */
  private val pinned = new java.util.HashSet[Key]()
  private var pinDepth = 0
  @volatile private var budgetOverride: Option[Long] = None

  /** The value cached for (`spark`, `label`, `dir`), built by `build` on a
    * miss or when `dir/table`'s fingerprint changed since it was built.
    * `label` names the cached family; two families over the same table
    * must use distinct labels. The build runs outside the cache lock (it
    * may call [[get]] for the frames it reuses); its value is inserted and
    * registered in the LRU in one step.
    */
  def get[V](spark: SparkSession, dir: String, table: String, label: String)
      (build: => V): V = {
    val fp = Tables.fingerprint(spark, dir, table)
    val key = Key(spark, label, dir)
    val hit = slots.synchronized {
      val s = slots.get(key)
      if (s != null && s.fp != fp) { drop(key); None }
      else Option(s).map { s => touch(key, s); s.value }
    }
    enforceBudget(spark)
    hit.getOrElse {
      val v = build
      slots.synchronized {
        val cur = slots.get(key)
        if (cur != null && cur.fp == fp) {
          // A concurrent build of the same slot won; keep its value.
          release(v); touch(key, cur); cur.value
        } else {
          if (cur != null) drop(key)
          val it = slots.keySet().iterator()
          while (it.hasNext) {
            // Stopped context: its blocks died with it; just forget them.
            val k = it.next()
            if (k.spark.sparkContext.isStopped) { it.remove(); pinned.remove(k) }
          }
          val s = new Slot(fp, v, 0L)
          slots.put(key, s)
          touch(key, s)
          v
        }
      }
    }.asInstanceOf[V]
  }

  private def touch(key: Key, s: Slot): Unit = {
    accessSeq += 1
    s.stamp = accessSeq
    if (pinDepth > 0) pinned.add(key)
  }

  private def drop(key: Key): Unit = {
    pinned.remove(key)
    Option(slots.remove(key)).foreach(s => release(s.value))
  }

  /** Scope one query's build: every cache access inside `f` is pinned
    * against budget eviction until the next outermost pinScope begins.
    * Re-entrant (nested scopes extend the outer pin set).
    */
  def pinScope[T](f: => T): T = {
    slots.synchronized { if (pinDepth == 0) pinned.clear(); pinDepth += 1 }
    try f finally slots.synchronized { pinDepth -= 1 }
  }

  /** Cached-frame byte budget: 30% of the JVM heap. local[*] note: driver
    * == executor here, so heap is the right denominator; on a cluster this
    * would poll executor storage.
    */
  private val defaultBudget: Long = (Runtime.getRuntime.maxMemory * 0.30).toLong
  private def budgetBytes: Long = budgetOverride.getOrElse(defaultBudget)

  /** Run `f` under a byte budget of `bytes` instead of the default (specs
    * shrink it around one scenario to force eviction).
    */
  private[graft] def withBudget[T](bytes: Long)(f: => T): T = {
    budgetOverride = Some(bytes)
    try f finally budgetOverride = None
  }

  private def cachedBytes(spark: SparkSession): Long =
    spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum

  /** Budget enforcement at a query boundary. Per-access enforcement only
    * runs inside [[get]], so a query that touches no frame cache (most of
    * the analytics family) would otherwise start its hash aggregates with
    * a predecessor's over-budget frame still resident — at the 1000x
    * decade that starves the execution pool and aborts the stage
    * (UNABLE_TO_ACQUIRE_MEMORY). The SparkEntry wrapper calls this before
    * every registry build. At a boundary the recency window protects
    * exactly the previous query's leftovers, so it is ignored; pins the
    * previous scope left in `pinned` are stale once no scope is active.
    */
  def enforceBudgetNow(spark: SparkSession): Unit =
    enforceBudget(spark, ignoreWindow = true)

  /** Evict least-recently-used slots of THIS session until its cached
    * footprint fits the budget (best effort — pinned and window-protected
    * slots and other sessions' slots are skipped). The poll is one
    * driver-side block-manager summary, no data touched.
    */
  private def enforceBudget(spark: SparkSession,
      ignoreWindow: Boolean = false): Unit = slots.synchronized {
    var total = cachedBytes(spark)
    val budget = budgetBytes
    if (total <= budget) return
    val minKeep = accessSeq - protectWindow
    var warned = false
    val it = slots.entrySet().iterator()
    while (total > budget && it.hasNext) {
      val e = it.next()
      val k = e.getKey
      if (pinned.contains(k) && !(ignoreWindow && pinDepth == 0)) {
        // In-flight query's own frame — never evictable, whatever its age.
      } else if (!ignoreWindow && e.getValue.stamp >= minKeep && pinDepth == 0) {
        // Saved by the recency window alone outside any pin scope; log it
        // once per pass so an unscoped >8-deep build chain that would have
        // lost a frame is visible instead of silent.
        if (!warned && (k.spark eq spark)) {
          warned = true
          System.err.println(s"[graft-cache] window-protected ${k.label} " +
            s"${k.dir} under budget pressure (unscoped access)")
        }
      } else if ((ignoreWindow || e.getValue.stamp < minKeep) && (k.spark eq spark)) {
        it.remove()
        pinned.remove(k)
        release(e.getValue.value)
        val now = cachedBytes(spark)
        System.err.println(s"[graft-cache] evicted ${k.label} ${k.dir} " +
          s"(${(total - now) / 1048576} MiB); cached ${now / 1048576} MiB" +
          s" / budget ${budget / 1048576} MiB")
        total = now
      }
    }
  }

  /** The resident slots of `spark`, as "label dir@fingerprint", least-
    * recently used first. Specs assert on these (and on the footprint
    * delta) instead of an absolute storage threshold, so residue other
    * suites leave in the shared pool cannot flake a budget assertion.
    */
  private[graft] def residentKeys(spark: SparkSession): Seq[String] =
    slots.synchronized {
      val out = scala.collection.mutable.ArrayBuffer.empty[String]
      slots.forEach { (k, s) =>
        if (k.spark eq spark) out += s"${k.label} ${k.dir}@${s.fp}"
      }
      out.toSeq
    }

  /** Best-effort release of a cached value's persisted data (the values
    * are DataFrames or tuples of them). Two block owners exist:
    * CacheManager entries (persist/cache — Dataset.unpersist frees them)
    * and localCheckpoint RDDs (lineage-truncated; their blocks belong to
    * the LogicalRDD's backing RDD, which Dataset.unpersist never touches —
    * unwrap and unpersist it directly, else the blocks linger until GC).
    * Blocking: eviction runs under a byte budget, so the freed bytes must
    * be visible to the next storage poll or the evictor over-evicts.
    */
  private def release(v: Any): Unit = v match {
    case ds: org.apache.spark.sql.Dataset[_] =>
      try ds.unpersist(blocking = true) catch { case _: Throwable => () }
      // Root node only: a derived frame's lineage may embed another cached
      // frame's LogicalRDD — unpersisting that parent's checkpoint blocks
      // while its own slot still serves it would be fatal (lineage is
      // truncated; lost localCheckpoint blocks cannot be recomputed).
      try ds.queryExecution.analyzed match {
        case lr: org.apache.spark.sql.execution.LogicalRDD =>
          lr.rdd.unpersist(blocking = true)
        case _ => ()
      } catch { case _: Throwable => () }
    case p: Product => p.productIterator.foreach(release)
    case _ => ()
  }
}
