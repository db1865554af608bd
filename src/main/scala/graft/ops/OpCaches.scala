package graft.ops

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

/** Release handle for the intermediate frames operators persist
  * internally (the twin hubs of [[Collapse.hub]], d4/d15's postings).
  *
  * Why it exists: `Dataset.persist` registers the plan with the
  * session's CacheManager, which holds it STRONGLY — cached entries
  * are NOT reclaimed by GC/ContextCleaner (that applies only to
  * localCheckpoint blocks, whose RDDs are freed once unreferenced).
  * The operators keep their `(SparkSession, dir) => DataFrame`
  * signature, so they cannot unpersist before returning a lazy frame
  * that still reads the cache; without a handle, a long-lived shared
  * session accumulates one entry per operator × distinct input dir
  * until a global `clearCache()` — which would also destroy caches
  * the HOST application owns. This registry scopes the cleanup to
  * exactly the frames this library persisted.
  *
  * The mains (Verify / Bench / Timed) call `release` through
  * [[graft.Harness.reset]] between queries and before every timed run,
  * then clear Spark's whole cache — they own their sessions outright.
  * An embedder calls `release(spark)` alone, at any quiesce point;
  * in-flight jobs that already resolved a cached plan recompute from
  * lineage (unpersist is recompute-safe for CacheManager entries,
  * unlike checkpoint-block deletion).
  *
  * Unpersisting the same logical plan twice is a CacheManager no-op,
  * so duplicate registrations (two invocations over the same dir
  * cache-match the same plan) are harmless.
  */
object OpCaches {

  private val bySession =
    new ConcurrentHashMap[SparkSession, ConcurrentLinkedQueue[DataFrame]]()

  /** Persist `df` (MEMORY_AND_DISK — corpus scale spills instead of
    * evicting) and record it for [[release]]. Returns `df`.
    *
    * Registration races with a concurrent [[release]]: release removes
    * the session's queue and drains it, so a frame added to a queue
    * that was removed in between would stay persisted but untracked
    * (leaked until a global clearCache). Re-checking membership after
    * the add closes the window — if the queue is no longer the mapped
    * one, the release already happened and the contract ("release
    * unpersists everything registered so far") says this frame should
    * go with it, so unpersist it directly. A release that starts after
    * the re-check sees the queue and drains it normally.
    */
  private[graft] def persisted(df: DataFrame): DataFrame = {
    df.persist(StorageLevel.MEMORY_AND_DISK)
    val q = bySession
      .computeIfAbsent(df.sparkSession, _ => new ConcurrentLinkedQueue[DataFrame]())
    q.add(df)
    if (bySession.get(df.sparkSession) ne q) df.unpersist(false)
    purgeStopped()
    df
  }

  /** Unpersist every frame this library persisted on `spark` (blocking
    * = false: blocks drop asynchronously; re-evaluation recomputes from
    * lineage). Safe to call at any time and more than once. Also purges
    * queues of stopped sessions, so a long-lived embedder that stops
    * sessions and only ever calls release (never persisted) does not
    * pin dead SparkSessions through this registry.
    */
  def release(spark: SparkSession): Unit = {
    val q = bySession.remove(spark)
    if (q != null && !spark.sparkContext.isStopped) q.forEach(_.unpersist(false))
    purgeStopped()
  }

  /** Registered-entry count for `spark` — lets specs pin that release
    * actually empties the registry.
    */
  private[graft] def registered(spark: SparkSession): Int = {
    val q = bySession.get(spark)
    if (q == null) 0 else q.size()
  }

  // A stopped context already dropped its block manager (and unpersist
  // on a dead session throws) — removing the reference is all the
  // reclamation there is to do (Curation.purgeStopped's rule).
  private def purgeStopped(): Unit =
    bySession.keySet.forEach { k =>
      if (k.sparkContext.isStopped) bySession.remove(k)
    }
}
