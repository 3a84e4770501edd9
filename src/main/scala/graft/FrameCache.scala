package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Process-local memoization of shared, checkpointed frames.
  *
  * Why: the graph-audit family (q65/q150/q155/q238/q241/q242/q270/
  * q275/q284 …) derives the SAME static edge list from the same base
  * tables, and Verify/Bench run every query in one JVM — without
  * memoization each query re-scans orders⋈lineitem and re-checkpoints
  * an identical frame (~30s of the r6 bench was exactly this
  * duplication). On a real cluster the equivalent is a shared
  * materialized view / cached intermediate: derive once, reuse
  * everywhere. Keyed by (session, cache-key) so concurrently-running
  * test sessions never share frames; WeakHashMap on the session lets
  * a stopped session's checkpoint RDDs be collected.
  *
  * Only frames whose build ENDS in `.ckpt()` belong here. The
  * checkpoint is lazy (materialized inside the first action that
  * reads it), but the cached DataFrame is then one LogicalRDD over one
  * RDD, so every query that reads it reads the same materialization.
  * A cached plan without that final `.ckpt()` would share only
  * lineage: each consumer would recompute it.
  *
  * Plan-audit interplay: inside `Ckpt.withAudit` the cache is
  * BYPASSED (build fresh, don't store), so the sweep records every
  * query's full lineage — a cache hit would hide the edge build from
  * all but the first graph query swept.
  */
private[graft] object FrameCache {
  private val cache =
    new java.util.WeakHashMap[SparkSession, collection.concurrent.TrieMap[String, DataFrame]]

  def getOrBuild(s: SparkSession, key: String)(build: => DataFrame): DataFrame =
    if (Ckpt.auditing) build
    else {
      val m = cache.synchronized {
        cache.computeIfAbsent(
          s, _ => collection.concurrent.TrieMap.empty[String, DataFrame])
      }
      m.getOrElseUpdate(key, build)
    }
}
