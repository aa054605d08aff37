package graft.util

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Session-scoped registry for per-query scratch caches.
  *
  * Query functions cache intermediate frames that are reused WITHIN
  * one query's plan (shingle sets, signature bands, embedding bases).
  * Those caches must not outlive the query: in a long-lived session
  * serving many queries, leaked caches accumulate in executor storage
  * memory for the JVM lifetime and skew memory pressure at scale.
  *
  * Contract: query builders call [[cached]] instead of `.cache()`;
  * the consumer (bench, verify, an embedding application) calls
  * [[release]] after the terminal action. Frames registered here are
  * query-local by definition — anything meant to be shared across
  * queries should be cached explicitly by the application instead.
  * Frames are keyed by the frame's OWN session, and a `foreachBatch`
  * batch runs in a cloned session: `release(spark)` on the outer
  * session does not free what a micro-batch registered.
  */
object QueryScratch {

  private val reg =
    new java.util.concurrent.ConcurrentHashMap[SparkSession, java.util.Queue[DataFrame]]()

  /** Cache `df` and register it for release with the current query. */
  def cached(df: DataFrame): DataFrame = {
    df.cache()
    register(df)
  }

  /** Register an ALREADY-cached frame for release (e.g. the surviving
    * frame of an iterative loop that manages its own caching).
    */
  def register(df: DataFrame): DataFrame = {
    reg.computeIfAbsent(df.sparkSession,
      _ => new java.util.concurrent.ConcurrentLinkedQueue[DataFrame]()).add(df)
    df
  }

  /** Unpersist every frame registered on `s` since the last release.
    * BLOCKING: eviction completes before the call returns. Async
    * eviction looked free, but a query leaving tens of cached frames
    * (the BPE train loop) turned the block-manager removal RPCs into
    * a storm that randomly taxed the next several queries' job
    * scheduling (measured: multi-second swings moving between
    * mid-bench lake queries run to run). Release runs between
    * queries, outside any timer — paying it synchronously removes the
    * cross-query interference without inflating any measurement.
    */
  def release(s: SparkSession): Unit = {
    val q = reg.remove(s)
    if (q != null) q.forEach(df => { df.unpersist(blocking = true); () })
  }
}
