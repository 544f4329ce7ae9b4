package graft.queries

import org.apache.spark.sql.{Dataset, SparkSession}

/** Registry for Datasets persisted inside query builders.
  *
  * Several queries persist an intermediate that is self-joined or consumed
  * by multiple branches (MinHash band table, LSH-bucketed embeddings, …).
  * The query function cannot unpersist it itself — the returned DataFrame
  * is consumed lazily by the caller — so builders register the cache here
  * and the harness (Bench / Verify / specs) calls [[releaseAll]] after each
  * query is fully consumed. In a long-lived session this is what keeps
  * per-query caches from accumulating across hundreds of queries.
  */
object QueryCaches {
  private val live = scala.collection.mutable.ArrayBuffer.empty[Dataset[_]]
  private val liveBroadcasts =
    scala.collection.mutable.ArrayBuffer.empty[org.apache.spark.broadcast.Broadcast[_]]
  private val deferred = scala.collection.mutable.ArrayBuffer.empty[(String, () => Unit)]

  /** Persist `ds` (default storage level) and track it for later release. */
  def cache[T](ds: Dataset[T]): Dataset[T] = synchronized {
    val p = ds.persist()
    live += p
    p
  }

  /** Track a driver-built broadcast (bloom sketches, …) for release. */
  def broadcast[T](b: org.apache.spark.broadcast.Broadcast[T]): org.apache.spark.broadcast.Broadcast[T] =
    synchronized { liveBroadcasts += b; b }

  /** Register a cleanup action to run at [[releaseAll]] — the hook a query
    * builder uses to scope a session-conf change to the query's lifetime.
    * The builder cannot restore the conf itself: the returned DataFrame is
    * planned lazily by the caller, and Catalyst reads SQLConf at planning
    * time, so an eager try/finally would undo the setting before the plan
    * exists. Deferring the restore to the harness's per-query release keeps
    * the conf live exactly while the query is, then puts it back. `what`
    * names the hook in the stderr line [[releaseAll]] prints if it fails.
    */
  def defer(f: () => Unit, what: String = "deferred cleanup"): Unit =
    synchronized { deferred += (what -> f) }

  /** Set a session conf for the current query's lifetime: the previous
    * value (or absence) is restored at [[releaseAll]]. The save/set/
    * defer dance lives here so every scoped-conf query shares one
    * implementation of the restore-or-unset contract.
    */
  def scopedConf(s: SparkSession, key: String, value: String): Unit = {
    val prev = s.conf.getOption(key)
    s.conf.set(key, value)
    defer(() => prev match {
      case Some(p) => s.conf.set(key, p)
      case None    => s.conf.unset(key)
    }, s"restore of conf $key")
  }

  /** Unpersist every tracked Dataset and broadcast, then run the
    * deferred hooks. Safe to call when nothing is tracked; non-blocking
    * so the caller's next query isn't stalled on block eviction. A step
    * that fails prints one stderr line naming it, and the remaining
    * steps still run.
    */
  def releaseAll(spark: SparkSession): Unit = synchronized {
    live.foreach(ds => graft.Harness.attempt("[caches] unpersist of a cached dataset")(
      ds.unpersist(blocking = false)))
    live.clear()
    liveBroadcasts.foreach(b => graft.Harness.attempt(s"[caches] unpersist of broadcast ${b.id}")(
      b.unpersist(blocking = false)))
    liveBroadcasts.clear()
    // LIFO: nested/repeated defers for the same conf key must unwind in
    // reverse registration order, or the earliest (pre-change) value is
    // overwritten by a later hook that captured the already-changed value
    deferred.reverseIterator.foreach { case (what, f) =>
      graft.Harness.attempt(s"[caches] $what")(f())
    }
    deferred.clear()
  }
}
