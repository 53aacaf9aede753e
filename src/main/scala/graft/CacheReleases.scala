package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Registry for frames a query builder persists but cannot unpersist
  * itself because the RETURNED lazy plan still reads them (guide §5:
  * unpersist when done — but "done" is after the caller's terminal
  * action, outside the builder). The harnesses drop every persisted
  * RDD between queries and drain this queue ([[clearSession]]);
  * this queue gives LIBRARY callers the same release point, so a
  * long-lived session embedding these builders does not leak one
  * cached corpus per call (round-14, VERDICT r13 item 8).
  *
  * Same contract as VectorQueries.releaseAdcBarriers (which predates
  * this and stays where it is): release only after the terminal
  * action on the returned frame. */
object CacheReleases {
  private val queue =
    new java.util.concurrent.ConcurrentLinkedQueue[DataFrame]()

  /** Register a persisted frame for later release; returns it. */
  def register(df: DataFrame): DataFrame = { queue.add(df); df }

  /** Unpersist every registered frame (blocking=false). Safe to call
    * any time after the terminal action on the frames' consumers.
    * Scoped to the whole session (the queue is process-wide), not to
    * one caller: it also releases frames registered by any other
    * builder whose returned plan has not run yet — that plan then
    * recomputes them (slower, never wrong). */
  def releaseAll(): Unit = {
    var df = queue.poll()
    while (df != null) { df.unpersist(false); df = queue.poll() }
  }

  /** Frames registered and not yet released. */
  private[graft] def pending: Int = queue.size()

  /** The harnesses' between-queries reset: drop every cached table and
    * persisted RDD of the session and drain this queue, so one query's
    * cache neither GC-pressures the next nor stays referenced here. */
  def clearSession(spark: SparkSession): Unit = {
    releaseAll()
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
  }
}
