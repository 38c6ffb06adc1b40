package graft

import org.apache.spark.rdd.RDD
import org.apache.spark.scheduler.{SparkListener, SparkListenerApplicationEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

/** Session-scoped memo for expensive derived inputs shared by several
  * queries (cleaned edge set, minhash signatures, ...). One eager
  * materialization per (session, key).
  *
  * The memo is LRU-BOUNDED per session (`spark.graft.sessionCache.maxEntries`,
  * default 32): inserting past the cap evicts the least-recently-used
  * entry, unpersisting its blocks. The standard suite holds ~14 entries
  * per sf dir, so the default cap never evicts on the bench path —
  * the bound exists so a long-lived session cycling MANY inputs
  * (multiple sf dirs, ad-hoc graphs) degrades to rebuild-on-miss
  * instead of accumulating executor-memory pressure without limit.
  * Eviction is safe mid-session: a later `cached` call simply rebuilds
  * a fresh frame (the evicted DataFrame object is never re-served),
  * and the cap comfortably exceeds the handful of memos any single
  * query touches, so LRU order protects the current query's entries.
  *
  * Entries are evicted when the session's SparkContext ends (listener
  * registered on first insert), and [[clear]] can be called explicitly
  * (tests, multi-session drivers) — so a long-lived driver that cycles
  * sessions does not accumulate dead entries.
  *
  * An entry is a persisted DataFrame ([[cached]]) or RDD ([[cachedRdd]]);
  * both count against the same cap and are unpersisted on eviction.
  */
object SessionCache {
  /** A memoized value and the release of its blocks. */
  private final case class Entry(value: AnyRef, release: () => Unit)

  private val memo =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), Entry]
  private val hooked =
    scala.collection.concurrent.TrieMap.empty[SparkSession, Boolean]
  /** Access order per entry: larger = more recent. */
  private val stamps =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), Long]
  private val tick = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Monotone count of [[cached]] calls (hits AND builds) — lets the
    * bench detect which queries depend on session memos at all (for
    * those, cold ≠ warm structurally; for the rest the cold regime is
    * the warm regime by construction). */
  private[graft] val touches = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Monotone count of memo BUILDS only (the miss branch) — lets the
    * bench distinguish "this run PAID a one-time build" (its timing is
    * build-polluted) from "this run merely read an already-built memo"
    * (its timing is a clean warm sample). [[touches]] can't make that
    * call: it increments on hits too. */
  private[graft] val builds = new java.util.concurrent.atomic.AtomicLong(0L)

  private def maxEntries(spark: SparkSession): Int =
    try spark.conf.get("spark.graft.sessionCache.maxEntries", "32").toInt
    catch { case _: Throwable => 32 }

  private def drop(k: (SparkSession, String)): Unit = {
    stamps.remove(k)
    memo.remove(k).foreach { e =>
      try e.release() catch { case _: Throwable => () }
    }
  }

  def cached(spark: SparkSession, key: String)(build: => DataFrame): DataFrame =
    memoize(spark, key) {
      val df = build.persist(StorageLevel.MEMORY_AND_DISK)
      df.count()
      Entry(df, () => { df.unpersist(blocking = false); Checkpoints.free(df) })
    }.asInstanceOf[DataFrame]

  /** [[cached]] for an RDD: persisted and materialized once per (session, key). */
  def cachedRdd[T](spark: SparkSession, key: String)(build: => RDD[T]): RDD[T] =
    memoize(spark, key) {
      val rdd = build.persist(StorageLevel.MEMORY_AND_DISK)
      rdd.count()
      Entry(rdd, () => { rdd.unpersist(blocking = false); () })
    }.asInstanceOf[RDD[T]]

  private def memoize(spark: SparkSession, key: String)(build: => Entry): AnyRef =
    synchronized {
      touches.incrementAndGet()
      val k = (spark, key)
      memo.get(k) match {
        case Some(e) =>
          stamps(k) = tick.incrementAndGet()
          e.value
        case None =>
          builds.incrementAndGet()
          hooked.getOrElseUpdate(spark, {
            spark.sparkContext.addSparkListener(new SparkListener {
              override def onApplicationEnd(e: SparkListenerApplicationEnd): Unit =
                clear(spark)
            })
            true
          })
          val e = build
          memo(k) = e
          stamps(k) = tick.incrementAndGet()
          val cap = maxEntries(spark)
          var mine = memo.keys.filter(_._1 eq spark)
          while (mine.size > cap) { // evict LRU until back under the cap
            drop(mine.minBy(stamps.getOrElse(_, 0L)))
            mine = memo.keys.filter(_._1 eq spark)
          }
          e.value
      }
    }

  /** Number of live entries owned by `spark` (introspection for specs). */
  private[graft] def size(spark: SparkSession): Int =
    memo.keys.count(_._1 eq spark)

  private[graft] def contains(spark: SparkSession, key: String): Boolean =
    memo.contains((spark, key))

  /** Unpersist and drop every entry owned by `spark`, plus any deferred
    * per-query cleanups still pending for it. */
  def clear(spark: SparkSession): Unit = {
    memo.keys.filter(_._1 eq spark).foreach(drop)
    hooked.remove(spark)
    try Checkpoints.drain(spark) catch { case _: Throwable => () }
  }
}
