package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

/** Session-lifetime registry for library-internal persists and memos.
  *
  * Queries in one family share intermediates: persisted relations (the
  * dedup family's shingle postings, the family-window table scans) and
  * collected planner-sized values (IVF centroids, PQ codebooks, BPE
  * merge tables). [[persist]] registers a DataFrame for later unpersist;
  * [[shared]] memoizes a built value per (session, dir, name) so every
  * consumer in the window gets the same instance. Neither may live
  * forever: a long-running session that touches many sfDirs would
  * accumulate one entry per distinct plan. [[SparkEntry.walk]] (which
  * Verify, Bench and the test suite's catalog sweep walk the catalog
  * with) and user sessions via [[GraftSession]] call [[releaseAll]] when
  * a batch of work is done. Unpersisting an already-released DataFrame is a
  * no-op, so double-release is safe.
  */
object CachePool {
  private val refs = new ConcurrentLinkedQueue[DataFrame]()
  private val memo = TrieMap.empty[(SparkSession, String, String), Any]

  /** Persist (MEMORY_AND_DISK) and register for later release.
    *
    * Skips plans the CacheManager already holds: two queries in one
    * session often build the same intermediate (e.g. the dedup family's
    * shingle postings) as distinct DataFrame objects with identical
    * analyzed plans. Re-persisting the second object is a no-op for
    * Spark but logs "WARN CacheManager: Asked to cache already cached
    * data" — noise that competes with the bench's one-line JSON contract
    * for the driver's bounded output tail.
    */
  def persist(df: DataFrame): DataFrame = {
    // The Dataset overload of lookupCachedData wants the classic
    // subclass; the (session, plan) overload takes the public API types.
    val session =
      df.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val cached = session.sharedState.cacheManager
      .lookupCachedData(session, df.queryExecution.analyzed).isDefined
    if (!cached) {
      df.persist(StorageLevel.MEMORY_AND_DISK)
      refs.add(df)
    }
    df
  }

  /** The one memo for values derived from a corpus: `build` runs once
    * per (session, dir, name) until the next [[releaseAll]], and every
    * later call returns the same instance. `name` must identify the
    * recipe, including any parameter the value depends on (a beam set,
    * a table), and must not be reused for a different value type.
    *
    * The memoized values are pure functions of the data at `dir`, so
    * reuse is safe within a release window, which is the only place it
    * matters (SparkEntry.walk releases at family boundaries). Keying by
    * session means a second SparkSession never receives a DataFrame
    * bound to the first; keying by dir bounds the entries to the corpora
    * touched. Clearing on release drops every layer coherently: a memo
    * never outlives the persisted relations it was built from, so the
    * reuse pricer sees an honest cold run and regenerated data at the
    * same path never serves a stale value. Builders persist,
    * localCheckpoint or collect on their own; this only memoizes.
    *
    * Builders nest (one shared value built inside another's `build`),
    * which `TrieMap.getOrElseUpdate` allows because it runs `build`
    * outside any lock. Two racers may both build; one result wins and
    * the other is wasted work, never a wrong answer.
    */
  def shared[T](spark: SparkSession, dir: String, name: String)(build: => T): T =
    memo.getOrElseUpdate((spark, dir, name), build).asInstanceOf[T]

  /** Unpersist every registered DataFrame (non-blocking), then drop
    * every [[shared]] value.
    */
  def releaseAll(): Unit = {
    var df = refs.poll()
    while (df != null) {
      df.unpersist(blocking = false)
      df = refs.poll()
    }
    memo.clear()
  }
}
