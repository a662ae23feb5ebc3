package graft

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.SparkSession

/** A driver-side memo keyed by `(SparkSession, K)`: the one cache rule every
  * session-scoped memo in the engine follows.
  *
  * Users: the shared linkage pipeline frames of [[Queries]] (prepared and
  * scored pages, and the bucketed layout of `q_bucketed_join`), the
  * measured-bytes and hot-key probes of
  * [[graft.operators.Blocking.saltedSelfJoin]] (keyed by the relation's
  * canonicalized plan, the identity Spark's CacheManager matches cached
  * relations by), the gazetteer-index broadcasts of
  * [[graft.operators.StaticParser.broadcastIndex]], and the intermediates
  * the dedup operators persist ([[graft.operators.Dedup.releaseCaches]]).
  *
  * The rules:
  *  - '''Stopped sessions are evicted on every call.''' A stopped session's
  *    context has already dropped its cache blocks and broadcasts, so its
  *    entries pin nothing but the session object itself. A long-lived JVM
  *    that cycles sessions (a benchmark repetition, a test suite) would keep
  *    every one of them reachable. Eviction does not run `release`: there is
  *    no live context left to release into.
  *  - '''The memo is bounded.''' Before an insert, a memo holding
  *    [[SessionMemo.Bound]] entries releases and clears all of them, so it
  *    never holds more than the bound. A long-running stream routes every
  *    batch through the memoized operators with a NEW canonicalized plan
  *    (its frames embed the live delta paths), so without a bound a memo
  *    would grow one plan tree per batch for the life of the stream. A clear
  *    costs a re-probe, a re-broadcast or a recompute of what was released;
  *    unbounded driver heap costs the stream. Memoized values are pure
  *    functions of their key, so a clear never changes a result.
  *  - '''[[drop]] releases one session's entries''': a caller that knows its
  *    outputs are materialized (Bench and Verify between queries, a stream
  *    after each batch) frees what the operators pinned, since the operators
  *    return lazy frames and cannot know when their caller is done.
  *  - '''Keys are strong, not weak.''' A persisted DataFrame or a broadcast
  *    strongly references its own session, so a weak-keyed entry would keep
  *    its key reachable and never be collected; stopped-session eviction and
  *    the bound do the job instead.
  *
  * `release` runs once for each value that [[drop]], [[remove]] or the
  * bound takes out (e.g. `unpersist` for persisted frames). When two threads
  * miss the same key at once, both compute and the first insert wins. */
final class SessionMemo[K, V](release: V => Unit = (_: V) => ()) {
  private val entries = TrieMap[(SparkSession, K), V]()

  private def evictStopped(): Unit =
    entries.keys.filter(_._1.sparkContext.isStopped).foreach(entries.remove)

  private def releaseAll(keys: Iterable[(SparkSession, K)]): Unit =
    keys.foreach(k => entries.remove(k).foreach(release))

  def getOrElseUpdate(spark: SparkSession, key: K)(compute: => V): V = {
    evictStopped()
    entries.getOrElse((spark, key), {
      if (entries.size >= SessionMemo.Bound) releaseAll(entries.keys)
      entries.getOrElseUpdate((spark, key), compute)
    })
  }

  def remove(spark: SparkSession, key: K): Unit = {
    evictStopped()
    releaseAll(Seq((spark, key)))
  }

  /** Release every entry of `spark`. */
  def drop(spark: SparkSession): Unit = {
    evictStopped()
    releaseAll(entries.keys.filter(_._1 eq spark))
  }

  def size: Int = { evictStopped(); entries.size }

  /** Whether any entry of `spark` is memoized. */
  def holds(spark: SparkSession): Boolean = { evictStopped(); entries.keys.exists(_._1 eq spark) }
}

object SessionMemo {
  /** The entry bound of every memo (and of the session-free gazetteer index
    * memo of [[graft.operators.StaticParser]]). */
  val Bound = 512
}
