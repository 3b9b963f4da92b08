package graft.ops

import org.apache.spark.sql.SparkSession

/** The one place an operator writes the caller's session conf.
  *
  * Operators take their decisions as arguments (e.g. the dedup pair
  * families' `collapse`); only settings that Spark reads from the
  * session alone go through [[scoped]]: the data-derived
  * `spark.sql.shuffle.partitions` of a memoised pair-table build
  * ([[Partitioning.materialized]]) and the four settings of a bounded
  * streaming run (`graft.streaming.Streams.runBounded`).
  *
  * Why a session scope and not something narrower (each checked
  * against the Spark 4.1.2 jars):
  *   - Persist plans eagerly. `InMemoryRelation.apply` calls
  *     `QueryExecution.executedPlan`, so a persisted frame's exchanges
  *     are planned at `persist()`, under whatever count the session
  *     holds then. The pair builds persist inner frames that contain
  *     exchanges (e.g. `jaccardPairsOf`'s prefixes) and run eager
  *     probes, so all of it must happen inside the scope. An explicit
  *     `repartition(n, key)` would size only the first exchange of
  *     each input.
  *   - Session clones leak. Every session that starts a stream builds
  *     a `StreamingQueryManager`, whose `StreamingQueryListenerBus`
  *     registers with `LiveListenerBus.addToQueue` and is never
  *     removed. A clone also has a fresh `sessionUUID`, and
  *     [[graft.ext.Memo]] keys on session identity, so memo reads
  *     inside a clone would miss.
  *   - `spark.sql.legacy.parquet.nanosAsLong` must stay set. File-
  *     stream micro-batches and lazy frames read the events table under
  *     the caller's session at execution time, after any scope around
  *     `Tables.loadEvents` / `Streams.readEventsStream` has closed, so
  *     that setting is set and never restored.
  *
  * Scopes are serialised per session by a reentrant lock, so nesting
  * is fine: the conf is session-global, and two interleaved scopes on
  * one session would each "restore" the other's value and leak it for
  * the session's lifetime. Different sessions write disjoint confs, so
  * a JVM-wide lock would only serialise their builds for nothing. Work
  * that another thread of the same session plans while a scope is open
  * still sees the scoped values. */
private[graft] object SessionConf {

  /** Run `body` with every `key -> value` of `settings` set on the
    * session conf, restoring each key's previous value (or unsetting
    * it) afterwards, also when `body` throws. */
  def scoped[T](spark: SparkSession, settings: (String, String)*)
               (body: => T): T =
    lockOf(spark).synchronized {
      val conf = spark.conf
      val prev = settings.map { case (k, _) => k -> conf.getOption(k) }
      settings.foreach { case (k, v) => conf.set(k, v) }
      try body
      finally prev.foreach { case (k, p) =>
        p.fold(conf.unset(k))(conf.set(k, _))
      }
    }

  // one lock object per session, weakly held so stopped sessions are
  // collectable; computeIfAbsent gives atomic create-or-get
  private val locks =
    java.util.Collections.synchronizedMap(
      new java.util.WeakHashMap[SparkSession, Object]())
  private def lockOf(spark: SparkSession): Object =
    locks.computeIfAbsent(spark, _ => new Object)
}
