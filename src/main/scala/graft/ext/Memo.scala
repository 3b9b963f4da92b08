package graft.ext

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

import scala.collection.concurrent.TrieMap

/** The one session-scoped registry for operator state: per-corpus
  * artifacts (pair sets, labels, centroids, codebooks, DSIR weights, LM
  * scores) and every block an operator persists while building them.
  *
  * Two halves, one lifecycle:
  *  - [[table]] declares a typed memo keyed by (session, K). A DataFrame
  *    is bound to its session, so each session builds its own entry;
  *    every access drops the entries of stopped sessions (their blocks
  *    died with them), so a JVM that creates and stops many sessions
  *    does not retain a frame + session per stopped session.
  *  - [[persist]] persists MEMORY_AND_DISK and registers the block —
  *    memoized tables, the inner frames of their builds (unpersisting a
  *    cached frame does NOT release persists nested inside its plan),
  *    and each generation of an RDD fixpoint loop, registered before any
  *    job runs on it so a failed or unconverged loop strands nothing.
  *
  * [[clearAll]] drains both halves together: a cold start means "no
  * operator state anywhere", and clearing a table whose entries ride
  * unpersisted blocks (or the reverse) would leave a memo serving a
  * frame that silently recomputes its corpus-sized build on every
  * action.
  *
  * Builds run outside any lock (TrieMap.getOrElseUpdate), because memo
  * builds nest — survivingDocs → clusterLabelsCached → jaccardPairsCached
  * — and a recursive ConcurrentHashMap.computeIfAbsent throws. Two
  * threads racing on one cold key may both build; one result wins.
  *
  * Three kinds of cross-call state stay out, each with its own lifetime:
  *  - `Partitioning.bytesMemo` is keyed by path and holds no session;
  *    the testdata it measures is immutable, so no cold start needs to
  *    forget it.
  *  - `Streams.eventsFamilyCache` rides a bounded run's memory sink, so
  *    its lifetime is tied to `Streams.dropBoundedSinks`, which drops
  *    both together.
  *  - Fixture writes (`graft.Tables.writeOnce`, `Bucketing.ensureWritten`)
  *    must survive [[clearAll]]: each cold pass times the reads a
  *    fixture serves, not its one-time write. */
private[graft] object Memo {

  final class Table[K, V] private[Memo] (val name: String) {
    private val entries = TrieMap[(SparkSession, K), V]()

    private def sweep(): Unit = entries.keys.foreach { k =>
      if (k._1.sparkContext.isStopped) entries.remove(k)
    }

    def getOrElseUpdate(spark: SparkSession, key: K)(build: => V): V = {
      sweep()
      entries.getOrElseUpdate((spark, key), build)
    }

    def get(spark: SparkSession, key: K): Option[V] = {
      sweep()
      entries.get((spark, key))
    }

    def put(spark: SparkSession, key: K, value: V): Unit = {
      sweep()
      entries.put((spark, key), value)
    }

    /** The keys `spark` holds, for derived lookups and inspection. */
    def keys(spark: SparkSession): Seq[K] = {
      sweep()
      entries.keys.collect { case (s, k) if s eq spark => k }.toSeq
    }

    private[Memo] def clear(): Unit = entries.clear()

    override def toString: String = s"Memo.table($name)"
  }

  private val tables =
    new java.util.concurrent.CopyOnWriteArrayList[Table[_, _]]()
  private val blocks =
    new java.util.concurrent.ConcurrentLinkedQueue[() => Unit]()

  def table[K, V](name: String): Table[K, V] = {
    val t = new Table[K, V](name)
    tables.add(t)
    t
  }

  /** Persist MEMORY_AND_DISK and register for [[clearAll]]. Postfix:
    * `df.transform(Memo.persist)`. */
  def persist(df: DataFrame): DataFrame = {
    df.persist(StorageLevel.MEMORY_AND_DISK)
    blocks.add(() => df.unpersist(blocking = false))
    df
  }

  def persist[T](rdd: RDD[T]): RDD[T] = {
    rdd.persist(StorageLevel.MEMORY_AND_DISK)
    blocks.add(() => rdd.unpersist(blocking = false))
    rdd
  }

  /** Unpersist every registered block without blocking (a stopped
    * session's unpersist throws — swallowed; its blocks are already
    * gone), then clear every table. Unpersisting twice is a no-op, so
    * a loop generation the loop itself already released is harmless. */
  def clearAll(): Unit = {
    var release = blocks.poll()
    while (release != null) {
      try release() catch { case _: Throwable => () }
      release = blocks.poll()
    }
    tables.forEach(_.clear())
  }
}
