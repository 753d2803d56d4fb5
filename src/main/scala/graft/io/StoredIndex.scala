package graft.io

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.SparkSession

/** The one build-once lifecycle every stored derived index shares
  * (BM25 postings, band, containment, winnow, kNN, IVF, PQ, IVF-PQ,
  * int8, sign, kmeans, code, frame and CDC tables, plus the
  * batch-partitioned card, calibration, memorization, importance, CMS
  * and chunk partials).
  *
  * An index is built iff every table it consists of carries the
  * `_SUCCESS` marker Spark's committer drops after the last task
  * ([[IndexPaths.complete]]). The markers are checked on EVERY call —
  * a few filesystem `exists` calls — instead of trusting a flag that
  * lives as long as the JVM, so:
  *  - a committed index written by another JVM is reused as is;
  *  - a torn build (no `_SUCCESS`) reads as absent and rebuilds;
  *  - an index dir deleted under a running session rebuilds on the
  *    next call, with no invalidation hook;
  *  - a changed source is a new content-addressed path
  *    ([[IndexPaths.indexPath]]) and builds fresh.
  *
  * Builds run under a per-path lock, never inside a shared map's
  * `computeIfAbsent` (a mapping function must not touch its own map,
  * and a long build would hold the bin lock): two threads ensuring one
  * path build it once — the second re-checks the markers after the
  * first finishes — and a build that ensures a DIFFERENT index from
  * its closure takes that index's own lock. A failed build throws
  * through and leaves the path unbuilt.
  */
object StoredIndex {

  private val locks = new ConcurrentHashMap[String, AnyRef]()

  private def locked[T](path: String)(body: => T): T =
    locks.computeIfAbsent(path, _ => new Object).synchronized(body)

  private def built(spark: SparkSession, tables: Seq[String]): Boolean =
    tables.forall(IndexPaths.complete(spark, _))

  /** Run `build` unless `path` and every table in `siblings` are
    * committed. */
  def ensure(spark: SparkSession, path: String, siblings: String*)(
      build: => Unit): Unit = {
    val tables = path +: siblings
    if (!built(spark, tables)) locked(path) {
      if (!built(spark, tables)) build
    }
  }

  /** [[ensure]] for a batch-partitioned partial index: `root/<sub>/
    * batch=<id>` for every sub in `subs` (`root/batch=<id>` when `subs`
    * is empty). `build` receives the ids some sub lacks — neither a
    * committed batch dir nor recorded as folded by a compaction
    * ([[Compaction.batchComplete]]) — so folded batches never rebuild
    * and a grown `batchIds` builds only the new ids. */
  def ensureBatches(spark: SparkSession, root: String, subs: Seq[String],
      batchIds: Seq[Long])(build: Seq[Long] => Unit): Unit = {
    val tables = if (subs.isEmpty) Seq(root) else subs.map(s => s"$root/$s")
    def missing = batchIds.filterNot(id =>
      tables.forall(Compaction.batchComplete(spark, _, id)))
    if (missing.nonEmpty) locked(root) {
      val m = missing
      if (m.nonEmpty) build(m)
    }
  }

  /** In-memory state of the families that keep it (IVF centroids, PQ
    * codebooks, the IVF-PQ pair), keyed by index path. */
  private val values = new ConcurrentHashMap[String, AnyRef]()

  /** [[ensure]] for a family with in-memory state: the memoized value
    * while the tables stay committed, `load` for a committed index this
    * JVM has not seen, else the value `build` returns. */
  def ensureValue[V <: AnyRef](spark: SparkSession, path: String,
      siblings: String*)(load: => V)(build: => V): V = {
    val tables = path +: siblings
    memo[V](path).filter(_ => built(spark, tables)).getOrElse(locked(path) {
      if (!built(spark, tables)) { values.remove(path); remember(path, build) }
      else memo[V](path).getOrElse(remember(path, load))
    })
  }

  /** Unconditional rebuild of a family with in-memory state (a retrain):
    * serialized with [[ensureValue]] on the same path, and the fresh
    * value replaces the memo. */
  def rebuild[V <: AnyRef](path: String)(build: => V): V =
    locked(path)(remember(path, build))

  /** The value this JVM last built or loaded for `path`, if any. */
  def memo[V <: AnyRef](path: String): Option[V] =
    Option(values.get(path)).map(_.asInstanceOf[V])

  private def remember[V <: AnyRef](path: String, v: V): V = {
    values.put(path, v)
    v
  }
}
