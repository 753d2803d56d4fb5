package graft.io

import java.io.FileNotFoundException
import java.util.concurrent.ConcurrentHashMap

import scala.annotation.tailrec

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

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
  *
  * Reads go through [[read]], which supplies the schema of a committed
  * table it has read before instead of re-inferring it.
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

  /** Schema of each table [[read]] has inferred, with the commit key
    * ([[commitKey]]) it was inferred under. */
  private val schemas =
    new ConcurrentHashMap[String, (Seq[(String, Long, Long)], StructType)]()

  /** What identifies one commit of a table: the path, length and
    * modification time of each top-level entry (`_SUCCESS` included)
    * and, for a partitioned table, of each file in its first partition.
    * Every Spark write names its part files after a fresh job id, so a
    * table rewritten at the same path never repeats its key, whatever
    * the store's timestamp resolution. None while the table carries no
    * `_SUCCESS` marker. One listing, two for a partitioned table. */
  private def commitKey(fs: FileSystem, dir: Path): Option[Seq[(String, Long, Long)]] = {
    def list(d: Path) = fs.listStatus(d).toSeq.sortBy(_.getPath.getName)
    val top = try list(dir) catch { case _: FileNotFoundException => Nil }
    if (!top.exists(_.getPath.getName == "_SUCCESS")) None
    else {
      @tailrec def firstPartition(es: Seq[FileStatus]): Seq[FileStatus] =
        es.find(e => e.isDirectory && !e.getPath.getName.startsWith("_")) match {
          case Some(d) => firstPartition(list(d.getPath))
          case None => es
        }
      val part = if (top.exists(_.isDirectory)) firstPartition(top) else Nil
      Some((top ++ part).map(e =>
        (e.getPath.toString, e.getLen, e.getModificationTime)))
    }
  }

  /** `spark.read.parquet(path)` of a committed index table without the
    * schema-inference job (a footer read) Spark starts for every read
    * of an unknown schema: the first read of a commit infers and
    * remembers the schema, later reads of the SAME commit (an equal
    * [[commitKey]]) supply it. A rebuild or append writes new part
    * files, so the next read infers afresh; an uncommitted table is
    * always inferred. */
  def read(spark: SparkSession, path: String): DataFrame = {
    val dir = new Path(path)
    val key = commitKey(dir.getFileSystem(spark.sparkContext.hadoopConfiguration), dir)
    Option(schemas.get(path)).filter(m => key.contains(m._1)) match {
      case Some((_, schema)) => spark.read.schema(schema).parquet(path)
      case None =>
        val df = spark.read.parquet(path)
        key.foreach(k => schemas.put(path, (k, df.schema)))
        df
    }
  }
}
