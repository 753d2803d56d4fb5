package graft

import java.io.File
import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.io.{IndexPaths, StoredIndex}
import graft.operators.{Caches, Dedup, Multimodal, Retrieval, Similarity, TextAnalysis}

/** The shared stored-index lifecycle ([[graft.io.StoredIndex]]) over
  * every whole-table index family: a committed index is reused, a torn
  * sibling rebuilds, and a dir deleted under the running session
  * rebuilds with no invalidation call. */
class StoredIndexSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = spark.read.parquet(s"$sf/documents.parquet")
    .where(col("doc_id") < 120).select("doc_id", "text")
  private lazy val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    .select("vec_id", "embedding")
  private lazy val queries = Seq((1L, "the data"), (2L, "quick model"))
    .toDF("query_id", "qtext")
  private val probes = Seq(0L, 7L, 19L)
  private lazy val codes = (1L to 40L)
    .map(i => (i, (i / 2) * 0x0101010101010101L)).toDF("doc_id", "code")
  private lazy val frames = (1L to 40L)
    .flatMap(i => (0L until 4L).map(f => (i, (i / 2) * 10L + f)))
    .toDF("doc_id", "fh")

  private def rows(df: DataFrame): Seq[String] =
    try df.collect().map(_.toString).toSeq.sorted
    finally Caches.release()

  /** One whole-table family: its gated tables (main dir first) and a
    * run that ensures the index and returns a query result off it. */
  private case class Family(name: String, siblings: String => Seq[String],
      run: String => Seq[String]) {
    def tables(path: String): Seq[String] = path +: siblings(path)
  }

  private def stored(path: String) = rows(spark.read.parquet(path))

  private val families = Seq(
    Family("bm25", p => Seq(p + ".stats"), p => rows(
      Retrieval.bm25TopKIndexed(spark, docs, "doc_id", "text", p, queries, 3))),
    Family("band", _ => Nil, { p =>
      Dedup.ensureBandIndex(docs, "doc_id", "text", p); stored(p) }),
    Family("containment", p => Seq(p + ".gsets"), { p =>
      Dedup.ensureContainmentIndex(docs, "doc_id", "text", p); stored(p) }),
    Family("winnow", _ => Nil, { p =>
      Dedup.ensureWinnowIndex(docs, "doc_id", "text", p); stored(p) }),
    Family("knn",
      p => Seq(Similarity.knnBucketsPath(p), Similarity.knnBuildStatsPath(p)),
      { p => Similarity.ensureKnnIndex(emb, "vec_id", "embedding", p)
        stored(p) }),
    Family("ivf", p => Seq(Similarity.centroidsPath(p)), p => rows(
      Similarity.ivfTopKIndexedBatch(spark, emb, "vec_id", "embedding", p,
        probes, 5))),
    Family("int8", _ => Nil, p => rows(
      Similarity.quantizedTopKIndexedBatch(spark, emb, "vec_id", "embedding",
        p, probes, 5))),
    Family("kmeans", p => Seq(Similarity.centroidsPath(p)), { p =>
      Similarity.ensureKmeansIndex(emb, "vec_id", "embedding", p); stored(p) }),
    Family("pq", p => Seq(Similarity.pqCodebooksPath(p)), p => rows(
      Similarity.pqTopKIndexedBatch(spark, emb, "vec_id", "embedding", p,
        probes, 5))),
    Family("ivfpq",
      p => Seq(Similarity.centroidsPath(p), Similarity.pqCodebooksPath(p)),
      p => rows(Similarity.ivfPqTopKIndexedBatch(spark, emb, "vec_id",
        "embedding", p, probes, 5))),
    Family("sign", _ => Nil, p => rows(
      Similarity.hammingTopKIndexedBatch(spark, emb, "vec_id", "embedding", p,
        probes, 5))),
    Family("code", _ => Nil, { p =>
      Multimodal.ensureCodeIndex(spark, codes, p)
      rows(Multimodal.nearDupPairsFromCodeIndex(spark, p)) }),
    Family("frame", _ => Nil, { p =>
      Multimodal.ensureFrameIndex(spark, frames, p)
      rows(Multimodal.videoNearDupPairsFromIndex(spark, p)) }),
    Family("cdc", _ => Nil, { p =>
      Multimodal.ensureCdcIndex(Multimodal.mediaTable(docs), p); stored(p) }))

  private def fresh(name: String): String =
    java.nio.file.Files.createTempDirectory(s"graft_stored_$name")
      .resolve("idx").toString

  /** (relative path → mtime) of every data file under `dir`. */
  private def mtimes(dir: String): Map[String, Long] = {
    val root = new File(dir)
    def walk(f: File): Seq[File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk)
      else Seq(f)
    walk(root).filterNot(_.getName.startsWith("."))
      .map(f => root.toPath.relativize(f.toPath).toString -> f.lastModified)
      .toMap
  }

  private def deleteTree(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }

  /** Each family's index, built once for all three cases: (path, the
    * first run's result). Every case leaves the index committed. */
  private val builtOnce =
    scala.collection.mutable.Map.empty[String, (String, Seq[String])]
  private def firstRun(fam: Family): (String, Seq[String]) =
    builtOnce.getOrElseUpdate(fam.name, {
      val p = fresh(fam.name)
      (p, fam.run(p))
    })

  for (fam <- families) {
    test(s"${fam.name}: a committed index is reused, data files untouched") {
      val (p, first) = firstRun(fam)
      val tables = fam.tables(p)
      tables.foreach(t => assert(IndexPaths.complete(spark, t), t))
      val before = tables.map(mtimes)
      assert(before.forall(_.nonEmpty))
      assert(fam.run(p) === first)
      assert(tables.map(mtimes) === before, "reuse must not rewrite the index")
    }

    test(s"${fam.name}: a removed _SUCCESS on any gated table rebuilds") {
      val (p, first) = firstRun(fam)
      for (t <- fam.tables(p)) {
        val marker = new File(t, "_SUCCESS")
        assert(marker.delete(), s"test setup: $marker must exist")
        assert(fam.run(p) === first, s"rebuild after tearing $t")
        assert(marker.exists(), s"the rebuild must recommit $t")
      }
    }

    test(s"${fam.name}: a dir deleted under the session rebuilds, same result") {
      val (p, first) = firstRun(fam)
      deleteTree(new File(p))
      assert(!new File(p).exists())
      assert(fam.run(p) === first)
      assert(IndexPaths.complete(spark, p))
    }
  }

  test("card (batched): folded batches never rebuild; a grown id set builds only new ids") {
    val p = fresh("card")
    val built = scala.collection.mutable.ArrayBuffer.empty[Seq[Long]]
    def ensure(ids: Seq[Long]): Unit =
      TextAnalysis.ensureCardIndex(spark, p, ids) { missing =>
        built += missing
        missing.foreach(b => TextAnalysis.appendToCardIndex(
          docs.withColumn("source", lit("web"))
            .where(col("doc_id") % 3 === b),
          "doc_id", "text", "source", p, b))
      }
    ensure(Seq(0L, 1L, 2L))
    assert(built.toSeq === Seq(Seq(0L, 1L, 2L)))
    ensure(Seq(0L, 1L, 2L))
    assert(built.size == 1, "a complete index must not rebuild")
    // fold batches 0 and 1 into batch=-1: their dirs are gone
    TextAnalysis.compactCardIndex(spark, p)
    assert(!new File(s"$p/stats/batch=0").exists())
    ensure(Seq(0L, 1L, 2L))
    assert(built.size == 1, "folded batches must never rebuild")
    ensure(Seq(0L, 1L, 2L, 3L))
    assert(built.toSeq === Seq(Seq(0L, 1L, 2L), Seq(3L)))
  }

  /** A build that takes a while and commits `path` like a parquet write. */
  private def slowCommit(path: String): Unit = {
    Thread.sleep(200)
    val dir = new File(path)
    dir.mkdirs()
    new File(dir, "_SUCCESS").createNewFile()
  }

  test("concurrent ensures of one path run the build exactly once") {
    val p = fresh("concurrent")
    val builds = new AtomicInteger()
    val start = new CountDownLatch(1)
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = (1 to 2).map(_ => new Thread(() =>
      try {
        start.await()
        StoredIndex.ensure(spark, p) { builds.incrementAndGet(); slowCommit(p) }
      } catch { case t: Throwable => errors.add(t) }))
    threads.foreach(_.start())
    start.countDown()
    threads.foreach(_.join(TimeUnit.SECONDS.toMillis(30)))
    assert(errors.isEmpty, errors)
    assert(builds.get == 1)
    assert(IndexPaths.complete(spark, p))
  }

  test("a build that ensures a different index from its closure completes") {
    val outer = fresh("outer")
    val inner = fresh("inner")
    val builds = new AtomicInteger()
    StoredIndex.ensure(spark, outer) {
      StoredIndex.ensure(spark, inner) {
        builds.incrementAndGet(); slowCommit(inner)
      }
      builds.incrementAndGet()
      slowCommit(outer)
    }
    assert(builds.get == 2)
    assert(IndexPaths.complete(spark, outer) && IndexPaths.complete(spark, inner))
  }

  test("a failed build leaves its path unbuilt and the next ensure retries") {
    val p = fresh("failing")
    intercept[IllegalStateException] {
      StoredIndex.ensure(spark, p)(throw new IllegalStateException("boom"))
    }
    assert(!IndexPaths.complete(spark, p))
    val builds = new AtomicInteger()
    StoredIndex.ensure(spark, p) { builds.incrementAndGet(); slowCommit(p) }
    assert(builds.get == 1 && IndexPaths.complete(spark, p))
  }

  /** Spark jobs started while `body` runs. */
  private def jobsDuring[A](body: => A): (A, Int) = {
    val jobs = new AtomicInteger()
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    org.apache.spark.sql.graft.shim.drainListeners(spark)
    spark.sparkContext.addSparkListener(l)
    try {
      val a = body
      org.apache.spark.sql.graft.shim.drainListeners(spark)
      (a, jobs.get)
    } finally spark.sparkContext.removeSparkListener(l)
  }

  test("read: a committed index's supplied schema == Spark's inference, with no job") {
    val byName = families.map(f => f.name -> f).toMap
    // the hot reads: BM25 postings and stats, the band index, the
    // partitioned IVF table
    val tables = Seq("bm25", "band", "ivf").flatMap { n =>
      val p = fresh(s"read_$n")
      byName(n).run(p)
      if (n == "ivf") Seq(p) else byName(n).tables(p)
    }
    for (t <- tables) {
      val inferred = spark.read.parquet(t)
      StoredIndex.read(spark, t)
      val (supplied, jobs) = jobsDuring(StoredIndex.read(spark, t))
      assert(jobs === 0, s"$t: reading a known commit starts no job")
      assert(supplied.schema === inferred.schema, t)
      assert(rows(supplied) === rows(inferred), t)
    }
  }

  test("read: a table rewritten at the same path is inferred afresh") {
    // the rewrite's `_SUCCESS` gets the first commit's modification
    // time, as on a store that keeps times to the second: the new part
    // files alone must tell the commits apart
    val fs = new org.apache.hadoop.fs.Path(fresh("read_fs"))
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def marker(p: String) = new org.apache.hadoop.fs.Path(p, "_SUCCESS")
    def rewrite(p: String)(write: String => Unit): Unit = {
      val t = fs.getFileStatus(marker(p)).getModificationTime
      write(p)
      fs.setTimes(marker(p), t, -1L)
      assert(fs.getFileStatus(marker(p)).getModificationTime === t)
    }
    val p = fresh("read_rewrite")
    Seq((1L, "a")).toDF("doc_id", "term").write.parquet(p)
    assert(StoredIndex.read(spark, p).columns.toSeq === Seq("doc_id", "term"))
    rewrite(p)(Seq((2L, 3, 4.0)).toDF("doc_id", "tf", "w").write.mode("overwrite").parquet(_))
    val again = StoredIndex.read(spark, p)
    assert(again.schema === spark.read.parquet(p).schema)
    assert(rows(again) === Seq("[2,3,4.0]"))
    // partitioned: the partition dirs keep their names across commits
    val q = fresh("read_rewrite_part")
    Seq((1L, 0, "a")).toDF("doc_id", "cluster", "term")
      .write.partitionBy("cluster").parquet(q)
    assert(StoredIndex.read(spark, q).columns.toSeq === Seq("doc_id", "term", "cluster"))
    rewrite(q)(Seq((2L, 0, 5.0)).toDF("doc_id", "cluster", "w")
      .write.mode("overwrite").partitionBy("cluster").parquet(_))
    val part = StoredIndex.read(spark, q)
    assert(part.schema === spark.read.parquet(q).schema)
    assert(rows(part) === Seq("[2,5.0,0]"))
  }
}
