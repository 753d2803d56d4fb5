package perfbench

import java.io.File
import java.nio.file.Files

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.engine.Engine
import graft.operators.{Dedup, Retrieval, Similarity, TextAnalysis}

/** One timed operation: the call that does it, and the check of what it
  * returned. `check` runs after the timing stops and returns the problems
  * it found. */
final case class Op(kind: String, run: () => Any, check: Any => Seq[String])

/** A workload: set-up (inputs, stored indexes) and rounds of operations.
  * Every round holds the same operations, so a run is whole rounds.
  *
  * Set-up runs several times, each time into a directory of its own
  * (`rep0`, `rep1`, ...), so its time can be given as a median; the
  * rounds use what the last set-up wrote. */
abstract class Workload(val spark: SparkSession, val dir: String, val trace: Trace) {
  /** Writes the inputs and builds what the workload stores, under
    * `rep<n>`, and removes what set-up `n - 1` wrote. */
  final def setup(n: Int): Unit = {
    rep = n
    build()
    if (n > 0) Workload.delete(new File(dir, s"rep${n - 1}"))
  }
  protected def build(): Unit
  def round(r: Int): Seq[Op]
  /** Checks that span a whole run rather than one operation. */
  def finish(): Seq[String] = Nil
  /** Stored bytes per input byte after the last round. */
  def storedRatio: Double
  /** Directories holding stored indexes. */
  def indexRoots: Seq[String] = Nil

  /** The set-up whose files the rounds use. */
  private var rep = 0
  protected def path(p: String): String = new File(dir, s"rep$rep/$p").getAbsolutePath
  protected def span[A](layer: String)(body: => A): A = trace.span(layer)(body)
  protected def docsFrame(docs: Seq[(Long, String)]): DataFrame =
    spark.createDataFrame(docs).toDF("doc_id", "text")
}

object Workload {
  val names: Seq[String] = Seq("mapreduce", "index_serve")

  /** The workload's inputs and expected answers. Plain Scala, so it can
    * run while Spark starts. */
  def generate(name: String, seed: Long): Any = name match {
    case "mapreduce" => Gen.mapreduce(seed, nFiles = 8, linesPerFile = 4000)
    case "index_serve" => ServeW.generate(seed)
  }

  def apply(name: String, input: Any, spark: SparkSession, dir: String,
      trace: Trace): Workload = (name, input) match {
    case ("mapreduce", in: Gen.MapReduceInput) => new MapReduceW(spark, in, dir, trace)
    case ("index_serve", in: ServeW.Input) => new ServeW(spark, in, dir, trace)
  }

  /** Removes `f` and everything under it. */
  def delete(f: File): Unit = {
    Option(f.listFiles).foreach(_.foreach(delete))
    f.delete()
  }

  /** Bytes of the data files under `root` (names not starting with `.` or
    * `_`, so checksum sidecars and commit markers are left out). */
  def dataBytes(root: String): Long = dataFiles(root).map(_.length).sum
  def dataFiles(root: String): Seq[File] = {
    val f = new File(root)
    if (!f.exists) Nil
    else if (f.isFile) Seq(f).filterNot(x => x.getName.startsWith(".") || x.getName.startsWith("_"))
    else f.listFiles.toSeq.flatMap(c => dataFiles(c.getPath))
  }
}

/** The reference's word count: Map splits a line on non-letters and emits
  * (word, 1); Reduce counts the values of a word. */
object WordCount {
  def map(line: String): Iterator[(String, Long)] =
    line.split("[^\\p{L}]+").iterator.filter(_.nonEmpty).map(w => (w, 1L))
  def reduce(word: String, ones: Iterator[Long]): Long = ones.size.toLong
}

/** `mapreduce`: the paper's own job, `Engine.submit` over line text; the
  * counts are written out as the job's output. */
final class MapReduceW(spark: SparkSession, in: Gen.MapReduceInput, dir: String,
    trace: Trace) extends Workload(spark, dir, trace) {
  private def paths = in.files.indices.map(i => path(s"input/part-$i.txt"))
  private def out = path("output")

  def build(): Unit = in.files.zip(paths).foreach { case (b, p) =>
    new File(p).getParentFile.mkdirs(); Files.write(new File(p).toPath, b)
  }

  def round(r: Int): Seq[Op] = Seq(Op("job", () => {
    import spark.implicits._
    val counts = span("engine") {
      Engine(spark).submit(paths)(WordCount.map)(WordCount.reduce)
    }
    counts.toDF("word", "count").write.mode("overwrite").parquet(out)
  }, _ => MapReduceW.check(
    spark.read.parquet(out).collect().map(r => r.getString(0) -> r.getLong(1)).toMap,
    in.tally)))

  def storedRatio: Double = Workload.dataBytes(out).toDouble / in.bytes
}

object MapReduceW {
  def check(got: Map[String, Long], want: Map[String, Long]): Seq[String] = {
    val bad = (got.keySet ++ want.keySet).filter(k => got.get(k) != want.get(k))
    if (bad.isEmpty) Nil
    else Seq(s"mapreduce: ${bad.size} words differ from the tally, e.g. " +
      bad.take(3).map(k => s"$k: got ${got.get(k)}, want ${want.get(k)}").mkString("; "))
  }
}

/** `index_serve`: the stored indexes (BM25 postings, MinHash band index,
  * IVF vector index) are built in set-up; each round then sends one
  * small batch of each request type:
  *  - `search`: BM25 top-k over the postings index;
  *  - `ann`: IVF top-k over the vector index;
  *  - `lookup`: an arriving batch is screened (quality and language
  *    filters) and the survivors are matched against the band index. */
final class ServeW(spark: SparkSession, in: ServeW.Input, dir: String, trace: Trace)
    extends Workload(spark, dir, trace) {
  import ServeW._
  private def corpus = path("docs")
  private def vectors = path("vectors")
  private def bm25 = path("index/bm25")
  private def bands = path("index/bands")
  private def ivf = path("index/ivf")
  private val recalls = mutable.ArrayBuffer.empty[Double]

  override def indexRoots: Seq[String] = Seq(path("index"))

  // the client opens the corpus and vector tables once and holds them
  private var docs: DataFrame = _
  private var emb: DataFrame = _

  def build(): Unit = {
    docsFrame(in.data.docs).write.mode("overwrite").parquet(corpus)
    spark.createDataFrame(in.data.vectors.map { case (id, v) => (id, v.toSeq) })
      .toDF("id", "vec").write.mode("overwrite").parquet(vectors)
    docs = spark.read.parquet(corpus)
    emb = spark.read.parquet(vectors)
    // one build after another, so that a slower build is not hidden
    // behind the others and the traced run can time and count them
    trace.build {
      Retrieval.ensureBm25Index(spark, docs, "doc_id", "text", bm25)
      Dedup.ensureBandIndex(docs, "doc_id", "text", bands)
      Similarity.ivfWriteIndex(emb, "id", "vec", ivf, nClusters = 16)
    }
  }

  def round(r: Int): Seq[Op] = {
    val d = in.data
    val qs = (0 until Batch).map(i => d.queries((r * Batch + i) % d.queries.length))
    val ps = (0 until Batch).map(i => d.probes((r * Batch + i) % d.probes.length))
    val lk = d.lookups(r % d.lookups.length)
    Seq(
      Op("search", () => {
        val qdf = spark.createDataFrame(qs.map(q => (q.id, q.text))).toDF("query_id", "qtext")
        span("retrieval")(Retrieval.bm25TopKIndexed(spark, docs, "doc_id", "text", bm25, qdf, K))
          .collect()
      }, res => checkSearch(qs, rowsBy(res, "query_id")(r =>
        (r.getAs[Long]("rk"), (r.getAs[Long]("doc_id"), r.getAs[Long]("score_q")))), in.bm25)),
      Op("ann", () =>
        span("similarity")(Similarity.ivfTopKIndexedBatch(spark, emb, "id", "vec", ivf, ps, K))
          .collect(),
        res => {
          val got = rowsBy(res, "probe_id")(r => (r.getAs[Long]("rk"), r.getAs[Long]("vec_id")))
          recalls ++= recall(ps, got, in.ann)
          checkAnn(ps, got)
        }),
      Op("lookup", () => {
        val batch = docsFrame(lk.docs)
        val good = span("textanalysis")(TextAnalysis.quality(batch, "doc_id", "text"))
          .where(col("verdict") === "keep").select("doc_id")
        val en = span("textanalysis")(TextAnalysis.langId(batch, "doc_id", "text"))
          .where(col("pred_lang") === "en").select("doc_id")
        // the client takes the screen's verdicts, then sends the
        // survivors to the band index
        val admitted = good.join(en, Seq("doc_id"), "left_semi").collect()
          .map(_.getLong(0)).toSet
        // arriving ids are above every corpus id, so a pair's doc_b is
        // the arriving doc and doc_a its corpus duplicate
        val dups = span("dedup")(Dedup.incrementalDedupPairs(
          docsFrame(lk.docs.filter(d => admitted(d._1))), docs, bands, "doc_id", "text"))
          .select("doc_b", "doc_a").collect().map(r => r.getLong(0) -> r.getLong(1))
        val dupOf = dups.groupMap(_._1)(_._2)
        admitted.toSeq.flatMap { d =>
          dupOf.get(d).fold(Seq[(Long, Option[Long])](d -> None))(_.toSeq.map(a => d -> Some(a)))
        }
      }, res => checkLookup(lk, res.asInstanceOf[Seq[(Long, Option[Long])]])))
  }

  /** A query's (or probe's) result rows, ordered by rank. */
  private def rowsBy[A](res: Any, key: String)(f: Row => (Long, A)): Map[Long, Seq[A]] =
    res.asInstanceOf[Array[Row]].groupBy(_.getAs[Long](key))
      .map { case (k, rs) => k -> rs.toSeq.map(f).sortBy(_._1).map(_._2) }

  override def finish(): Seq[String] = checkRecall(recalls.toSeq)

  def storedRatio: Double =
    Workload.dataBytes(path("index")).toDouble / (in.data.textBytes + in.data.vectorBytes)
}

object ServeW {
  val K = 10
  val Batch = 8
  /** Documents per arriving lookup batch (half of them near copies of
    * corpus documents), plus one low-quality and one non-English
    * document. Sized so that screening and MinHash signatures give the
    * lookup task work in parallel next to its per-job fixed cost. */
  val LookupDocs = 2000
  /** Mean recall@10 of the IVF index (16 lists, 4 probed) against exact
    * cosine must reach this; perfbench/README.md gives the measured
    * values. */
  val RecallFloor = 0.95

  /** Generated inputs with their expected answers: BM25 top-k of every
    * query and exact cosine top-k of every probe. */
  final case class Input(data: Gen.ServeInput, bm25: Map[Long, Seq[(Long, Long)]],
      ann: Map[Long, Seq[Long]])

  def generate(seed: Long): Input = {
    val d = Gen.serve(seed, nDocs = 2000, nVectors = 5000, nQueries = 64,
      nProbes = 64, nLookups = 16, lookupSize = LookupDocs)
    Input(d, Gen.bm25TopK(d.docs, d.queries, K), Gen.cosineTopK(d.vectors, d.probes, K))
  }

  /** Each query's ranked list must equal the benchmark's own BM25 top-k
    * (same docs, same integer scores, same order); in particular the
    * needle docs must come back in score order. */
  def checkSearch(qs: Seq[Gen.Query], got: Map[Long, Seq[(Long, Long)]],
      truth: Map[Long, Seq[(Long, Long)]]): Seq[String] =
    qs.flatMap { q =>
      val g = got.getOrElse(q.id, Nil)
      val needles = truth(q.id).map(_._1).filter(q.needleDocs.contains)
      if (needles.length != q.needleDocs.length)
        Seq(s"search: expected ranking of query ${q.id} misses needle docs")
      else if (g != truth(q.id))
        Seq(s"search: query ${q.id} returned ${g.take(3)}..., want ${truth(q.id).take(3)}...")
      else Nil
    }

  /** Each probe must get k results, none of them itself. */
  def checkAnn(ps: Seq[Long], got: Map[Long, Seq[Long]]): Seq[String] =
    ps.filter(p => got.getOrElse(p, Nil).length != K || got(p).contains(p))
      .map(p => s"ann: probe $p got ${got.getOrElse(p, Nil).length} results or itself")

  /** Per-probe recall@k against exact cosine. */
  def recall(ps: Seq[Long], got: Map[Long, Seq[Long]],
      truth: Map[Long, Seq[Long]]): Seq[Double] =
    ps.map(p => got.getOrElse(p, Nil).count(truth(p).toSet).toDouble / K)

  def checkRecall(recalls: Seq[Double]): Seq[String] = {
    val mean = recalls.sum / recalls.length
    if (recalls.nonEmpty && mean < RecallFloor)
      Seq(f"ann: mean recall@$K $mean%.3f is below the floor $RecallFloor")
    else Nil
  }

  /** The screen must admit every arriving doc except the planted
    * low-quality and non-English ones, and the corpus duplicates found
    * must be exactly the planted (source, near copy) pairs. `got` holds
    * (arriving doc, its corpus duplicate if any). */
  def checkLookup(lk: Gen.Lookup, got: Seq[(Long, Option[Long])]): Seq[String] = {
    val admitted = got.map(_._1).toSet
    val want = lk.docs.map(_._1).toSet -- lk.screenedOut
    val pairs = got.collect { case (d, Some(s)) => (s, d) }.toSet
    (if (admitted != want) Seq(s"lookup: screen admitted ${admitted.size} docs, want ${want.size}")
    else Nil) ++
    (if (pairs != lk.planted)
      Seq(s"lookup: ${(lk.planted -- pairs).size} planted copies missed, " +
        s"${(pairs -- lk.planted).size} extra pairs")
    else Nil)
  }
}
