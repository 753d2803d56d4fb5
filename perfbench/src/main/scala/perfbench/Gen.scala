package perfbench

import java.nio.charset.StandardCharsets.UTF_8

import scala.collection.mutable

/** Seeded input generators. Each one returns the inputs the program
  * receives and the expected answers, computed here in plain Scala and
  * never by the program. The same seed gives the same inputs. */
object Gen {

  /** Stopwords of every language the program's language-ID knows. Random
    * vocabulary words must avoid all of them, so a generated document's
    * language is decided only by the stopwords planted in it. */
  val stop: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "of", "and", "to", "in", "a", "is", "it", "for", "on"),
    "es" -> Seq("el", "la", "de", "que", "y", "en", "los", "se", "un", "por"),
    "de" -> Seq("der", "die", "und", "das", "ist", "nicht", "ein", "zu", "mit", "den"))
  private val allStop = (stop.values.flatten ++
    Seq("le", "les", "et", "est", "une", "dans")).toSet

  /** Random lower-case words of 3 to 9 letters, distinct, no stopwords.
    * The i-th word has 3 + i % 7 letters, so with Zipf-ranked use the
    * text's length does not depend on the seed. */
  def vocabulary(rng: scala.util.Random, n: Int, letters: String =
      "abcdefghijklmnopqrstuvwxyz"): IndexedSeq[String] = {
    val seen = mutable.LinkedHashSet.empty[String]
    while (seen.size < n) {
      val w = Seq.fill(3 + seen.size % 7)(letters(rng.nextInt(letters.length))).mkString
      if (!allStop(w)) seen += w
    }
    seen.toIndexedSeq
  }

  /** Zipf(s) sampler over ranks 0 until n, by inverse CDF. */
  final class Zipf(n: Int, s: Double) {
    private val cdf = {
      val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1.0, s))
      val tot = w.sum
      var acc = 0.0
      w.map { x => acc += x / tot; acc }
    }
    def apply(rng: scala.util.Random): Int = {
      val i = java.util.Arrays.binarySearch(cdf, rng.nextDouble())
      math.min(if (i >= 0) i else -i - 1, n - 1)
    }
  }

  /** The program's token rule, written out again: maximal runs of
    * letters (`\p{L}`), case kept. */
  def tokens(text: String): Array[String] =
    text.split("[^\\p{L}]+").filter(_.nonEmpty)

  /** Distinct word 3-grams of a text. */
  def grams(text: String): Set[String] =
    tokens(text).sliding(3).filter(_.length == 3).map(_.mkString(" ")).toSet

  def jaccard(a: String, b: String): Double = {
    val (ga, gb) = (grams(a), grams(b))
    val inter = ga.count(gb)
    inter.toDouble / (ga.size + gb.size - inter)
  }

  def utf8(s: String): Long = s.getBytes(UTF_8).length.toLong

  // ---------------------------------------------------------------- text

  /** Writes English-like documents: Zipf vocabulary words with English
    * stopwords mixed in and a full stop every dozen words or so. */
  final class Writer(rng: scala.util.Random, vocabSize: Int, zipfS: Double) {
    val vocab: IndexedSeq[String] = vocabulary(rng, vocabSize)
    private val zipf = new Zipf(vocabSize, zipfS)
    def word(): String =
      if (rng.nextDouble() < 0.25) stop("en")(rng.nextInt(10)) else vocab(zipf(rng))
    def doc(minWords: Int, maxWords: Int): String =
      sentences(Seq.fill(minWords + rng.nextInt(maxWords - minWords + 1))(word()))
    def sentences(ws: Seq[String]): String =
      ws.grouped(12).map(_.mkString(" ") + ".").mkString(" ")

    /** A near copy: one word, away from the ends, replaced by another
      * vocabulary word. Word 3-gram Jaccard to the source is about 0.9 or
      * more for documents of 60 words or more, where 16-band x 4-row LSH
      * misses a pair with probability under 1e-7; the generator checks
      * the Jaccard of every copy it plants. */
    def nearCopy(text: String): String = {
      val ws = tokens(text)
      val i = 3 + rng.nextInt(ws.length - 6)
      var w = vocab(rng.nextInt(vocab.length))
      while (w == ws(i)) w = vocab(rng.nextInt(vocab.length))
      ws(i) = w
      val copy = sentences(ws.toSeq)
      require(jaccard(text, copy) >= 0.85, "a planted near copy is too far from its source")
      copy
    }

    /** A document in another language: its own random words and that
      * language's stopwords, no English stopwords. */
    def foreign(lang: String, words: IndexedSeq[String], n: Int): String =
      sentences(Seq.fill(n)(
        if (rng.nextDouble() < 0.3) stop(lang)(rng.nextInt(10))
        else words(rng.nextInt(words.length))))

    /** A low-quality document: digits and symbols (letter ratio well
      * under one half) or fewer than five tokens. */
    def junk(): String =
      if (rng.nextBoolean())
        Seq.fill(30 + rng.nextInt(30))(
          if (rng.nextInt(5) == 0) vocab(rng.nextInt(vocab.length))
          else (rng.nextInt(90000) + 100).toString + Seq("", "#", "%", "$")(rng.nextInt(4))
        ).mkString(" ")
      else Seq.fill(1 + rng.nextInt(4))(vocab(rng.nextInt(vocab.length))).mkString(" ")
  }

  // ----------------------------------------------------------- mapreduce

  /** Line text over a Zipf vocabulary that mixes case and non-ASCII
    * letters, split into files. `tally` counts every emitted word, so it
    * is the expected word count without re-reading the text. */
  final case class MapReduceInput(files: Seq[Array[Byte]],
      tally: Map[String, Long]) {
    def bytes: Long = files.map(_.length.toLong).sum
  }

  val MR_ZIPF = 1.1

  def mapreduce(seed: Long, nFiles: Int, linesPerFile: Int): MapReduceInput = {
    val rng = new scala.util.Random(seed)
    val base = vocabulary(rng, 20000, "abcdefghijklmnopqrstuvwxyzéüñ")
    // case-sensitive: "word", "Word" and "WORD" are three keys
    val vocab = base.flatMap(w => Seq(w, w.capitalize)) ++ base.take(500).map(_.toUpperCase)
    val zipf = new Zipf(vocab.length, MR_ZIPF)
    val seps = Seq(" ", " ", " ", ", ", ". ", " - ", " 42 ", "\t", "'", "_")
    val tally = mutable.HashMap.empty[String, Long]
    val files = (0 until nFiles).map { _ =>
      val sb = new StringBuilder
      for (_ <- 0 until linesPerFile) {
        val n = 4 + rng.nextInt(16)
        for (i <- 0 until n) {
          val w = vocab(zipf(rng))
          tally(w) = tally.getOrElse(w, 0L) + 1
          if (i > 0) sb ++= seps(rng.nextInt(seps.length))
          sb ++= w
        }
        sb += '\n'
      }
      sb.toString.getBytes(UTF_8)
    }
    MapReduceInput(files, tally.toMap)
  }

  // --------------------------------------------------------- index_serve

  /** A search request: query text, and the needle term's planted
    * documents. */
  final case class Query(id: Long, text: String, needleDocs: Seq[Long])

  /** A lookup request: arriving documents; the (corpus doc, near copy)
    * pairs planted among them; and the planted low-quality and
    * non-English documents, which screening must turn away. */
  final case class Lookup(docs: Seq[(Long, String)], planted: Set[(Long, Long)],
      screenedOut: Set[Long])

  final case class ServeInput(docs: IndexedSeq[(Long, String)],
      vectors: IndexedSeq[(Long, Array[Float])], queries: IndexedSeq[Query],
      probes: IndexedSeq[Long], lookups: IndexedSeq[Lookup]) {
    def textBytes: Long = docs.map(d => utf8(d._2)).sum
    def vectorBytes: Long = vectors.map(_._2.length * 4L).sum
  }

  val SERVE_ZIPF = 1.05
  val DIM = 64

  def serve(seed: Long, nDocs: Int, nVectors: Int, nQueries: Int,
      nProbes: Int, nLookups: Int, lookupSize: Int): ServeInput = {
    val rng = new scala.util.Random(seed)
    val w = new Writer(rng, 30000, SERVE_ZIPF)
    // needle terms are capitalised and the vocabulary is lower case, so
    // each needle occurs only in the documents it is planted in
    val needles = vocabulary(rng, nQueries, "qxzjkv").map("Zq" + _)
    val texts = Array.fill(nDocs)(w.doc(60, 120))
    val needleDocs = needles.map { t =>
      val ds = rng.shuffle((0 until nDocs).toVector).take(2 + rng.nextInt(4))
      ds.zipWithIndex.foreach { case (d, i) =>
        val ws = mutable.ArrayBuffer.from(tokens(texts(d)))
        // distinct tf per planted doc (1..5), so the planted docs rank apart
        (0 to i).foreach(_ => ws.insert(rng.nextInt(ws.length + 1), t))
        texts(d) = w.sentences(ws.toSeq)
      }
      ds.map(_.toLong)
    }
    val docs = texts.indices.map(i => (i.toLong, texts(i)))
    // query = needle + two very common terms + one mid-frequency term
    val queries = needles.indices.map { q =>
      val common = Seq(w.vocab(rng.nextInt(3)), w.vocab(3 + rng.nextInt(10)))
      val mid = w.vocab(200 + rng.nextInt(2000))
      Query(q.toLong, rng.shuffle(needles(q) +: mid +: common).mkString(" "),
        needleDocs(q))
    }
    // vectors: unit-normalised draws around 32 random centres
    val centres = Array.fill(32)(Array.fill(DIM)(rng.nextGaussian().toFloat))
    val vectors = (0 until nVectors).map { i =>
      val c = centres(rng.nextInt(centres.length))
      val v = c.map(x => x + 0.6f * rng.nextGaussian().toFloat)
      val n = math.sqrt(v.map(x => x.toDouble * x).sum).toFloat
      (i.toLong, v.map(_ / n))
    }
    val probes = rng.shuffle((0L until nVectors.toLong).toVector).take(nProbes)
    var next = nDocs.toLong
    val foreignWords = vocabulary(rng, 3000)
    val lookups = (0 until nLookups).map { _ =>
      val sources = rng.shuffle((0 until nDocs).toVector).take(lookupSize / 2)
      val copies = sources.map { s => next += 1; (next, w.nearCopy(texts(s)), s.toLong) }
      val fresh = Seq.fill(lookupSize - sources.length) { next += 1; (next, w.doc(60, 120)) }
      // one low-quality and one non-English document
      val junk = Seq({ next += 1; (next, w.junk()) },
        { next += 1; (next, w.foreign(if (rng.nextBoolean()) "de" else "es", foreignWords,
          60 + rng.nextInt(60))) })
      Lookup(rng.shuffle(copies.map(c => (c._1, c._2)) ++ fresh ++ junk),
        copies.map(c => (c._3, c._1)).toSet, junk.map(_._1).toSet)
    }
    ServeInput(docs, vectors, queries, probes, lookups)
  }

  /** The program's BM25 (integer odds-ratio idf, k1 = 6/5, b = 3/4, see
    * `Retrieval`'s scaladoc), written out again over plain Scala maps.
    * Returns each query's top `k` as (doc, score), ties by doc id. */
  def bm25TopK(docs: IndexedSeq[(Long, String)], queries: Seq[Query],
      k: Int): Map[Long, Seq[(Long, Long)]] = {
    val toks = docs.map { case (id, t) => (id, tokens(t)) }.filter(_._2.nonEmpty)
    val n = toks.length.toLong
    val avgdl = toks.map(_._2.length.toLong).sum / n
    val wanted = queries.flatMap(q => tokens(q.text)).toSet
    val postings = mutable.HashMap.empty[String, mutable.ArrayBuffer[(Long, Long, Long)]]
    for ((id, ts) <- toks) {
      val dl = ts.length.toLong
      ts.filter(wanted).groupBy(identity).foreach { case (t, occ) =>
        postings.getOrElseUpdate(t, mutable.ArrayBuffer.empty) += ((id, occ.length.toLong, dl))
      }
    }
    queries.map { q =>
      val score = mutable.HashMap.empty[Long, Long]
      for (t <- tokens(q.text).distinct; ps <- postings.get(t)) {
        val df = ps.length.toLong
        val idf = ((2 * n - 2 * df + 1) * 100) / (2 * df + 1)
        for ((id, tf, dl) <- ps) {
          val rc = (dl * 100) / avgdl
          val tfn = (4400000000L * tf) / (2000L * tf + 600L + 18L * rc)
          score(id) = score.getOrElse(id, 0L) + (idf * tfn) / 100
        }
      }
      q.id -> score.toSeq.sortBy { case (id, s) => (-s, id) }.take(k)
    }.toMap
  }

  /** Exact cosine top-k of each probe over all other vectors. */
  def cosineTopK(vectors: IndexedSeq[(Long, Array[Float])], probes: Seq[Long],
      k: Int): Map[Long, Seq[Long]] = {
    val byId = vectors.toMap
    def norm(v: Array[Float]) = math.sqrt(v.map(x => x.toDouble * x).sum)
    probes.map { p =>
      val q = byId(p); val nq = norm(q)
      p -> vectors.iterator.filter(_._1 != p).map { case (id, v) =>
        var dot = 0.0; var i = 0
        while (i < v.length) { dot += q(i).toDouble * v(i); i += 1 }
        (id, dot / (nq * norm(v)))
      }.toSeq.sortBy { case (id, c) => (-c, id) }.take(k).map(_._1)
    }.toMap
  }
}
