package graft

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => SCTest}

import graft.functions.TextFns
import graft.operators.{Caches, Dedup, TextAnalysis}

/** The native text kernels (`graft.functions.expr.TextKernels`) against
  * the lambda compositions they replaced, on random text: tokenizers,
  * n-grams, gram hashes, MinHash signatures, and the quality /
  * language-ID operators built on them. Also: the operators
  * give the same answer over a local `createDataFrame` batch (evaluated
  * on the driver by `ConvertToLocalRelation`) as over the same rows
  * read from parquet (evaluated in tasks).
  */
class TextKernelsSpec extends SparkSpec {
  import spark.implicits._

  /** The compositions the kernels replaced, verbatim. */
  private object Composed {
    def letterTokens(c: Column): Column =
      filter(split(c, "[^\\p{L}]+"), t => length(t) > lit(0))
    def wsTokens(c: Column): Column =
      filter(split(c, "\\s+"), t => length(t) > lit(0))
    def lowerTokens(c: Column): Column = letterTokens(lower(c))
    def wordNGrams(toks: Column, n: Int): Column =
      when(size(toks) >= n,
        transform(sequence(lit(0), size(toks) - lit(n)),
          i => concat_ws(" ", (1 to n).map(j => element_at(toks, i + lit(j))): _*)))
        .otherwise(array().cast("array<string>"))
    def countIn(toks: Column, words: Seq[String]): Column =
      size(filter(toks, t => t.isin(words: _*)))

    def langScore(t: Column, lang: String): Column =
      countIn(lowerTokens(t), TextAnalysis.stopwords(lang))
    def predLang(t: Column): Column = {
      val (en, es, de, fr) =
        (langScore(t, "en"), langScore(t, "es"), langScore(t, "de"), langScore(t, "fr"))
      val han = length(regexp_replace(t, "[^\\p{IsHan}]", ""))
      when(han * 5 > length(t), lit("zh"))
        .when(en + es + de + fr === 0, lit("und"))
        .when(en >= es && en >= de && en >= fr, lit("en"))
        .when(es >= de && es >= fr, lit("es"))
        .when(de >= fr, lit("de"))
        .otherwise(lit("fr"))
    }
    def langId(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
      val t = col(textCol)
      docs.select(col(idCol).as("doc_id"),
        langScore(t, "en").as("score_en"), langScore(t, "es").as("score_es"),
        langScore(t, "de").as("score_de"), langScore(t, "fr").as("score_fr"),
        length(regexp_replace(t, "[^\\p{IsHan}]", "")).cast("long").as("han_chars"),
        predLang(t).as("pred_lang"))
    }
    def quality(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
      val t = col(textCol)
      val nTok = size(wsTokens(t))
      val nChar = length(t)
      val nLetter = length(regexp_replace(t, "[^\\p{L}]", ""))
      val nStop = countIn(lowerTokens(t), TextAnalysis.stopwords("en"))
      docs.select(col(idCol).as("doc_id"),
        nTok.as("n_tokens"), nChar.as("char_len"),
        (nLetter.cast("double") / nChar.cast("double")).as("letter_ratio"),
        (nStop.cast("double") / nTok.cast("double")).as("stop_ratio"))
        .withColumn("verdict",
          when(col("n_tokens") >= 5 && col("letter_ratio") >= 0.5, lit("keep"))
            .otherwise(lit("drop")))
    }
    def gramHashes(docs: DataFrame, idCol: String, textCol: String, n: Int): DataFrame =
      docs.select(col(idCol).as("doc_id"),
          transform(letterTokens(col(textCol)), t => xxhash64(t)).as("__th"))
        .select(col("doc_id"),
          explode(when(size(col("__th")) >= n,
            transform(sequence(lit(0), size(col("__th")) - lit(n)),
              i => xxhash64((1 to n).map(j => element_at(col("__th"), i + lit(j))): _*)))
            .otherwise(array().cast("array<bigint>"))).as("gh"))
    def rowSignatures(docs: DataFrame, idCol: String, textCol: String,
        ngram: Int, numHashes: Int): DataFrame = {
      val th = transform(letterTokens(col(textCol)), t => xxhash64(t))
      docs.select(col(idCol).as("doc_id"), th.as("__th"))
        .where(size(col("__th")) >= ngram)
        .select(col("doc_id"),
          transform(sequence(lit(0), size(col("__th")) - lit(ngram)),
            i => xxhash64((1 to ngram).map(j =>
              element_at(col("__th"), i + lit(j))): _*)).as("__gh"))
        .select(col("doc_id"),
          array((0 until numHashes).map(i =>
            array_min(transform(col("__gh"), h => xxhash64(lit(i), h)))): _*)
            .as("sig"))
    }
  }

  /** Text pieces: stopwords in every case, random words, the letters
    * whose lower-casing changes length or form (İ, ß, Σ), letters and
    * Han outside the BMP, a combining mark, emoji, digits, every `\s`
    * character, whitespace that is not `\s`, punctuation, a lone
    * surrogate. */
  private val piece: Gen[String] = Gen.frequency(
    5 -> Gen.oneOf("the", "of", "and", "a", "is", "el", "la", "de", "que",
      "der", "die", "nicht", "le", "les", "une", "The", "OF", "DIE", "Nicht"),
    4 -> Gen.alphaStr.map(_.take(7)),
    3 -> Gen.oneOf("\u0130", "\u00DF", "\u03A3", "\u03C2", "\u0130stanbul",
      "STRASSE", "stra\u00DFe", "\u03A3\u039F\u03A6\u0399\u0391",
      "\uD835\uDC00\uD835\uDC01", "\uD840\uDC00", "\u4E2D\u6587",
      "\u65E5\u672C\u8A9E", "\u00E9", "e\u0301", "\u0307", "\u01C5",
      "\uD83D\uDE00", "\uFB01", "\uD800"),
    4 -> Gen.oneOf(" ", "  ", "\t", "\u000B", "\n", "\r\n", "\f",
      "\u00A0", "\u2003", "\u0085", "-", ",", ".", "'", "_"),
    2 -> Gen.numStr.map(_.take(4)))

  /** Nulls, empty strings, texts of a few pieces (fewer than n tokens)
    * and of up to 40. */
  private val text: Gen[Option[String]] = Gen.frequency(
    1 -> Gen.const(None),
    1 -> Gen.const(Some("")),
    3 -> Gen.listOfN(3, piece).map(p => Some(p.mkString)),
    10 -> Gen.listOf(piece).map(p => Some(p.take(40).mkString)))

  private val batch: Gen[Seq[Option[String]]] = Gen.listOfN(80, text)

  private def check(prop: Prop, n: Int = 6): Unit = {
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(n), prop)
    assert(res.passed, res.status.toString)
  }

  private def frame(texts: Seq[Option[String]]): DataFrame =
    texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")

  /** The rows where `kernel` and `composed` differ, as printable text. */
  private def mismatches(df: DataFrame, pairs: (String, Column, Column)*): Seq[String] = {
    val cols = pairs.flatMap { case (n, k, c) => Seq(k.as(s"k_$n"), c.as(s"c_$n")) }
    df.select((col("text") +: cols): _*).collect().toSeq.flatMap { r =>
      pairs.indices.collect {
        case i if r.get(1 + 2 * i) != r.get(2 + 2 * i) =>
          s"${pairs(i)._1} of ${Option(r.getString(0)).map(_.map(_.toInt.toHexString).mkString(" "))}: " +
            s"kernel ${r.get(1 + 2 * i)} vs composed ${r.get(2 + 2 * i)}"
      }
    }
  }

  private def tokenPairs(t: Column): Seq[(String, Column, Column)] = Seq(
    ("letterTokens", TextFns.letterTokens(t), Composed.letterTokens(t)),
    ("wsTokens", TextFns.wsTokens(t), Composed.wsTokens(t)),
    ("letterTokens of lower", TextFns.letterTokens(lower(t)), Composed.lowerTokens(t))) ++
    Seq(1, 2, 3).map(n => (s"wordNGrams $n",
      TextFns.wordNGrams(TextFns.letterTokens(t), n),
      Composed.wordNGrams(Composed.letterTokens(t), n)))

  private def sorted(df: DataFrame): Seq[Row] =
    try df.collect().toSeq.sortBy(_.toString) finally Caches.release()

  test("tokenizers and wordNGrams == their lambda compositions on random text") {
    check(Prop.forAll(batch) { texts =>
      val bad = mismatches(frame(texts), tokenPairs(col("text")): _*)
      assert(bad.isEmpty, bad.take(5).mkString("\n"))
      true
    })
  }

  test("wordNGrams skips null elements as concat_ws does; a null array has no grams") {
    val df = Seq((1L, "x")).toDF("doc_id", "text")
    val arr = array(lit("a"), lit(null).cast("string"), lit("b"), lit("c"))
    val nul = lit(null).cast("array<string>")
    val bad = mismatches(df,
      ("wordNGrams nulls", TextFns.wordNGrams(arr, 2), Composed.wordNGrams(arr, 2)),
      ("wordNGrams null", TextFns.wordNGrams(nul, 2), Composed.wordNGrams(nul, 2)))
    assert(bad.isEmpty, bad.mkString("\n"))
  }

  private def withLegacySizeOfNull(body: => Unit): Unit = {
    val keys = Seq("spark.sql.legacy.sizeOfNull", "spark.sql.ansi.enabled")
    val before = keys.map(k => k -> spark.conf.getOption(k))
    spark.conf.set("spark.sql.legacy.sizeOfNull", "true")
    spark.conf.set("spark.sql.ansi.enabled", "false")
    try body
    finally before.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("kernels read text that is not valid UTF-8 as the regex split does") {
    val hex = Seq("61C080622063", "ED A080 6162 20 6364", "FF61 62FE 20 E4B8",
      "F4908080 61 62 63 20 64 65 66", "E4B8AD E4B8 87 20 C3 9F 20 61 62 63 20 74 68 65",
      "CE A3 CE 9F 20 C4B0 73 74 20 61")
      .map(_.replace(" ", ""))
    val df = hex.zipWithIndex.map { case (h, i) => (i.toLong, h) }.toDF("doc_id", "h")
      .select(col("doc_id"), unhex(col("h")).cast("string").as("text"))
    val t = col("text")
    val bad = mismatches(df, tokenPairs(t): _*)
    assert(bad.isEmpty, bad.mkString("\n"))
    assert(sorted(Dedup.gramHashes(df, "doc_id", "text", 2)) ===
      sorted(Composed.gramHashes(df, "doc_id", "text", 2)))
    assert(sorted(Dedup.rowSignatures(df, "doc_id", "text", 2, 8)) ===
      sorted(Composed.rowSignatures(df, "doc_id", "text", 2, 8)))
    assert(sorted(TextAnalysis.langId(df, "doc_id", "text")) ===
      sorted(Composed.langId(df, "doc_id", "text")))
  }

  test("gramHashes and rowSignatures == their lambda compositions on random text") {
    check(Prop.forAll(batch) { texts =>
      val df = frame(texts)
      for (n <- Seq(1, 3)) {
        assert(sorted(Dedup.gramHashes(df, "doc_id", "text", n)) ===
          sorted(Composed.gramHashes(df, "doc_id", "text", n)), s"gramHashes n=$n")
        assert(sorted(Dedup.rowSignatures(df, "doc_id", "text", n, 16)) ===
          sorted(Composed.rowSignatures(df, "doc_id", "text", n, 16)), s"rowSignatures n=$n")
      }
      true
    }, n = 4)
  }

  test("quality and langId == their lambda compositions on random text") {
    check(Prop.forAll(batch) { texts =>
      val df = frame(texts)
      // the composition divides by the token count: a text without one
      // fails it under ANSI (next test), so it is left out here
      val scored = df.where(col("text").isNull || size(Composed.wsTokens(col("text"))) > 0)
      val q = TextAnalysis.quality(scored, "doc_id", "text")
      val ref = Composed.quality(scored, "doc_id", "text")
      assert(q.schema === ref.schema)
      assert(sorted(q) === sorted(ref))
      val l = TextAnalysis.langId(df, "doc_id", "text")
      val lref = Composed.langId(df, "doc_id", "text")
      assert(l.schema === lref.schema)
      assert(sorted(l) === sorted(lref))
      true
    })
  }

  test("quality of a text without tokens has null ratios and the verdict drop") {
    val texts = Seq("", " \t ")
    assert(sorted(TextAnalysis.quality(frame(texts.map(Some(_))), "doc_id", "text")) ===
      Seq(Row(0L, 0, 0, null, null, "drop"), Row(1L, 0, 3, 0.0, null, "drop")))
    // the composition it replaced divides by 0, which fails under ANSI
    for (t <- texts)
      assert(intercept[org.apache.spark.SparkThrowable](
        Composed.quality(frame(Seq(Some(t))), "doc_id", "text").collect())
        .getCondition === "DIVIDE_BY_ZERO")
  }

  test("quality and langId of a null text match under spark.sql.legacy.sizeOfNull") {
    val df = frame(Seq(None, Some("the cat and the dog"), Some("中文 text")))
    withLegacySizeOfNull {
      assert(sorted(TextAnalysis.quality(df, "doc_id", "text")) ===
        sorted(Composed.quality(df, "doc_id", "text")))
      assert(sorted(TextAnalysis.langId(df, "doc_id", "text")) ===
        sorted(Composed.langId(df, "doc_id", "text")))
    }
  }

  /** `rows` as a local batch and as the same rows read back from parquet. */
  private def bothPaths(rows: Seq[(Long, String)]): (DataFrame, DataFrame) = {
    val local = rows.toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("graft_kernels").resolve("t").toString
    local.write.parquet(dir)
    (local, spark.read.parquet(dir))
  }

  test("quality, langId and incrementalDedupPairs: a local batch == the same rows from parquet") {
    val words = "alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo lima".split(" ")
    val rng = new scala.util.Random(7)
    def doc(n: Int) = Seq.fill(n)(words(rng.nextInt(words.length))).mkString(" ")
    val corpusRows = (1L to 40L).map(i => i -> doc(30))
    val batchRows = (101L to 130L).map { i =>
      if (i % 3 == 0) i -> (corpusRows((i % 40).toInt)._2 + " mike")
      else i -> (if (i % 5 == 0) "der die und das ist nicht ein zu" else doc(25))
    } ++ Seq(131L -> "\u4E2D\u6587\u6587\u672C", 132L -> "the of")
    val (local, parquet) = bothPaths(batchRows)
    for (f <- Seq[DataFrame => DataFrame](
        TextAnalysis.quality(_, "doc_id", "text"),
        TextAnalysis.langId(_, "doc_id", "text")))
      assert(sorted(f(local)) === sorted(f(parquet)))

    val corpus = corpusRows.toDF("doc_id", "text")
    val idx = java.nio.file.Files.createTempDirectory("graft_kernels_band").resolve("i").toString
    Dedup.writeBandIndex(corpus, "doc_id", "text", idx)
    val dedup = Seq(local, parquet).map(b =>
      sorted(Dedup.incrementalDedupPairs(b, corpus, idx, "doc_id", "text")))
    assert(dedup(0) === dedup(1))
    assert(dedup(0).size >= 10, "every planted copy pairs with its source")
  }
}
