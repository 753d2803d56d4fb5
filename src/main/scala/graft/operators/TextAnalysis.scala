package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.TextFns

/** Text-analysis operators for training-data pipelines: language ID,
  * quality scoring, token counting, fingerprinting. All pure Catalyst
  * expression compositions — per-row, embarrassingly parallel, no
  * shuffle at all, so they run at scan speed on any corpus size.
  */
object TextAnalysis {

  /** Tiny per-language stopword tables for the n-gram/stopword heuristic
    * language identifier. Deliberately small and deterministic. */
  val stopwords: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "of", "and", "to", "in", "a", "is", "it", "for", "on"),
    "es" -> Seq("el", "la", "de", "que", "y", "en", "los", "se", "un", "por"),
    "de" -> Seq("der", "die", "und", "das", "ist", "nicht", "ein", "zu", "mit", "den"),
    "fr" -> Seq("le", "la", "les", "de", "et", "est", "un", "une", "dans", "que"))

  /** Every per-document count [[quality]] and [[langId]] read, and
    * langId's decision, from one native pass
    * ([[graft.functions.expr.TextStats]]): a struct of `ws_tokens`,
    * `letters`, `han`, `chars`, one stopword score per language
    * (`en`, `es`, `de`, `fr`) and `pred_lang`. */
  private def textStats(t: Column): Column = {
    import org.apache.spark.sql.graft.shim
    shim.column(new graft.functions.expr.TextStats(shim.expression(t),
      shim.expression(lower(t)),
      Seq("en", "es", "de", "fr").map(l => l -> stopwords(l))))
  }

  /** Language-ID: Han-script ratio decides zh (no spaces, stopwords
    * useless there); otherwise argmax of per-language stopword scores
    * with a fixed priority tie-break (en > es > de > fr), 'und' when
    * nothing matched. The scores and the decision come from one
    * [[textStats]] struct, projected once and then read field by
    * field. */
  def langId(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val s = col("__s")
    docs.select(col(idCol).as("doc_id"), textStats(col(textCol)).as("__s"))
      .select(col("doc_id"),
        s("en").as("score_en"), s("es").as("score_es"),
        s("de").as("score_de"), s("fr").as("score_fr"),
        s("han").cast("long").as("han_chars"),
        s("pred_lang").as("pred_lang"))
  }

  /** The [[langId]] decision as one scalar column — composable into a
    * wider projection so consumers ([[datasetCard]]) predict the
    * language inside THEIR scan instead of joining langId's output. */
  private def predLang(t: Column): Column = textStats(t)("pred_lang")

  /** Heuristic quality metrics: token count, char length, letter ratio,
    * stopword ratio, and a coarse keep/drop verdict. All ratios are
    * exact integer divisions cast to double (bit-stable cross-engine).
    * A ratio whose denominator is 0 is null, as DuckDB's `x / 0` is: an
    * empty text has a null `letter_ratio`, a text without a whitespace
    * token a null `stop_ratio`, and both get the verdict `drop`. */
  def quality(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val s = col("__s")
    docs.select(col(idCol).as("doc_id"), textStats(col(textCol)).as("__s"))
      .select(col("doc_id"),
        s("ws_tokens").as("n_tokens"), s("chars").as("char_len"),
        try_divide(s("letters").cast("double"), s("chars").cast("double")).as("letter_ratio"),
        try_divide(s("en").cast("double"), s("ws_tokens").cast("double")).as("stop_ratio"))
      .withColumn("verdict",
        when(col("n_tokens") >= 5 && col("letter_ratio") >= 0.5, lit("keep"))
          .otherwise(lit("drop")))
  }

  /** Token counting two ways: whitespace tokens and a BPE-ish regex
    * (alnum runs). */
  def tokenCounts(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val t = col(textCol)
    docs.select(col(idCol).as("doc_id"),
      size(TextFns.wsTokens(t)).as("ws_tokens"),
      size(filter(split(t, "[^A-Za-z0-9]+"), x => length(x) > 0)).as("alnum_tokens"),
      length(t).as("char_len"))
  }

  /** Content fingerprint: md5 of the canonical normalization, first 16
    * hex chars. Identical duplicates (post-normalization) collide. */
  def fingerprint(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol).as("doc_id"),
      substring(md5(TextFns.normalized(col(textCol))), 1, 16).as("fp"))

  /** Bottom-m document sketch (winnowing-style): the m lexicographically
    * smallest md5 hashes of the doc's distinct word n-grams. Sketch
    * overlap estimates n-gram Jaccard (bottom-m is a uniform sample of
    * the gram universe); two near-dup docs share most fingerprints.
    * One shuffle (rank per doc via window); sketch size is bounded so
    * downstream pair-matching joins carry m rows per doc, not the full
    * gram set. */
  def bottomMSketch(docs: DataFrame, idCol: String, textCol: String,
      ngram: Int = 3, m: Int = 8): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val grams = Dedup.gramSets(docs, idCol, textCol, ngram)
    val w = Window.partitionBy(col("doc_id")).orderBy(col("fp_hash").asc)
    grams.select(col("doc_id"), md5(col("g")).as("fp_hash"))
      .withColumn("rk", row_number().over(w))
      .where(col("rk") <= m)
      .select(col("doc_id"), col("rk").cast("long").as("rk"), col("fp_hash"))
  }

  /** TF-IDF top-k terms per document, in pure integer arithmetic so the
    * ranking is bit-stable across engines: idf_q = (N * 1e6) DIV df
    * (floor division), score = tf * idf_q. Monotone in the real
    * tf·log-idf ranking for fixed tf and strictly decreasing in df —
    * the same keeper set as float TF-IDF except at ties, which the
    * (score, term) ordering breaks deterministically.
    *
    * Two shuffles: (doc, term) tf aggregation, then term df aggregation
    * joined back on term (term-partitioned, partial-agg'd). The corpus
    * size N is a one-row aggregate, broadcast. */
  def tfidfTopTerms(docs: DataFrame, idCol: String, textCol: String,
      k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = docs.select(col(idCol).as("doc_id"),
        explode(TextFns.letterTokens(col(textCol))).as("term"))
    val tf = toks.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    // tf is (doc, term)-unique, so df = row count per term
    val df = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val n = docs.agg(countDistinct(col(idCol)).as("n_docs"))
    val scored = tf.join(df, "term").crossJoin(broadcast(n))
      .withColumn("score",
        col("tf") * expr("(n_docs * 1000000L) DIV df"))
    val w = Window.partitionBy("doc_id")
      .orderBy(col("score").desc, col("term").asc)
    scored.withColumn("rk", row_number().over(w)).where(col("rk") <= k)
      .select(col("doc_id"), col("term"), col("tf"), col("df"),
        col("score"), col("rk").cast("long").as("rk"))
  }

  /** Per-document n-gram repetition stats — the "most repeated phrase"
    * quality signal (high ratios mark boilerplate/spam for filtering).
    * rep_ratio = occurrences of the most frequent n-gram / total
    * n-grams; a single double division of two exact integers, so
    * bit-stable. Docs with fewer than n tokens (no grams) are absent.
    * One (doc, gram) aggregation + one per-doc aggregation — both
    * doc-partitioned, no window. */
  def repetitionStats(docs: DataFrame, idCol: String, textCol: String,
      n: Int = 3): DataFrame = {
    val counts = Dedup.rawGrams(docs, idCol, textCol, n)
      .groupBy("doc_id", "g").agg(count(lit(1)).as("cnt"))
    counts.groupBy("doc_id").agg(
        sum(col("cnt")).as("n_grams"),
        count(lit(1)).as("n_distinct"),
        max(col("cnt")).as("max_cnt"))
      .select(col("doc_id"), col("n_grams"), col("n_distinct"), col("max_cnt"),
        (col("max_cnt").cast("double") / col("n_grams").cast("double"))
          .as("rep_ratio"))
  }

  /** Corpus-trained bigram language-model fluency score per document —
    * the KenLM-style perplexity quality filter of a pretraining
    * pipeline, in exact integer arithmetic so it oracle-checks
    * bit-for-bit. Per bigram occurrence (w1, w2):
    * `q = (count(w1 w2) * 10^6) DIV count(w1)` — a scaled conditional
    * probability in [0, 10^6] (c12 <= c1 always). Per doc:
    * n_bigrams, sum_q, avg_q = sum_q DIV n_bigrams. Low avg_q marks
    * improbable token sequences (gibberish, boilerplate mashes); docs
    * with fewer than 2 tokens have no bigrams and are absent.
    *
    * Scale shape (the TF-IDF shape): one (doc, bigram) pass, bigram and
    * unigram count tables partial-agg'd map-side and equi-joined back
    * on their keys — shuffle ∝ corpus tokens, never vocabulary².
    * Natural-language bigram keys are Zipf-skewed but bounded by the
    * corpus (a hot bigram is one reducer's worth of SUM, not a pair
    * blow-up). */
  def bigramLmScore(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = docs.select(col(idCol).as("doc_id"),
      TextFns.letterTokens(col(textCol)).as("__toks"))
    val bi = toks.select(col("doc_id"),
        explode(TextFns.wordNGrams(col("__toks"), 2)).as("bg"))
      .withColumn("w1", substring_index(col("bg"), " ", 1))
    val biCounts = bi.groupBy("bg").agg(count(lit(1)).as("c12"))
    val uniCounts = toks.select(explode(col("__toks")).as("w1"))
      .groupBy("w1").agg(count(lit(1)).as("c1"))
    bi.join(biCounts, "bg").join(uniCounts, "w1")
      .withColumn("q", expr("(c12 * 1000000L) DIV c1"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"), sum(col("q")).as("sum_q"))
      .withColumn("avg_q", expr("sum_q DIV n_bigrams"))
  }

  /** EXACT heavy hitters via an approximate candidate pass: one
    * streaming-sketch scan (`stat.freqItems`, Karp-Papadimitriou-
    * Shenker — guarantees NO false negatives for items with frequency
    * > support·n) produces a small candidate set, then one exact
    * count over candidates verifies. The result is exactly "terms with
    * count >= minCount" provided minCount >= support·n_tokens — the
    * same candidate/verify split as MinHash dedup, and the 100 TB
    * shape: the exact groupBy only aggregates rows matching ~dozens of
    * candidate terms (filter pushed to the scan), never the full
    * vocabulary.
    *
    * The candidate array crosses the driver (bounded by 1/support
    * items — KBs); at scale it broadcasts back into the filter. */
  def heavyHitterTerms(docs: DataFrame, idCol: String, textCol: String,
      minShare: Double = 0.01): DataFrame = {
    val toks = docs.select(explode(TextFns.letterTokens(col(textCol))).as("term"))
    // the total token count rides the SKETCH pass as an observed metric
    // (CollectMetrics node on the freqItems scan) — two corpus passes
    // total (sketch, verify), not three; freqItems is a Dataset
    // aggregation (CollectFrequentItems), so its action fills the
    // observation
    val obs = org.apache.spark.sql.Observation()
    val observed = toks.observe(obs, count(lit(1)).as("n_tokens"))
    // sketch support at half the target share → candidate set provably
    // covers every term at or above minCount
    val candidates = observed.stat.freqItems(Seq("term"), minShare / 2)
      .head().getSeq[String](0)
    val nTokens = obs.get("n_tokens").asInstanceOf[Long]
    val minCount = math.ceil(nTokens * minShare).toLong
    toks.where(col("term").isin(candidates: _*))
      .groupBy("term").agg(count(lit(1)).as("cnt"))
      .where(col("cnt") >= minCount)
  }

  /** Exact heavy hitters via a Count-Min sketch pre-filter — the
    * streaming-classic alternative to [[heavyHitterTerms]]'s freqItems
    * path, using Spark's own `count_min_sketch` aggregate (the sketch
    * behind `DataFrameStatFunctions.countMinSketch`).
    *
    * Two passes: (1) one map-side-combined aggregation builds a CMS of
    * the whole token stream (a few hundred KB regardless of corpus
    * size); (2) the probe pass keeps only occurrences whose ESTIMATE
    * reaches the threshold — CMS never underestimates, so every true
    * heavy hitter survives (no false negatives) — then an exact count
    * over that candidate-only stream drops the sketch's false
    * positives. At 100 TB the win is the same as [[heavyHitterTerms]]:
    * the exact-count shuffle carries only near-heavy tokens, never the
    * full vocabulary; unlike freqItems the sketch size is independent
    * of the candidate count, and the estimate filter is a pure map-side
    * predicate (sketch ships once per executor via the closure).
    *
    * The estimate runs through a tiny Scala UDF wrapping the sketch's
    * own `estimateCount` (depth hash probes per token) — the one place
    * a UDF is the right tool: the probe must bit-match the library
    * sketch it queries, and it touches only the probe column. */
  def cmsHeavyHitters(docs: DataFrame, textCol: String,
      minShare: Double = 0.01, eps: Double = 1e-4,
      confidence: Double = 0.999): DataFrame = {
    val toks = docs.select(explode(TextFns.letterTokens(col(textCol))).as("term"))
    // sketch and total token count in ONE aggregation — two corpus
    // passes total (sketch+count, verify), not three
    val sketchRow = toks
      .select(expr(s"count_min_sketch(term, ${eps}d, ${confidence}d, 42)").as("s"),
        count(lit(1)).as("n"))
      .head()
    val sketchBytes = sketchRow.getAs[Array[Byte]](0)
    val minCount = math.ceil(sketchRow.getLong(1) * minShare).toLong
    val cms = org.apache.spark.util.sketch.CountMinSketch
      .readFrom(new java.io.ByteArrayInputStream(sketchBytes))
    val estimate = udf((t: String) => cms.estimateCount(t))
    toks.where(estimate(col("term")) >= minCount)
      .groupBy("term").agg(count(lit(1)).as("cnt"))
      .where(col("cnt") >= minCount)
  }

  /** Benchmark decontamination: flag training documents sharing at least
    * one word `n`-gram with an evaluation set — the standard guard
    * against test-set leakage in a pretraining corpus (n-gram overlap
    * decontamination, as in the GPT-3/PaLM data papers).
    *
    * Returns one row per CONTAMINATED training doc:
    * (doc_id, n_shared_grams) — the count of distinct eval grams it
    * contains.
    *
    * Scale shape: the eval side is a benchmark suite — fixed size,
    * independent of corpus scale — so its distinct gram set is
    * broadcast; the training corpus is scanned once and map-side
    * gram-joined with NO pre-shuffle (the per-doc gram dedup happens
    * inside the count-distinct, AFTER the match filter), so the only
    * shuffled rows are actual contamination hits. At 100 TB: one pass
    * over the corpus, shuffle ∝ contamination volume — a corpus-wide
    * distinct-gram shuffle here would dwarf the whole job. */
  def decontaminate(train: DataFrame, eval: DataFrame, idCol: String,
      textCol: String, n: Int = 5): DataFrame = {
    val trainGrams = Dedup.rawGrams(train, idCol, textCol, n)
    val evalGrams = Dedup.gramSets(eval, idCol, textCol, n)
      .select(col("g")).distinct()
    trainGrams.join(broadcast(evalGrams), "g")
      .groupBy("doc_id").agg(countDistinct(col("g")).as("n_shared_grams"))
  }

  /** RAG-style document chunking: split each doc's token stream into
    * overlapping windows of `chunkSize` tokens every `stride` tokens
    * (overlap = chunkSize - stride). The last chunk covers the tail and
    * may be shorter; docs shorter than one chunk yield exactly one.
    *
    * Row-local fan-out (explode over a generated index sequence) — no
    * shuffle at all, chunks stream out of the scan at any corpus size.
    * Emits (doc_id, chunk_idx, start_tok, n_tok, chunk_md5): the hash
    * commits to the exact chunk text without shipping it. */
  def chunkDocs(docs: DataFrame, idCol: String, textCol: String,
      chunkSize: Int, stride: Int): DataFrame = {
    require(chunkSize >= 1 && stride >= 1 && stride <= chunkSize)
    docs.select(col(idCol).as("doc_id"),
        TextFns.letterTokens(col(textCol)).as("__toks"))
      .withColumn("n", size(col("__toks")).cast("long"))
      .where(col("n") > 0)
      .withColumn("chunk_idx", explode(sequence(lit(0L),
        when(col("n") <= chunkSize, lit(0L))
          .otherwise(expr(s"(n - $chunkSize + $stride - 1) DIV $stride")))))
      .withColumn("start_tok", col("chunk_idx") * stride)
      .withColumn("n_tok",
        least(lit(chunkSize.toLong), col("n") - col("start_tok")))
      .select(col("doc_id"), col("chunk_idx"), col("start_tok"), col("n_tok"),
        md5(concat_ws(" ", slice(col("__toks"),
          (col("start_tok") + 1).cast("int"), col("n_tok").cast("int"))))
          .as("chunk_md5"))
  }

  /** Sequence packing for LLM pretraining: concatenate documents in
    * deterministic (doc_id) order and chunk the token stream into
    * fixed-`budget` context windows — each doc's bin is where its FIRST
    * token lands (concat-and-chunk packing, the GPT-style scheme where
    * documents may straddle window boundaries).
    *
    * Packing is per `shard` (`doc_id DIV docsPerShard`): a GLOBAL
    * running token sum would serialize the corpus through one
    * partition, and real pipelines pack per output shard anyway. Each
    * shard's window is an independent partition of the prefix-sum
    * window — embarrassingly parallel, deterministic, reproducible.
    *
    * Returns (doc_id, shard, n_tokens, start_tok, bin). */
  def packSequences(docs: DataFrame, idCol: String, textCol: String,
      budget: Int, docsPerShard: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(budget >= 1 && docsPerShard >= 1)
    val w = Window.partitionBy(col("shard")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    docs.select(col(idCol).as("doc_id"),
        size(TextFns.letterTokens(col(textCol))).cast("long").as("n_tokens"))
      .withColumn("shard", expr(s"doc_id DIV $docsPerShard"))
      .withColumn("start_tok",
        coalesce(sum(col("n_tokens")).over(w), lit(0L)))
      .withColumn("bin", expr(s"start_tok DIV $budget"))
  }

  /** BALANCED sequence packing: round-robin-DECREASING assignment
    * instead of [[packSequences]]' arrival-order greedy split. Within
    * each shard, docs are ranked by token count (desc, id tie-break)
    * and dealt rank-mod-nbins into nbins = ⌈shard tokens / budget⌉
    * bins, so every bin gets one doc from each size "layer" — the
    * parallel-friendly cousin of first-fit-decreasing: per-bin load
    * imbalance is bounded by the largest single document, where greedy
    * arrival order can leave a bin holding only the tail of a giant
    * doc. Whole docs move (no splitting), so bins can exceed `budget`
    * by at most their largest member — the padding-vs-truncation
    * trade-off a training loader makes when documents must stay
    * intact.
    *
    * Scale shape: the sort is WITHIN a shard (same unit as
    * [[trainingShards]] — the honest physical shape: one packer must
    * see a shard's sizes together; shards scale out with the corpus),
    * per-shard bin counts are a tiny broadcast aggregate, and the
    * rollup is map-side-combinable. All-integer → full oracle.
    *
    * Returns one row per (shard, bin):
    * (shard, bin, n_docs, bin_tokens, fill_ppm vs budget). */
  def packBalanced(docs: DataFrame, idCol: String, textCol: String,
      budget: Int, docsPerShard: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(budget >= 1 && docsPerShard >= 1)
    val counts = docs.select(col(idCol).as("doc_id"),
        size(TextFns.letterTokens(col(textCol))).cast("long").as("n_tokens"))
      .withColumn("shard", expr(s"doc_id DIV $docsPerShard"))
    val nbins = counts.groupBy("shard")
      .agg(greatest(lit(1L),
        expr(s"(sum(n_tokens) + ${budget - 1}L) DIV ${budget}L"))
        .as("nbins"))
    counts
      .withColumn("__rk", row_number().over(Window.partitionBy(col("shard"))
        .orderBy(col("n_tokens").desc, col("doc_id").asc)))
      .join(broadcast(nbins), "shard")
      .withColumn("bin", expr("CAST((__rk - 1) % nbins AS BIGINT)"))
      .groupBy(col("shard"), col("bin"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("bin_tokens"))
      .withColumn("fill_ppm", expr(s"(bin_tokens * 1000000L) DIV ${budget}L"))
  }

  /** Source-balanced corpus mixing — the "data mixture" step of a
    * pretraining pipeline: downsample every source to (approximately)
    * the TOKEN budget of the smallest source, deterministically.
    * Per-source keep quota `cut_q = min(65536, (min_tokens * 65536)
    * DIV n_tokens)`; a doc survives iff the integer value of its id's
    * first 4 md5 hex digits is below its source's cut — exact integer
    * arithmetic end to end, reproducible at any partitioning, and the
    * same md5-prefix decision as [[Relational.deterministicSample]] so
    * mixtures compose with other deterministic samples.
    *
    * Returns one row per source: (source, n_docs, n_tokens, cut_q,
    * n_kept).
    *
    * Scale shape: one token-count scan with a map-side-combined
    * groupBy(source) (sources are FEW — this aggregate is tiny), the
    * per-source cuts broadcast back, and the keep decision is a pure
    * map-side predicate — the corpus is never shuffled. */
  def sourceBalancedMix(docs: DataFrame, idCol: String, textCol: String,
      sourceCol: String): DataFrame = {
    val withTok = docs.select(col(idCol).as("doc_id"),
      col(sourceCol).as("source"),
      size(TextFns.letterTokens(col(textCol))).cast("long").as("n_tok"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val stats = withTok.groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tokens"))
    val minTok = stats.agg(min(col("n_tokens")).as("min_tokens"))
    val cuts = stats.crossJoin(broadcast(minTok))
      .withColumn("cut_q",
        least(lit(65536L), expr("(min_tokens * 65536L) DIV n_tokens")))
    val kept = withTok
      .join(broadcast(cuts.select(col("source"), col("cut_q"))), "source")
      .where(conv(substring(md5(col("doc_id").cast("string")), 1, 4), 16, 10)
        .cast("long") < col("cut_q"))
      .groupBy("source").agg(count(lit(1)).as("n_kept"))
    cuts.join(kept, Seq("source"), "left")
      .select(col("source"), col("n_docs"), col("n_tokens"), col("cut_q"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"))
  }

  /** TEMPERATURE-sampled source mixing (the mT5/multilingual
    * rebalancing move, α = 0.5): sampling weight w_s = √(n_s tokens)
    * per source, so large sources are down-weighted sub-linearly —
    * low-resource sources keep proportionally more of a fixed token
    * budget than straight proportional sampling gives them, without the
    * min-source cliff of [[sourceBalancedMix]]. Target tokens per
    * source t_s = budget · w_s / Σw; keep cut `cut_q = min(65536,
    * (t_s·65536) DIV n_s)`; the doc-level decision is the same
    * md5-prefix predicate as every deterministic sample here.
    *
    * Engine-portable by construction: the ONLY non-integer step is
    * IEEE-754 `sqrt`, which is CORRECTLY ROUNDED by spec (unlike `pow`,
    * whose last-ulp freedom would make a general-α form drift across
    * engines — α=0.5 is exactly the portable point, and the common
    * choice in practice); `floor` of it re-enters exact integer
    * arithmetic.
    *
    * Returns one row per source:
    * (source, n_docs, n_tokens, w_q, target_tokens, cut_q, n_kept).
    *
    * Scale shape: identical to [[sourceBalancedMix]] — one token-count
    * scan, tiny per-source aggregate, broadcast cuts, map-side keep
    * predicate; the corpus never shuffles. */
  def temperatureMix(docs: DataFrame, idCol: String, textCol: String,
      sourceCol: String, budgetTokens: Long): DataFrame = {
    require(budgetTokens > 0)
    val withTok = docs.select(col(idCol).as("doc_id"),
      col(sourceCol).as("source"),
      size(TextFns.letterTokens(col(textCol))).cast("long").as("n_tok"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val cuts = temperatureCuts(withTok, budgetTokens)
    val kept = withTok
      .join(broadcast(cuts.select(col("source"), col("cut_q"))), "source")
      .where(conv(substring(md5(col("doc_id").cast("string")), 1, 4), 16, 10)
        .cast("long") < col("cut_q"))
      .groupBy("source").agg(count(lit(1)).as("n_kept"))
    cuts.join(kept, Seq("source"), "left")
      .select(col("source"), col("n_docs"), col("n_tokens"), col("w_q"),
        col("target_tokens"), col("cut_q"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"))
  }

  /** The per-source √-weighted cuts of [[temperatureMix]] from a
    * (doc_id, source, n_tok) relation: (source, n_docs, n_tokens, w_q,
    * target_tokens, cut_q). A source whose tokens scrubbed away
    * entirely keeps cut_q = 65536 (its zero-token docs are free). */
  private def temperatureCuts(withTok: DataFrame,
      budgetTokens: Long): DataFrame = {
    val stats = withTok.groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tokens"))
      .withColumn("w_q",
        floor(sqrt(col("n_tokens").cast("double"))).cast("long"))
    val wSum = stats.agg(sum(col("w_q")).as("w_sum"))
    stats.crossJoin(broadcast(wSum))
      .withColumn("target_tokens",
        expr(s"(${budgetTokens}L * w_q) DIV w_sum"))
      .withColumn("cut_q",
        when(col("n_tokens") === 0L, lit(65536L)).otherwise(
          least(lit(65536L), expr("(target_tokens * 65536L) DIV n_tokens"))))
  }

  /** DOC-level keep decisions of [[temperatureMix]] over PRECOMPUTED
    * token counts — the composable form a pipeline stage uses when the
    * budget must reflect upstream surgery (e.g.
    * [[dedupExactSubstrings]]' scrubbed counts, not raw bytes):
    * `counts` is (doc_id, source, n_tok); returns every input row with
    * its source's `cut_q` and the md5-prefix `kept` verdict. Same
    * arithmetic as [[temperatureMix]] (which reports the per-source
    * rollup of exactly these decisions). */
  def temperatureMixDocs(counts: DataFrame, budgetTokens: Long): DataFrame = {
    require(budgetTokens > 0)
    val cuts = temperatureCuts(counts, budgetTokens)
    counts
      .join(broadcast(cuts.select(col("source"), col("cut_q"))), "source")
      .withColumn("kept",
        conv(substring(md5(col("doc_id").cast("string")), 1, 4), 16, 10)
          .cast("long") < col("cut_q"))
  }

  /** FERTILITY-ADJUSTED language mix: [[temperatureMixDocs]] along the
    * predicted-language axis with each doc's budget cost denominated
    * in TOKENIZER tokens instead of words — closing the loop that
    * [[tokenizerFertility]] opens. A language whose BPE fertility is
    * 180 tokens per 100 words consumes a fixed training-token budget
    * 1.8× faster per word than one at 100, so a mix computed over
    * word counts systematically over-allocates high-fertility
    * languages; here cost = (words · fert_cpw) DIV 100 and the
    * √-temperature cuts run over COST masses.
    *
    * `fertCpw` (tokens per 100 words per language — the
    * [[tokenizerFertility]] measurement keyed by `langCol`) is an
    * explicit input: measured once per tokenizer release, applied as
    * config — the stored-thresholds stance of
    * [[calibratedKeepFromIndex]], which is also what keeps the whole
    * decision SQL-replayable (the BPE encode itself is not).
    * `langCol` is whatever language tag the pipeline trusts (a stored
    * provenance column, or [[langId]]'s prediction). Languages absent
    * from the map cost the neutral 100 (one token per word).
    * All-integer; one token-count scan, tiny per-language aggregate,
    * broadcast cuts, map-side keep — the corpus never shuffles.
    *
    * Returns per-doc rows:
    * (doc_id, lang, n_ws, n_tok = cost, cut_q, kept). */
  def fertilityAdjustedMix(docs: DataFrame, idCol: String,
      textCol: String, langCol: Column, budgetBpeTokens: Long,
      fertCpw: Map[String, Long]): DataFrame = {
    require(budgetBpeTokens > 0)
    require(fertCpw.values.forall(_ > 0), "fertility must be positive")
    val fert = fertCpw.toSeq.sortBy(_._1).foldLeft(lit(100L)) {
      case (acc, (l, f)) =>
        when(col("source") === l, lit(f)).otherwise(acc)
    }
    val counts = docs.select(col(idCol).as("doc_id"),
        langCol.as("source"),
        size(TextFns.letterTokens(col(textCol))).cast("long").as("n_ws"))
      .withColumn("__fert", fert)
      .withColumn("n_tok", expr("(n_ws * __fert) DIV 100"))
    temperatureMixDocs(counts.select("doc_id", "source", "n_ws", "n_tok"),
        budgetBpeTokens)
      .select(col("doc_id"), col("source").as("lang"), col("n_ws"),
        col("n_tok"), col("cut_q"), col("kept"))
  }

  /** Gopher-style document quality RULES (Rae et al. 2021, the rule
    * battery virtually every web-corpus pipeline reimplements) — the
    * named-heuristic complement to the score-based
    * [[scoreHashedLinear]]/quality filters: hard pass/fail per rule,
    * integer arithmetic end to end (mean word length in fixed-point
    * ×100; ratios as cross-multiplications — no float division
    * anywhere, so every engine agrees bit-for-bit).
    *
    * Rules (a doc KEEPS iff all hold):
    *  - word count in [minWords, maxWords] (whitespace words);
    *  - mean word length in [3, 10] characters;
    *  - ≥ 80% of words contain at least one letter;
    *  - ≤ 10% of lines start with a bullet (-, *, •);
    *  - ≤ 30% of lines end with an ellipsis.
    *
    * Pure per-row expressions — zero shuffle, scan speed, the filter
    * composes in front of any pipeline as a pushed-down predicate. */
  def gopherRules(docs: DataFrame, idCol: String, textCol: String,
      minWords: Int = 10, maxWords: Int = 100000): DataFrame = {
    val words = filter(split(col(textCol), "\\s+"), w => length(w) > 0)
    val lines = filter(split(col(textCol), "\n"), l => length(l) > 0)
    val nWords = size(words).cast("long")
    val charSum = aggregate(words, lit(0L), (acc, w) => acc + length(w))
    val nAlpha = size(filter(words, w => w.rlike("\\p{L}"))).cast("long")
    val nLines = size(lines).cast("long")
    val nBullet = size(filter(lines,
      l => l.rlike("^\\s*[-*•]"))).cast("long")
    val nEllipsis = size(filter(lines, l => l.rlike("\\.\\.\\.$"))).cast("long")
    docs.select(col(idCol).as("doc_id"),
        nWords.as("n_words"),
        charSum.as("__chars"),
        nAlpha.as("n_alpha_words"),
        nLines.as("n_lines"),
        nBullet.as("n_bullet_lines"),
        nEllipsis.as("n_ellipsis_lines"))
      .withColumn("mean_wlen_q",
        when(col("n_words") > 0,
          expr("(__chars * 100L) DIV n_words")).otherwise(lit(0L)))
      .withColumn("verdict",
        col("n_words") >= minWords && col("n_words") <= maxWords &&
        col("mean_wlen_q") >= 300L && col("mean_wlen_q") <= 1000L &&
        // >= 80% alpha words: n_alpha*5 >= n_words*4
        col("n_alpha_words") * 5L >= col("n_words") * 4L &&
        // <= 10% bullet lines, <= 30% ellipsis lines
        col("n_bullet_lines") * 10L <= col("n_lines") &&
        col("n_ellipsis_lines") * 10L <= col("n_lines") * 3L)
      .select(col("doc_id"), col("n_words"), col("mean_wlen_q"),
        col("n_alpha_words"), col("n_lines"), col("n_bullet_lines"),
        col("n_ellipsis_lines"), col("verdict"))
  }

  /** Cross-document repeated-span scrub — the "dedup repeated substrings"
    * pass of a pretraining pipeline (Lee et al., *Deduplicating Training
    * Data Makes Language Models Better*): any word `n`-gram occurring at
    * least `minCount` times across the WHOLE corpus is boilerplate; every
    * token covered by such a gram is removed from every document, and the
    * scrubbed text is re-assembled from the surviving tokens in order.
    *
    * Returns one row per document:
    * (doc_id, n_tokens, n_kept, n_removed, scrubbed_md5) — the md5
    * commits to the exact scrubbed text (space-joined kept tokens)
    * without shipping it.
    *
    * Scale shape — the corpus text is NEVER shuffled:
    *  1. gram-frequency pass: (gram, count) groupBy with map-side
    *     combine — shuffle ∝ token volume, same as word count;
    *  2. gram occurrences equi-join the frequent set on the gram key
    *     (AQE broadcasts it when small — its size is bounded by
    *     occurrences/minCount); matches fan out row-locally to the n
    *     covered positions;
    *  3. covered positions aggregate per doc (collect_set) — shuffle
    *     ∝ REMOVED volume only, carrying (doc_id, int) pairs;
    *  4. reconstruction is a row-local indexed `filter` over the doc's
    *     own token array after a doc-keyed join with the (small)
    *     covered-position arrays — no window, no sort, no text shuffle.
    * A hot gram ("click here to subscribe" × 10⁶) is one reducer's
    * COUNT in pass 1 and fans out row-locally in pass 2 — never a
    * pair-join blow-up. */
  def scrubFrequentSpans(docs: DataFrame, idCol: String, textCol: String,
      n: Int = 5, minCount: Long = 2L): DataFrame = {
    require(n >= 2 && minCount >= 2)
    val toks = docs.select(col(idCol).as("doc_id"),
      TextFns.letterTokens(col(textCol)).as("__toks"))
    // gram start positions: posexplode gives p = 0-based first-token index
    val grams = toks.select(col("doc_id"),
      posexplode(TextFns.wordNGrams(col("__toks"), n)).as(Seq("p", "g")))
    val freq = grams.groupBy("g").agg(count(lit(1)).as("cnt"))
      .where(col("cnt") >= minCount).select("g")
    val covered = grams.join(freq.hint("shuffle_hash"), "g")
      .select(col("doc_id"),
        explode(sequence(col("p"), col("p") + lit(n - 1))).as("cp"))
      .groupBy("doc_id").agg(collect_set(col("cp")).as("__cov"))
    toks.join(covered, Seq("doc_id"), "left")
      .withColumn("__cov", coalesce(col("__cov"), array().cast("array<int>")))
      .withColumn("__kept", filter(col("__toks"),
        (w, i) => !array_contains(col("__cov"), i)))
      .select(col("doc_id"),
        size(col("__toks")).cast("long").as("n_tokens"),
        size(col("__kept")).cast("long").as("n_kept"),
        (size(col("__toks")) - size(col("__kept"))).cast("long").as("n_removed"),
        md5(concat_ws(" ", col("__kept"))).as("scrubbed_md5"))
  }

  /** FIRST-OCCURRENCE exact-substring dedup — the "keep one copy"
    * variant of cross-document substring deduplication (Lee et al.,
    * *Deduplicating Training Data Makes Language Models Better*, the
    * ExactSubstr pass): for every word `n`-gram, the doc with the
    * SMALLEST doc_id containing it owns it; every occurrence in any
    * LATER doc is removed, and each doc's text is re-assembled from
    * its surviving tokens in order. Unlike [[scrubFrequentSpans]]
    * (which deletes a frequent span from EVERY doc including the
    * first), the OWNING doc's copy is the one position-2 removal never
    * touches — later docs lose only what an earlier doc already said.
    * Greedy positional approximation, not a "one copy always survives"
    * guarantee: when an owned span OVERLAPS positions the owning doc
    * itself loses to a still-earlier doc's span, the surviving copy can
    * be partially removed, so a gram can end with zero intact copies
    * (batch, incremental, and oracle all agree on this rule). Fires
    * even at 2 occurrences; spans repeated WITHIN a single doc are
    * untouched (the doc owns them).
    *
    * Returns one row per document:
    * (doc_id, n_tokens, n_kept, n_removed, scrubbed_md5) — the md5
    * commits to the exact scrubbed text without shipping it.
    *
    * Scale shape — [[gramNovelty]]'s ownership pass grafted onto
    * [[scrubFrequentSpans]]'s removal pass; corpus text never
    * shuffles:
    *  1. (gram -> min(doc_id)) ownership: duplicate-insensitive MIN,
    *     map-side combined — a 10⁶-copy boilerplate gram is one
    *     reducer's MIN, never a pair join;
    *  2. occurrences equi-join ownership on the gram key; rows where
    *     doc_id = owner die in the join filter, losers fan out
    *     row-locally to their n covered token positions;
    *  3. covered positions aggregate per doc — shuffle ∝ REMOVED
    *     volume only;
    *  4. reconstruction is a row-local indexed filter over the doc's
    *     own token array.
    * Gram STRINGS shuffle (not hashes): a collision would transfer
    * span ownership across unrelated docs — same correctness stance
    * as [[gramNovelty]]. */
  def dedupExactSubstrings(docs: DataFrame, idCol: String,
      textCol: String, n: Int = 5): DataFrame = {
    require(n >= 2)
    val toks = docs.select(col(idCol).as("doc_id"),
      TextFns.letterTokens(col(textCol)).as("__toks"))
    val grams = toks.select(col("doc_id"),
      posexplode(TextFns.wordNGrams(col("__toks"), n)).as(Seq("p", "g")))
    val owner = grams.groupBy("g").agg(min(col("doc_id")).as("__first"))
    val covered = grams.join(owner.hint("shuffle_hash"), "g")
      .where(col("doc_id") > col("__first"))
      .select(col("doc_id"),
        explode(sequence(col("p"), col("p") + lit(n - 1))).as("cp"))
      .groupBy("doc_id").agg(collect_set(col("cp")).as("__cov"))
    toks.join(covered, Seq("doc_id"), "left")
      .withColumn("__cov", coalesce(col("__cov"), array().cast("array<int>")))
      .withColumn("__kept", filter(col("__toks"),
        (w, i) => !array_contains(col("__cov"), i)))
      .select(col("doc_id"),
        size(col("__toks")).cast("long").as("n_tokens"),
        size(col("__kept")).cast("long").as("n_kept"),
        (size(col("__toks")) - size(col("__kept"))).cast("long").as("n_removed"),
        md5(concat_ws(" ", col("__kept"))).as("scrubbed_md5"))
  }

  /** Materialize the substring OWNERSHIP index for the incremental
    * exact-substring loop: one row (g, owner) per distinct corpus word
    * `n`-gram, owner = the doc that keeps the span
    * ([[dedupExactSubstrings]]'s min-doc_id rule at build time).
    * Gram strings are stored, not hashes — ownership transfer under a
    * collision is exactly the failure [[gramNovelty]] documents. */
  def writeSubstringOwnerIndex(docs: DataFrame, idCol: String,
      textCol: String, path: String, n: Int = 5,
      coalesceTo: Int = 0): Unit = {
    val owners = docs.select(col(idCol).as("doc_id"),
        explode(array_distinct(TextFns.wordNGrams(
          TextFns.letterTokens(col(textCol)), n))).as("g"))
      .groupBy("g").agg(min(col("doc_id")).as("owner"))
    (if (coalesceTo > 0) owners.coalesce(coalesceTo) else owners)
      .write.mode("overwrite").parquet(path)
  }

  /** One step of the INCREMENTAL exact-substring loop — the ingest form
    * of [[dedupExactSubstrings]] (cf. the minhash and containment
    * loops): scrub one arriving batch against every span the corpus has
    * EVER kept, without re-gramming the corpus. Ownership is
    * FIRST-ARRIVAL (batch order, then min doc_id within the batch):
    * a batch occurrence is covered iff its gram is in the stored index
    * under another doc's ownership, or a smaller-id doc of the same
    * batch introduced it. Exactly one copy of every span survives
    * corpus-wide — admitted text is immutable, later arrivals lose the
    * span regardless of their ids.
    *
    * Writes per-doc scrub rows (doc_id, n_tokens, n_kept, n_removed,
    * scrubbed_md5) to `<admittedRoot>/batch=<id>` and appends the
    * batch's NOVEL grams (owner = batch min doc) to the index so the
    * next batch scrubs against them. Ownership is indexed on the
    * PRE-scrub text: the owner keeps its span, so its grams really are
    * in the corpus.
    *
    * Replay contract: the scrub decision compares `doc_id != owner`
    * rather than bare index membership, so a replayed batch — whose own
    * grams a crashed attempt already appended — reproduces its original
    * decisions instead of scrubbing itself to empty; the index fold
    * anti-joins stored grams and appends nothing on replay; the result
    * directory is overwritten per batch (exactly-once).
    *
    * Scale shape: gram-keyed equi-joins ∝ batch grams; the corpus is
    * touched only through the stored (g, owner) read; covered-position
    * shuffle ∝ removed volume; index growth ∝ NOVEL grams (Heaps-law
    * sublinear on natural text). */
  def ingestSubstringScrubBatch(batch: DataFrame, batchId: Long,
      indexPath: String, admittedRoot: String, idCol: String = "doc_id",
      textCol: String = "text", n: Int = 5): Unit = {
    val spark = batch.sparkSession
    import graft.operators.Caches
    val toks = Caches.persist(batch.select(col(idCol).as("doc_id"),
      TextFns.letterTokens(col(textCol)).as("__toks")))
    try {
      if (toks.isEmpty) return
      val grams = Caches.persist(toks.select(col("doc_id"),
        posexplode(TextFns.wordNGrams(col("__toks"), n)).as(Seq("p", "g"))))
      val first = !graft.io.IndexPaths.complete(spark, indexPath)
      val covered =
        if (first) {
          // the fold below re-derives the same per-gram min — persist so
          // the batch's gram scan is paid once, not twice
          val own = Caches.persist(
            grams.groupBy("g").agg(min(col("doc_id")).as("owner")))
          grams.join(own.hint("shuffle_hash"), "g")
            .where(col("doc_id") > col("owner"))
        } else {
          val stored = spark.read.parquet(indexPath)
          val vsStored = grams.join(stored.hint("shuffle_hash"), "g")
            .where(col("doc_id") =!= col("owner"))
          val novel = grams.join(stored.select(col("g")).hint("shuffle_hash"),
            Seq("g"), "left_anti")
          val nOwn = novel.groupBy("g").agg(min(col("doc_id")).as("owner"))
          vsStored.select(col("doc_id"), col("p"))
            .unionByName(novel.join(nOwn, "g")
              .where(col("doc_id") > col("owner"))
              .select(col("doc_id"), col("p")))
        }
      val cov = covered
        .select(col("doc_id"), explode(sequence(col("p"),
          col("p") + lit(n - 1))).as("cp"))
        .groupBy("doc_id").agg(collect_set(col("cp")).as("__cov"))
      val result = toks.join(cov, Seq("doc_id"), "left")
        .withColumn("__cov",
          coalesce(col("__cov"), array().cast("array<int>")))
        .withColumn("__kept", filter(col("__toks"),
          (w, i) => !array_contains(col("__cov"), i)))
        .select(col("doc_id"),
          size(col("__toks")).cast("long").as("n_tokens"),
          size(col("__kept")).cast("long").as("n_kept"),
          (size(col("__toks")) - size(col("__kept"))).cast("long")
            .as("n_removed"),
          md5(concat_ws(" ", col("__kept"))).as("scrubbed_md5"))
      val sub = s"$admittedRoot/batch=$batchId"
      val subPath = new org.apache.hadoop.fs.Path(sub)
      if (subPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
          .exists(subPath))
        result.count() // replay: force before overwriting
      result.coalesce(4).write.mode("overwrite").parquet(sub)
      if (first)
        grams.groupBy("g").agg(min(col("doc_id")).as("owner"))
          .coalesce(8).write.mode("overwrite").parquet(indexPath)
      else {
        val stored = spark.read.parquet(indexPath).select(col("g"))
        val novel = grams.join(stored.hint("shuffle_hash"), Seq("g"), "left_anti")
          .groupBy("g").agg(min(col("doc_id")).as("owner"))
        novel.coalesce(8).write.mode("append").parquet(indexPath)
      }
    } finally Caches.release()
  }

  /** Housekeeping for the substring loop's append-only ownership index
    * (cf. [[Dedup.compactBandIndex]]): each batch's novel-gram fold
    * appends up to 8 files forever, so index reads pay listing+footer
    * costs ∝ ingest history. In-place crash-safe compaction (marker-
    * commit swap, [[graft.io.Compaction.compactDir]]); (g, owner) rows
    * preserved exactly, so scrub decisions are unchanged. The
    * scrub-RESULTS root is `batch=`-partitioned like the dedup loops'
    * admitted corpus — [[Dedup.compactAdmitted]] applies to it
    * unchanged. */
  def compactSubstringOwnerIndex(spark: org.apache.spark.sql.SparkSession,
      path: String, targetFiles: Int = 8): Unit =
    graft.io.Compaction.compactDir(spark, path, targetFiles)

  /** Per-document n-gram NOVELTY: the fraction of a doc's distinct
    * grams whose FIRST corpus occurrence (min doc_id) is this doc —
    * "how much content does this doc add that the corpus (in id
    * order) hasn't seen yet". The signal behind dedup-aware admission
    * ordering and corpus-growth accounting: near-copies of earlier
    * docs score ≈ 0, genuinely new material ≈ 1, template docs land in
    * between in proportion to their boilerplate.
    *
    * Scale shape (the TF-IDF shape): one (doc, gram) pass, a
    * map-side-combined `min(doc_id)` per gram, one gram-keyed join
    * back, one doc-keyed aggregation — shuffle ∝ corpus distinct gram
    * occurrences on uniform keys. A boilerplate gram shared by 10⁶
    * docs is one reducer's MIN and a row-count-proportional join
    * fan-out, never a pair blow-up. Gram STRINGS are shuffled (not
    * hashes) so the result is exactly engine-portable: a hash
    * collision would silently transfer first-occurrence credit; the
    * hashed variant is a documented bytes-on-wire optimization, not a
    * default. Docs with fewer than n tokens have no grams and are
    * absent. */
  def gramNovelty(docs: DataFrame, idCol: String, textCol: String,
      n: Int = 3): DataFrame = {
    val grams = docs.select(col(idCol).as("doc_id"),
        explode(array_distinct(TextFns.wordNGrams(
          TextFns.letterTokens(col(textCol)), n))).as("g"))
    val first = grams.groupBy("g").agg(min(col("doc_id")).as("__first"))
    grams.join(first.hint("shuffle_hash"), "g")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_distinct_grams"),
        sum(when(col("__first") === col("doc_id"), 1L).otherwise(0L))
          .as("n_novel"))
      .select(col("doc_id"), col("n_distinct_grams"), col("n_novel"),
        (col("n_novel").cast("double") /
          col("n_distinct_grams").cast("double")).as("novelty"))
  }

  /** Per-document MEMORIZATION-RISK audit: for every doc, how much of
    * it exists EXACTLY ONCE in the whole corpus — the content a model
    * can only emit verbatim by memorizing that single document
    * (Carlini et al., *Quantifying Memorization Across Neural Language
    * Models*: duplicated sequences are extractable from many sources;
    * singleton sequences pinpoint one). The criterion is
    * occurrence-level: a word `n`-gram with corpus-wide occurrence
    * count 1 (not even repeated inside its own doc) is "unique", and
    * risk_ppm = unique-gram occurrences per million gram positions.
    * High-risk docs are the PII/verbatim-leak review queue; they are
    * also exactly what [[dedupExactSubstrings]] can never reach (it
    * fires at >= 2 copies).
    *
    * Complements [[gramNovelty]] (which asks "is this doc the FIRST to
    * say each distinct gram" — batch-vs-corpus novelty, distinct
    * grams) — here the question is "is this doc the ONLY one to say
    * it", per occurrence.
    *
    * Returns the full per-doc annotation table
    * (doc_id, n_grams, n_unique, risk_ppm) — a downstream selection
    * input like the quality scores, not a top-k report. All-integer →
    * bit-exact on any engine.
    *
    * Scale shape — two aggregations, corpus text never shuffles twice:
    *  1. gram occurrence counts: map-side-combined count + MIN(doc_id)
    *     in ONE pass (for cnt = 1 the MIN is definitionally the owner,
    *     so no second join back to positions);
    *  2. owner rollup: shuffle ∝ singleton grams (one long each);
    *  3. per-doc totals are row-local; the final join is
    *     doc-table-sized.
    * Gram STRINGS shuffle, not hashes: a collision would merge two
    * singletons into a phantom duplicate and silently clear both
    * docs' risk — same stance as [[gramNovelty]]. */
  def memorizationRisk(docs: DataFrame, idCol: String, textCol: String,
      n: Int = 4): DataFrame = {
    require(n >= 2, "n must be at least 2")
    val toks = docs.select(col(idCol).as("doc_id"),
      TextFns.letterTokens(col(textCol)).as("__toks"))
    val grams = toks.select(col("doc_id"),
      explode(TextFns.wordNGrams(col("__toks"), n)).as("g"))
    val uniq = grams.groupBy("g")
      .agg(count(lit(1)).as("__cnt"), min(col("doc_id")).as("__only"))
      .where(col("__cnt") === 1L)
      .groupBy(col("__only").as("doc_id"))
      .agg(count(lit(1)).as("n_unique"))
    toks.select(col("doc_id"),
        greatest(size(col("__toks")) - lit(n - 1), lit(0)).cast("long")
          .as("n_grams"))
      .join(uniq, Seq("doc_id"), "left")
      .withColumn("n_unique", coalesce(col("n_unique"), lit(0L)))
      .withColumn("risk_ppm",
        when(col("n_grams") === 0L, lit(0L))
          .otherwise(expr("(n_unique * 1000000) DIV n_grams")))
  }

  /** Append one ingest batch to the stored MEMORIZATION index — the
    * incremental form of [[memorizationRisk]], same two-partial layout
    * discipline as [[appendToCardIndex]]: per-batch
    * `grams/batch=<id>` (gram, occurrence count, min doc) and
    * `stats/batch=<id>` (doc, gram positions) parquet dirs, each an
    * idempotent overwrite so a crashed append replays cleanly.
    * Batches must partition the corpus by document (the append
    * contract of every stored index here); gram counts then sum
    * across batches to exactly the union corpus's counts.
    *
    * Gram STRINGS are stored, not hashes — a collision would merge two
    * singletons into a phantom duplicate and silently clear both docs'
    * risk ([[memorizationRisk]]'s stance). Index size ∝ distinct
    * grams, the same price [[writeSubstringOwnerIndex]] pays. */
  def appendToMemorizationIndex(docs: DataFrame, idCol: String,
      textCol: String, path: String, batchId: Long, n: Int = 4,
      coalesceTo: Int = 1): Unit = {
    require(n >= 2, "n must be at least 2")
    val toks = docs.select(col(idCol).as("doc_id"),
      TextFns.letterTokens(col(textCol)).as("__toks"))
    def w(df: DataFrame, sub: String): Unit =
      (if (coalesceTo > 0) df.coalesce(coalesceTo) else df)
        .write.mode("overwrite").parquet(s"$path/$sub/batch=$batchId")
    w(toks.select(col("doc_id"),
        explode(TextFns.wordNGrams(col("__toks"), n)).as("g"))
      .groupBy("g")
      .agg(count(lit(1)).as("cnt"), min(col("doc_id")).as("own")), "grams")
    w(toks.select(col("doc_id"),
      greatest(size(col("__toks")) - lit(n - 1), lit(0)).cast("long")
        .as("n_grams")), "stats")
  }

  /** Per-doc memorization risk from the stored index — bit-identical
    * to [[memorizationRisk]] over the concatenated batches
    * (spec-pinned) with NO document text read: gram counts sum across
    * batch partials at read time, so the audit is RETROACTIVE — a doc
    * whose singleton gram is repeated by a LATER batch stops being a
    * memorization risk the moment that batch lands, exactly like
    * [[cardFromIndex]]'s corpus-wide dup rule. The summed-counts
    * aggregate is the only corpus-proportional work; singletons have
    * global cnt = 1, so their batch-local MIN(doc) is the owner. */
  def memorizationFromIndex(spark: org.apache.spark.sql.SparkSession,
      path: String): DataFrame = {
    val uniq = spark.read.parquet(s"$path/grams")
      .groupBy(col("g"))
      .agg(sum(col("cnt")).as("__c"), min(col("own")).as("__only"))
      .where(col("__c") === 1L)
      .groupBy(col("__only").as("doc_id"))
      .agg(count(lit(1)).as("n_unique"))
    spark.read.parquet(s"$path/stats")
      .groupBy(col("doc_id")).agg(sum(col("n_grams")).as("n_grams"))
      .join(uniq, Seq("doc_id"), "left")
      .withColumn("n_unique", coalesce(col("n_unique"), lit(0L)))
      .withColumn("risk_ppm",
        when(col("n_grams") === 0L, lit(0L))
          .otherwise(expr("(n_unique * 1000000) DIV n_grams")))
  }

  /** Crash-safe compaction for the memorization index
    * ([[compactCardIndex]]'s shape): fold all but the newest
    * `keepLast` batch dirs of each partial into `batch=-1` with the
    * SAME aggregate the read applies (sum counts + min owner — both
    * associative, so compaction commutes with
    * [[memorizationFromIndex]]; spec-pinned). The newest batch stays
    * out so a replayed ingest batch still overwrites its own dir. */
  def compactMemorizationIndex(spark: org.apache.spark.sql.SparkSession,
      path: String, targetFiles: Int = 1, keepLast: Int = 1): Unit = {
    graft.io.Compaction.foldBatches(spark, s"$path/grams", targetFiles,
      keepLast)(_.groupBy(col("g"))
        .agg(sum(col("cnt")).as("cnt"), min(col("own")).as("own")))
    graft.io.Compaction.foldBatches(spark, s"$path/stats", targetFiles,
      keepLast)(_.groupBy(col("doc_id"))
        .agg(sum(col("n_grams")).as("n_grams")))
  }

  /** Build-once memorization index through
    * [[graft.io.StoredIndex.ensureBatches]] over both partials; `build`
    * receives the genuinely missing batch ids only. */
  def ensureMemorizationIndex(spark: org.apache.spark.sql.SparkSession,
      path: String, batchIds: Seq[Long])(build: Seq[Long] => Unit): Unit =
    graft.io.StoredIndex.ensureBatches(spark, path, Seq("grams", "stats"),
      batchIds)(build)

  /** Hard per-source document cap (the RefinedWeb-style domain cap:
    * no single domain may contribute more than `cap` docs, however
    * large it is) — the OTHER half of source curation next to
    * [[sourceBalancedMix]] (proportional downsampling toward a
    * budget): a cap is an absolute ceiling per group, applied e.g.
    * against SEO farms that would otherwise dominate a crawl.
    * Selection is deterministic and engine-portable: the `cap` docs
    * with the smallest 48-bit md5-of-id prefix (id tie-break) — a
    * uniform random-but-reproducible sample of each source.
    *
    * Same bounded-heap shape as
    * [[Similarity.clusterBalancedSample]]: the per-source quota is a
    * [[graft.functions.expr.TopKByScore]] aggregate (map-side
    * combined, ≤ cap rows per source per map partition cross the
    * shuffle), NOT a rank window — a window partitioned by source
    * would sort whole sources on single reducers at corpus scale.
    * Returns (doc_id, source, pick_rank 1..cap). */
  def domainCap(docs: DataFrame, idCol: String, sourceCol: String,
      cap: Int = 100): DataFrame = {
    import org.apache.spark.sql.graft.shim
    require(cap >= 1)
    // 48-bit prefix: exact in a double, so (score DESC, id ASC) in the
    // aggregate is exactly (prefix ASC, id ASC)
    val h = conv(substring(md5(col(idCol).cast("string")), 1, 12), 16, 10)
      .cast("long")
    val agg = shim.column(graft.functions.expr.TopKByScore(
        shim.expression((-h).cast("double")),
        shim.expression(col(idCol)), cap)
      .toAggregateExpression())
    docs.groupBy(col(sourceCol))
      .agg(agg.as("__top"))
      .select(col(sourceCol), posexplode(col("__top")).as(Seq("__p", "__e")))
      .select(col("__e.id").as("doc_id"), col(sourceCol),
        (col("__p") + 1).cast("long").as("pick_rank"))
  }

  /** DSIR-style importance selection (Xie et al. 2023, "Data Selection
    * via Importance Resampling"): score every document by how much its
    * hashed-bigram profile over-indexes in a TARGET slice of the
    * corpus relative to the corpus as a whole, keep the top `n` — the
    * "find me more data that looks like my reference set" selector.
    *
    * Deliberate deviation from the paper (the integer-BM25 stance):
    * DSIR sums LOG bucket ratios (a log-likelihood ratio under hashed
    * unigram bag models), but logs differ across engines in the last
    * ulp, so this uses fixed-point LINEAR ratio pooling — bucket
    * weight `wt_ppm(b) = ((tgt_cnt+1) * 1e6) DIV (raw_cnt+1)`
    * (Laplace-smoothed) and a doc's score is the sum of its gram
    * occurrences' bucket weights. Monotone in every bucket ratio,
    * all-integer → exact cross-engine replay. The paper's normalizing
    * totals form ONE global constant ((R+B)/(T+B)) multiplying every
    * bucket ratio, so under linear pooling they scale every doc's
    * score equally — dropping them leaves the top-n selection
    * identical (only the fixed-point rounding is ours).
    *
    * Scale shape: the weight table is ≤ `buckets` rows (map-side
    * combined, broadcast back); doc scores fold row-local after the
    * broadcast join; the top-n is the bounded TopKByLongScore heap —
    * never a rank window, nothing corpus-sized sorts. The gram scan
    * runs twice (profile + scoring) — deliberate: caching exploded
    * per-doc gram strings costs more than a second tokenize (the
    * dataset-card measurement). Overflow bound: raw bucket counts must
    * stay below ~9.2e12 (Long.MaxValue / 1e6); beyond that shard the
    * profile or lower the fixed-point scale. Docs with fewer than 2
    * tokens have no features and are never selected.
    *
    * Returns (rk, doc_id, score) — rk 1..n by (score DESC, id ASC). */
  def importanceSelect(docs: DataFrame, idCol: String, textCol: String,
      targetPred: Column, buckets: Int = 4096, n: Int = 100): DataFrame = {
    import org.apache.spark.sql.graft.shim
    require(buckets >= 2 && n >= 1)
    def grams = importanceGrams(docs, idCol, textCol, targetPred, buckets)
    val wt = grams.groupBy("b").agg(
        count(lit(1)).as("raw_cnt"),
        sum(when(col("__tgt"), lit(1L)).otherwise(lit(0L))).as("tgt_cnt"))
      .withColumn("wt_ppm",
        expr("((tgt_cnt + 1L) * 1000000L) DIV (raw_cnt + 1L)"))
    val scores = grams
      .join(broadcast(wt.select(col("b"), col("wt_ppm"))), Seq("b"))
      .groupBy("doc_id").agg(sum(col("wt_ppm")).as("score"))
    val agg = shim.column(graft.functions.expr.TopKByLongScore(
        shim.expression(col("score")), shim.expression(col("doc_id")), n)
      .toAggregateExpression())
    scores.agg(agg.as("__top"))
      .select(posexplode(col("__top")).as(Seq("__p", "__e")))
      .select((col("__p") + 1).cast("long").as("rk"),
        col("__e.id").as("doc_id"), col("__e.score").as("score"))
  }

  /** [[importanceSelect]] with a SEPARATE target relation — the
    * common "select more data like my eval set" call, where the
    * reference set is NOT a slice of the corpus being selected from
    * (DSIR's actual setting: target = downstream task data, raw = the
    * crawl). Same bucket arithmetic, same Laplace-smoothed fixed-point
    * ratio: `wt_ppm(b) = ((tgt_cnt+1) * 1e6) DIV (raw_cnt+1)` with
    * `tgt_cnt` counted over the target relation and `raw_cnt` over the
    * corpus; buckets present on only one side take the smoothed
    * default via the full outer join. When the target IS a corpus
    * slice, this reduces exactly to [[importanceSelect]] with that
    * slice's predicate (spec-pinned): the single-relation form counts
    * the same occurrences, just in one pass.
    *
    * Scale shape unchanged: two bounded (≤ `buckets` rows) profiles —
    * the target side is typically KBs (an eval set) — one broadcast
    * weight join, row-local score folds, the bounded heap. */
  def importanceSelectExternal(docs: DataFrame, target: DataFrame,
      idCol: String, textCol: String, buckets: Int = 4096,
      n: Int = 100): DataFrame = {
    import org.apache.spark.sql.graft.shim
    require(buckets >= 2 && n >= 1)
    val raw = importanceGrams(docs, idCol, textCol, lit(false), buckets)
      .groupBy("b").agg(count(lit(1)).as("raw_cnt"))
    val tgt = importanceGrams(target, idCol, textCol, lit(false), buckets)
      .groupBy("b").agg(count(lit(1)).as("tgt_cnt"))
    val wt = raw.join(tgt, Seq("b"), "full")
      .select(col("b"), expr(
        "((coalesce(tgt_cnt, 0L) + 1L) * 1000000L) DIV " +
          "(coalesce(raw_cnt, 0L) + 1L)").as("wt_ppm"))
    val scores = importanceGrams(docs, idCol, textCol, lit(false), buckets)
      .join(broadcast(wt), Seq("b"), "left")
      .groupBy("doc_id")
      .agg(sum(coalesce(col("wt_ppm"), lit(1000000L))).as("score"))
    val agg = shim.column(graft.functions.expr.TopKByLongScore(
        shim.expression(col("score")), shim.expression(col("doc_id")), n)
      .toAggregateExpression())
    scores.agg(agg.as("__top"))
      .select(posexplode(col("__top")).as(Seq("__p", "__e")))
      .select((col("__p") + 1).cast("long").as("rk"),
        col("__e.id").as("doc_id"), col("__e.score").as("score"))
  }

  /** Shared gram→bucket stream of [[importanceSelect]] and its stored
    * form: hashed-bigram bucket per gram occurrence, plus the target
    * flag. */
  private def importanceGrams(docs: DataFrame, idCol: String,
      textCol: String, targetPred: Column, buckets: Int): DataFrame =
    // tokens materialize as a column BEFORE the n-gram lambda —
    // inlining letterTokens into wordNGrams re-runs the tokenize per
    // element_at inside the transform (measured ~5x on the gram scan)
    docs.select(col(idCol).as("doc_id"), targetPred.as("__tgt"),
        graft.functions.TextFns.letterTokens(col(textCol)).as("__toks"))
      .select(col("doc_id"), col("__tgt"),
        explode(graft.functions.TextFns.wordNGrams(col("__toks"), 2)).as("g"))
      .withColumn("b", hash48(col("g")) % buckets)

  /** Append one ingest batch's importance-profile partial to the
    * stored index — (bucket, raw occurrences, target occurrences),
    * ≤ `buckets` rows per batch, ADDITIVE across any document
    * partition of the corpus (the card/calibration-index algebra), so
    * the expensive half of [[importanceSelect]] — the corpus profile
    * pass — moves offline and stays current batch by batch.
    * Idempotent per-batch overwrite (crash replays fold nothing
    * twice). Batches must partition the corpus by document. */
  def appendToImportanceIndex(docs: DataFrame, idCol: String,
      textCol: String, targetPred: Column, path: String, batchId: Long,
      buckets: Int = 4096, coalesceTo: Int = 1): Unit = {
    require(buckets >= 2)
    val prof = importanceGrams(docs, idCol, textCol, targetPred, buckets)
      .groupBy("b").agg(count(lit(1)).as("raw_cnt"),
        sum(when(col("__tgt"), lit(1L)).otherwise(lit(0L))).as("tgt_cnt"))
    (if (coalesceTo > 0) prof.coalesce(coalesceTo) else prof)
      .write.mode("overwrite").parquet(s"$path/prof/batch=$batchId")
  }

  /** The DSIR bucket-weight table from the stored profile partials:
    * sum the batch counts (= the union corpus's counts, exactly),
    * apply the same Laplace-smoothed fixed-point ratio as
    * [[importanceSelect]]. ≤ buckets rows, no corpus access. */
  def importanceWeightsFromIndex(
      spark: org.apache.spark.sql.SparkSession, path: String): DataFrame =
    spark.read.parquet(s"$path/prof")
      .groupBy("b").agg(sum(col("raw_cnt")).as("raw_cnt"),
        sum(col("tgt_cnt")).as("tgt_cnt"))
      .withColumn("wt_ppm",
        expr("((tgt_cnt + 1L) * 1000000L) DIV (raw_cnt + 1L)"))
      .select(col("b"), col("wt_ppm"))

  /** [[importanceSelect]] through the stored profile — bit-identical
    * output (spec-pinned, shared oracle) at HALF the gram scans: the
    * profile is a stored-partial read, the select pays one gram scan
    * + the broadcast weight join + the bounded heap.
    *
    * The weight join is LEFT with the Laplace default for absent
    * buckets: a gram hashing to a bucket the stored profile never saw
    * scores `((0+1)*1e6) DIV (0+1) = 1e6` — exactly what
    * [[importanceSelect]]'s smoothing would assign — instead of being
    * silently dropped by an inner join. Moot when the scored docs are
    * a subset of the indexed corpus (every bucket is then present),
    * but the advertised streaming use scores NOT-yet-folded docs,
    * where out-of-profile buckets are routine. */
  def importanceSelectFromIndex(docs: DataFrame,
      spark: org.apache.spark.sql.SparkSession, path: String,
      idCol: String, textCol: String, buckets: Int = 4096,
      n: Int = 100): DataFrame = {
    import org.apache.spark.sql.graft.shim
    require(buckets >= 2 && n >= 1)
    val wt = importanceWeightsFromIndex(spark, path)
    val scores = importanceGrams(docs, idCol, textCol, lit(false), buckets)
      .join(broadcast(wt), Seq("b"), "left")
      .groupBy("doc_id")
      .agg(sum(coalesce(col("wt_ppm"), lit(1000000L))).as("score"))
    val agg = shim.column(graft.functions.expr.TopKByLongScore(
        shim.expression(col("score")), shim.expression(col("doc_id")), n)
      .toAggregateExpression())
    scores.agg(agg.as("__top"))
      .select(posexplode(col("__top")).as(Seq("__p", "__e")))
      .select((col("__p") + 1).cast("long").as("rk"),
        col("__e.id").as("doc_id"), col("__e.score").as("score"))
  }

  /** Crash-safe compaction for the importance-profile index (the
    * memorization-index shape, one partial): fold all but the newest
    * `keepLast` batch dirs into `batch=-1` with the same cell-wise sum
    * the read applies — associative, so compaction commutes with
    * [[importanceWeightsFromIndex]]. */
  def compactImportanceIndex(spark: org.apache.spark.sql.SparkSession,
      path: String, targetFiles: Int = 1, keepLast: Int = 1): Unit =
    graft.io.Compaction.foldBatches(spark, s"$path/prof", targetFiles,
      keepLast)(_.groupBy(col("b"))
        .agg(sum(col("raw_cnt")).as("raw_cnt"),
          sum(col("tgt_cnt")).as("tgt_cnt")))

  /** Build-once importance-profile index through
    * [[graft.io.StoredIndex.ensureBatches]]; `build` receives the
    * genuinely missing batch ids — folded ones never rebuild. */
  def ensureImportanceIndex(spark: org.apache.spark.sql.SparkSession,
      path: String, batchIds: Seq[Long])(build: Seq[Long] => Unit): Unit =
    graft.io.StoredIndex.ensureBatches(spark, path, Seq("prof"),
      batchIds)(build)

  /** Hashed-bucket feature id of a token — deterministic, portable,
    * the hashing-trick feature map shared by [[trainHashedPerceptron]]
    * and [[scoreHashedWeights]]: md5 first 3 hex digits (uniform in
    * [0, 4095]) mod `dim` while `dim` fits that range; for dim > 4096
    * the prefix WIDENS to 12 hex digits (48 bits) so every bucket
    * stays reachable — a 3-digit prefix mod a larger dim would leave
    * buckets 4096..dim-1 permanently zero and silently skew the
    * feature map. The regime is a pure function of dim, so train and
    * score always agree. */
  private def hashBucket(w: Column, dim: Int): Column =
    if (dim <= 4096) conv(substring(md5(w), 1, 3), 16, 10).cast("long") % dim
    else conv(substring(md5(w), 1, 12), 16, 10).cast("long") % dim

  /** JVM twin of [[hashBucket]] (bit-identical by construction: the
    * same md5 hex-prefix arithmetic) — the bucket function used inside
    * the broadcast-weights scoring closure, where the weight array is
    * shipped once per executor instead of riding the plan as a
    * codegen literal. */
  private[operators] def hashBucketJvm(w: String, dim: Int): Int = {
    val md = java.security.MessageDigest.getInstance("MD5")
      .digest(w.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val h =
      if (dim <= 4096) // first 3 hex digits = 12 bits
        ((md(0) & 0xffL) << 4) | ((md(1) & 0xf0L) >> 4)
      else { // first 12 hex digits = 48 bits
        var v = 0L
        var i = 0
        while (i < 6) { v = (v << 8) | (md(i) & 0xffL); i += 1 }
        v
      }
    (h % dim).toInt
  }

  /** TRAIN a hashed linear quality model IN the engine — batch
    * perceptron over hashing-trick token-count features, the
    * "distill the rule filter into a cheap classifier" step of a
    * curation pipeline (rules are interpretable but slow to extend;
    * the distilled model generalizes them to scan-speed inference via
    * [[scoreHashedWeights]]). All-INTEGER and batch-synchronous, so
    * training is deterministic under any partitioning and replays
    * bit-exactly in SQL (unlike SGD, whose result depends on row
    * order): each iteration computes every doc's margin
    * `y · Σ_tok w[bucket(tok)]` with the CURRENT weights riding as a
    * codegen literal (one zero-shuffle scan), then folds the
    * mislabeled docs' feature counts into the weights,
    * `w[b] += Σ_mislabeled y · count_b` (one token-bucket
    * aggregation ∝ mislabeled volume). Iteration 0 starts from w = 0,
    * where every margin is 0 ≤ 0 — the first update is the class
    * centroid difference. Only the `dim`-long weight vector reaches
    * the driver (the bounded model artifact, cf. k-means centroids).
    *
    * @param labels (idCol, y) with y ∈ {+1, −1} — e.g. a rules
    *               verdict ([[gopherRules]]) as the teacher
    * @return the final weight vector, indexed by bucket */
  def trainHashedPerceptron(docs: DataFrame, idCol: String,
      textCol: String, labels: DataFrame, dim: Int = 512,
      iters: Int = 2): Array[Long] = {
    require(dim >= 2 && iters >= 1)
    val featured = Caches.persist(docs
      .select(col(idCol).as("doc_id"),
        TextFns.letterTokens(col(textCol)).as("__toks"))
      .join(labels.select(col(idCol).as("doc_id"), col("y")), Seq("doc_id")))
    val w = new Array[Long](dim)
    for (_ <- 0 until iters) {
      val margin = col("y") *
        weightedTokenSum(docs.sparkSession, col("__toks"), w)
      val delta = featured.where(margin <= 0L)
        .select(col("y"), explode(col("__toks")).as("__t"))
        .groupBy(hashBucket(col("__t"), dim).as("__b"))
        .agg(sum(col("y")).as("__dw"))
        .collect()
      delta.foreach(r => w(r.getLong(0).toInt) += r.getLong(1))
    }
    w
  }

  /** The literal/broadcast crossover for the weight vector: at or
    * below this dim the weights ride the plan as a `typedLit` codegen
    * literal (bit-replayable in SQL, whole-stage-codegen fused — the
    * plan grows linearly in dim, fine to ~4k); above it the plan
    * would bloat linearly per operator instance, so the vector ships
    * ONCE per executor as a broadcast variable and the scan runs a
    * closure lookup instead. Same bucket arithmetic on both sides
    * ([[hashBucket]] / [[hashBucketJvm]] — spec-pinned equal). 4096
    * also marks where [[hashBucket]] widens its md5 prefix. */
  private[operators] val weightLiteralMaxDim = 4096

  /** `Σ w[bucket(tok)]` over a token-array column — the shared scoring
    * kernel of [[trainHashedPerceptron]] (margin scans) and
    * [[scoreHashedWeights]] (inference). Dispatches on
    * [[weightLiteralMaxDim]]; `forceBroadcast` exists so specs can pin
    * literal/broadcast parity at equal dim. */
  private[operators] def weightedTokenSum(
      spark: org.apache.spark.sql.SparkSession, toksCol: Column,
      weights: Array[Long], forceBroadcast: Boolean = false): Column = {
    val dim = weights.length
    if (dim <= weightLiteralMaxDim && !forceBroadcast) {
      val wLit = typedLit(weights.toSeq)
      aggregate(toksCol, lit(0L), (acc, t) =>
        acc + element_at(wLit, (hashBucket(t, dim) + 1).cast("int")))
    } else {
      val bc = spark.sparkContext.broadcast(weights)
      val f = udf { toks: Seq[String] =>
        val wv = bc.value
        var s = 0L
        if (toks != null) toks.foreach(t => s += wv(hashBucketJvm(t, wv.length)))
        s
      }
      f(toksCol)
    }
  }

  /** Inference with a TRAINED weight vector ([[trainHashedPerceptron]])
    * — same zero-shuffle scan shape as [[scoreHashedLinear]], but the
    * weights are the distilled model: a codegen literal up to
    * [[weightLiteralMaxDim]] (bit-replayable), a broadcast array past
    * it (one executor-wide copy, plan size constant in dim — both
    * paths spec-pinned equal): score_q = Σ w[bucket(tok)] over
    * token occurrences, verdict = keep iff score_q >= 0. */
  def scoreHashedWeights(docs: DataFrame, idCol: String, textCol: String,
      weights: Array[Long]): DataFrame =
    scoreHashedWeightsImpl(docs, idCol, textCol, weights,
      forceBroadcast = false)

  /** [[scoreHashedWeights]] forced through the broadcast path at any
    * dim (parity-spec hook). */
  private[graft] def scoreHashedWeightsBroadcast(docs: DataFrame,
      idCol: String, textCol: String, weights: Array[Long]): DataFrame =
    scoreHashedWeightsImpl(docs, idCol, textCol, weights,
      forceBroadcast = true)

  private def scoreHashedWeightsImpl(docs: DataFrame, idCol: String,
      textCol: String, weights: Array[Long],
      forceBroadcast: Boolean): DataFrame = {
    val toks = TextFns.letterTokens(col(textCol))
    docs.select(col(idCol).as("doc_id"),
        size(toks).cast("long").as("n_tokens"),
        weightedTokenSum(docs.sparkSession, toks, weights, forceBroadcast)
          .as("score_q"))
      .withColumn("verdict",
        when(col("score_q") >= 0L, lit("keep")).otherwise(lit("drop")))
  }

  /** [[trainHashedPerceptron]] with the Gopher rules as the teacher —
    * the one-call distillation used by the query surface and the
    * streaming model loop: rules label the corpus, the perceptron
    * compresses them into the `dim`-bucket linear model. */
  def distillQualityModel(docs: DataFrame, idCol: String, textCol: String,
      dim: Int = 512, iters: Int = 2): Array[Long] = {
    val labels = gopherRules(docs, idCol, textCol)
      .select(col("doc_id").as(idCol),
        when(col("verdict"), lit(1L)).otherwise(lit(-1L)).as("y"))
    trainHashedPerceptron(docs, idCol, textCol, labels, dim, iters)
  }

  /** Sibling location of a stored model's TRAINING-corpus term counts
    * — the drift baseline (fixed at training time, cf.
    * [[graft.operators.Similarity.kmeansBuildStatsPath]]). */
  def modelTrainCountsPath(path: String): String =
    path.stripSuffix("/") + ".traincounts"

  /** Commit a trained model: the full `dim`-row (bucket, w) table at
    * `path` (zeros included so dim round-trips) plus the training
    * corpus's term counts at [[modelTrainCountsPath]] — what
    * [[rebuildQualityModelIfDrifted]] compares arriving batches
    * against. The same self-describing-on-disk contract as the ANN
    * indexes: inference needs only the table, the alarm needs only
    * the sibling; the training corpus is never re-read. */
  def writeQualityModel(weights: Array[Long], path: String,
      trainDocs: DataFrame, textCol: String = "text"): Unit = {
    val spark = trainDocs.sparkSession
    import spark.implicits._
    weights.zipWithIndex.map { case (w, b) => (b.toLong, w) }.toSeq
      .toDF("bucket", "w")
      .coalesce(1).write.mode("overwrite").parquet(path)
    writeReferenceCounts(trainDocs, modelTrainCountsPath(path), textCol)
  }

  /** Reload the weight vector committed by [[writeQualityModel]]. */
  def loadQualityModel(spark: org.apache.spark.sql.SparkSession,
      path: String): Array[Long] =
    spark.read.parquet(path).orderBy(col("bucket").asc)
      .select(col("w")).collect().map(_.getLong(0))

  /** ALARM → RETRAIN for the stored quality model — the model-lifecycle
    * twin of the index arcs ([[graft.operators.Retrieval
    * .refreshBm25IndexIfDrifted]] et al.): a distilled filter silently
    * degrades when the corpus distribution shifts under it (new
    * domains, new languages — features the teacher never labeled), so
    * total the arriving batch's term drift against the STORED
    * training-time counts (work ∝ batch + vocabulary; the training
    * corpus is never re-read for the check) and re-distill over `docs`
    * — the CURRENT corpus, lazily evaluated, untouched when the alarm
    * stays quiet — iff it exceeds `maxDriftPpm`. The rebuilt model and
    * baseline are identical to a fresh [[writeQualityModel]] commit
    * (spec-pinned). @return true iff a retrain ran. */
  def rebuildQualityModelIfDrifted(docs: => DataFrame, batch: DataFrame,
      path: String, idCol: String = "doc_id", textCol: String = "text",
      dim: Int = 512, iters: Int = 2, maxDriftPpm: Long = 400000L,
      minCount: Long = 5L): Boolean = {
    val spark = batch.sparkSession
    // either artifact without its _SUCCESS is a TORN commit — a crash
    // DURING the model overwrite leaves a partial table with the OLD
    // counts sibling still complete (so the drift check alone would
    // stay quiet and inference would read garbage), a crash BETWEEN
    // the writes leaves the model without its baseline. The training
    // corpus is gone by design (never re-read), so the only sound
    // recovery from both is a full retrain, which rewrites both.
    val drifted =
      if (!graft.io.IndexPaths.complete(spark, path) ||
          !graft.io.IndexPaths.complete(spark, modelTrainCountsPath(path)))
        true
      else {
        val refCounts = spark.read.parquet(modelTrainCountsPath(path))
        termDriftFromCounts(refCounts, batch, textCol, minCount)
          .agg(coalesce(sum(col("rate_diff_ppm")), lit(0L)))
          .head().getLong(0) > maxDriftPpm
      }
    if (drifted) {
      val d = docs
      writeQualityModel(distillQualityModel(d, idCol, textCol, dim, iters),
        path, d, textCol)
    }
    drifted
  }

  /** Hashed linear quality-classifier inference — the fastText-style
    * model-based filter of a curation pipeline, with the hashing trick:
    * each token's weight is a deterministic function of its hash
    * (`md5 first 4 hex digits − 32768`, uniform in [−32768, 32767]),
    * so the "model" needs no weight table at all and the score is
    * exactly replayable in any engine. score_q = Σ weight(token) over
    * token OCCURRENCES; avg_w = score_q / n_tokens (one IEEE division
    * of exact integers — bit-stable); verdict = keep iff avg_w >= 0.
    *
    * A real model swaps the md5 mix for a broadcast hash-bucket weight
    * array (a few MB shipped once per executor) — the plan shape is
    * identical: per-row `aggregate` over the token array, zero shuffle,
    * scan speed at any corpus size. */
  def scoreHashedLinear(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = TextFns.letterTokens(col(textCol))
    val weight = (w: Column) =>
      conv(substring(md5(w), 1, 4), 16, 10).cast("long") - lit(32768L)
    docs.select(col(idCol).as("doc_id"),
        size(toks).cast("long").as("n_tokens"),
        aggregate(toks, lit(0L), (acc, w) => acc + weight(w)).as("score_q"))
      .where(col("n_tokens") > 0)
      .withColumn("avg_w",
        col("score_q").cast("double") / col("n_tokens").cast("double"))
      .withColumn("verdict",
        when(col("avg_w") >= 0, lit("keep")).otherwise(lit("drop")))
  }

  /** Pairwise corpus overlap between sources: EXACT n-gram Jaccard and
    * containment for every source pair — the cross-source contamination
    * / redundancy diagnostic a data-mixture report publishes (e.g. "is
    * src3 a subset of src1?").
    *
    * One distinct over (source, gram), per-source set sizes, and a
    * gram-keyed self-join counting intersections (source_a < source_b).
    * Output is one row per source pair — sources are FEW, so the result
    * is tiny. The distinct-gram shuffle is corpus-sized: this is the
    * exact diagnostic, priced accordingly; the at-scale estimator is
    * the [[bottomMSketch]] union (sketch overlap ≈ Jaccard) when a few
    * percent error is acceptable. A gram present in all k sources
    * contributes k(k−1)/2 pair rows — bounded by k², never by corpus. */
  def sourceOverlap(docs: DataFrame, textCol: String, sourceCol: String,
      n: Int = 3): DataFrame = {
    val grams = docs.select(col(sourceCol).as("source"),
        TextFns.letterTokens(col(textCol)).as("__toks"))
      .select(col("source"),
        explode(TextFns.wordNGrams(col("__toks"), n)).as("g"))
      .distinct()
    val sizes = grams.groupBy("source").agg(count(lit(1)).as("sz"))
    val inter = grams.as("a")
      .join(grams.as("b"),
        col("a.g") === col("b.g") && col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("source_a"), col("b.source").as("source_b"))
      .agg(count(lit(1)).as("n_shared"))
    inter
      .join(sizes.select(col("source").as("source_a"), col("sz").as("n_a")),
        "source_a")
      .join(sizes.select(col("source").as("source_b"), col("sz").as("n_b")),
        "source_b")
      .select(col("source_a"), col("source_b"), col("n_a"), col("n_b"),
        col("n_shared"),
        (col("n_shared").cast("double") /
          (col("n_a") + col("n_b") - col("n_shared")).cast("double"))
          .as("jaccard"),
        (col("n_shared").cast("double") /
          least(col("n_a"), col("n_b")).cast("double")).as("containment"))
  }

  /** Sketch-based pairwise source overlap — the 100 TB form of
    * [[sourceOverlap]]: per-source KMV (bottom-m distinct gram hashes)
    * sketches, then the standard bottom-m union estimator per pair —
    * take the merged bottom-m X of the two sketches; |X ∩ A ∩ B| / |X|
    * estimates Jaccard with ~1/√m standard error (±~4.5% at m=512).
    *
    * Scale shape vs the exact diagnostic: raw (non-distinct) gram
    * hashes stream straight off the scan into the bounded
    * [[graft.functions.expr.BottomKDistinctLongs]] aggregate — the
    * buffer dedups, combines map-side, and the ONLY shuffle ships ≤ m
    * longs per source per map partition. No corpus-wide distinct-gram
    * shuffle (the exact form's documented cost), no gram-keyed
    * self-join; the pair estimation is a row-local array computation
    * over a sources² relation, which is tiny.
    *
    * `portableHash` picks md5-prefix gram hashing (60-bit, replayable
    * verbatim in any engine — the full-oracle path) over xxhash64 of
    * combined token hashes (string-free, the production path;
    * cross-checked against the exact Jaccard in TextAnalysisSpec).
    * Returns (source_a, source_b, m_used, n_shared_sketch,
    * jaccard_est). */
  /** Per-(source, gram) hash stream feeding the KMV sketches: one row
    * per gram OCCURRENCE (no distinct — the bounded sketch aggregate
    * dedups in-buffer). `portableHash` picks 60-bit md5-prefix hashing
    * (engine-replayable, the full-oracle path) over xxhash64 of
    * combined token hashes (string-free, the production path). */
  private def sourceGramHashes(docs: DataFrame, textCol: String,
      sourceCol: String, n: Int, portableHash: Boolean): DataFrame =
    if (portableHash)
      docs.select(col(sourceCol).as("source"),
          TextFns.letterTokens(col(textCol)).as("__toks"))
        .select(col("source"),
          explode(TextFns.wordNGrams(col("__toks"), n)).as("g"))
        .select(col("source"),
          conv(substring(md5(col("g")), 1, 15), 16, 10).cast("long").as("h"))
    else
      docs.select(col(sourceCol).as("source"),
          transform(TextFns.letterTokens(col(textCol)), t => xxhash64(t))
            .as("__th"))
        .select(col("source"),
          explode(when(size(col("__th")) >= n,
            transform(sequence(lit(0), size(col("__th")) - lit(n)),
              i => xxhash64((1 to n).map(j =>
                element_at(col("__th"), i + lit(j))): _*)))
            .otherwise(array().cast("array<bigint>"))).as("h"))

  private def kmvSketchAgg(m: Int) = {
    import org.apache.spark.sql.graft.shim
    shim.column(
      graft.functions.expr.BottomKDistinctLongs(shim.expression(col("h")), m)
        .toAggregateExpression())
  }

  def sourceOverlapSketch(docs: DataFrame, textCol: String,
      sourceCol: String, n: Int = 3, m: Int = 512,
      portableHash: Boolean = false): DataFrame = {
    val hashed = sourceGramHashes(docs, textCol, sourceCol, n, portableHash)
    val sk = hashed.groupBy(col("source")).agg(kmvSketchAgg(m).as("sk"))
    val merged = slice(array_sort(array_distinct(
      concat(col("a.sk"), col("b.sk")))), 1, m)
    sk.as("a").join(sk.as("b"), col("a.source") < col("b.source"))
      .select(col("a.source").as("source_a"), col("b.source").as("source_b"),
        merged.as("__x"), col("a.sk").as("__ska"), col("b.sk").as("__skb"))
      .select(col("source_a"), col("source_b"),
        size(col("__x")).cast("long").as("m_used"),
        size(array_intersect(array_intersect(col("__x"), col("__ska")),
          col("__skb"))).cast("long").as("n_shared_sketch"))
      .withColumn("jaccard_est",
        col("n_shared_sketch").cast("double") / col("m_used").cast("double"))
  }

  /** KMV distinct-count estimate of each source's gram vocabulary —
    * the cardinality face of the same bottom-m sketch: with v_m the
    * m-th smallest of a source's distinct 60-bit hashes, D̂ = (m−1) ·
    * 2⁶⁰ / v_m (standard error ~1/√m); a source whose whole hash set
    * fits the sketch reports its EXACT count. Emits the exact distinct
    * count alongside — this query doubles as the estimator's own
    * validation diagnostic; at corpus scale you run the sketch column
    * only (word-count-shaped shuffle of ≤ m longs per source per map
    * partition, vs the exact column's corpus-wide distinct). */
  def kmvDistinctGrams(docs: DataFrame, textCol: String, sourceCol: String,
      n: Int = 3, m: Int = 256, portableHash: Boolean = true): DataFrame = {
    val hashed = sourceGramHashes(docs, textCol, sourceCol, n, portableHash)
    // D̂ = (m−1)/F(v_m), F = the m-th smallest hash's position in its
    // hash space: md5-prefix hashes live in [0, 2⁶⁰); xxhash64 spans
    // the FULL SIGNED 64-bit range, so its fraction is (v+2⁶³)/2⁶⁴
    // (both 2⁶³ and 2⁶⁴ are exactly representable doubles)
    val vm = element_at(col("sk"), m).cast("double")
    val est =
      if (portableHash) lit((m - 1).toDouble) * lit(math.pow(2, 60)) / vm
      else lit((m - 1).toDouble) * lit(math.pow(2, 64)) /
        (vm + lit(math.pow(2, 63)))
    hashed.groupBy(col("source"))
      .agg(kmvSketchAgg(m).as("sk"), countDistinct(col("h")).as("n_exact"))
      .select(col("source"), col("n_exact"),
        size(col("sk")).cast("long").as("m_used"),
        when(size(col("sk")) < m, size(col("sk")).cast("double"))
          .otherwise(est).as("n_est"))
  }

  /** Term-distribution drift between two corpus slices (old snapshot vs
    * new crawl, source A vs source B): per-term occurrence rates in
    * parts-per-million, their absolute difference, and each side's
    * counts — the unigram distribution-shift monitor a data pipeline
    * runs before admitting a new ingest. Rates are exact integer floor
    * divisions (`count·10⁶ DIV total`), so ranking and the oracle replay
    * are bit-stable; summing `rate_diff_ppm` over ALL terms ≈ 2·10⁶ ×
    * total-variation distance. Terms below `minCount` occurrences in
    * BOTH slices are dropped (rare-tail noise suppression).
    *
    * Scale shape: one token pass per side with map-side-combined
    * term counts (word-count shape), a full-outer equi-join on term,
    * and the two scalar totals broadcast — shuffle ∝ vocabulary, never
    * corpus²; a hot term is one reducer's SUM. */
  def termDrift(docsA: DataFrame, docsB: DataFrame, textCol: String,
      minCount: Long = 5L): DataFrame =
    termDriftFromCounts(termCounts(docsA, textCol, "c_a"), docsB,
      textCol, minCount)

  /** One side's term counts in the shape [[termDriftFromCounts]]
    * consumes: (term, `cn`) — one word-count-shaped pass, map-side
    * combined. */
  private def termCounts(d: DataFrame, textCol: String, cn: String) =
    d.select(explode(TextFns.letterTokens(col(textCol))).as("term"))
      .groupBy("term").agg(count(lit(1)).as(cn))

  /** [[termDrift]] with the REFERENCE side already aggregated — the
    * stored-index form: `refCounts` is a (term, c_a) relation (e.g.
    * read from a [[writeReferenceCounts]] table), only the batch side
    * is tokenized. Identical integer output to [[termDrift]] on the
    * docs the counts came from; per-call work is ∝ batch + vocabulary,
    * never ∝ reference corpus. */
  def termDriftFromCounts(refCounts: DataFrame, docsB: DataFrame,
      textCol: String, minCount: Long = 5L): DataFrame =
    countsDrift(refCounts.select(col("term"), col("c_a")),
      termCounts(docsB, textCol, "c_b"), "term", minCount)

  /** The counts-vs-counts core of the drift family — both sides
    * already aggregated to (`keyCol`, c_a) / (`keyCol`, c_b): the
    * exact integer ppm-rate relation of [[termDrift]], generalized so
    * non-term keys (gram hashes — [[graft.operators.Dedup
    * .containmentIndexDrift]]) ride the same math and the same
    * 2·10⁶ × TV-distance reading of the summed diff. */
  private[graft] def countsDrift(ca: DataFrame, cb: DataFrame,
      keyCol: String, minCount: Long): DataFrame = {
    val na = ca.agg(sum(col("c_a")).as("n_a"))
    val nb = cb.agg(sum(col("c_b")).as("n_b"))
    ca.join(cb, Seq(keyCol), "full_outer")
      .na.fill(0L, Seq("c_a", "c_b"))
      .where(col("c_a") >= minCount || col("c_b") >= minCount)
      .crossJoin(broadcast(na)).crossJoin(broadcast(nb))
      .withColumn("rate_a_ppm", expr("(c_a * 1000000L) DIV n_a"))
      .withColumn("rate_b_ppm", expr("(c_b * 1000000L) DIV n_b"))
      .withColumn("rate_diff_ppm",
        abs(col("rate_a_ppm") - col("rate_b_ppm")))
      .select(keyCol, "c_a", "c_b", "rate_a_ppm", "rate_b_ppm",
        "rate_diff_ppm")
  }

  /** Materialize the drift gate's reference term counts ONCE — the
    * index-build half of the stored-counts ingest gate (same lifecycle
    * as [[graft.operators.Dedup.writeBandIndex]]): one word-count pass
    * over the curated reference corpus, committed as a (term, c_a)
    * parquet table the per-batch gate then joins against. After this,
    * the reference CORPUS is never read again — gating survives the
    * corpus being archived or deleted. Rebuild when the reference is
    * re-curated (the counts are exact, so a rebuild is bit-identical
    * for identical input). */
  def writeReferenceCounts(referenceDocs: DataFrame, path: String,
      textCol: String = "text", coalesceTo: Int = 8): Unit =
    termCounts(referenceDocs, textCol, "c_a")
      .coalesce(coalesceTo).write.mode("overwrite").parquet(path)

  /** One step of the DRIFT-GATED ingest — the control-flow use of
    * [[termDrift]]: a batch whose term distribution has shifted too far
    * from the curated reference (sum of per-term `rate_diff_ppm`, ≈
    * 2·10⁶ × total-variation distance) is diverted to quarantine
    * instead of admitted — the standard guard against a poisoned or
    * mis-routed feed polluting a training corpus silently. The ONLY
    * driver-side value is the one-row drift total; the decision is
    * deterministic in the batch content, so foreachBatch replay
    * recomputes the same destination and the per-batch directory
    * overwrite keeps both roots exactly-once.
    *
    * Scale shape: [[termDrift]]'s word-count-shaped pass (shuffle ∝
    * vocabulary) + one batch-sized bounded-file write. NOTE this form
    * re-tokenizes `referenceDocs` EVERY batch — it exists for one-shot
    * backfills where the reference is small or already cached; a
    * running ingest should use [[driftGatedIngestBatchStored]], whose
    * per-batch cost is ∝ batch + vocabulary via the
    * [[writeReferenceCounts]] table. */
  def driftGatedIngestBatch(batch: DataFrame, batchId: Long,
      referenceDocs: DataFrame, admittedRoot: String,
      quarantineRoot: String, textCol: String = "text",
      maxDriftPpm: Long = 400000L, minCount: Long = 5L): Unit = {
    if (batch.isEmpty) return
    gateByDrift(termDrift(referenceDocs, batch, textCol, minCount),
      batch, batchId, admittedRoot, quarantineRoot, maxDriftPpm)
  }

  /** [[driftGatedIngestBatch]] against STORED reference counts — the
    * production form of the gate: the reference side is the committed
    * (term, c_a) table [[writeReferenceCounts]] built once, so each
    * micro-batch pays one batch-side token pass + a vocabulary-sized
    * join — work ∝ batch + vocabulary, never ∝ reference corpus (the
    * reference is scanned exactly once per index BUILD, not per
    * batch — same stored-index lifecycle as the band/containment/IVF
    * loops). Decisions are bit-identical to the recompute form:
    * [[termDriftFromCounts]] replays the same exact-integer TV
    * arithmetic over the same exact counts. */
  def driftGatedIngestBatchStored(batch: DataFrame, batchId: Long,
      referenceCountsPath: String, admittedRoot: String,
      quarantineRoot: String, textCol: String = "text",
      maxDriftPpm: Long = 400000L, minCount: Long = 5L): Unit = {
    if (batch.isEmpty) return
    val refCounts = batch.sparkSession.read.parquet(referenceCountsPath)
    gateByDrift(termDriftFromCounts(refCounts, batch, textCol, minCount),
      batch, batchId, admittedRoot, quarantineRoot, maxDriftPpm)
  }

  /** Shared decision+write tail of the two gate forms: reduce the
    * drift relation to its one-row TV total (the ONLY driver-side
    * value) and land the batch under the root the threshold picks. */
  private def gateByDrift(drift: DataFrame, batch: DataFrame,
      batchId: Long, admittedRoot: String, quarantineRoot: String,
      maxDriftPpm: Long): Unit = {
    val tv = drift
      .agg(coalesce(sum(col("rate_diff_ppm")), lit(0L)).as("tv"))
      .head().getLong(0)
    val root = if (tv <= maxDriftPpm) admittedRoot else quarantineRoot
    batch.coalesce(4).write.mode("overwrite")
      .parquet(s"$root/batch=$batchId")
  }

  /** Vocabulary induction + out-of-vocabulary coverage audit — the
    * tokenizer-training companion: the top-`vocabSize` terms by corpus
    * count (ties broken by term, so the vocab is deterministic) become
    * the vocabulary; every document then reports how much of its token
    * stream the vocabulary covers (`oov_ppm`, exact integer
    * parts-per-million). High-OOV docs are the ones a tokenizer trained
    * on this corpus would shred into bytes.
    *
    * Scale shape: one word-count aggregation, a top-V rank (vocabulary
    * is a bounded, small relation — it BROADCASTS back), and one
    * anti-join of the exploded token stream against it, re-aggregated
    * per doc — word-count-shaped shuffles throughout; the corpus text
    * itself never shuffles (token totals are row-local sizes). */
  def vocabCoverage(docs: DataFrame, idCol: String, textCol: String,
      vocabSize: Int): DataFrame = {
    val toks = docs.select(col(idCol).as("doc_id"),
      explode(TextFns.letterTokens(col(textCol))).as("term"))
    // top-V via orderBy+limit = TakeOrderedAndProject: per-partition
    // bounded heaps, never a single-partition rank over the vocabulary
    val vocab = toks.groupBy("term").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("term").asc).limit(vocabSize)
      .select("term")
    val oov = toks.join(broadcast(vocab), Seq("term"), "left_anti")
      .groupBy("doc_id").agg(count(lit(1)).as("n_oov"))
    docs.select(col(idCol).as("doc_id"),
        size(TextFns.letterTokens(col(textCol))).cast("long").as("n_tokens"))
      .where(col("n_tokens") > 0)
      .join(oov, Seq("doc_id"), "left")
      .na.fill(0L, Seq("n_oov"))
      .withColumn("oov_ppm", expr("(n_oov * 1000000L) DIV n_tokens"))
  }

  /** Fuzzy string matching with TWO composed block keys: pairs of
    * distinct values of `strCol` within Levenshtein distance `maxDist`.
    *
    *  - Length band (both sides): edit distance >= length difference,
    *    so only |len(a)-len(b)| <= maxDist pairs survive; the sliding
    *    band key guarantees cross-band neighbors still meet once.
    *  - q-gram key (strings of length >= q·(maxDist+1)): a string of
    *    length L has L-q+1 q-grams and one edit destroys at most q of
    *    them, so after maxDist edits at least L-q+1 - q·maxDist >= 1
    *    gram survives verbatim — two long strings within maxDist MUST
    *    share a q-gram, and the join key becomes (band, gram). This is
    *    what kills the O(n²)-within-a-band blowup of same-length-heavy
    *    corpora (part names, product SKUs): unrelated equal-length
    *    strings share a band but not a gram.
    *
    * Strings too short for the pigeonhole (len < q·(maxDist+1)) keep
    * band-only blocking among themselves — a pair with one short member
    * has both members < q·(maxDist+1) + maxDist, so the short-side join
    * covers every such pair and nothing is lost. Candidates are then
    * exactly rescored with the thresholded levenshtein (banded O(len·d)
    * DP with early exit) — the same candidate/verify split as MinHash
    * dedup. */
  def fuzzyPairs(df: DataFrame, strCol: String, maxDist: Int): DataFrame =
    fuzzyCandidates(df, strCol, maxDist)
      .select(col("name_a"), col("name_b"),
        levenshtein(col("name_a"), col("name_b"), maxDist).as("dist"))
      .where(col("dist") >= 0)

  /** Candidate pairs of [[fuzzyPairs]] BEFORE the exact rescore —
    * deduplicated (name_a < name_b). Split out so blocking selectivity
    * is testable. */
  private[graft] def fuzzyCandidates(df: DataFrame, strCol: String,
      maxDist: Int, q: Int = 3): DataFrame = {
    val lmin = q * (maxDist + 1)
    val names = df.select(col(strCol).as("name"))
      .where(col("name").isNotNull).distinct()
      .withColumn("len", length(col("name")))
    // sliding length band: floor((len-d)/(d+1)) .. floor(len/(d+1))
    // always intersects the same range of any length within d
    def banded(n: DataFrame): DataFrame = n.withColumn("band", explode(sequence(
      floor((col("len") - lit(maxDist)) / lit(maxDist + 1)).cast("int"),
      floor(col("len") / lit(maxDist + 1)).cast("int"))))
    val short = banded(names.where(col("len") < lmin + maxDist))
    val shortCands = short.select(col("band"), col("name").as("name_a"),
        col("len").as("len_a"))
      .join(short.select(col("band"), col("name").as("name_b"),
        col("len").as("len_b")), Seq("band"))
      .select("name_a", "len_a", "name_b", "len_b")
    val long = banded(names.where(col("len") >= lmin))
      .withColumn("g", explode(array_distinct(transform(
        sequence(lit(1), col("len") - lit(q - 1)),
        i => col("name").substr(i, lit(q))))))
    val longCands = long.select(col("band"), col("g"), col("name").as("name_a"),
        col("len").as("len_a"))
      .join(long.select(col("band"), col("g"), col("name").as("name_b"),
        col("len").as("len_b")), Seq("band", "g"))
      .select("name_a", "len_a", "name_b", "len_b")
    shortCands.unionByName(longCands)
      .where(col("name_a") < col("name_b") &&
        abs(col("len_a") - col("len_b")) <= maxDist)
      .select("name_a", "name_b")
      .distinct() // a pair can share several bands and several grams
  }

  // ── Training-shard export (the last mile of a curation pipeline) ──

  /** 48-bit md5-of-id prefix as a long — the shared deterministic
    * uniform hash of the mix/selection family ([[domainCap]],
    * [[Similarity.clusterBalancedSample]]); exact in SQL via
    * `CAST('0x' || substr(md5(id),1,12) AS BIGINT)`. */
  private def hash48(c: Column): Column =
    conv(substring(md5(c.cast("string")), 1, 12), 16, 10).cast("long")

  /** PER-SOURCE quality calibration — keep (approximately) the top
    * `keepQ`/65536 of EACH source by quality score, instead of one
    * global threshold: a global cut keeps whatever the highest-scoring
    * SOURCE writes (a clean encyclopedia crowds out all of a noisy but
    * valuable forum), while the within-source quantile keeps every
    * source's best — the selection rule FineWeb-style pipelines apply
    * after per-source score drift made global thresholds meaningless.
    *
    * Score: the hashed-linear token score ([[scoreHashedLinear]]'s
    * md5-weight family) shifted non-negative and averaged —
    * `avg_q = (Σ_tok h16(tok)) DIV n_tokens` ∈ [0, 65535], exact
    * integer arithmetic, portable across engines. Empty-token docs are
    * excluded (no score, same contract as [[scoreHashedLinear]]).
    *
    * Exactness: every score bucket strictly above the per-source
    * boundary is kept in full, strictly below dropped in full — both
    * exact. Within the single BOUNDARY bucket per source the keep
    * decision is the md5(doc_id) cut (deterministic set, rate exact in
    * expectation) — the [[temperatureMix]] stance, because an exact
    * within-bucket count would need a rank over the bucket population.
    *
    * Scale shape: one corpus scan (score is row-local), then the
    * quantile runs on the (source, avg_q) HISTOGRAM — ≤ 65536 rows per
    * source by construction, so the cumulative window is over a
    * bounded relation, never the corpus (the q_percentile global-sort
    * alternative dies at 100 TB); decisions join back on
    * (source, avg_q) with the histogram broadcast.
    * @return (doc_id, source, avg_q, kept) */
  def calibratedQualityKeep(docs: DataFrame, idCol: String,
      textCol: String, sourceCol: String, keepQ: Long): DataFrame = {
    require(keepQ >= 0L && keepQ <= 65536L)
    import org.apache.spark.sql.expressions.Window
    val toks = TextFns.letterTokens(col(textCol))
    val h16 = (w: Column) =>
      conv(substring(md5(w), 1, 4), 16, 10).cast("long")
    // the per-token md5 scoring pass is the dominant cost and has two
    // consumers (the histogram and the decision join) — persist the
    // scored relation (3 small columns, no text) so the corpus is
    // hashed once; harness/callers release via Caches
    val scored = graft.operators.Caches.persist(
      docs.select(col(idCol).as("doc_id"),
          col(sourceCol).as("source"),
          size(toks).cast("long").as("__n"),
          aggregate(toks, lit(0L), (acc, w) => acc + h16(w)).as("__s"))
        .where(col("__n") > 0L)
        .select(col("doc_id"), col("source"),
          expr("__s DIV __n").as("avg_q")))
    val hist = scored.groupBy(col("source"), col("avg_q"))
      .agg(count(lit(1)).as("__c"))
    val wAbove = Window.partitionBy(col("source"))
      .orderBy(col("avg_q").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val cum = hist
      .withColumn("__above", coalesce(sum(col("__c")).over(wAbove), lit(0L)))
      .withColumn("__tot",
        sum(col("__c")).over(Window.partitionBy(col("source"))))
      .withColumn("__target", expr(s"(__tot * ${keepQ}L) DIV 65536"))
    scored.join(broadcast(cum), Seq("source", "avg_q"))
      .withColumn("kept",
        when(col("__above") + col("__c") <= col("__target"), lit(true))
          .when(col("__above") < col("__target"),
            conv(substring(md5(col("doc_id").cast("string")), 1, 4), 16, 10)
              .cast("long") <
              expr("((__target - __above) * 65536L) DIV __c"))
          .otherwise(lit(false)))
      .select(col("doc_id"), col("source"), col("avg_q"), col("kept"))
  }

  /** Fold one arriving batch's (source, avg_q) score-histogram partial
    * into the stored calibration index at `path` — the ingest half of
    * [[calibratedQualityKeep]], same per-batch-directory-overwrite
    * idempotency as [[appendToCardIndex]]. Histograms are additive, so
    * the stored index sums to the full-corpus histogram no matter how
    * ingestion was batched. Cost ∝ batch (the per-token md5 scoring
    * scan); the partial is ≤ 65536 rows per source per batch. */
  def appendToCalibrationIndex(docs: DataFrame, idCol: String,
      textCol: String, sourceCol: String, path: String, batchId: Long,
      coalesceTo: Int = 1): Unit = {
    val toks = TextFns.letterTokens(col(textCol))
    val h16 = (w: Column) =>
      conv(substring(md5(w), 1, 4), 16, 10).cast("long")
    val hist = docs.select(col(sourceCol).as("source"),
        size(toks).cast("long").as("__n"),
        aggregate(toks, lit(0L), (acc, w) => acc + h16(w)).as("__s"))
      .where(col("__n") > 0L)
      .select(col("source"), expr("__s DIV __n").as("avg_q"))
      .groupBy(col("source"), col("avg_q"))
      .agg(count(lit(1)).as("c"))
    (if (coalesceTo > 0) hist.coalesce(coalesceTo) else hist)
      .write.mode("overwrite").parquet(s"$path/batch=$batchId")
  }

  /** Build-once calibration index through
    * [[graft.io.StoredIndex.ensureBatches]]; `build` receives the
    * missing batch ids. */
  def ensureCalibrationIndex(spark: org.apache.spark.sql.SparkSession,
      path: String, batchIds: Seq[Long])(build: Seq[Long] => Unit): Unit =
    graft.io.StoredIndex.ensureBatches(spark, path, Nil, batchIds)(build)

  /** Per-source decision TABLE from a stored calibration index — the
    * broadcastable artifact a training loader applies map-side: keep a
    * doc iff `avg_q > thr_q OR (avg_q = thr_q AND md5₁₆(id) < cut_q)`.
    * `thr_q` is the score bucket containing the per-source target
    * position (counting from the top); `cut_q` is the md5 share of
    * that boundary bucket (0 when the target lands exactly on a bucket
    * edge); `thr_q = -1, cut_q = 0` when the whole source is kept
    * (target ≥ total). Applying this rule reproduces
    * [[calibratedQualityKeep]] bit-for-bit when the index holds the
    * same corpus (spec-pinned via [[calibratedKeepFromIndex]]).
    * Work: the summed histogram (≤ 65536 rows/source) + its bounded
    * cumulative window — no corpus access at all.
    * @return (source, tot, target, thr_q, cut_q) */
  def calibrationThresholds(spark: org.apache.spark.sql.SparkSession,
      path: String, keepQ: Long): DataFrame = {
    require(keepQ >= 0L && keepQ <= 65536L)
    import org.apache.spark.sql.expressions.Window
    val hist = spark.read.parquet(path)
      .groupBy(col("source"), col("avg_q")).agg(sum(col("c")).as("__c"))
    val wAbove = Window.partitionBy(col("source"))
      .orderBy(col("avg_q").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val cum = hist
      .withColumn("__above", coalesce(sum(col("__c")).over(wAbove), lit(0L)))
      .withColumn("tot",
        sum(col("__c")).over(Window.partitionBy(col("source"))))
      .withColumn("target", expr(s"(tot * ${keepQ}L) DIV 65536"))
    val boundary = cum
      .where(col("__above") <= col("target") &&
        col("target") < col("__above") + col("__c"))
      .select(col("source"), col("avg_q").as("thr_q"),
        expr("((target - __above) * 65536L) DIV __c").as("cut_q"))
    cum.select(col("source"), col("tot"), col("target")).distinct()
      .join(boundary, Seq("source"), "left")
      .select(col("source"), col("tot"), col("target"),
        coalesce(col("thr_q"), lit(-1L)).as("thr_q"),
        coalesce(col("cut_q"), lit(0L)).as("cut_q"))
  }

  /** Apply a stored calibration index's thresholds to a document set:
    * one scoring scan + a broadcast join against the (sources)-row
    * threshold table. Bit-identical to [[calibratedQualityKeep]] when
    * the index holds the same corpus; in the ingest lifecycle the
    * index accretes per batch and the thresholds this reads are the
    * RELEASE-time cut over everything ingested.
    * @return (doc_id, source, avg_q, kept) */
  def calibratedKeepFromIndex(docs: DataFrame, idCol: String,
      textCol: String, sourceCol: String, path: String,
      keepQ: Long): DataFrame = {
    val toks = TextFns.letterTokens(col(textCol))
    val h16 = (w: Column) =>
      conv(substring(md5(w), 1, 4), 16, 10).cast("long")
    val thr = calibrationThresholds(docs.sparkSession, path, keepQ)
      .select(col("source"), col("thr_q"), col("cut_q"))
    docs.select(col(idCol).as("doc_id"),
        col(sourceCol).as("source"),
        size(toks).cast("long").as("__n"),
        aggregate(toks, lit(0L), (acc, w) => acc + h16(w)).as("__s"))
      .where(col("__n") > 0L)
      .select(col("doc_id"), col("source"), expr("__s DIV __n").as("avg_q"))
      .join(broadcast(thr), Seq("source"))
      .withColumn("kept", col("avg_q") > col("thr_q") ||
        (col("avg_q") === col("thr_q") &&
          conv(substring(md5(col("doc_id").cast("string")), 1, 4), 16, 10)
            .cast("long") < col("cut_q")))
      .select(col("doc_id"), col("source"), col("avg_q"), col("kept"))
  }

  /** CURRICULUM shard ordering — [[trainingShards]]' layout with the
    * read order ANNEALED from easy-first to random across epochs (the
    * curriculum-learning schedule: early epochs present short/easy
    * documents first, late epochs restore the i.i.d. shuffle). Shard
    * MEMBERSHIP is [[trainingShards]]' exact hash (epoch-invariant,
    * spec-pinned); only the within-shard order key changes:
    * `key_e = difficulty · (E−1−e) + h16(epoch:id) · e` — pure
    * difficulty order at e = 0, pure epoch-salted hash order at
    * e = E−1, integer-interpolated between (the [[mixSchedule]]
    * interpolation move applied to ordering). Difficulty here is the
    * capped token count (longer = harder — the standard length
    * curriculum); the integer key is replayable anywhere.
    *
    * Same physical shape as [[trainingShards]]: the rank rides the
    * shard partitioning (a window per shard is the honest cost — a
    * shard is the unit one writer must fully order; nShards scales
    * with the corpus).
    * @return (doc_id, shard, pos, n_tokens, order_q) */
  def curriculumShards(docs: DataFrame, idCol: String, textCol: String,
      nShards: Int, epoch: Int, epochs: Int): DataFrame = {
    require(nShards >= 1 && epochs >= 1 && epoch >= 0 && epoch < epochs)
    import org.apache.spark.sql.expressions.Window
    val t = TextFns.letterTokens(col(textCol))
    val diff = least(lit(65535L), size(t).cast("long"))
    val oh16 = conv(substring(md5(concat_ws(":", lit(epoch),
      col(idCol).cast("string"))), 1, 4), 16, 10).cast("long")
    val w = Window.partitionBy(col("shard"))
      .orderBy(col("__k").asc, col("doc_id").asc)
    docs.select(col(idCol).as("doc_id"),
        (hash48(col(idCol)) % nShards).as("shard"),
        (diff * lit((epochs - 1 - epoch).toLong) +
          oh16 * lit(epoch.toLong)).as("__k"),
        size(t).cast("long").as("n_tokens"))
      .select(col("doc_id"), col("shard"),
        row_number().over(w).cast("long").as("pos"),
        col("n_tokens"), col("__k").as("order_q"))
  }

  /** Deterministic training-shard layout: the step AFTER curation and
    * mixing, where the corpus is dealt into `nShards` shards and given
    * a reproducible random READ ORDER for the training job — no
    * engine randomness anywhere, so any worker (or a re-run after a
    * failure) derives the identical layout.
    *
    * Two independent hashes split the two concerns:
    *  - `shard` = 48-bit md5-of-id mod nShards — EPOCH-STABLE
    *    membership. A doc's shard never changes, so downstream caches
    *    keyed by shard (tokenized blocks, loader state) survive epoch
    *    turns, and a new epoch never re-shuffles data between shards.
    *  - `pos`   = rank of md5(epoch:id) within the shard — the
    *    PER-EPOCH permutation. Advancing the epoch re-orders every
    *    shard locally (a per-shard re-sort — zero data movement
    *    across shards) which is exactly the "reshuffle each epoch"
    *    contract training loaders expect.
    *
    * The rank is a window partitioned by shard — here that is the
    * honest physical shape, not a scale hazard: a shard IS the unit
    * one writer task must fully order anyway, and `nShards` is chosen
    * so corpus/nShards fits a task (e.g. 100 TB / 50k shards = 2 GB;
    * the sort spills). Contrast the top-k family, where a rank window
    * would sort whole groups to find k rows; here all rows are kept.
    *
    * Returns (doc_id, shard, pos, n_tokens) — n_tokens rides along
    * for the manifest / length-aware batch scheduling. */
  def trainingShards(docs: DataFrame, idCol: String, textCol: String,
      nShards: Int, epoch: Long = 0L): DataFrame = {
    require(nShards >= 1)
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("shard"))
      .orderBy(col("__oh").asc, col("doc_id").asc)
    docs.select(col(idCol).as("doc_id"),
        (hash48(col(idCol)) % nShards).as("shard"),
        md5(concat_ws(":", lit(epoch), col(idCol).cast("string"))).as("__oh"),
        size(TextFns.letterTokens(col(textCol))).cast("long").as("n_tokens"))
      .select(col("doc_id"), col("shard"),
        row_number().over(w).cast("long").as("pos"), col("n_tokens"))
  }

  /** Per-shard manifest of a [[trainingShards]] layout: row/token
    * totals (for length-aware loader scheduling) plus an
    * order-independent integrity checksum (sum of bounded id hashes —
    * verifiable shard-local by any reader, no cross-shard pass). */
  def shardManifest(shards: DataFrame): DataFrame =
    shards.groupBy(col("shard"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("n_tokens"),
        sum(hash48(col("doc_id")) % lit(1000003L)).as("id_checksum"))

  /** Materialize a [[trainingShards]] layout: one `shard=K/` directory
    * per shard, each holding ONE parquet file whose ROW ORDER is the
    * epoch permutation (training loaders stream it sequentially — no
    * read-side sort), plus a `_manifest` sibling (underscore-prefixed,
    * so table readers of `dir` skip it).
    *
    * One hash shuffle on the shard key (`repartition(nShards, shard)`
    * puts each shard wholly in one task → exactly one file per
    * directory) and one in-task spillable sort — the minimum physical
    * work any sharded-ordered layout costs. Epoch advance rewrites
    * with the same membership (shard dirs keep their doc sets; only
    * in-file order changes). */
  def writeTrainingShards(docs: DataFrame, idCol: String, textCol: String,
      dir: String, nShards: Int, epoch: Long = 0L): Unit = {
    require(nShards >= 1)
    val assigned = docs.select(col(idCol).as("doc_id"),
        col(textCol).as("text"),
        (hash48(col(idCol)) % nShards).as("shard"),
        md5(concat_ws(":", lit(epoch), col(idCol).cast("string"))).as("__oh"),
        size(TextFns.letterTokens(col(textCol))).cast("long").as("n_tokens"))
    assigned
      .repartition(nShards, col("shard"))
      .sortWithinPartitions(col("shard"), col("__oh"), col("doc_id"))
      .drop("__oh")
      .write.mode("overwrite").partitionBy("shard").parquet(dir)
    // manifest from the WRITTEN layout, not the input: re-deriving
    // `assigned` would re-scan and re-tokenize the whole corpus a
    // second time, where the layout read is a pruned columnar scan of
    // three small columns (and doubles as a write-back audit)
    val layout = docs.sparkSession.read.parquet(dir)
      .select(col("doc_id"), col("shard").cast("long").as("shard"),
        col("n_tokens"))
    shardManifest(layout)
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/_manifest")
  }

  // ── Dataset governance / release reporting ──

  /** DATASET CARD per source — the per-release governance artifact a
    * curated corpus ships with (what dataset documentation sheets call
    * the composition table): document/token totals, mean length,
    * quality pass rate, exact-duplicate rate, and the dominant
    * predicted language with its share. Every column is exact integer
    * arithmetic (ppm rates, centitoken means) over the deterministic
    * primitives this engine already pins ([[quality]]'s verdict rule,
    * [[langId]]'s scores, md5 content hashes), so the WHOLE report
    * replays bit-for-bit in SQL — a card whose numbers an auditor can
    * re-derive on any engine.
    *
    * Scale shape: one corpus scan computes tokens/quality/content-hash
    * map-side; duplicates come from one hash-keyed count (128-bit
    * uniform keys, no skew); language attribution is a second
    * scan-speed pass ([[langId]] is pure per-row regexes) aggregated
    * to (source, lang) — sources×langs rows, tiny. `dup` means the
    * doc's exact text occurs ≥ 2 times CORPUS-WIDE (cross-source
    * copies count for both sources — the governance question is "how
    * much of this source is duplicated anywhere").
    * @return (source, n_docs, n_tokens, avg_tok_c, keep_ppm, dup_ppm,
    *         top_lang, top_lang_ppm) — avg_tok_c in centitokens */
  def datasetCard(docs: DataFrame, idCol: String, textCol: String,
      sourceCol: String): DataFrame = {
    val t = col(textCol)
    val base = docs.select(col(idCol).as("doc_id"),
      col(sourceCol).as("source"),
      size(TextFns.letterTokens(t)).cast("long").as("n_tok"),
      (size(TextFns.wsTokens(t)) >= 5 &&
        length(regexp_replace(t, "[^\\p{L}]", "")).cast("double") /
          length(t).cast("double") >= 0.5).as("keep"),
      md5(t).as("__h"))
    val dupHashes = base.groupBy(col("__h"))
      .agg(count(lit(1)).as("__c")).where(col("__c") >= 2L)
      .select(col("__h"), lit(1L).as("__dup"))
    val stats = base.join(dupHashes, Seq("__h"), "left")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tok")).as("n_tokens"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("__keep"),
        sum(coalesce(col("__dup"), lit(0L))).as("__dups"))
      .select(col("source"), col("n_docs"), col("n_tokens"),
        expr("(n_tokens * 100L) DIV n_docs").as("avg_tok_c"),
        expr("(__keep * 1000000L) DIV n_docs").as("keep_ppm"),
        expr("(__dups * 1000000L) DIV n_docs").as("dup_ppm"))
    // dominant predicted language per source: ties break to the
    // LEXICOGRAPHICALLY FIRST language (min over (-cnt, lang) structs).
    // Its own scan-speed pass with predLang INLINE (per-row regex
    // expressions folding straight into a map-side partial agg) — a
    // doc_id join against langId's output shuffles the corpus, and a
    // persisted shared base was MEASURED slower at both sf0.1 and the
    // 100× corpus than letting two pipelined scans recompute (the
    // cache write of per-doc hash/lang strings costs more than the
    // second tokenize)
    val langs = docs
      .select(col(sourceCol).as("source"), predLang(t).as("pred_lang"))
      .groupBy(col("source"), col("pred_lang"))
      .agg(count(lit(1)).as("__n"))
      .groupBy(col("source"))
      .agg(min(struct((-col("__n")).as("nn"), col("pred_lang").as("l")))
        .as("__top"), sum(col("__n")).as("__tot"))
      .select(col("source"), col("__top.l").as("top_lang"),
        expr("((-__top.nn) * 1000000L) DIV __tot").as("top_lang_ppm"))
    stats.join(langs, Seq("source"))
  }

  /** EPOCH-ANNEALED mixture schedule — the multi-epoch form of
    * [[temperatureMix]]: early epochs sample each source close to its
    * natural (proportional) share, late epochs flatten toward the
    * √-temperature mix that upweights small/rare sources — the
    * staged-pretraining curriculum move (match the web distribution
    * first, emphasize scarce high-value sources as training matures).
    * Epoch e of `epochs` interpolates the two regimes with integer
    * weights: `w_e = n_tokens · (E−1−e) + floor(√n_tokens) · e`
    * (pure proportional at e = 0, pure √-temperature at e = E−1 —
    * units cancel in the per-epoch share, so the interpolation is
    * scale-free), then the per-epoch target and md5 keep-cut follow
    * [[temperatureMix]]'s exact integer arithmetic. The whole schedule
    * is a (epochs × sources)-row table computed from one corpus scan —
    * the training loader applies the epoch's cut map-side, the same
    * [[Relational.deterministicSample]] decision rule.
    * @return (epoch, source, n_docs, n_tokens, w_q, target_tokens,
    *         cut_q) */
  def mixSchedule(docs: DataFrame, idCol: String, textCol: String,
      sourceCol: String, budgetTokens: Long, epochs: Int): DataFrame = {
    require(budgetTokens > 0 && epochs >= 1)
    val stats = docs.select(col(sourceCol).as("source"),
        size(TextFns.letterTokens(col(textCol))).cast("long").as("n_tok"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tokens"))
      .withColumn("__sq",
        floor(sqrt(col("n_tokens").cast("double"))).cast("long"))
    val perEpoch = stats
      .withColumn("epoch", explode(sequence(lit(0L), lit(epochs - 1L))))
      .withColumn("w_q", expr(
        s"n_tokens * (${epochs - 1}L - epoch) + __sq * epoch"))
    val sums = perEpoch.groupBy(col("epoch"))
      .agg(sum(col("w_q")).as("__wsum"))
    perEpoch.join(broadcast(sums), Seq("epoch"))
      .withColumn("target_tokens",
        expr(s"(${budgetTokens}L * w_q) DIV __wsum"))
      .withColumn("cut_q",
        when(col("n_tokens") === 0L, lit(65536L)).otherwise(
          least(lit(65536L), expr("(target_tokens * 65536L) DIV n_tokens"))))
      .select(col("epoch"), col("source"), col("n_docs"), col("n_tokens"),
        col("w_q"), col("target_tokens"), col("cut_q"))
  }

  /** CONTAMINATION REPORT per eval item — the release-audit artifact
    * that unifies the two decontamination axes: for every eval doc,
    * how many corpus docs share ≥ `minShared` distinct word `n`-grams
    * with it (lexical — [[decontaminate]]'s relation BEFORE the
    * per-train-doc rollup, keeping eval attribution) and how many
    * corpus embeddings reach cosine ≥ `tau` against it (semantic —
    * [[Similarity.semanticDecontaminate]]'s relation before the
    * best-match rollup), plus the overlap of the two offender sets
    * (docs and embeddings share the id space). An eval item with
    * n_both > 0 is leaked verbatim; n_semantic-only rows are the
    * paraphrase leakage the lexical check misses.
    *
    * Scale shape: the eval side is a bounded benchmark — its gram set
    * broadcasts and the lexical pair volume is ∝ contamination
    * (gram-key equi-join). The SEMANTIC axis has two regimes: the
    * default broadcast brute force (corpus scanned once, per-row
    * |eval| dots — exact, right while the eval suite fits a
    * broadcast), and the `kmeansIndexPath` form that routes through
    * the stored clustering ([[Similarity
    * .semanticDecontaminateBlockedPairs]] — corpus and eval meet on
    * the cluster equi-key, work Σ|corpus_c|·|eval_c|, the
    * continuous-decontamination shape when eval suites accumulate;
    * the standard multi-probe recall trade applies to the semantic
    * counts). The report is |eval|-row either way.
    * @return (eval_id, n_lexical, n_semantic, n_both) */
  def contaminationReport(train: DataFrame, evalDocs: DataFrame,
      trainEmb: DataFrame, evalEmb: DataFrame, idCol: String,
      textCol: String, vecIdCol: String, vecCol: String, n: Int = 5,
      minShared: Long = 1L, tau: Double = 0.40,
      kmeansIndexPath: Option[String] = None,
      nProbe: Int = 2): DataFrame = {
    val trainGrams = Dedup.rawGrams(train, idCol, textCol, n)
    val evalGrams = Dedup.gramSets(evalDocs, idCol, textCol, n)
      .select(col("doc_id").as("eval_id"), col("g"))
    // BOTH offender relations feed two consumers each (their own
    // rollup + the n_both semi-join) — persisted through [[Caches]] so
    // the dominant pass behind each (the full train-gram scan for lex,
    // the corpus×eval scoring for sem) runs ONCE instead of twice
    // (guide §2.4: the cheapest shuffle is the one you don't repeat).
    // The relations are contamination-sized, far below their inputs.
    val lex = Caches.persist(trainGrams.join(broadcast(evalGrams), Seq("g"))
      .groupBy(col("eval_id"), col("doc_id"))
      .agg(countDistinct(col("g")).as("__sh"))
      .where(col("__sh") >= minShared))
    val sem0 = kmeansIndexPath match {
      case Some(p) =>
        graft.operators.Similarity.semanticDecontaminateBlockedPairs(
            trainEmb.sparkSession,
            trainEmb.select(col(vecIdCol), col(vecCol)),
            evalEmb.select(col(vecIdCol), col(vecCol)),
            vecIdCol, vecCol, tau, p, nProbe)
          .select(col("eval_id"), col(vecIdCol).as("doc_id"))
      case None =>
        trainEmb.select(col(vecIdCol).as("doc_id"), col(vecCol))
          .crossJoin(broadcast(evalEmb.select(col(vecIdCol).as("eval_id"),
            col(vecCol).as("__ev"))))
          .where(graft.functions.VectorFns.cosineQ(col(vecCol), col("__ev"))
            >= tau)
          .select(col("eval_id"), col("doc_id"))
    }
    val sem = Caches.persist(sem0)
    val nLex = lex.groupBy(col("eval_id"))
      .agg(count(lit(1)).as("n_lexical"))
    val nSem = sem.groupBy(col("eval_id"))
      .agg(count(lit(1)).as("n_semantic"))
    val nBoth = lex.select(col("eval_id"), col("doc_id"))
      .join(sem, Seq("eval_id", "doc_id"), "left_semi")
      .groupBy(col("eval_id")).agg(count(lit(1)).as("n_both"))
    nLex.join(nSem, Seq("eval_id"), "full_outer")
      .join(nBoth, Seq("eval_id"), "full_outer")
      .select(col("eval_id"),
        coalesce(col("n_lexical"), lit(0L)).as("n_lexical"),
        coalesce(col("n_semantic"), lit(0L)).as("n_semantic"),
        coalesce(col("n_both"), lit(0L)).as("n_both"))
  }

  /** PACKING-EFFICIENCY report over a [[packSequences]] layout: per
    * shard, how full the fixed-`budget` token bins actually are —
    * the padding-waste diagnostic a training-throughput review reads
    * (fill_ppm « 10⁶ means the loader pads, i.e. FLOPs burned on pad
    * tokens). n_bins is derived from the packing's own arithmetic
    * (last start position's bin + 1), capacity = n_bins · budget,
    * fill_ppm = tokens · 10⁶ DIV capacity — all integers, fully
    * SQL-replayable. One aggregation over the packing relation;
    * output is |shards|-row. */
  def packEfficiency(packed: DataFrame, budget: Int): DataFrame = {
    require(budget >= 1)
    packed.groupBy(col("shard"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("n_tokens"),
        (max(col("bin")) + 1L).as("n_bins"))
      .select(col("shard"), col("n_docs"), col("n_tokens"), col("n_bins"),
        expr(s"n_bins * ${budget}L").as("capacity"),
        expr(s"(n_tokens * 1000000L) DIV (n_bins * ${budget}L)")
          .as("fill_ppm"))
  }

  /** DROP-ATTRIBUTION report — for EVERY input document, which
    * curation stage removed it (or `kept`): the governance artifact
    * that answers the first question anyone asks of a curated release
    * ("where did my documents go?") and the denominator audit behind
    * [[datasetCard]]'s keep rates. Stages are the doc-DROPPING stages
    * of the v1/v3 pipeline compositions (`q_corpus_pipeline_v3`), in
    * pipeline order, and attribution is FIRST-failure — a doc failing
    * both the Gopher rules and the budget cut reports `gopher`,
    * because downstream stages never saw it (the cap ranks only
    * gopher survivors; the budget cut is computed from the capped
    * set's scrubbed token counts, so attribution is only meaningful
    * against the staged populations, not stage predicates evaluated
    * independently):
    *  - `gopher`  — failed [[gopherRules]] (minWords param; the other
    *    rule thresholds are the battery's fixed ones);
    *  - `cap`     — passed the rules but ranked past the per-source
    *    [[domainCap]];
    *  - `budget`  — survived the cap but lost the
    *    [[temperatureMixDocs]] md5 cut over
    *    [[dedupExactSubstrings]]-scrubbed counts;
    *  - `kept`    — in the release.
    *
    * Scale shape: exactly the v3 pipeline's stage costs (rule pass is
    * scan-speed; cap is a bounded heap; scrub never shuffles text;
    * the mix is a broadcast of per-source cuts) plus three doc_id
    * hash joins back to the input — no new window, no new sort; the
    * report is |docs|-row. The gopher-survivor set is consumed by
    * three downstream branches (cap ranking, scrub counts, the
    * attribution join), so it is persisted through
    * [[graft.operators.Caches]] — callers outside a releasing
    * harness should `Caches.release()` when done.
    * @return (doc_id, source, stage) */
  def dropAttribution(docs: DataFrame, idCol: String, textCol: String,
      sourceCol: String, minWords: Int = 25, cap: Int = 10,
      budgetTokens: Long = 2000L): DataFrame = {
    require(cap >= 1 && budgetTokens > 0)
    val base = docs.select(col(idCol).as("doc_id"),
      col(sourceCol).as("source"), col(textCol).as("text"))
    val gok = gopherRules(base, "doc_id", "text", minWords = minWords)
      .where(col("verdict")).select("doc_id")
    val gDocs = graft.operators.Caches.persist(
      base.join(gok, Seq("doc_id"), "left_semi"))
    val capped = graft.operators.Caches.persist(gDocs.join(
      domainCap(gDocs, "doc_id", "source", cap).select("doc_id"),
      Seq("doc_id"), "left_semi"))
    val counts = capped.select(col("doc_id"), col("source"))
      .join(dedupExactSubstrings(capped, "doc_id", "text")
        .select(col("doc_id"), col("n_kept").as("n_tok")), Seq("doc_id"))
    val kept = temperatureMixDocs(counts, budgetTokens)
      .where(col("kept")).select("doc_id")
    base.select(col("doc_id"), col("source"))
      .join(gDocs.select(col("doc_id"), lit(1L).as("__g")),
        Seq("doc_id"), "left")
      .join(capped.select(col("doc_id"), lit(1L).as("__c")),
        Seq("doc_id"), "left")
      .join(kept.select(col("doc_id"), lit(1L).as("__k")),
        Seq("doc_id"), "left")
      .select(col("doc_id"), col("source"),
        when(col("__g").isNull, lit("gopher"))
          .when(col("__c").isNull, lit("cap"))
          .when(col("__k").isNull, lit("budget"))
          .otherwise(lit("kept")).as("stage"))
  }

  // ── Incremental dataset card ──
  //
  // The stored/ingest form of [[datasetCard]] — the same arc every
  // other release artifact in this engine has (band index, substring
  // owners, kNN graph, drift counts): a long-running ingest maintains
  // per-batch ADDITIVE partials and the card is assembled from the
  // stored relations, never by re-scanning the corpus. Three sibling
  // tables under `path`:
  //   stats/batch=<id>  (source, n_docs, n_tokens, n_keep)
  //   langs/batch=<id>  (source, pred_lang, n)
  //   hashes/batch=<id> (source, h, cnt)   — per-source md5 counts
  // Idempotency is the admitted-corpus pattern (per-batch-directory
  // OVERWRITE): an at-least-once re-delivery rewrites its own dir and
  // double-counts nothing. The corpus-wide dup definition survives
  // incrementality because dup-ness is derived at READ time from the
  // summed hash counts — a text seen once in batch 3 and again in
  // batch 7 becomes a duplicate retroactively for both, exactly as
  // the batch card over the concatenated corpus would say.

  /** Fold one arriving batch's card partials into the stored card
    * index at `path` (see the section comment for the layout).
    * Cost ∝ batch: three map-side-combined aggregates over the batch
    * only; the stored tables are never read or rewritten. The hashes
    * partial is counts-only — (source, 32-hex md5, cnt) — so the
    * stored index grows with distinct batch content, not text volume
    * (the same magnitude as the dedup hash index). `coalesceTo`
    * bounds per-batch file counts for small streaming batches
    * (cf. [[Dedup.writeBandIndexFromBuckets]]). */
  def appendToCardIndex(docs: DataFrame, idCol: String, textCol: String,
      sourceCol: String, path: String, batchId: Long,
      coalesceTo: Int = 1): Unit = {
    val t = col(textCol)
    // ONE pass over the batch text derives every per-doc fact the three
    // partials need (the text itself never persists — the cached base
    // is (source, long, bool, 32-hex, 3-char) per doc). Unlike the
    // batch [[datasetCard]] — where a shared persisted base was
    // measured slower than two pipelined scans — the append path has
    // THREE consumers and each would otherwise re-pay the tokenize,
    // the quality regexes, and (for a `Q.t`-shaped source) the
    // round-robin text exchange per write job.
    val base = docs.select(col(sourceCol).as("source"),
      size(TextFns.letterTokens(t)).cast("long").as("n_tok"),
      (size(TextFns.wsTokens(t)) >= 5 &&
        length(regexp_replace(t, "[^\\p{L}]", "")).cast("double") /
          length(t).cast("double") >= 0.5).as("keep"),
      md5(t).as("h"),
      predLang(t).as("pred_lang"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      def w(df: DataFrame, sub: String): Unit =
        (if (coalesceTo > 0) df.coalesce(coalesceTo) else df)
          .write.mode("overwrite").parquet(s"$path/$sub/batch=$batchId")
      w(base.groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tokens"),
          sum(when(col("keep"), 1L).otherwise(0L)).as("n_keep")), "stats")
      w(base.groupBy(col("source"), col("pred_lang"))
        .agg(count(lit(1)).as("n")), "langs")
      w(base.groupBy(col("source"), col("h"))
        .agg(count(lit(1)).as("cnt")), "hashes")
    } finally base.unpersist()
  }

  /** Assemble the dataset card from a stored card index — bit-identical
    * to [[datasetCard]] over the concatenated batches (spec-pinned),
    * without touching any document text: the stats/langs reads are
    * (sources × batches)- and (sources × langs × batches)-row; the
    * only corpus-proportional work is the hash-count sum (one
    * 128-bit-key aggregate over the counts table, no skew) feeding
    * the corpus-wide dup rule `sum(cnt) >= 2`. */
  def cardFromIndex(spark: org.apache.spark.sql.SparkSession,
      path: String): DataFrame = {
    val stats = spark.read.parquet(s"$path/stats")
      .groupBy(col("source"))
      .agg(sum(col("n_docs")).as("n_docs"),
        sum(col("n_tokens")).as("n_tokens"),
        sum(col("n_keep")).as("__keep"))
    val hashes = spark.read.parquet(s"$path/hashes")
      .groupBy(col("source"), col("h")).agg(sum(col("cnt")).as("__c"))
    val dupHashes = hashes.groupBy(col("h"))
      .agg(sum(col("__c")).as("__cg")).where(col("__cg") >= 2L)
      .select(col("h"))
    val dups = hashes.join(dupHashes, Seq("h"), "left_semi")
      .groupBy(col("source")).agg(sum(col("__c")).as("__dups"))
    val rates = stats.join(dups, Seq("source"), "left")
      .withColumn("__dups", coalesce(col("__dups"), lit(0L)))
      .select(col("source"), col("n_docs"), col("n_tokens"),
        expr("(n_tokens * 100L) DIV n_docs").as("avg_tok_c"),
        expr("(__keep * 1000000L) DIV n_docs").as("keep_ppm"),
        expr("(__dups * 1000000L) DIV n_docs").as("dup_ppm"))
    val langs = spark.read.parquet(s"$path/langs")
      .groupBy(col("source"), col("pred_lang"))
      .agg(sum(col("n")).as("__n"))
      .groupBy(col("source"))
      .agg(min(struct((-col("__n")).as("nn"), col("pred_lang").as("l")))
        .as("__top"), sum(col("__n")).as("__tot"))
      .select(col("source"), col("__top.l").as("top_lang"),
        expr("((-__top.nn) * 1000000L) DIV __tot").as("top_lang_ppm"))
    rates.join(langs, Seq("source"))
  }

  /** Build-once card index through
    * [[graft.io.StoredIndex.ensureBatches]] over all three partials
    * (ingest builds, queries only read); a torn build re-runs `build`
    * for the missing ids, whose per-batch overwrites make the re-run
    * idempotent. Content-address the path ([[graft.io.IndexPaths]]) so
    * regenerated sources never reuse a stale index. */
  def ensureCardIndex(spark: org.apache.spark.sql.SparkSession,
      path: String, batchIds: Seq[Long])(build: Seq[Long] => Unit): Unit =
    graft.io.StoredIndex.ensureBatches(spark, path,
      Seq("stats", "langs", "hashes"), batchIds)(build)

  /** TOKENIZER-FERTILITY audit per predicted language — the dataset
    * card's tokenizer-fairness companion: BPE tokens per 100
    * whitespace words (`fert_cpw`, centitokens-per-word) for each
    * language the corpus contains. High fertility for a language means
    * the tokenizer fragments it — its documents cost more context
    * budget per word and train worse, the standard multilingual-
    * tokenizer audit (e.g. why byte-fallback BPE inflates non-Latin
    * scripts). `fert_ok` pins the algebraic bounds (words ≤ bpe ≤
    * chars) the encode must satisfy.
    *
    * Scale shape: ONE scan — the language is predicted by row-local
    * expressions in the same pass that feeds the partition-memoized
    * BPE encode ([[graft.functions.Bpe.tokenCountsBpeTagged]]), so
    * there is no corpus-keyed join between the lang and count
    * relations; output is |langs|-row. The BPE value itself is not
    * SQL-replayable (the oracle pins the language rollup exactly and
    * the bounds as booleans; TokenizerSpec pins exact fertility values
    * against a direct encode).
    * @return (pred_lang, n_docs, n_ws_tokens, fert_cpw, fert_ok) */
  def tokenizerFertility(docs: DataFrame, idCol: String, textCol: String,
      merges: Seq[(String, String)] = graft.functions.Bpe.defaultMerges)
      : DataFrame = {
    val counts = graft.functions.Bpe.tokenCountsBpeTagged(docs, idCol,
      textCol, predLang(col(textCol)), merges)
    counts.groupBy(col("tag").as("pred_lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("ws_tokens")).as("n_ws_tokens"),
        sum(col("bpe_tokens")).as("__bpe"),
        sum(col("char_tokens")).as("__chars"))
      .select(col("pred_lang"), col("n_docs"), col("n_ws_tokens"),
        when(col("n_ws_tokens") > 0L,
          expr("(__bpe * 100L) DIV n_ws_tokens")).otherwise(lit(0L))
          .as("fert_cpw"),
        (col("__bpe") >= col("n_ws_tokens") &&
          col("__bpe") <= col("__chars")).as("fert_ok"))
  }

  /** Fold a card index's accreted batch directories into one additive
    * partial per table (`batch=-1`), so a long-running ingest's file
    * count tracks distinct CONTENT, not batch history — the governance
    * sibling of [[Dedup.compactAdmitted]], with the same replay
    * contract: the newest `keepLast` batch dirs stay out of the fold,
    * because the one batch a restart can re-deliver must keep owning
    * its own overwrite-idempotent directory (folding it would turn the
    * replay's overwrite into a double count). Each fold re-AGGREGATES
    * (groupBy-sum over the partials' keys), so the compacted tables
    * shrink to distinct (source), (source, lang), (source, hash) rows.
    * Crash-safe via [[graft.io.Compaction.swapIn]]. */
  def compactCardIndex(spark: org.apache.spark.sql.SparkSession,
      path: String, targetFiles: Int = 1, keepLast: Int = 1): Unit = {
    def fold(sub: String, keys: Seq[String], sums: Seq[String]): Unit =
      graft.io.Compaction.foldBatches(spark, s"$path/$sub", targetFiles,
        keepLast)(_.groupBy(keys.map(col): _*)
          .agg(sum(col(sums.head)).as(sums.head),
            sums.tail.map(c => sum(col(c)).as(c)): _*))
    fold("stats", Seq("source"), Seq("n_docs", "n_tokens", "n_keep"))
    fold("langs", Seq("source", "pred_lang"), Seq("n"))
    fold("hashes", Seq("source", "h"), Seq("cnt"))
  }

  /** Advance a WRITTEN [[writeTrainingShards]] layout to a new epoch
    * WITHOUT re-tokenizing the corpus: membership (`shard`) and
    * `n_tokens` are epoch-invariant and already in the layout, so the
    * epoch turn seeds from the existing directory's
    * (doc_id, text, shard, n_tokens) — a columnar read with zero
    * [[graft.functions.TextFns.letterTokens]] work — recomputes only
    * the order hash, re-sorts within shards, and swaps the new layout
    * in. Data never moves between shards (the membership hash is
    * untouched), exactly the per-epoch contract [[trainingShards]]
    * documents.
    *
    * The rewrite stages into [[graft.io.Compaction.tmpPathOf]] and
    * commits with the marker-file swap ([[graft.io.Compaction
    * .swapIn]]): training loaders reading `dir` see the OLD epoch
    * until the commit point, a crash mid-stage rolls back, a crash
    * mid-commit rolls forward. Result layout (files, row order,
    * manifest) is identical to a from-scratch
    * `writeTrainingShards(epoch)` over the same docs (spec-pinned) —
    * minus the corpus-wide tokenize pass. */
  def advanceTrainingShardEpoch(spark: org.apache.spark.sql.SparkSession,
      dir: String, nShards: Int, epoch: Long): Unit = {
    require(nShards >= 1)
    graft.io.Compaction.swapIn(spark, dir, Seq(dir)) { tmp =>
      // the staging write re-reads `dir`, which survives until the
      // commit-point delete — no read-under-overwrite hazard
      spark.read.parquet(dir)
        .select(col("doc_id"), col("text"),
          col("shard").cast("long").as("shard"), col("n_tokens"),
          md5(concat_ws(":", lit(epoch), col("doc_id").cast("string")))
            .as("__oh"))
        .repartition(nShards, col("shard"))
        .sortWithinPartitions(col("shard"), col("__oh"), col("doc_id"))
        .drop("__oh")
        .write.partitionBy("shard").parquet(tmp)
      val layout = spark.read.parquet(tmp)
        .select(col("doc_id"), col("shard").cast("long").as("shard"),
          col("n_tokens"))
      shardManifest(layout)
        .coalesce(1).write.mode("overwrite").parquet(s"$tmp/_manifest")
    }
  }
}
