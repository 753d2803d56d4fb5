package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.TextFns

/** Document deduplication: exact (hash group-by), MinHash+LSH and SimHash
  * near-dup, and exact n-gram Jaccard. All pipelines are pure DataFrame
  * compositions whose only shuffles are the unavoidable ones (group by
  * content hash; group by band bucket) — the MapReduce shape the
  * reference itself uses (map → hash-partition → reduce,
  * `/root/reference/mpWorker/worker.go:142-151`), with Spark supplying
  * the shuffle the reference never finished.
  */
object Dedup {

  /** Exact dedup: group documents by content hash, keep the smallest id.
    * One shuffle on a 128-bit hash — uniform keys, no skew at any scale. */
  def exactKeepers(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.groupBy(md5(col(textCol)).as("content_hash"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))

  /** Distinct word n-gram shingles, one row per (id, gram).
    *
    * The token array is materialized in its own projection before the
    * n-gram transform: inlining `letterTokens` directly into
    * `wordNGrams` duplicates the split+filter expression into every
    * `element_at` of the lambda, so Catalyst re-tokenizes the document
    * once per gram position × n — O(words²) per doc (measured: 85× the
    * CPU of the factored form at sf0.1). */
  def gramSets(docs: DataFrame, idCol: String, textCol: String, n: Int): DataFrame =
    rawGrams(docs, idCol, textCol, n).distinct()

  /** Word n-gram shingles WITHOUT the distinct — one row per gram
    * occurrence, no shuffle. Feeds aggregations that are insensitive to
    * duplicates (elementwise-min MinHash), which then need no
    * corpus-wide dedup shuffle at all. */
  def rawGrams(docs: DataFrame, idCol: String, textCol: String, n: Int): DataFrame =
    docs.select(col(idCol).as("doc_id"),
        TextFns.letterTokens(col(textCol)).as("__toks"))
      .select(col("doc_id"),
        explode(TextFns.wordNGrams(col("__toks"), n)).as("g"))

  /** MinHash signatures: `numHashes` independent hash views of the gram
    * set, elementwise-min aggregated. The gram string is hashed ONCE
    * (xxhash64); the independent views are universal-hash mixes of that
    * long (odd multiplier + offset, wrapping 64-bit arithmetic) — 64
    * multiply-adds instead of 64 string hashes per gram row. Uses
    * native `min` aggregates (codegen'd, map-side partial agg): the
    * shuffle carries one row per (doc, 64 longs), not one per gram. */
  def minhashSignatures(grams: DataFrame, numHashes: Int): DataFrame = {
    val base = grams.select(col("doc_id"), xxhash64(col("g")).as("h"))
    // derived views hash the 8-byte base long (seeded by i) — a few
    // integer rounds each, vs re-hashing the ~30-char gram string
    val hashed = base.select(
      (col("doc_id") +: (0 until numHashes).map(i =>
        xxhash64(lit(i), col("h")).as(s"h$i"))): _*)
    val mins = (0 until numHashes).map(i => min(col(s"h$i")).as(s"m$i"))
    hashed.groupBy(col("doc_id")).agg(mins.head, mins.tail: _*)
      .select(col("doc_id"),
        array((0 until numHashes).map(i => col(s"m$i")): _*).as("sig"))
  }

  /** Positionally-combined gram HASHES, no gram strings: hash each
    * token once (`xxhash64(t)`), then combine each n-window of token
    * hashes with one more `xxhash64(h_i..h_{i+n-1})`. Set-equivalent to
    * hashing the concatenated gram (the combine is injective enough for
    * MinHash) but skips all string concatenation/allocation. One native
    * pass per document ([[graft.functions.expr.GramHashes]]), one row
    * per gram occurrence, no shuffle. */
  def gramHashes(docs: DataFrame, idCol: String, textCol: String, n: Int): DataFrame = {
    import org.apache.spark.sql.graft.shim
    docs.select(col(idCol).as("doc_id"), explode(shim.column(
      graft.functions.expr.GramHashes(shim.expression(col(textCol)), n))).as("gh"))
  }

  /** Signatures over pre-hashed grams ([[gramHashes]]) via the long-
    * input native aggregate — the signature path of
    * [[minhashDedupPairs]], and the reference that pins the per-row
    * [[rowSignatures]] bit-equal (DedupSpec). */
  def minhashSignaturesHashed(gramHs: DataFrame, numHashes: Int): DataFrame = {
    import org.apache.spark.sql.graft.shim
    val sig = shim.column(
      graft.functions.expr.MinHashSigLong(shim.expression(col("gh")), numHashes)
        .toAggregateExpression())
    gramHs.groupBy(col("doc_id")).agg(sig.as("sig"))
  }

  /** Same signatures via ONE buffer-based native aggregate
    * ([[graft.functions.expr.MinHashSig]], TypedImperativeAggregate):
    * bit-identical output, single primitive long[] buffer per group
    * instead of 64 separate min-columns — half the codegen, less GC at
    * corpus scale. */
  def minhashSignaturesAgg(grams: DataFrame, numHashes: Int): DataFrame = {
    import org.apache.spark.sql.graft.shim
    val sig = shim.column(
      graft.functions.expr.MinHashSig(shim.expression(col("g")), numHashes)
        .toAggregateExpression())
    grams.groupBy(col("doc_id")).agg(sig.as("sig"))
  }

  /** Per-ROW MinHash signatures as one row-local generator — NO
    * aggregation, so it runs on an unbounded stream (the signature step
    * of [[graft.streaming.Streams.nearDupPairsStream]]) and on any
    * batch slice with zero shuffle; the stored band index operations
    * ([[docBandBuckets]]: its build, lookup and ingest) sign documents
    * here.
    * Bit-identical to [[minhashSignaturesHashed]] (same token-hash →
    * window-combine → `xxhash64(i, h)` view chain; asserted in
    * DedupSpec), computed by one native kernel per document
    * ([[graft.functions.expr.RowMinHash]]): letter runs, token hashes,
    * windows and the `numHashes` minima in one pass, where the
    * aggregate path explodes one row per gram and shuffles a partial
    * buffer per document. Docs with fewer than `ngram` tokens have no
    * grams — and no signature row (same as the agg path). */
  def rowSignatures(docs: DataFrame, idCol: String, textCol: String,
      ngram: Int = 3, numHashes: Int = 64): DataFrame = {
    import org.apache.spark.sql.graft.shim
    docs.select(col(idCol).as("doc_id"), shim.column(
      graft.functions.expr.RowMinHash(shim.expression(col(textCol)), ngram,
        numHashes)).as("sig"))
  }

  /** LSH banding: split the signature into `bands` bands of `rows` values;
    * a band's bucket key is the hash of its slice. Docs sharing any
    * band bucket become candidate pairs. */
  def lshBandBuckets(sigs: DataFrame, bands: Int, rows: Int): DataFrame =
    sigs.select(col("doc_id"),
      posexplode(array((0 until bands).map(b =>
        xxhash64(lit(b), slice(col("sig"), b * rows + 1, rows))): _*)))
      .toDF("doc_id", "band", "bucket")

  /** Candidate pairs from shared band buckets (deduplicated), with the
    * per-bucket hot-key guard of [[cappedBucketPairs]]: LSH bucket keys
    * are uniform for DISTINCT documents, but a cluster of m identical
    * documents shares one signature → one bucket, and an unguarded
    * self-join would materialize m² pairs in a single reducer (10¹²
    * rows for a million-copy boilerplate page at 100 TB). */
  def candidatePairs(buckets: DataFrame, maxBucket: Int = 64): DataFrame =
    cappedBucketPairs(buckets, Seq("band", "bucket"), "doc_id", maxBucket)
      .toDF("doc_a", "doc_b").distinct()

  /** Bounded pair generation within equi-join buckets — the standard
    * MinHash-at-scale guard against hot buckets. Members of each bucket
    * are ranked by id; pairs are
    *   - ALL pairs among the first `maxBucket` members (exhaustive
    *     where the bucket is small), plus
    *   - a representative star: (rank-1 member, m) for every overflow
    *     member m beyond the cap.
    * Per-bucket output (and work) is ≤ maxBucket²/2 + (size − maxBucket)
    * — LINEAR in bucket size beyond the cap, vs quadratic unguarded. An
    * over-full bucket is by definition a near-dup cluster (its members
    * share a whole signature band), so star edges to one representative
    * keep the cluster connected for downstream transitive clustering;
    * only borderline overflow-overflow pairs lose their direct rescore.
    *
    * Execution shape (round 5 — replaces the rank-window self-join,
    * whose unconditional `row_number` shuffled AND sorted the whole
    * bands×corpus bucket relation although almost every bucket is a
    * singleton; measured 2.8× the entire pipeline's cost at sf0.1):
    *  - ONE bounded aggregate per bucket
    *    ([[graft.functions.expr.BottomKLongs]]): the `maxBucket`
    *    smallest member ids, k-bounded max-heap buffer, map-side
    *    combined — at most `maxBucket` longs per bucket per map
    *    partition cross the (tiny, one-row-per-distinct-bucket)
    *    shuffle. No sort anywhere.
    *  - CORE pairs explode row-locally from that sorted array — all
    *    pairs among the ≤ cap smallest ids, generated once per bucket
    *    with no join at all.
    *  - STAR edges (representative → overflow member) only exist for
    *    buckets with > cap members — by definition boilerplate-cluster
    *    buckets, vanishingly rare even at 100 TB — so the probe join
    *    against the bucket relation broadcasts that tiny overflow
    *    bucket list and keeps `NOT array_contains(kept, id)` members.
    * Per-bucket output (and work) stays ≤ cap²/2 + (m − cap). The
    * aggregate and star-probe branches both read `buckets`: the
    * expensive subtree below it must end in an exchange they share
    * (AQE computes it once, ReusedExchange — the signature aggregation
    * in [[minhashDedupPairs]]) or be a persisted frame, or it runs once
    * per branch.
    *
    * Returns (id_a, id_b) with id_a < id_b, NOT deduplicated across
    * buckets. */
  private[operators] def cappedBucketPairs(buckets: DataFrame,
      keyCols: Seq[String], idCol: String, maxBucket: Int): DataFrame = {
    require(maxBucket >= 2, "maxBucket must allow at least one pair")
    import org.apache.spark.sql.graft.shim
    val bottomK = shim.column(
      graft.functions.expr.BottomKLongs(
        shim.expression(col(idCol).cast("long")), maxBucket)
        .toAggregateExpression())
    val hot = buckets.groupBy(keyCols.map(col): _*)
      .agg(bottomK.as("__kept"), count(lit(1)).as("__n"))
      .where(col("__n") >= 2)
    // __kept is sorted ascending, so pairing each element with its
    // successors yields id_a < id_b directly.
    val core = hot.select(explode(flatten(transform(col("__kept"), (x, i) =>
        transform(slice(col("__kept"), i + lit(2), size(col("__kept"))),
          y => struct(x.as("id_a"), y.as("id_b")))))).as("__p"))
      .select(col("__p.id_a"), col("__p.id_b"))
    val overflow = hot.where(col("__n") > maxBucket)
      .select((keyCols.map(col) :+ element_at(col("__kept"), 1).as("__rep")
        :+ col("__kept")): _*)
    val star = buckets.join(broadcast(overflow), keyCols)
      .where(!array_contains(col("__kept"), col(idCol).cast("long")))
      .select(col("__rep").as("id_a"), col(idCol).cast("long").as("id_b"))
    core.unionByName(star)
  }

  /** Exact Jaccard for given pairs, from the gram sets. The candidate
    * pair list is tiny relative to the gram corpus — broadcast it, so
    * the expanded (pair × gram-of-a) side is built without shuffling
    * the gram table, and only ONE big shuffle remains (the equi-join on
    * (doc_b, g)). Shuffles scale with |candidates|·|grams per doc| +
    * |grams|, not |docs|². */
  def jaccard(pairs: DataFrame, grams: DataFrame): DataFrame = {
    val ga = grams.toDF("doc_a", "g")
    val gb = grams.toDF("doc_b", "g")
    val inter = ga.join(pairs, "doc_a").join(gb, Seq("doc_b", "g"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("n_inter"))
    // sizes is one row per doc (big at corpus scale): stream it against
    // the per-pair intermediates, which stay |candidates|-sized. Join
    // strategy is left to AQE: candidate volume is DATA-DEPENDENT, and a
    // forced broadcast of it OOM'd the 10x ingest loop on a
    // template-heavy corpus — runtime sizes pick broadcast only when the
    // relation actually is small
    val sizes = grams.groupBy(col("doc_id")).agg(count(lit(1)).as("sz"))
    val withA = sizes.toDF("doc_a", "sz_a").join(inter, "doc_a")
    sizes.toDF("doc_b", "sz_b").join(withA, "doc_b")
      .select(col("doc_a"), col("doc_b"),
        (col("n_inter").cast("double") /
          (col("sz_a") + col("sz_b") - col("n_inter")).cast("double")).as("jaccard"))
  }

  /** End-to-end MinHash-LSH near-dup detection: pairs with exact
    * n-gram Jaccard >= threshold, found via LSH (not all-pairs).
    * 16 bands × 4 rows: P(catch | J=t) = 1-(1-t^4)^16 — ≥0.9998 at
    * t=0.8, indistinguishable from 1 at the J≈0.95 dups real corpora
    * (and this testdata) contain.
    * Persists the candidate list through [[Caches]] — release with
    * `Caches.release()` after the consuming action. */
  def minhashDedupPairs(docs: DataFrame, idCol: String, textCol: String,
      ngram: Int = 3, numHashes: Int = 64, bands: Int = 16,
      threshold: Double = 0.8, maxBucket: Int = 64): DataFrame = {
    // Signature path: RAW (non-distinct) gram HASHES stream straight
    // into the per-doc min-aggregate — duplicates cannot change a min,
    // so the corpus-wide distinct shuffle is skipped entirely, and no
    // gram strings are ever built (tokens hashed once, windows combined
    // hash-to-hash). The only signature-side shuffle is the partial-
    // aggregated groupBy(doc_id), one 64-long buffer per doc per map
    // partition; the capped pair generator's branches share that
    // exchange. (The per-row kernel would drop the shuffle but leave
    // nothing shared below the branches, so it would need a corpus-
    // scale persist of the buckets instead.)
    val sigs = minhashSignaturesHashed(gramHashes(docs, idCol, textCol, ngram), numHashes)
    // candidate pairs are tiny (LSH-pruned); persisted because they
    // are consumed twice (id filter + membership join). Persist — NOT
    // checkpoint: the returned pairs frame references this table
    // lazily, and the library contract (Caches scaladoc, DedupSpec)
    // requires released intermediates to recompute transparently on
    // re-use; a checkpoint leaf cannot (measured perf-neutral at
    // sf0.1 anyway). NOT distinct'd: a pair colliding in several
    // bands reaches the rescore several times, and the rescore's own
    // per-pair aggregation dedups for free — one exchange saved.
    val cands = Caches.persist(
      cappedBucketPairs(lshBandBuckets(sigs, bands, numHashes / bands),
          Seq("band", "bucket"), "doc_id", maxBucket)
        .toDF("doc_a", "doc_b"))
    jaccardRescore(cands, docs, idCol, textCol, ngram)
      .where(col("jaccard") >= threshold)
  }

  /** Exact-Jaccard rescore of candidate pairs in ONE pass over the
    * candidate documents: gram SETS are built row-locally as per-doc
    * arrays (tokenize once, window into grams, `array_distinct` — no
    * explode, no corpus shuffle), each candidate doc joins the
    * pair-membership list (AQE-broadcast when candidates are small —
    * never forced, see [[jaccard]]), and one pair-keyed
    * aggregation reunites the two sides; the Jaccard is then a
    * row-local `array_intersect`. Shuffle volume: one row per candidate
    * doc per pair membership, carrying its gram array — ∝ near-dups,
    * never corpus. (The pair list may contain duplicates; the per-pair
    * aggregation collapses them.) At toy scale this also matters: it is
    * 4 fewer exchanges and 2 fewer document scans than the exploded
    * gram-table join ([[jaccard]], kept for set-shaped callers). */
  def jaccardRescore(cands: DataFrame, docs: DataFrame,
      idCol: String, textCol: String, ngram: Int): DataFrame =
    pairGramSets(cands, docs, idCol, textCol, ngram)
      .select(col("doc_a"), col("doc_b"),
        (col("__ni").cast("double") /
          (size(col("__gs_a")) + size(col("__gs_b")) - col("__ni")).cast("double"))
          .as("jaccard"))

  /** Shared rescore core: rebuilds each candidate doc's distinct-gram
    * array row-locally and reunites the two pair sides, yielding
    * (doc_a, doc_b, __gs_a, __gs_b, __ni = |A∩B|). See
    * [[jaccardRescore]] for the shuffle analysis. */
  private[operators] def pairGramSets(cands: DataFrame, docs: DataFrame,
      idCol: String, textCol: String, ngram: Int): DataFrame = {
    val candIds = cands.select(col("doc_a").as(idCol))
      .union(cands.select(col("doc_b").as(idCol)))
    val sets = docs.join(candIds, Seq(idCol), "left_semi")
      .select(col(idCol).as("doc_id"),
        TextFns.letterTokens(col(textCol)).as("__toks"))
      .select(col("doc_id"),
        array_distinct(TextFns.wordNGrams(col("__toks"), ngram)).as("__gs"))
    val mem = cands.select(col("doc_a"), col("doc_b"),
        col("doc_a").as("doc_id"), lit(true).as("__is_a"))
      .unionByName(cands.select(col("doc_a"), col("doc_b"),
        col("doc_b").as("doc_id"), lit(false).as("__is_a")))
    sets.join(mem, "doc_id")
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(
        first(when(col("__is_a"), col("__gs")), ignoreNulls = true).as("__gs_a"),
        first(when(!col("__is_a"), col("__gs")), ignoreNulls = true).as("__gs_b"))
      .withColumn("__ni", size(array_intersect(col("__gs_a"), col("__gs_b"))))
  }

  /** Asymmetric-overlap (containment) near-dup pairs, EXACT: every pair
    * with max(|A∩B|/|A|, |A∩B|/|B|) >= threshold over distinct word
    * n-gram sets. This is the boilerplate/quotation case Jaccard
    * misses: a short document wholly embedded in a long one has
    * containment ≈ 1 but Jaccard ≈ |A|/|B|, so a Jaccard-thresholded
    * dedup never pairs them.
    *
    * Candidate generation is PREFIX FILTERING (the exact
    * set-similarity-join technique of SSJoin/PPJoin): each doc's grams
    * are ordered rarest-first (global document frequency, but the sort
    * is per-doc and ROW-LOCAL — no global rank or sort), and only a
    * prefix sized so that a qualifying partner cannot miss ALL of it
    * enters the inverted-index join. If B shares no prefix gram of A
    * then B misses more grams of A than containment >= t allows, so
    * the join provably loses no qualifying pair (100% recall); the
    * exact rescore then touches candidates only. Candidate work is
    * sum_g prefix_df(g)·df(g) instead of the naive gram self-join's
    * sum_g df(g)² — at 100 TB the df table is a word-count-shaped
    * aggregate, rarest-first prefixes keep hot boilerplate grams out
    * of the join except for docs that are almost ENTIRELY boilerplate,
    * and `maxDf` bounds even those (recall contract: a pair whose
    * qualifying overlap consists exclusively of grams with
    * df > maxDf is missed — the standard trade; default None = exact).
    *
    * Persists the gram-set intermediate through [[Caches]] — release
    * with `Caches.release()` after the consuming action. NOTE this
    * operator is EAGER: the candidate pipeline runs at DataFrame
    * construction time (its pair tables are checkpointed so the
    * scoring tail plans against leaves), so composing it without ever
    * acting on the result still pays the candidate jobs. */
  def containmentPairs(docs: DataFrame, idCol: String, textCol: String,
      ngram: Int = 3, threshold: Double = 0.8,
      maxDf: Option[Long] = None): DataFrame = {
    // sets stays PERSISTED (not checkpointed): the columnar cache
    // column-prunes — consumers that read only (doc_id, __sz) or
    // (doc_id, __hs) skip the heavy __gs string arrays, while a
    // row-based checkpoint block would deserialize full rows per
    // consumer (measured 1.7× slower on q_containment when tried)
    val sets = Caches.persist(gramSetArrays(docs, idCol, textCol, ngram))
    // cands is CHECKPOINTED, not persisted: a persist keeps the whole
    // prefix-candidate lineage in the logical plan, and every AQE stage
    // of the downstream scoring re-optimizes that tree (the formatted
    // plan carried 137 Exchange nodes — driver re-planning was a
    // visible slice of the query, guide §3.3/§7.3). The checkpoint cuts
    // the tail's plan at a leaf; cands is candidate-pair-sized and
    // fully consumed before the release boundary.
    val cands = Caches.checkpoint(
      prefixCandidates(sets, threshold, maxDf).distinct())
    scoreContainment(cands,
      sets.select(col("doc_id"), col("__hs"), col("__sz").as("__sz2")),
      docs.select(col(idCol), col(textCol)), idCol, textCol, ngram, threshold)
  }

  /** Prefix-filtered candidate pairs WITHIN one gram-set relation
    * ([[gramSetArrays]] shape): unordered (doc_a, doc_b), possibly with
    * duplicates — callers `.distinct()`. Singleton grams (df = 1) can
    * never be shared with a partner, so they produce no candidates AND
    * need no prefix slots: a partner holding >= iMin of A's grams
    * holds them among A's SHAREABLE grams, so the prefix only has to
    * cover those (length |shareable| - iMin + 1, rarest-df first). */
  private[operators] def prefixCandidates(sets: DataFrame, threshold: Double,
      maxDf: Option[Long]): DataFrame = {
    // Uncapped, the within-doc gram order only SIZES the candidate
    // join (100% recall under ANY order), so the raw xxhash64 longs
    // order it for free. With a df cap the order decides WHICH
    // boundary pairs are traded away — part of the result contract —
    // so it must be engine-replayable: order on a portable md5-derived
    // long of the gram STRING (15 hex digits < 2^63, computed map-side
    // at explode time — strings still never shuffle), which the
    // q_containment_capped oracle replays verbatim in SQL.
    val grams = maxDf match {
      case Some(_) => sets
        .select(col("doc_id"),
          explode(arrays_zip(col("__gs"), col("__hs"))).as("__z"))
        .select(col("doc_id"), col("__z.__hs").as("gh"),
          conv(substring(md5(col("__z.__gs")), 1, 15), 16, 10)
            .cast("long").as("__mh"))
      case None =>
        sets.select(col("doc_id"), explode(col("__hs")).as("gh"))
          .withColumn("__mh", col("gh"))
    }
    val dfreq = grams.groupBy(col("gh")).agg(count(lit(1)).as("__df"))
    val shareable = dfreq.where(col("__df") >= lit(2L))
    val pool = maxDf.map(m => shareable.where(col("__df") <= m))
      .getOrElse(shareable)
    val shared = grams.join(pool, Seq("gh"))
    val iMin = iMinOf(col("__sz"), threshold)
    // the size-column joins carry a shuffle_hash hint: the OTHER side
    // holds per-doc gram ARRAYS whose byte size Catalyst under-estimates
    // through the cache (stats don't shrink under column pruning), and
    // at 10x the planner broadcast the array side and OOM'd the driver.
    // Per-partition hash build of (doc_id, sz) rows is safe at any size.
    val prefix = shared
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_list(
        struct(col("__df"), col("__mh"), col("gh")))).as("__ord"))
      .join(sets.select(col("doc_id"), col("__sz")).hint("shuffle_hash"),
        Seq("doc_id"))
      .select(col("doc_id"), explode(slice(col("__ord"), lit(1),
        greatest((size(col("__ord")) - iMin + 1).cast("int"), lit(0)))).as("__p"))
      .select(col("doc_id"), col("__p.gh").as("gh"))
    prefix.withColumnRenamed("doc_id", "__pa")
      .join(shared.select(col("doc_id").as("__pb"), col("gh")), Seq("gh"))
      .where(col("__pa") =!= col("__pb"))
      .select(least(col("__pa"), col("__pb")).as("doc_a"),
        greatest(col("__pa"), col("__pb")).as("doc_b"))
  }

  /** Per-doc distinct gram-set arrays: (doc_id, __gs string array,
    * __hs xxhash64 long array, __sz). The emptiness filter runs on the
    * TOKEN array (equivalent: the gram array is empty iff the doc has
    * fewer than `ngram` tokens), NOT on __gs — a size(__gs) predicate
    * gets pushed below the gram projection, where substitution
    * re-inlines the tokenizer into every element_at of the gram
    * lambda: the O(words²) hazard of [[gramSets]]'s scaladoc, measured
    * 30× the whole containment pipeline. */
  private[graft] def gramSetArrays(docs: DataFrame, idCol: String,
      textCol: String, ngram: Int): DataFrame =
    docs
      .select(col(idCol).as("doc_id"),
        TextFns.letterTokens(col(textCol)).as("__toks"))
      .where(size(col("__toks")) >= ngram)
      .select(col("doc_id"),
        array_distinct(TextFns.wordNGrams(col("__toks"), ngram)).as("__gs"))
      .withColumn("__hs", transform(col("__gs"), g => xxhash64(g)))
      .withColumn("__sz", size(col("__gs")))

  /** Smallest integer i with (i: double) / sz >= threshold — computed
    * by probing the scoring predicate's OWN double arithmetic, so
    * float fuzz at the boundary (ceil(t·sz) off by one ulp either
    * way) can never open a recall hole in a prefix sized from it. */
  private[operators] def iMinOf(sz: Column, threshold: Double): Column = {
    val cGuess = ceil(lit(threshold) * sz)
    when((cGuess - 1).cast("double") / sz.cast("double") >= threshold,
      cGuess - 1).otherwise(cGuess)
  }

  /** CANDIDATE-BOUNDED containment scoring — never a gram self-join (a
    * gram equi-join scoring pass costs sum_g df(g)^2: maxDf·(corpus
    * gram rows) even when capped, i.e. work NOT bounded by the
    * candidate set). (1) candidate pairs pre-score on per-doc LONG
    * hash arrays (shuffle = candidate docs × one long array; hash
    * collisions only INFLATE the intersection, so no qualifying pair
    * is lost), then (2) the rare threshold-passers re-verify on STRING
    * grams through [[pairGramSets]] — exact end to end, with string
    * work ∝ near-dups, not candidates.
    * `hsets` = (doc_id, __hs, __sz2) for every id candidates mention;
    * `docsAll` supplies (idCol, textCol) for the string verify. */
  private[operators] def scoreContainment(cands: DataFrame, hsets: DataFrame,
      docsAll: DataFrame, idCol: String, textCol: String, ngram: Int,
      threshold: Double): DataFrame = {
    // membership union + pair groupBy (rather than one aliased join
    // per pair side): measured equal at sf0.1, and the first()-keyed
    // aggregate additionally DEDUPES duplicate hsets rows per doc — a
    // torn at-least-once index append can leave those, and the aliased
    // two-join shape would multiply candidate pairs by them
    val mem = cands.select(col("doc_a"), col("doc_b"),
        col("doc_a").as("doc_id"), lit(true).as("__is_a"))
      .unionByName(cands.select(col("doc_a"), col("doc_b"),
        col("doc_b").as("doc_id"), lit(false).as("__is_a")))
    val prepass = hsets.join(mem, "doc_id")
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(
        first(when(col("__is_a"), col("__hs")), ignoreNulls = true).as("__ha"),
        first(when(!col("__is_a"), col("__hs")), ignoreNulls = true).as("__hb"),
        first(when(col("__is_a"), col("__sz2")), ignoreNulls = true).as("__sza"),
        first(when(!col("__is_a"), col("__sz2")), ignoreNulls = true).as("__szb"))
      .withColumn("__hi", size(array_intersect(col("__ha"), col("__hb"))))
      .where(greatest(
          col("__hi").cast("double") / col("__sza").cast("double"),
          col("__hi").cast("double") / col("__szb").cast("double"))
        >= threshold)
      .select(col("doc_a"), col("doc_b"))
    // prepass is tiny (∝ near-dups) but feeds pairGramSets THREE times
    // (the id filter and both membership sides) — checkpointed so the
    // candidate pipeline above it runs once AND the string-verify tail
    // plans against a leaf instead of re-optimizing the whole candidate
    // tree per AQE stage (guide §3.3; it is fully consumed in-query)
    val passed = Caches.checkpoint(prepass)
    pairGramSets(passed, docsAll, idCol, textCol, ngram)
      .withColumn("containment_a",
        col("__ni").cast("double") / size(col("__gs_a")).cast("double"))
      .withColumn("containment_b",
        col("__ni").cast("double") / size(col("__gs_b")).cast("double"))
      .where(greatest(col("containment_a"), col("containment_b")) >= threshold)
      .select(col("doc_a"), col("doc_b"),
        col("containment_a"), col("containment_b"),
        (col("__ni").cast("double") /
          (size(col("__gs_a")) + size(col("__gs_b")) - col("__ni")).cast("double"))
          .as("jaccard"))
  }

  /** Materialize the containment-join index for a corpus: one postings
    * table at `path` with (gh, doc_id, __df, __r, __sz) — EVERY gram
    * of every doc (no df pruning: a corpus-singleton gram can still be
    * shared with a future batch), ranked rarest-first within its doc
    * by corpus df — plus a gram-set sibling at `path + ".gsets"` with
    * (doc_id, __hs, __sz2) for candidate-bounded prescoring. Storing
    * the full ranked postings (not a cut prefix) keeps the index
    * THRESHOLD-FLEXIBLE: query time derives each doc's prefix as
    * `__r <= __sz - iMin + 1` for ITS threshold. */
  def writeContainmentIndex(docs: DataFrame, idCol: String,
      textCol: String, path: String, ngram: Int = 3,
      coalesceTo: Int = 0): Unit = {
    def bounded(df: DataFrame) =
      if (coalesceTo > 0) df.coalesce(coalesceTo) else df
    val sets = Caches.persist(gramSetArrays(docs, idCol, textCol, ngram))
    val grams = sets.select(col("doc_id"), explode(col("__hs")).as("gh"))
    val dfreq = grams.groupBy(col("gh")).agg(count(lit(1)).as("__df"))
    bounded(grams.join(dfreq.hint("shuffle_hash"), Seq("gh"))
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_list(struct(col("__df"), col("gh")))).as("__ord"))
      .join(sets.select(col("doc_id"), col("__sz")).hint("shuffle_hash"),
        Seq("doc_id"))
      .select(col("doc_id"), col("__sz"),
        posexplode(col("__ord")).as(Seq("__p0", "__p")))
      .select(col("__p.gh").as("gh"), col("doc_id"),
        col("__p.__df").as("__df"), (col("__p0") + 1).as("__r"), col("__sz")))
      .write.mode("overwrite").parquet(path)
    bounded(sets.select(col("doc_id"), col("__hs"), col("__sz").as("__sz2")))
      .write.mode("overwrite").parquet(path + ".gsets")
  }

  /** Fold an admitted batch INTO the stored containment index (cf.
    * [[appendToBandIndex]]): the batch's postings and gram-set rows are
    * APPENDED — the stored corpus is never rewritten. Appended docs
    * rank their grams by BATCH-local df: per-doc rank order is a
    * correctness-free choice (any total order over the doc's grams
    * keeps the stored-prefix cut sound — only `__r` vs `__sz` matters),
    * and corpus-wide df drifts as batches land anyway; periodic
    * [[writeContainmentIndex]] retraining restores the global
    * rarest-first candidate-size heuristic, the same trade as
    * [[appendToIvfIndex]] centroid drift. */
  def appendToContainmentIndex(newDocs: DataFrame, path: String,
      idCol: String, textCol: String, ngram: Int = 3,
      coalesceTo: Int = 0): Unit = {
    val sets = Caches.persist(gramSetArrays(newDocs, idCol, textCol, ngram))
    appendPostingsFromSets(sets, path, coalesceTo)
    appendGramSetsFromSets(sets, path, coalesceTo)
  }

  /** The postings half of [[appendToContainmentIndex]], from
    * precomputed [[gramSetArrays]] rows — split out so the ingest
    * loop's replay guard can fold each stored table independently
    * (anti-joined against ITS OWN doc_ids), closing the crash window
    * between the two appends. */
  private[graft] def appendPostingsFromSets(sets: DataFrame,
      path: String, coalesceTo: Int): Unit = {
    def bounded(df: DataFrame) =
      if (coalesceTo > 0) df.coalesce(coalesceTo) else df
    val grams = sets.select(col("doc_id"), explode(col("__hs")).as("gh"))
    val dfreq = grams.groupBy(col("gh")).agg(count(lit(1)).as("__df"))
    bounded(grams.join(dfreq.hint("shuffle_hash"), Seq("gh"))
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_list(struct(col("__df"), col("gh")))).as("__ord"))
      .join(sets.select(col("doc_id"), col("__sz")).hint("shuffle_hash"),
        Seq("doc_id"))
      .select(col("doc_id"), col("__sz"),
        posexplode(col("__ord")).as(Seq("__p0", "__p")))
      .select(col("__p.gh").as("gh"), col("doc_id"),
        col("__p.__df").as("__df"), (col("__p0") + 1).as("__r"), col("__sz")))
      .write.mode("append").parquet(path)
  }

  /** The gram-set half of [[appendToContainmentIndex]]. */
  private[graft] def appendGramSetsFromSets(sets: DataFrame,
      path: String, coalesceTo: Int): Unit = {
    def bounded(df: DataFrame) =
      if (coalesceTo > 0) df.coalesce(coalesceTo) else df
    bounded(sets.select(col("doc_id"), col("__hs"), col("__sz").as("__sz2")))
      .write.mode("append").parquet(path + ".gsets")
  }

  /** Build-once [[writeContainmentIndex]] through
    * [[graft.io.StoredIndex]] (the postings and their `.gsets` sibling
    * both gate). */
  def ensureContainmentIndex(docs: => DataFrame, idCol: String,
      textCol: String, path: String, ngram: Int = 3): Unit =
    graft.io.StoredIndex.ensure(org.apache.spark.sql.SparkSession.active,
      path, path + ".gsets")(
      writeContainmentIndex(docs, idCol, textCol, path, ngram))

  /** Incremental containment join — the production ingest shape (cf.
    * [[incrementalDedupPairs]]): a NEW batch is matched against an
    * EXISTING corpus through the materialized
    * [[writeContainmentIndex]] WITHOUT recomputing corpus grams.
    * Exact (same guarantees as [[containmentPairs]]); returns pairs
    * with at least one batch side. Work at query time:
    *  - gram arrays + prefixes for the batch only (batch-side prefixes
    *    use plain gh order — ANY total order is sound; the stored
    *    corpus-df order is a join-size heuristic, not a correctness
    *    requirement);
    *  - batch→corpus candidates: batch prefixes × stored postings;
    *  - corpus→batch candidates: stored prefix rows (`__r` cut at the
    *    query's threshold) × batch grams;
    *  - batch×batch pairs via [[containmentPairs]] on the batch;
    *  - candidate-bounded prescore reads the gram-set sibling only for
    *    candidate ids; the string verify re-tokenizes only
    *    threshold-passers.
    * `maxDf` caps hot stored grams on BOTH candidate joins (same
    * recall contract as [[containmentPairs]]). `corpusDocs` and
    * `newDocs` must have disjoint ids. EAGER like
    * [[containmentPairs]]: the three candidate branches run at
    * construction time (checkpointed so the scoring tail plans
    * against a leaf). */
  def incrementalContainmentPairs(newDocs: DataFrame,
      corpusDocs: DataFrame, indexPath: String, idCol: String,
      textCol: String, ngram: Int = 3, threshold: Double = 0.8,
      maxDf: Option[Long] = None): DataFrame = {
    val spark = newDocs.sparkSession
    val bsets = Caches.persist(gramSetArrays(newDocs, idCol, textCol, ngram))
    val postingsAll = spark.read.parquet(indexPath)
    val postings = maxDf.map(m => postingsAll.where(col("__df") <= m))
      .getOrElse(postingsAll)
    // batch-side prefixes: a corpus partner can only hold grams that
    // exist in the postings, so the prefix pool is the batch doc's
    // POSTINGS-PRESENT grams (same argument as containmentPairs'
    // shareable trick: a partner holding >= iMin of A's grams holds
    // them inside the pool, so a pool-prefix of |pool| - iMin + 1
    // rarest-by-stored-df grams cannot be missed entirely; batch-novel
    // grams produce no corpus candidates and consume no prefix slots)
    // one (gh -> df) row per stored gram. groupBy(gh), NOT
    // distinct(gh, __df): __df is functionally determined by gh, and
    // the gh-keyed aggregate leaves the relation hash-partitioned on
    // exactly the key the join below needs — the (gh, __df)-keyed
    // distinct partitioning satisfied nothing and forced a second
    // vocabulary-sized exchange
    val idxDf = postings.groupBy(col("gh")).agg(max(col("__df")).as("__df"))
    val bGramsAll = bsets.select(col("doc_id"), explode(col("__hs")).as("gh"))
    val bIMin = iMinOf(col("__sz"), threshold)
    val bPrefix = bGramsAll.join(idxDf.hint("shuffle_hash"), Seq("gh"))
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_list(struct(col("__df"), col("gh")))).as("__ord"))
      .join(bsets.select(col("doc_id"), col("__sz")).hint("shuffle_hash"),
        Seq("doc_id"))
      .select(col("doc_id"), explode(slice(col("__ord"), lit(1),
        greatest((size(col("__ord")) - bIMin + 1).cast("int"), lit(0)))).as("__p"))
      .select(col("doc_id"), col("__p.gh").as("gh"))
    val vsCorpus = bPrefix.select(col("doc_id").as("n_id"), col("gh"))
      .join(postings.select(col("gh"), col("doc_id").as("c_id")), Seq("gh"))
      .select(col("n_id"), col("c_id"))
    // corpus-side prefixes come straight off the stored ranks
    val cPrefix = postings.where(
      col("__r") <= col("__sz") - iMinOf(col("__sz"), threshold) + 1)
    val bGrams = bsets.select(col("doc_id").as("n_id"), explode(col("__hs")).as("gh"))
    val vsNew = cPrefix.select(col("gh"), col("doc_id").as("c_id"))
      .join(bGrams, Seq("gh"))
      .select(col("n_id"), col("c_id"))
    // batch×batch candidates ride the SAME scoring pass (batch-local
    // prefix filter over the batch's own df)
    val vsSelf = prefixCandidates(bsets, threshold, maxDf)
    // checkpointed (not persisted) for the same reason as
    // containmentPairs' cands: three candidate branches union here and
    // the scoring tail re-planned all of them per AQE stage (593
    // Exchange nodes in the formatted plan) — the leaf cut removes the
    // re-planning; candidate-pair-sized, fully consumed in-query
    val cands = Caches.checkpoint(vsCorpus.unionByName(vsNew)
      .select(least(col("n_id"), col("c_id")).as("doc_a"),
        greatest(col("n_id"), col("c_id")).as("doc_b"))
      .unionByName(vsSelf)
      .distinct())
    val candIds = cands.select(col("doc_a").as("doc_id"))
      .union(cands.select(col("doc_b").as("doc_id")))
    // no .distinct() on the semi-join side: the semi build dedups by
    // construction, and the distinct only added an exchange
    val hsets = bsets.select(col("doc_id"), col("__hs"), col("__sz").as("__sz2"))
      .unionByName(spark.read.parquet(indexPath + ".gsets")
        .join(candIds, Seq("doc_id"), "left_semi"))
    val docsAll = newDocs.select(col(idCol), col(textCol))
      .unionByName(corpusDocs.select(col(idCol), col(textCol)))
    scoreContainment(cands, hsets, docsAll, idCol, textCol, ngram, threshold)
  }

  /** Materialize the corpus MinHash band-bucket index: one row per
    * (doc_id, band, bucket) with the member's rank within its bucket
    * (by doc_id). This is the OFFLINE half of incremental dedup — the
    * corpus signatures are computed once at ingest, and every new batch
    * only pays for its own signatures (cf. [[incrementalDedupPairs]]).
    * The stored rank lets query time cap hot corpus buckets without
    * re-ranking them. */
  def writeBandIndex(docs: DataFrame, idCol: String, textCol: String,
      path: String, ngram: Int = 3, numHashes: Int = 64,
      bands: Int = 16): Unit =
    writeBandIndexFromBuckets(
      docBandBuckets(docs, idCol, textCol, ngram, numHashes, bands), path)

  /** The (doc_id, band, bucket) relation of a document set — the shared
    * first half of every MinHash band operation. Callers that need the
    * SAME batch's buckets more than once (the ingest loop: pair search
    * AND index fold) compute this once, persist it, and pass it to the
    * `FromBuckets` variants instead of paying the signature scan per
    * consumer. */
  def docBandBuckets(docs: DataFrame, idCol: String, textCol: String,
      ngram: Int = 3, numHashes: Int = 64, bands: Int = 16): DataFrame =
    lshBandBuckets(rowSignatures(docs, idCol, textCol, ngram, numHashes),
      bands, numHashes / bands)

  /** [[writeBandIndex]] over precomputed buckets. `coalesceTo > 0`
    * bounds the output file count — set it for BATCH-sized writes (the
    * ingest loop: 32 shuffle partitions of a small batch otherwise
    * write 32 tiny files each, and the per-batch index read then pays
    * file-listing + footer costs ∝ batches×32); leave 0 (natural
    * partitioning) for corpus-scale builds. */
  def writeBandIndexFromBuckets(buckets: DataFrame, path: String,
      coalesceTo: Int = 0): Unit = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("band"), col("bucket")).orderBy(col("doc_id").asc)
    val ranked = buckets.withColumn("__r", row_number().over(w))
    (if (coalesceTo > 0) ranked.coalesce(coalesceTo) else ranked)
      .write.mode("overwrite").parquet(path)
  }

  /** Fold an admitted batch's signatures INTO the stored band index —
    * the step that closes the production ingest loop (ingest → dedup vs
    * index via [[incrementalDedupPairs]] → admit → index += batch, so
    * batch N+1 dedups against batch N without any corpus recompute).
    *
    * New members extend each bucket's rank sequence: rank = the
    * bucket's stored max rank + the member's rank within the batch.
    * Ranks thus follow ARRIVAL order across batches rather than global
    * doc_id order — the guard's contract (a bounded, deterministic kept
    * set with a stable rank-1 representative) is preserved, and the
    * representative is the earliest-ingested member, which is exactly
    * what a streaming-ingest dedup wants.
    *
    * Cost per batch: the batch's own signatures, one index SCAN
    * semi-joined (broadcast, batch-side keys) down to the buckets the
    * batch actually touches, a batch-sized rank window, and an APPEND
    * write — the stored corpus index is never rewritten or re-sorted. */
  def appendToBandIndex(newDocs: DataFrame, path: String, idCol: String,
      textCol: String, ngram: Int = 3, numHashes: Int = 64,
      bands: Int = 16): Unit = {
    val newBuckets =
      docBandBuckets(newDocs, idCol, textCol, ngram, numHashes, bands)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try appendToBandIndexFromBuckets(newBuckets, path)
    finally newBuckets.unpersist()
  }

  /** [[appendToBandIndex]] over precomputed (persisted — consumed
    * twice) buckets. `coalesceTo`: see [[writeBandIndexFromBuckets]].
    *
    * Replay-idempotent on bucket MEMBERSHIP: rows whose
    * (doc_id, band, bucket) already exist in the stored index are
    * dropped before ranking, so an at-least-once re-delivery (crash
    * replay of a foreachBatch fold) appends nothing and — the part
    * that matters for recall — duplicates can never consume
    * `maxBucket` cap slots in a hot bucket and push distinct corpus
    * docs past the cap. The membership anti-join reads the same
    * touched-buckets slice the max-rank pass already reads (one
    * persisted scan, consumed twice). */
  def appendToBandIndexFromBuckets(newBuckets: DataFrame,
      path: String, coalesceTo: Int = 0): Unit = {
    import org.apache.spark.sql.expressions.Window
    val spark = newBuckets.sparkSession
    val touched = newBuckets.select(col("band"), col("bucket")).distinct()
    val stored = spark.read.parquet(path)
      .join(broadcast(touched), Seq("band", "bucket"), "left_semi")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val base = stored
        .groupBy(col("band"), col("bucket")).agg(max(col("__r")).as("__base"))
      val fresh = newBuckets.join(
        stored.select(col("doc_id"), col("band"), col("bucket")),
        Seq("doc_id", "band", "bucket"), "left_anti")
      val w = Window.partitionBy(col("band"), col("bucket"))
        .orderBy(col("doc_id").asc)
      val appended = fresh.withColumn("__nr", row_number().over(w))
        .join(base, Seq("band", "bucket"), "left")
        .select(col("doc_id"), col("band"), col("bucket"),
          (col("__nr") + coalesce(col("__base"), lit(0))).as("__r"))
      (if (coalesceTo > 0) appended.coalesce(coalesceTo) else appended)
        .write.mode("append").parquet(path)
    } finally stored.unpersist()
  }

  /** Build-once [[writeBandIndex]] through [[graft.io.StoredIndex]]
    * (an ingest job builds, queries only read). */
  def ensureBandIndex(docs: => DataFrame, idCol: String, textCol: String,
      path: String, ngram: Int = 3, numHashes: Int = 64,
      bands: Int = 16): Unit =
    graft.io.StoredIndex.ensure(org.apache.spark.sql.SparkSession.active,
      path)(writeBandIndex(docs, idCol, textCol, path, ngram, numHashes,
        bands))

  /** Incremental near-dup detection — the production dedup shape: a NEW
    * batch (daily ingest) is matched against an EXISTING corpus through
    * the materialized [[writeBandIndex]] WITHOUT recomputing corpus
    * signatures. Work at query time:
    *  - signatures/bands for the new batch only (∝ batch, not corpus);
    *  - new×corpus candidates: equi-join of new buckets against the
    *    stored index, hot corpus buckets capped by the STORED rank;
    *  - new×new candidates via the capped self-join;
    *  - exact-Jaccard rescore re-tokenizes only candidate docs (corpus
    *    docs fetched by id through a broadcast semi-join).
    * Shuffle volume ∝ batch + candidates; the corpus is touched only by
    * the (pre-shuffled, pre-ranked) index read and the candidate-id
    * text fetch. Returns (doc_a, doc_b, jaccard) with doc_a < doc_b,
    * at least one side in the new batch, jaccard >= threshold.
    * `corpusDocs` and `newDocs` must have disjoint ids.
    * Persists intermediates through [[Caches]] — release with
    * `Caches.release()` after the consuming action. */
  def incrementalDedupPairs(newDocs: DataFrame, corpusDocs: DataFrame,
      indexPath: String, idCol: String, textCol: String, ngram: Int = 3,
      numHashes: Int = 64, bands: Int = 16, threshold: Double = 0.8,
      maxBucket: Int = 64): DataFrame =
    incrementalDedupPairsFromBuckets(
      Caches.persist(docBandBuckets(newDocs, idCol, textCol, ngram,
        numHashes, bands)),
      newDocs, corpusDocs, indexPath, idCol, textCol, ngram, threshold,
      maxBucket)

  /** [[incrementalDedupPairs]] over precomputed (persisted) batch
    * buckets — the ingest loop computes the batch's buckets once and
    * feeds both the pair search and the index fold. */
  def incrementalDedupPairsFromBuckets(newBuckets: DataFrame,
      newDocs: DataFrame, corpusDocs: DataFrame, indexPath: String,
      idCol: String, textCol: String, ngram: Int = 3,
      threshold: Double = 0.8, maxBucket: Int = 64): DataFrame = {
    val idx = graft.io.StoredIndex.read(newDocs.sparkSession, indexPath)
    val vsCorpus = Relational.hashKeyedJoin(
        newBuckets.select(col("band"), col("bucket"), col("doc_id").as("n_id")),
        idx.where(col("__r") <= maxBucket)
          .select(col("band"), col("bucket"), col("doc_id").as("c_id")),
        Seq("band", "bucket"))
      .where(col("n_id") =!= col("c_id"))
      .select(least(col("n_id"), col("c_id")).as("id_a"),
        greatest(col("n_id"), col("c_id")).as("id_b"))
    val vsNew = cappedBucketPairs(
      newBuckets.select(col("band"), col("bucket"), col("doc_id")),
      Seq("band", "bucket"), "doc_id", maxBucket)
    val cands = Caches.persist(
      vsCorpus.unionByName(vsNew).toDF("doc_a", "doc_b"))
    val all = corpusDocs.select(col(idCol), col(textCol))
      .unionByName(newDocs.select(col(idCol), col(textCol)))
    jaccardRescore(cands, all, idCol, textCol, ngram)
      .where(col("jaccard") >= threshold)
  }

  /** One step of the PRODUCTION ingest-dedup loop, runnable from a
    * batch driver or a `foreachBatch` streaming sink
    * ([[graft.streaming.Streams.ingestDedupStream]]): dedup one
    * arriving batch against everything admitted before it, admit the
    * keepers, and fold their signatures into the band index so the NEXT
    * batch dedups against them too.
    *
    * Admission rule (deterministic, SQL-replayable — the
    * `q_stream_ingest_dedup` oracle unrolls it): a batch doc `d` is
    * REJECTED iff it has a near-dup pair (jaccard >= threshold) with
    *  - any already-ADMITTED corpus doc, or
    *  - a SMALLER-id doc of its own batch (first-keeper greedy — the
    *    smaller doc wins even if it is itself rejected for a corpus
    *    dup; no transitive clustering, so the rule is one join, not an
    *    iteration).
    * Everything else is admitted: written to
    * `<admittedRoot>/batch=<batchId>` and appended to the index.
    *
    * Work per batch ∝ batch + candidates (the
    * [[incrementalDedupPairs]] shape): corpus signatures are never
    * recomputed — the corpus is touched only via the pre-ranked index
    * read and the candidate-id text fetch. The admitted corpus is an
    * APPEND-ONLY directory of per-batch partitions; nothing rewrites
    * old batches.
    *
    * Failure/replay contract (foreachBatch re-delivers the last
    * uncommitted batch after a crash): the admitted table is
    * EXACTLY-once — a replayed batch recomputes the same admitted set
    * (its own prior partial output is id-excluded from pairing, and
    * the result is forced BEFORE the overwrite so the corpus is never
    * read concurrently with its own rewrite) and overwrites its own
    * `batch=<id>` directory. The index append is AT-LEAST-once at the
    * file level but IDEMPOTENT on bucket membership: a replayed fold
    * anti-joins away rows whose (doc_id, band, bucket) are already
    * stored ([[appendToBandIndexFromBuckets]]), so duplicates neither
    * change results nor consume hot-bucket cap slots; a replay that
    * dies mid-append can still leave a torn extra file, which the
    * membership anti-join neutralizes on the NEXT fold and periodic
    * [[writeBandIndex]] compaction removes. */
  def ingestDedupBatch(batch: DataFrame, batchId: Long, indexPath: String,
      admittedRoot: String, idCol: String = "doc_id",
      textCol: String = "text", ngram: Int = 3, numHashes: Int = 64,
      bands: Int = 16, threshold: Double = 0.8,
      maxBucket: Int = 64): Unit = {
    val spark = batch.sparkSession
    val b = Caches.persist(batch.select(col(idCol), col(textCol)))
    try {
      if (b.isEmpty) return
      val first = !graft.io.IndexPaths.complete(spark, indexPath)
      // the batch's band buckets are computed ONCE and feed BOTH the
      // pair search and the index fold below — the signature scan is
      // the dominant per-batch cost, so paying it twice (as separate
      // minhashDedupPairs + appendToBandIndex calls would) doubles the
      // loop
      val bBuckets = Caches.persist(
        docBandBuckets(b, idCol, textCol, ngram, numHashes, bands))
      val pairs =
        if (first) {
          val cands = Caches.persist(cappedBucketPairs(bBuckets,
            Seq("band", "bucket"), "doc_id", maxBucket)
            .toDF("doc_a", "doc_b"))
          jaccardRescore(cands, b, idCol, textCol, ngram)
            .where(col("jaccard") >= threshold)
        } else
          incrementalDedupPairsFromBuckets(bBuckets, b,
            spark.read.parquet(admittedRoot)
              .select(col(idCol), col(textCol)),
            indexPath, idCol, textCol, ngram, threshold, maxBucket)
      val p = Caches.persist(pairs.select(col("doc_a"), col("doc_b")))
      val ids = b.select(col(idCol).as("__id"))
      def inBatch(c: String) = ids.withColumnRenamed("__id", c)
      // pair sides are ordered doc_a < doc_b, so: both sides in the
      // batch -> the larger id loses; one side in the corpus -> the
      // batch side loses whichever position it holds
      val bothNew = p.join(inBatch("doc_a"), Seq("doc_a"), "left_semi")
        .join(inBatch("doc_b"), Seq("doc_b"), "left_semi")
        .select(col("doc_b").as("__rej"))
      val corpusOnA = p.join(inBatch("doc_a"), Seq("doc_a"), "left_anti")
        .select(col("doc_b").as("__rej"))
      val corpusOnB = p.join(inBatch("doc_b"), Seq("doc_b"), "left_anti")
        .select(col("doc_a").as("__rej"))
      val rejected = bothNew.unionByName(corpusOnA).unionByName(corpusOnB)
        .distinct()
      val admitted = Caches.persist(
        b.join(rejected, col(idCol) === col("__rej"), "left_anti"))
      val sub = s"$admittedRoot/batch=$batchId"
      // REPLAY ONLY (the target batch directory already has files): the
      // corpus read above includes the directory the overwrite is about
      // to rewrite, so force the full lineage first. On first delivery
      // the overwrite touches a fresh directory — no overlap, no forced
      // materialization needed (saves one pass per batch).
      val subPath = new org.apache.hadoop.fs.Path(sub)
      if (subPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
          .exists(subPath))
        admitted.count()
      // batch-sized artifacts get bounded file counts (coalesce — no
      // extra shuffle): every later batch LISTS and reads these
      // directories, and 32 tiny files per batch per artifact makes
      // the loop's cost grow with file handles instead of data
      admitted.coalesce(4).write.mode("overwrite").parquet(sub)
      // index fold reuses the cached batch buckets, restricted to the
      // admitted keepers — no signature recompute
      val admittedBuckets = bBuckets.join(
        admitted.select(col(idCol).as("doc_id")), Seq("doc_id"), "left_semi")
      if (first)
        writeBandIndexFromBuckets(admittedBuckets, indexPath, coalesceTo = 8)
      else
        appendToBandIndexFromBuckets(admittedBuckets, indexPath, coalesceTo = 8)
    } finally Caches.release()
  }

  /** The drift GATE composed in FRONT of the dedup loop — the
    * production ingest pipeline as one batch step (the composition the
    * gate exists for): the batch's term-distribution TV distance
    * against the STORED reference counts
    * ([[graft.operators.TextAnalysis.writeReferenceCounts]]) decides
    * admit vs quarantine; a quarantined batch lands whole under
    * `quarantineRoot/batch=<id>` and touches neither the corpus nor
    * the index; an admitted batch runs [[ingestDedupBatch]] — dedup vs
    * the stored band index, first-keeper admission, index fold.
    *
    * Replay contract: the gate decision is deterministic in batch
    * content (one scalar reaches the driver), so a replayed batch
    * takes the same branch and inherits that branch's exactly-once /
    * idempotent-fold guarantees; the two roots stay disjoint.
    * Per-batch cost: the gate adds one batch-side token pass + a
    * vocabulary-sized join in front of the dedup shapes — and SAVES
    * the whole dedup cost for poisoned batches, which is the point:
    * a mis-routed feed cannot pollute the index. */
  def gatedIngestDedupBatch(batch: DataFrame, batchId: Long,
      referenceCountsPath: String, quarantineRoot: String,
      indexPath: String, admittedRoot: String, idCol: String = "doc_id",
      textCol: String = "text", maxDriftPpm: Long = 400000L,
      minCount: Long = 5L, ngram: Int = 3, numHashes: Int = 64,
      bands: Int = 16, threshold: Double = 0.8,
      maxBucket: Int = 64): Unit = {
    if (batch.isEmpty) return
    val refCounts =
      batch.sparkSession.read.parquet(referenceCountsPath)
    val tv = graft.operators.TextAnalysis
      .termDriftFromCounts(refCounts, batch, textCol, minCount)
      .agg(coalesce(sum(col("rate_diff_ppm")), lit(0L)).as("tv"))
      .head().getLong(0)
    if (tv > maxDriftPpm)
      batch.coalesce(4).write.mode("overwrite")
        .parquet(s"$quarantineRoot/batch=$batchId")
    else
      ingestDedupBatch(batch, batchId, indexPath, admittedRoot, idCol,
        textCol, ngram, numHashes, bands, threshold, maxBucket)
  }

  /** One step of the CONTAINMENT ingest loop — [[ingestDedupBatch]]'s
    * admission rule driven by the asymmetric-overlap join instead of
    * Jaccard: a batch doc is REJECTED iff it has a containment pair
    * (max(containment_a, containment_b) >= threshold — it quotes, or is
    * quoted by) with any already-admitted corpus doc or a smaller-id doc
    * of its own batch; keepers land in `<admittedRoot>/batch=<id>` and
    * their postings + gram sets fold into the containment index so the
    * NEXT batch matches against them. This is the curation loop for
    * boilerplate/quotation dedup, where the Jaccard loop misses the
    * short-doc-inside-long-doc case entirely.
    *
    * Work per batch ∝ batch + candidates (the
    * [[incrementalContainmentPairs]] shape): the corpus is touched only
    * through the stored ranked-postings read and the candidate-id
    * gram-set fetch — never re-grammed.
    *
    * Failure/replay contract (cf. [[ingestDedupBatch]]): the admitted
    * table is exactly-once — a replayed batch recomputes the same
    * admitted set (pairs equal to its own prior copies are dropped by
    * the `doc_a != doc_b` guard, pairs among its own batch replay the
    * same greedy decision; the result is forced before the overwrite)
    * and overwrites its own `batch=<id>` directory. The index fold is
    * made IDEMPOTENT PER TABLE: the postings append anti-joins the
    * admitted set against doc_ids already in the postings table, the
    * gram-set append against the gram-set sibling — a replayed fold
    * appends nothing to a table that already holds the batch, and a
    * crash BETWEEN the two appends replays exactly the missing half
    * (no duplicate postings, no doc present in one table only). */
  def ingestContainmentBatch(batch: DataFrame, batchId: Long,
      indexPath: String, admittedRoot: String, idCol: String = "doc_id",
      textCol: String = "text", ngram: Int = 3, threshold: Double = 0.8,
      maxDf: Option[Long] = None): Unit = {
    val spark = batch.sparkSession
    val b = Caches.persist(batch.select(col(idCol), col(textCol)))
    try {
      if (b.isEmpty) return
      val first = !graft.io.IndexPaths.complete(spark, indexPath) ||
        !graft.io.IndexPaths.complete(spark, indexPath + ".gsets")
      val pairs =
        (if (first) containmentPairs(b, idCol, textCol, ngram, threshold, maxDf)
         else incrementalContainmentPairs(b,
           spark.read.parquet(admittedRoot).select(col(idCol), col(textCol)),
           indexPath, idCol, textCol, ngram, threshold, maxDf))
          // replay guard: a batch doc paired with its own admitted copy
          // (same id, containment 1.0) must not reject itself
          .where(col("doc_a") =!= col("doc_b"))
      val p = Caches.persist(pairs.select(col("doc_a"), col("doc_b")))
      val ids = b.select(col(idCol).as("__id"))
      def inBatch(c: String) = ids.withColumnRenamed("__id", c)
      // same greedy first-keeper rule as ingestDedupBatch: pair sides
      // are ordered doc_a < doc_b — both in batch: larger id loses;
      // corpus on one side: the batch side loses
      val bothNew = p.join(inBatch("doc_a"), Seq("doc_a"), "left_semi")
        .join(inBatch("doc_b"), Seq("doc_b"), "left_semi")
        .select(col("doc_b").as("__rej"))
      val corpusOnA = p.join(inBatch("doc_a"), Seq("doc_a"), "left_anti")
        .select(col("doc_b").as("__rej"))
      val corpusOnB = p.join(inBatch("doc_b"), Seq("doc_b"), "left_anti")
        .select(col("doc_a").as("__rej"))
      val rejected = bothNew.unionByName(corpusOnA).unionByName(corpusOnB)
        .distinct()
      val admitted = Caches.persist(
        b.join(rejected, col(idCol) === col("__rej"), "left_anti"))
      val sub = s"$admittedRoot/batch=$batchId"
      val subPath = new org.apache.hadoop.fs.Path(sub)
      // replay only: force lineage before overwriting a directory the
      // corpus read above may have included (cf. ingestDedupBatch)
      if (subPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
          .exists(subPath))
        admitted.count()
      admitted.coalesce(4).write.mode("overwrite").parquet(sub)
      if (first)
        writeContainmentIndex(admitted, idCol, textCol, indexPath, ngram,
          coalesceTo = 8)
      else {
        // idempotent fold, PER TABLE: each stored table anti-joins the
        // admitted set against ITS OWN doc_ids, so a crash landing
        // between the postings append and the gram-set append replays
        // exactly the missing half — neither duplicate postings (the
        // old single-key guard's window) nor a doc stored in one table
        // but not the other can survive a replay. The gram-set probe is
        // one row per stored doc; the postings probe is a single-column
        // doc_id scan of the postings table (column-pruned, map-side-
        // combined semi-join — never the gram payload).
        // tokenize + gram-hash the admitted set ONCE (the dominant
        // cost per the ingest profiling); each table then anti-joins
        // the PRECOMPUTED sets against its own doc_ids — in the
        // normal no-crash path both anti-joins pass the same rows
        // through, with zero re-tokenization
        val sets = Caches.persist(
          gramSetArrays(admitted, idCol, textCol, ngram))
        def freshAgainst(tbl: String) = Caches.persist(sets.join(
          spark.read.parquet(tbl).select(col("doc_id").as("__stored")),
          col("doc_id") === col("__stored"), "left_anti"))
        val freshPost = freshAgainst(indexPath)
        if (!freshPost.isEmpty)
          appendPostingsFromSets(freshPost, indexPath, coalesceTo = 8)
        val freshG = freshAgainst(indexPath + ".gsets")
        if (!freshG.isEmpty)
          appendGramSetsFromSets(freshG, indexPath, coalesceTo = 8)
      }
    } finally Caches.release()
  }

  /** Housekeeping for the ingest-dedup loop's append-only admitted
    * corpus: [[ingestDedupBatch]] writes one `batch=<id>` directory per
    * admitted batch FOREVER, so the corpus read each batch pays
    * file-listing + footer + task-scheduling costs ∝ ingest HISTORY
    * rather than data. This folds all but the newest `keepLast` batch
    * directories (including any prior compaction output) into a single
    * `batch=-1` directory of `targetFiles` files, via the crash-safe
    * [[graft.io.Compaction.swapIn]] marker-commit swap.
    *
    * Why `keepLast` exists: foreachBatch replay can re-deliver only the
    * newest, possibly-uncommitted batch, which overwrites its own
    * `batch=<id>` directory ([[ingestDedupBatch]]'s exactly-once
    * contract). Leaving the newest `keepLast` (default 1) directories
    * out of the fold keeps that contract intact — a replayed batch
    * still owns its directory exclusively. `-1` can never collide with
    * a real delivery (streaming batch ids are non-negative).
    *
    * The (doc_id, text) relation under `admittedRoot` is preserved
    * exactly; only the `batch` partition value of compacted rows
    * collapses to -1 (the column is ingest lineage, not data — nothing
    * in the loop reads it). Run with the ingest loop quiesced, like any
    * OPTIMIZE. Returns the batch ids folded in. */
  def compactAdmitted(spark: org.apache.spark.sql.SparkSession,
      admittedRoot: String, targetFiles: Int = 8,
      keepLast: Int = 1): Seq[Long] = {
    require(keepLast >= 0)
    val dest = s"$admittedRoot/batch=-1"
    graft.io.Compaction.recover(spark, dest)
    val rootPath = new org.apache.hadoop.fs.Path(admittedRoot)
    val fs = rootPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(rootPath)) return Seq.empty
    val ids = fs.listStatus(rootPath).toSeq
      .filter(_.isDirectory).map(_.getPath.getName)
      .collect { case n if n.startsWith("batch=") =>
        n.stripPrefix("batch=").toLong }
      .sorted
    val fold = ids.dropRight(keepLast)
    // nothing to fold, or only a previous compaction's own output left
    if (fold.isEmpty || fold == Seq(-1L)) return Seq.empty
    val srcs = fold.map(id => s"$admittedRoot/batch=$id")
    graft.io.Compaction.swapIn(spark, dest, srcs) { tmp =>
      // read the source dirs directly (not the partitioned root) so the
      // batch partition column never materializes into the data files
      spark.read.parquet(srcs: _*).coalesce(targetFiles)
        .write.parquet(tmp)
    }
    fold
  }

  /** File-count compaction of the stored band index IN PLACE: same
    * rows, same stored ranks (`__r` is data, not derived — arrival
    * order survives), `targetFiles` files. This is the cheap half of
    * index maintenance: it removes the per-append file accretion
    * ([[appendToBandIndexFromBuckets]] bounds files per batch, not
    * batch count) without touching semantics. The semantic half —
    * re-ranking buckets into id order — is [[rebuildBandIndex]]. */
  def compactBandIndex(spark: org.apache.spark.sql.SparkSession,
      path: String, targetFiles: Int = 8): Unit =
    graft.io.Compaction.compactDir(spark, path, targetFiles)

  /** File-count compaction of the stored containment index IN PLACE —
    * both tables (the postings table and its `.gsets` sibling), rows
    * and stored ranks preserved exactly (cf. [[compactBandIndex]]).
    * The semantic half — restoring global-df rank order — remains
    * [[rebuildContainmentIndex]]. */
  def compactContainmentIndex(spark: org.apache.spark.sql.SparkSession,
      path: String, targetFiles: Int = 8): Unit = {
    graft.io.Compaction.compactDir(spark, path, targetFiles)
    graft.io.Compaction.compactDir(spark, path + ".gsets", targetFiles)
  }

  /** Full band-index rebuild from the current corpus: one-dir layout,
    * ranks restored to global doc_id order. NOTE the semantic shift
    * from the append path: [[appendToBandIndexFromBuckets]] ranks by
    * ARRIVAL (the hot-bucket cap keeps the earliest-ingested members),
    * a rebuild ranks by id (the cap keeps the smallest ids) — both are
    * valid deterministic guard contracts, but a rebuild mid-stream
    * changes WHICH corpus docs occupy a hot bucket's cap slots. */
  def rebuildBandIndex(docs: DataFrame, path: String, idCol: String,
      textCol: String, ngram: Int = 3, numHashes: Int = 64,
      bands: Int = 16): Unit =
    writeBandIndex(docs, idCol, textCol, path, ngram, numHashes, bands)

  /** Full containment-index rebuild from the current corpus — the
    * restore for [[appendToContainmentIndex]]'s documented drift:
    * appended batches rank their grams by BATCH-local df, so the
    * stored-prefix cut stays SOUND (any total order does) but loses
    * the global rarest-first selectivity, and candidate counts creep
    * up as batches accrete. One [[writeContainmentIndex]] pass restores
    * global-df rank order and one-directory layout for both the
    * postings and the gram-set sibling. Same cadence trade as [[appendToIvfIndex]] centroid
    * drift: append cheaply per batch, rebuild periodically. */
  def rebuildContainmentIndex(docs: DataFrame, path: String,
      idCol: String, textCol: String, ngram: Int = 3): Unit =
    writeContainmentIndex(docs, idCol, textCol, path, ngram)

  /** REBUILD ALARM for the containment index (cf.
    * [[graft.operators.Retrieval.bm25IndexDrift]]): gram-frequency
    * drift between the STORED postings (per-gram doc counts read
    * straight off the index's single `gh` column — the corpus text is
    * never re-read) and an arriving batch's distinct-gram sets, as the
    * exact integer ppm relation of
    * [[graft.operators.TextAnalysis.termDrift]] (sum `rate_diff_ppm`
    * ≈ 2·10⁶ × TV distance). Small for on-distribution growth — the
    * appended batch-local ranks stay NEAR global-df order and
    * candidate prescoring keeps its selectivity; large when the gram
    * distribution has shifted under the index, i.e. when the
    * rarest-first prefix cut is degrading. Work ∝ batch + gram
    * vocabulary. */
  def containmentIndexDrift(spark: SparkSession, path: String,
      batch: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", ngram: Int = 3,
      minCount: Long = 5L): DataFrame = {
    val stored = spark.read.parquet(path)
      .groupBy(col("gh")).agg(count(lit(1)).as("c_a"))
    val fresh = gramSetArrays(batch, idCol, textCol, ngram)
      .select(explode(col("__hs")).as("gh"))
      .groupBy(col("gh")).agg(count(lit(1)).as("c_b"))
    graft.operators.TextAnalysis.countsDrift(stored, fresh, "gh", minCount)
  }

  /** ALARM → REBUILD for the containment index (cf.
    * [[graft.operators.Similarity.rebuildPqIndexIfDrifted]]): total
    * the [[containmentIndexDrift]] ppm relation for the arriving batch
    * and iff it exceeds `maxDriftPpm` rebuild both index tables from
    * `docs` (the current corpus, lazily evaluated — untouched when the
    * alarm stays quiet), restoring global-df rank order and one-dir
    * layout. @return true iff a rebuild ran. */
  def rebuildContainmentIndexIfDrifted(docs: => DataFrame,
      batch: DataFrame, path: String, idCol: String = "doc_id",
      textCol: String = "text", ngram: Int = 3,
      maxDriftPpm: Long = 400000L, minCount: Long = 5L): Boolean = {
    val spark = batch.sparkSession
    val tv = containmentIndexDrift(spark, path, batch, idCol, textCol,
        ngram, minCount)
      .agg(coalesce(sum(col("rate_diff_ppm")), lit(0L))).head().getLong(0)
    val drifted = tv > maxDriftPpm
    if (drifted) rebuildContainmentIndex(docs, path, idCol, textCol, ngram)
    drifted
  }

  /** Connected components over near-dup pairs — the "cluster duplicates,
    * keep one representative" step that turns pairwise matches into an
    * actual dedup decision. Min-label propagation with GRAPH
    * CONTRACTION: each round maps every current representative to the
    * minimum of itself and its neighbor representatives (one
    * aggregation, with a pointer-jump compression), composes that
    * mapping into the per-node labels, and REWRITES the edge set
    * between the new representatives (loops dropped, duplicates
    * collapsed). Contraction at least halves the representative count
    * per round — O(log n) rounds worst-case — and in practice collapses
    * dense near-dup cliques to a point immediately, so the edge set
    * shrinks geometrically: plain label propagation needed one round
    * per graph hop (10 rounds × full-edge-set joins on a chain-of-
    * cliques pair graph measured at sf0.1), contraction does the same
    * graph in 3 rounds of which only the first touches the full edge
    * set. Star-shaped pair graphs (the common near-dup shape) contract
    * to nothing at init and never enter the loop. Convergence is
    * "no cross-representative edges remain" — an isEmpty probe of the
    * just-materialized contracted edges; the driver never sees data.
    *
    * Returns (doc_id, cluster) for every doc appearing in `pairs`,
    * cluster = min doc_id of its component (so `cluster == doc_id`
    * marks the keeper): the component minimum never maps away (it is
    * the min of its own neighborhood at every level), every other
    * representative strictly decreases, and an empty contracted edge
    * set means each component holds exactly one representative.
    *
    * Fails loudly if the graph has not fully contracted within
    * `maxIters` rounds (halving makes that ≥ 2^20 representatives) —
    * partially-propagated labels would silently keep/drop the WRONG
    * documents downstream. Set `requireConverged = false` only if a
    * best-effort clustering is acceptable. */
  def dedupClusters(pairs: DataFrame, maxIters: Int = 20,
      requireConverged: Boolean = true,
      checkpointDir: Option[String] = None): DataFrame =
      Caches.withCheckpointDir(pairs.sparkSession, checkpointDir) {
    // Lineage must be TRUNCATED each round (not just cached): iterative
    // self-referencing plans grow exponentially in logical-plan size
    // (labels appears twice per round). localCheckpoint stores blocks on
    // executors — fast, but an executor loss mid-job kills the lineage
    // with it. On a real cluster pass `checkpointDir` (HDFS/object
    // store) to switch every truncation to a RELIABLE checkpoint —
    // scoped to this call by withCheckpointDir; every truncation is
    // eager, so nothing escapes the scope.
    val sc = pairs.sparkSession.sparkContext
    // reliable also when the CONTEXT already has a checkpoint dir (the
    // global switch Caches.checkpoint honors) — one flag, one behavior
    val reliable = checkpointDir.isDefined || sc.getCheckpointDir.isDefined
    // Caches.checkpoint tracks the local-checkpoint blocks so the
    // harness's between-queries release() frees every round's labels
    // instead of leaving them to the ContextCleaner. Origin stats are
    // STRIPPED off every truncation leaf: checkpoint leaves inherit the
    // originating plan's size ESTIMATE (SPARK-39748), and in an
    // iterative loop that estimate compounds geometrically round over
    // round until Catalyst's stats visitor grinds on million-digit
    // BigInts (see shim.stripOriginStats).
    def truncated(df: DataFrame): DataFrame =
      org.apache.spark.sql.graft.shim.stripOriginStats(
        if (reliable) df.checkpoint() else Caches.checkpoint(df))
    // Probe-folding truncations (guide §1.5/§7.3: every extra driver
    // action is a scheduling round-trip, and this loop used to issue
    // THREE per round — label-sum, then the squaring's sum, then
    // isEmpty). In local-checkpoint mode the probe rides the
    // materialization job itself via an accumulator (exact: result-
    // stage accumulator updates are applied exactly once per
    // partition); in reliable mode the checkpoint's write job re-runs
    // the computation, which would double the accumulator, so the
    // probe stays a separate (cached-read, cheap) action.
    def truncatedNonEmpty(df: DataFrame): (DataFrame, Boolean) =
      if (reliable) { val t = truncated(df); (t, !t.isEmpty) }
      else {
        val acc = sc.longAccumulator
        val t = Caches.checkpointFolding(df)(_ => acc.add(1L))
        (t, acc.value > 0L)
      }
    // `df` must carry a boolean __mv at ordinal `ord`; returns whether
    // any row moved (label changed under the jump that produced it)
    def truncatedMoved(df: DataFrame, ord: Int): (DataFrame, Boolean) =
      if (reliable) {
        val t = truncated(df)
        (t, !t.where(col("__mv")).isEmpty)
      } else {
        val acc = sc.longAccumulator
        val t = Caches.checkpointFolding(df)(
          r => if (r.getBoolean(ord)) acc.add(1L))
        (t, acc.value > 0L)
      }
    // Materialize the PAIR LIST exactly once: everything downstream
    // reads these blocks, not the upstream lineage — the pair
    // generators are a full corpus pass (decode/tokenize/LSH), and the
    // old direct `pairs union flip(pairs)` evaluated that plan TWICE
    // (one per union branch) at the first truncation (guide §2.4: the
    // cheapest shuffle is the one you don't repeat).
    val p = truncated(pairs.select(col("doc_a").as("src"), col("doc_b").as("dst")))
    // min(self ∪ neighbors) in ONE aggregation: symmetric edges plus
    // self-edges (v, v) — duplicate self-edges are harmless under min
    def minMap(e: DataFrame): DataFrame =
      e.unionByName(e.select(col("dst").as("src"), col("src").as("dst")))
        .unionByName(e.select(col("src"), col("src").as("dst")))
        .unionByName(e.select(col("dst").as("src"), col("dst")))
        .groupBy(col("src").as("doc_id")).agg(min(col("dst")).as("cluster"))
    // pointer jump: adopt the label OF the labeled node. Label values
    // are always ids of present nodes (mins over member ids) and
    // label(x) <= x is an invariant, so the inner join total-maps.
    // The mapping subtree feeds both join sides; its aggregation
    // exchange is identical on both, so AQE reuses it (ReusedExchange).
    def jump(df: DataFrame): DataFrame = {
      val r = df.select(col("doc_id").as("__j_id"), col("cluster").as("__j_cl"))
      df.join(r, df("cluster") === r("__j_id"))
        .select(df("doc_id"), col("__j_cl").as("cluster"))
    }
    // jump variant that THREADS a per-row "label moved" flag (__mv,
    // boolean, last column) through compositions — the closure loop's
    // convergence probe ("did this squaring change anything?") then
    // folds into the materialization via [[truncatedMoved]] instead of
    // costing a sum job per squaring. Type-agnostic (the comparison is
    // Catalyst-side), exact (no wraparound coincidence the old
    // label-sum probe tolerated).
    def jumpM(df: DataFrame): DataFrame = {
      val r = df.select(col("doc_id").as("__j_id"), col("cluster").as("__j_cl"))
      df.join(r, df("cluster") === r("__j_id"))
        .select(df("doc_id"), col("__j_cl").as("cluster"),
          (df("__mv") || (col("__j_cl") =!= df("cluster"))).as("__mv"))
    }
    def withMv(df: DataFrame): DataFrame =
      df.withColumn("__mv", lit(false))
    def dropMv(df: DataFrame): DataFrame =
      df.select(col("doc_id"), col("cluster"))
    // edges between the CURRENT representatives of `e` under mapping
    // `m`: both endpoints rewritten, loops dropped, duplicates
    // collapsed — the contracted graph the next round runs on
    def contracted(e: DataFrame, m: DataFrame): DataFrame = {
      val ms = m.select(col("doc_id").as("__ms"), col("cluster").as("__cs"))
      val md = m.select(col("doc_id").as("__md"), col("cluster").as("__cd"))
      e.join(ms, col("src") === col("__ms"))
        .join(md, col("dst") === col("__md"))
        .where(col("__cs") =!= col("__cd"))
        .select(least(col("__cs"), col("__cd")).as("src"),
          greatest(col("__cs"), col("__cd")).as("dst"))
        .distinct()
    }
    // Init FOLDS IN the first hop (+ jump): label(v) = jumped
    // min(v, neighbors(v)) — the old separate `distinct` init round is
    // gone, and for star graphs this is already the fixed point.
    var labels = truncated(jump(minMap(p)))
    var (e, hasEdges) = truncatedNonEmpty(contracted(p, labels))
    // Compress a materialized mapping to its CLOSURE by repeated
    // squaring: m∘m doubles the compressed chain depth, so log2
    // (diameter) squarings flatten any chain (a path graph is the
    // worst case for plain contraction — the min-map there is almost
    // injective, so loop-dropping removes only O(1) nodes per round;
    // squared to closure, the whole path collapses onto its minimum in
    // ONE outer round). Each squaring is a self-join of the tiny
    // mapping table, and its convergence probe ("any label moved?")
    // rides the materialization job via the threaded __mv flag — ONE
    // driver action per squaring where the label-sum scheme cost two.
    // Closure is a SPEED knob only — correctness rides solely on the
    // outer edge-emptiness gate (labels and edges are mapped through
    // the same m, so an empty contracted edge set means labels are
    // constant per component and pinned at the minimum).
    def closed(m0: DataFrame): DataFrame = {
      var m = m0
      var moved = true
      var j = 0
      while (moved && j < maxIters) {
        // two squarings per materialization (m^4): the truncation
        // dominates an iteration, so quartic compression halves the
        // job count of the closure loop
        val (n, mv) = truncatedMoved(jumpM(jumpM(withMv(m))), 2)
        m = dropMv(n)
        moved = mv
        j += 1
      }
      m
    }
    var iters = 0
    while (hasEdges && iters < maxIters) {
      val m = closed(truncated(jump(minMap(e))))
      // compose the round's representative mapping into the per-node
      // labels: reps untouched by `m` (components already contracted)
      // keep their label — m is contracted-graph-sized, so AQE
      // broadcasts it against the node table.
      //
      // The label composition and the edge contraction are INDEPENDENT
      // given (labels, e, m) — all three are materialized leaves — so
      // the two truncation jobs OVERLAP (guide §2.6: actions are only
      // sequential because driver code calls them sequentially). The
      // helper thread comes from Caches.innerPool, NEVER branchPool:
      // dedupClusters itself runs on branchPool threads inside
      // mediaCard's branches, and awaiting the same bounded pool from
      // one of its tasks would deadlock it. Job group/description are
      // cleared inside the task — a reused pool thread inherits
      // whatever thread-locals its creator carried (including a
      // cancellable group id), and this truncation must not die to an
      // unrelated group cancel.
      val labelsFut = scala.concurrent.Future {
        sc.clearJobGroup()
        sc.setJobDescription("dedupClusters: compose labels")
        truncated(
          labels.join(m.select(col("doc_id").as("__r"), col("cluster").as("__rc")),
              labels("cluster") === col("__r"), "left")
            .select(labels("doc_id"),
              coalesce(col("__rc"), labels("cluster")).as("cluster")))
      }(Caches.innerPool)
      val (e2, h2) = truncatedNonEmpty(contracted(e, m))
      labels = scala.concurrent.Await.result(labelsFut,
        scala.concurrent.duration.Duration(30, "min"))
      e = e2
      hasEdges = h2
      iters += 1
    }
    // the fail-loud gate stays a DIRECT data check (one cached-read
    // action per call), independent of the accumulator fast path
    if (requireConverged) require(e.isEmpty,
      s"dedupClusters: graph not fully contracted after $maxIters rounds — " +
        "labels would be inconsistent (cluster != component min); raise maxIters")
    labels
  }

  /** LEAKAGE-SAFE train/val/test split: a near-dup cluster lands in ONE
    * split, whole — the guard against eval contamination by near-copies
    * (a doc in train and its 0.95-jaccard twin in test silently inflates
    * held-out scores; per-doc hashing, [[Relational.splitAssign]],
    * cannot prevent it because near-dups hash independently). The split
    * key is the doc's connected-component representative under `pairs`
    * (min-id label from [[dedupClusters]]); singleton docs are their own
    * representative, so for a pair-free corpus this IS splitAssign.
    *
    * Returns (doc_id, rep, split) for every doc in `docs`.
    *
    * Scale shape: the cluster label table is PAIR-GRAPH-sized (only
    * docs appearing in a near-dup pair), so the label join is a
    * broadcast/AQE-small join against the corpus id column; the split
    * decision is [[Relational.splitAssign]]'s md5 map-side expression
    * on the representative — no corpus shuffle beyond the label join,
    * reproducible at any partitioning, and nested-fraction-consistent
    * with splitAssign on the same cuts. */
  def leakageSafeSplit(docs: DataFrame, pairs: DataFrame, idCol: String,
      splits: Seq[(String, Double)],
      checkpointDir: Option[String] = None): DataFrame = {
    val labels = dedupClusters(pairs, checkpointDir = checkpointDir)
    val reps = docs.select(col(idCol).as("doc_id"))
      .join(labels, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("cluster"), col("doc_id")).as("rep"))
    Relational.splitAssign(reps, col("rep"), splits)
  }

  /** DUPLICATION-AWARE soft sampling (SoftDeDup): instead of the hard
    * one-keeper-per-cluster rule, every member of a near-dup cluster
    * keeps with probability `keepPerClusterQ / (65536 · |cluster|)` —
    * so each cluster contributes `keepPerClusterQ`/65536 docs in
    * expectation regardless of how many copies exist, and the kept
    * set retains natural variation ACROSS copies instead of always
    * the min-id representative (the "duplication deflates the
    * effective epoch count" fix without hard-deleting: cf. SoftDeDup,
    * Abbas et al. 2023 — reweight duplicated content rather than drop
    * it). Singletons have weight 65536/65536 = always kept at the
    * default. Decisions are the engine's md5 rule — deterministic,
    * partitioning-invariant, replayable.
    *
    * Scale shape: the cluster labels come from [[dedupClusters]]
    * (O(log diameter) rounds over the PAIR graph — ∝ duplication, not
    * corpus); sizes are a cluster-keyed count; the weight and the
    * keep decision are map-side after two id-keyed hash joins. No
    * window, no text shuffle.
    *
    * PRECONDITION: every id in `pairs` must be an id of `docs` —
    * cluster sizes are counted on the pair-graph label table (equal to
    * corpus-side counts exactly when pair endpoints ⊆ docs, which
    * every in-repo caller satisfies); pairs over a SUPERSET of `docs`
    * would inflate cl_size with out-of-corpus members and lower keep
    * weights. Semi-join the pairs against `docs` first in that case.
    * @return (doc_id, cluster, cl_size, weight_q, kept) */
  def softDedupKeep(docs: DataFrame, pairs: DataFrame, idCol: String,
      keepPerClusterQ: Long = 65536L,
      checkpointDir: Option[String] = None): DataFrame = {
    require(keepPerClusterQ >= 0L)
    val labels = dedupClusters(pairs, checkpointDir = checkpointDir)
    val withCl = docs.select(col(idCol).as("doc_id"))
      .join(labels, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("cluster"), col("doc_id")).as("cluster"))
    // Cluster sizes come from the PAIR-GRAPH-sized label table, not the
    // corpus: every multi-member cluster's members all appear in
    // `labels` (each is a pair endpoint), and docs absent from `labels`
    // are singletons — cl_size 1 by definition. The old corpus-keyed
    // groupBy + corpus⋈sizes join shuffled the whole doc-id column
    // twice to recount what `labels` already knows; now both the label
    // and the size join are against pair-graph-sized relations (AQE
    // broadcasts them), so the corpus never shuffles here at all
    // (guide §2.4 — and §8's rule: decide with small rows).
    val sizes = labels.groupBy(col("cluster"))
      .agg(count(lit(1)).as("cl_size"))
    withCl.join(sizes, Seq("cluster"), "left")
      .withColumn("cl_size", coalesce(col("cl_size"), lit(1L)))
      .withColumn("weight_q",
        least(lit(65536L), expr(s"${keepPerClusterQ}L DIV cl_size")))
      .withColumn("kept",
        conv(substring(md5(col("doc_id").cast("string")), 1, 4), 16, 10)
          .cast("long") < col("weight_q"))
      .select(col("doc_id"), col("cluster"), col("cl_size"),
        col("weight_q"), col("kept"))
  }

  /** 64-bit SimHash per document: for each bit j, sum +1/-1 over token
    * hashes (weighted by occurrence), take the sign. Single shuffle
    * (group by doc) through the native buffer aggregate
    * ([[graft.functions.expr.SimHashAgg]]); [[simhashComposed]] is the
    * 64-sum-columns cross-check form. */
  def simhash(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    import org.apache.spark.sql.graft.shim
    val toks = docs.select(col(idCol).as("doc_id"),
      explode(TextFns.letterTokens(col(textCol))).as("t"))
    val sig = shim.column(
      graft.functions.expr.SimHashAgg(shim.expression(col("t")))
        .toAggregateExpression())
    toks.groupBy(col("doc_id")).agg(sig.as("simhash"))
  }

  /** Composable-functions form of [[simhash]] (64 conditional sums);
    * bit-identical, kept as the cross-check in DedupSpec. */
  def simhashComposed(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = docs.select(col(idCol).as("doc_id"),
      explode(TextFns.letterTokens(col(textCol))).as("t"))
    val h = xxhash64(col("t"))
    val contribs = (0 until 64).map { j =>
      sum(when(shiftrightunsigned(h, j).bitwiseAND(lit(1L)) === lit(1L), lit(1))
        .otherwise(lit(-1))).as(s"s$j")
    }
    val packed = (0 until 64).map { j =>
      when(col(s"s$j") > 0, lit(1L << j)).otherwise(lit(0L))
    }.reduce(_.bitwiseOR(_))
    toks.groupBy(col("doc_id")).agg(contribs.head, contribs.tail: _*)
      .select(col("doc_id"), packed.as("simhash"))
  }

  /** Portable SimHash: same ±1 bit-counter algorithm as [[simhash]],
    * but tokens are hashed to 60-bit longs via an md5 hex prefix
    * (`conv(substr(md5(t), 1, 15), 16, 10)`) and aggregated by the
    * long-input native buffer aggregate
    * ([[graft.functions.expr.SimHashAggLong]]). Every step — md5,
    * hex parse, bit sums — replays in plain SQL, so the signature (and
    * the pair list built from it) hash-matches an external oracle;
    * xxhash-based [[simhash]] stays the throughput path. */
  def simhashPortable(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    import org.apache.spark.sql.graft.shim
    val toks = docs.select(col(idCol).as("doc_id"),
      explode(TextFns.letterTokens(col(textCol))).as("t"))
    val h = conv(substring(md5(col("t")), 1, 15), 16, 10).cast("long")
    val sig = shim.column(
      graft.functions.expr.SimHashAggLong(shim.expression(h), nBits = 60)
        .toAggregateExpression())
    toks.groupBy(col("doc_id")).agg(sig.as("simhash"))
  }

  /** Near-dup pairs by SimHash Hamming distance <= maxDist (<= 3).
    * Pigeonhole banding: split the `bits`-wide hash into 4 equal chunks;
    * any pair within distance 3 shares at least one exact chunk, so the
    * join is an equi-join on (chunk index, chunk value) — never
    * all-pairs.
    *
    * `maxBucket` recall contract — WEAKER than the MinHash cap: a
    * shared MinHash band implies the pair is (with high probability) a
    * near-dup, so capped overflow members losing their mutual edges
    * still cluster through the rank-1 star. A shared 16-bit simhash
    * CHUNK is only weak evidence (the other 48 bits may differ), so two
    * overflow members of a hot chunk bucket can be genuine
    * hamming<=maxDist pairs that the cap DROPS, and the star edge to
    * the representative may fail the hamming rescore — a real recall
    * loss, not just edge thinning. Hence the default cap is larger than
    * the MinHash guard's (256 vs 64), and `None` disables it entirely
    * (exact pigeonhole recall; only safe when no 16-bit chunk value is
    * shared by an unbounded document cluster). */
  def simhashPairs(hashes: DataFrame, maxDist: Int = 3, bits: Int = 64,
      maxBucket: Option[Int] = Some(256)): DataFrame = {
    require(maxDist <= 3, "4-chunk pigeonhole covers hamming <= 3")
    require(bits % 4 == 0 && bits <= 64, "bits must be a multiple of 4, <= 64")
    val w = bits / 4
    val mask = (1L << w) - 1L
    // three consumers read `hashes` (chunk explode + both rescore
    // sides); persisted so the signature pass (a full corpus
    // tokenize/decode upstream) runs once. Persist — NOT checkpoint:
    // the returned pairs frame references this table lazily, and the
    // library contract requires released intermediates to recompute
    // transparently (see Caches scaladoc; checkpoint measured ~neutral
    // at sf0.1).
    val cached = Caches.persist(hashes)
    val chunked = cached.select(col("doc_id"), col("simhash"),
      posexplode(array((0 until 4).map(c =>
        shiftrightunsigned(col("simhash"), c * w).bitwiseAND(lit(mask))): _*)))
      .toDF("doc_id", "simhash", "chunk", "cv")
    // hot-bucket guard (see cappedBucketPairs): a cluster of identical
    // docs shares every chunk value, so unguarded this join is m² in one
    // reducer. Pairs then rejoin the signatures to score hamming — the
    // capped pair stream carries only ids, so the extra joins shuffle
    // ids + one long, and both probe the same cached signature table.
    val sigsOnly = cached.select(col("doc_id"), col("simhash"))
    val bucketCols = chunked.select(col("chunk"), col("cv"), col("doc_id"))
    val rawPairs = maxBucket match {
      case Some(cap) =>
        cappedBucketPairs(bucketCols, Seq("chunk", "cv"), "doc_id", cap)
          .toDF("doc_a", "doc_b")
      case None => // exact pigeonhole: plain capped-free equi-self-join
        bucketCols.toDF("chunk", "cv", "doc_a")
          .join(bucketCols.toDF("chunk", "cv", "doc_b"), Seq("chunk", "cv"))
          .where(col("doc_a") < col("doc_b"))
          .select(col("doc_a"), col("doc_b"))
    }
    rawPairs.distinct()
      .join(sigsOnly.toDF("doc_a", "sh_a"), "doc_a")
      .join(sigsOnly.toDF("doc_b", "sh_b"), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        bit_count(col("sh_a").bitwiseXOR(col("sh_b"))).as("hamming"))
      .where(col("hamming") <= maxDist)
  }

  // ── Winnowing fingerprints (Schleimer/Wilkerson/Aiken 2003, MOSS) ──

  /** Winnowing document fingerprints: hash every word `k`-gram
    * (md5-derived hash48 — portable, SQL-replayable), slide a window
    * of `w` consecutive gram hashes over each document, keep each
    * window's MINIMUM hash, dedupe per doc. The paper's guarantee:
    * any contiguous run of `w + k - 1` shared words between two docs
    * contributes at least one SHARED fingerprint, while expected
    * fingerprint density is only 2/(w+1) of the grams — positional
    * copy detection (quotation/plagiarism/mirrored passages) at a
    * fraction of the full gram set, the property neither MinHash
    * (whole-doc set resemblance) nor [[containmentPairs]] (set
    * containment) provides.
    *
    * Scale shape: the window min is PER-DOCUMENT (partition key
    * doc_id, frame `w` rows) — the document is the unit, like the
    * per-shard sorts of the shard writer; nothing corpus-wide sorts.
    * Docs with fewer than `w + k - 1` words have no full window and
    * yield no fingerprints (they are below the detectable-overlap
    * floor by definition).
    *
    * Returns distinct (doc_id, fp) rows. */
  def winnowFingerprints(docs: DataFrame, idCol: String, textCol: String,
      k: Int = 5, w: Int = 4): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(k >= 1 && w >= 1)
    val h = conv(substring(md5(col("g")), 1, 12), 16, 10).cast("long")
    // tokens materialize as a column BEFORE the n-gram lambda: inlining
    // letterTokens into wordNGrams would re-run the full tokenize per
    // element_at inside the transform (measured ~5x on the gram scan)
    val grams = docs
      .select(col(idCol).as("doc_id"),
        TextFns.letterTokens(col(textCol)).as("__toks"))
      .select(col("doc_id"),
        posexplode(TextFns.wordNGrams(col("__toks"), k)).as(Seq("i", "g")))
      .select(col("doc_id"), col("i"), h.as("h"))
    val frame = Window.partitionBy(col("doc_id")).orderBy(col("i"))
      .rowsBetween(Window.currentRow, w - 1)
    grams.select(col("doc_id"), min(col("h")).over(frame).as("fp"),
        count(lit(1)).over(frame).as("__full"))
      .where(col("__full") === w)
      .select(col("doc_id"), col("fp")).distinct()
  }

  /** Copy-suspect pairs from winnowing fingerprints: equi-join docs on
    * shared fingerprints, keep pairs sharing at least `minShared`.
    * The `maxDf` guard drops fingerprints present in more than that
    * many docs before the join — corpus-frequent fingerprints are
    * boilerplate by definition and would otherwise quadratically blow
    * the hot buckets (the standing LSH-bucket stance). */
  def winnowPairs(docs: DataFrame, idCol: String, textCol: String,
      k: Int = 5, w: Int = 4, minShared: Int = 2, maxDf: Int = 50)
      : DataFrame = {
    require(minShared >= 1 && maxDf >= 2)
    val fps = Caches.persist(winnowFingerprints(docs, idCol, textCol, k, w))
    val hot = fps.groupBy(col("fp")).agg(count(lit(1)).as("__df"))
      .where(col("__df") > maxDf).select(col("fp"))
    val kept = fps.join(hot, Seq("fp"), "left_anti")
    kept.toDF("fp", "doc_a")
      .join(kept.toDF("fp", "doc_b"), Seq("fp"))
      .where(col("doc_a") < col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("n_shared"))
      .where(col("n_shared") >= minShared)
  }

  /** Materialize the corpus winnowing fingerprint table — the OFFLINE
    * half of incremental copy detection: the corpus is fingerprinted
    * once at ingest, and every new batch pays only its own per-doc
    * window minima (cf. [[incrementalWinnowPairs]]). */
  def writeWinnowIndex(docs: DataFrame, idCol: String, textCol: String,
      path: String, k: Int = 5, w: Int = 4, coalesceTo: Int = 0): Unit = {
    val fps = winnowFingerprints(docs, idCol, textCol, k, w)
    (if (coalesceTo > 0) fps.coalesce(coalesceTo) else fps)
      .write.mode("overwrite").parquet(path)
  }

  /** Build-once [[writeWinnowIndex]] through [[graft.io.StoredIndex]]. */
  def ensureWinnowIndex(docs: => DataFrame, idCol: String,
      textCol: String, path: String, k: Int = 5, w: Int = 4): Unit =
    graft.io.StoredIndex.ensure(org.apache.spark.sql.SparkSession.active,
      path)(writeWinnowIndex(docs, idCol, textCol, path, k, w))

  /** Copy-suspect pairs of an ingest batch against the stored winnow
    * index (plus the batch's internal pairs): fingerprint ONLY the
    * batch, prune the stored index to the fingerprints the batch
    * actually touches (an equi-semi-join — at scale a bucket-pruned
    * read), apply the `maxDf` boilerplate guard over the UNION
    * df — stored + batch — so a fingerprint that only becomes
    * boilerplate WITH this batch still guards off, and emit pairs
    * with at least one batch side. Equals [[winnowPairs]] over the
    * union corpus restricted to batch-touching pairs (spec-pinned;
    * the oracle replays exactly that).
    * Work per batch ∝ batch fingerprints + touched index rows —
    * the corpus is never re-fingerprinted. */
  def incrementalWinnowPairs(newDocs: DataFrame,
      spark: SparkSession, path: String, idCol: String, textCol: String,
      k: Int = 5, w: Int = 4, minShared: Int = 2, maxDf: Int = 50)
      : DataFrame = {
    require(minShared >= 1 && maxDf >= 2)
    val newFps = Caches.persist(
      winnowFingerprints(newDocs, idCol, textCol, k, w))
    val touched = newFps.select(col("fp")).distinct()
    // the batch's own (doc_id, fp) rows are excluded from the stored
    // side: under at-least-once redelivery the batch may ALREADY have
    // been folded in by appendToWinnowIndex before the checkpoint
    // commit failed, and counting those rows twice in the union
    // inflates __df toward maxDf — the screen must be idempotent
    // under replay (replayed run ≡ original run, spec-pinned)
    val storedTouched = spark.read.parquet(path)
      .join(touched, Seq("fp"), "left_semi")
      .join(newFps, Seq("fp", "doc_id"), "left_anti")
    val all = storedTouched.unionByName(newFps)
    val hot = all.groupBy(col("fp")).agg(count(lit(1)).as("__df"))
      .where(col("__df") > maxDf).select(col("fp"))
    val keptAll = all.join(hot, Seq("fp"), "left_anti")
    val keptNew = newFps.join(hot, Seq("fp"), "left_anti")
    // batch-internal pairs arrive in both orders -> countDistinct on
    // the fingerprint keeps the per-pair share single-counted
    keptAll.toDF("fp", "doc_a")
      .join(keptNew.toDF("fp", "doc_b"), Seq("fp"))
      .where(col("doc_a") =!= col("doc_b"))
      .select(least(col("doc_a"), col("doc_b")).as("doc_a"),
        greatest(col("doc_a"), col("doc_b")).as("doc_b"), col("fp"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(countDistinct(col("fp")).as("n_shared"))
      .where(col("n_shared") >= minShared)
  }

  /** Fold an admitted batch's fingerprints into the stored winnow
    * index — replay-idempotent on (doc_id, fp) membership (an
    * at-least-once re-delivery appends nothing), append-only write:
    * the stored corpus rows are never rewritten. */
  def appendToWinnowIndex(newDocs: DataFrame, spark: SparkSession,
      path: String, idCol: String, textCol: String, k: Int = 5,
      w: Int = 4, coalesceTo: Int = 1): Unit = {
    val newFps = winnowFingerprints(newDocs, idCol, textCol, k, w)
    val touched = newFps.select(col("fp")).distinct()
    val fresh = newFps.join(
      spark.read.parquet(path).join(touched, Seq("fp"), "left_semi"),
      Seq("fp", "doc_id"), "left_anti")
    (if (coalesceTo > 0) fresh.coalesce(coalesceTo) else fresh)
      .write.mode("append").parquet(path)
  }

  /** Share (ppm) of a batch's distinct fingerprints absent from the
    * stored winnow index — the drift alarm every stored index here
    * carries: a shifted corpus (new boilerplate family, new template)
    * shows up as fingerprint novelty before it shows up as missed
    * copy pairs. */
  def winnowIndexNoveltyPpm(newDocs: DataFrame, spark: SparkSession,
      path: String, idCol: String, textCol: String, k: Int = 5,
      w: Int = 4): Long = {
    val fps = Caches.persist(
      winnowFingerprints(newDocs, idCol, textCol, k, w)
        .select(col("fp")).distinct())
    val total = fps.count()
    if (total == 0L) return 0L
    val novel = fps.join(spark.read.parquet(path).select(col("fp")),
      Seq("fp"), "left_anti").count()
    novel * 1000000L / total
  }

  /** Alarm→rebuild arc for the winnow index: rebuild from the full
    * corpus when a batch's fingerprint novelty crosses the threshold,
    * else fold the batch in incrementally. Returns true iff rebuilt. */
  def rebuildWinnowIndexIfDrifted(corpusDocs: => DataFrame,
      newDocs: DataFrame, spark: SparkSession, path: String,
      idCol: String, textCol: String, maxNoveltyPpm: Long,
      k: Int = 5, w: Int = 4): Boolean = {
    val novelty = winnowIndexNoveltyPpm(newDocs, spark, path, idCol,
      textCol, k, w)
    if (novelty > maxNoveltyPpm) {
      writeWinnowIndex(corpusDocs, idCol, textCol, path, k, w)
      true
    } else {
      appendToWinnowIndex(newDocs, spark, path, idCol, textCol, k, w)
      false
    }
  }
}
