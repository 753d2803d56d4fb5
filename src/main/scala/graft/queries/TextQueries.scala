package graft.queries

import org.apache.spark.sql.functions._

import graft.functions.TextFns
import graft.operators.{Dedup, Similarity, Sketches, TextAnalysis}
import Q._

/** Text-analysis + deduplication coverage over the `documents` table:
  * word count (the reference's one real query), exact dedup, MinHash-LSH
  * and SimHash near-dup, n-gram Jaccard, language ID, quality scoring,
  * token counting, fingerprinting.
  */
object TextQueries {

  /** DuckDB fragment: letter tokens exactly matching
    * [[TextFns.letterTokens]] (split on non-\p{L}, drop empties). */
  private val SQL_TOKS = """list_filter(string_split_regex(text, '[^\p{L}]+'), x -> x <> '')"""

  /** DuckDB stopword score for a language — mirror of
    * [[TextAnalysis.langId]]'s per-language token membership count. */
  private def sqlScore(lang: String): String = {
    val words = TextAnalysis.stopwords(lang).map(w => s"'$w'").mkString(", ")
    s"CAST(len(list_filter(list_filter(string_split_regex(lower(text), '[^\\p{L}]+'), x -> x <> ''), x -> x IN ($words))) AS BIGINT)"
  }

  /** DuckDB CTEs producing distinct word 3-gram shingles per doc —
    * the mirror of [[Dedup.gramSets]]. */
  private def sqlGrams(where: String): String =
    s"""toks AS (SELECT doc_id, $SQL_TOKS AS ws FROM documents $where),
       |grams AS (SELECT DISTINCT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS g
       |          FROM toks, UNNEST(range(1, len(ws) - 1)) AS t(i)),
       |sizes AS (SELECT doc_id, COUNT(*) AS sz FROM grams GROUP BY doc_id),
       |inter AS (SELECT a.doc_id AS da, b.doc_id AS db, COUNT(*) AS i
       |          FROM grams a JOIN grams b ON a.g = b.g AND a.doc_id < b.doc_id
       |          GROUP BY 1, 2)""".stripMargin

  /** DuckDB replay of [[TextAnalysis.memorizationRisk]] (n=4,
    * occurrence-level singleton grams) — shared by q_memorization_risk
    * and q_memorization_incremental, whose read-time equivalence to
    * the batch operator over the union corpus IS the incremental
    * contract. */
  /** The DSIR configuration shared by all three selector forms AND
    * their one oracle — derived, never duplicated (the q_sql_hybrid
    * probe-list lesson): editing one constant moves every surface. */
  private[graft] val dsirTargetLang = "en"
  private[graft] val dsirBuckets = 4096
  private[graft] val dsirN = 60

  /** DuckDB replay of [[TextAnalysis.importanceSelect]] (integer DSIR,
    * buckets=$dsirBuckets, target = lang '$dsirTargetLang', n=$dsirN)
    * — shared by
    * q_dsir_select, q_dsir_indexed (stored additive profile) and
    * q_sql_dsir (SQL-text twin): all three are bit-identical by
    * contract. */
  private val sqlDsir: String =
    s"""WITH toks AS (SELECT doc_id, lang, $SQL_TOKS AS ws FROM documents),
       |g AS (SELECT doc_id, lang, ws[i] || ' ' || ws[i+1] AS g
       |      FROM toks, UNNEST(range(1, len(ws))) AS t(i)),
       |gb AS (SELECT doc_id, lang,
       |    CAST('0x' || substr(md5(g), 1, 12) AS BIGINT) % $dsirBuckets AS b
       |  FROM g),
       |wt AS (SELECT b,
       |    ((SUM(CASE WHEN lang = '$dsirTargetLang' THEN 1 ELSE 0 END) + 1) * 1000000)
       |      // (COUNT(*) + 1) AS wt_ppm
       |  FROM gb GROUP BY b),
       |sc AS (SELECT doc_id, SUM(wt_ppm) AS score
       |  FROM gb JOIN wt USING (b) GROUP BY 1)
       |SELECT CAST(ROW_NUMBER() OVER (ORDER BY score DESC, doc_id)
       |    AS BIGINT) AS rk,
       |  doc_id, CAST(score AS BIGINT) AS score
       |FROM sc ORDER BY score DESC, doc_id LIMIT $dsirN""".stripMargin

  /** DuckDB replay of [[TextAnalysis.importanceSelectExternal]] with
    * the 1-in-7 English sample as the external target: raw counts
    * over the whole corpus, target counts over the sample, full-join
    * bucket weights with the Laplace default on either absent side. */
  private val sqlDsirExternal: String =
    s"""WITH toks AS (SELECT doc_id, lang, $SQL_TOKS AS ws FROM documents),
       |g AS (SELECT doc_id, lang, ws[i] || ' ' || ws[i+1] AS g
       |      FROM toks, UNNEST(range(1, len(ws))) AS t(i)),
       |gb AS (SELECT doc_id, lang,
       |    CAST('0x' || substr(md5(g), 1, 12) AS BIGINT) % $dsirBuckets AS b
       |  FROM g),
       |raw AS (SELECT b, COUNT(*) AS raw_cnt FROM gb GROUP BY b),
       |tgt AS (SELECT b, COUNT(*) AS tgt_cnt FROM gb
       |  WHERE lang = '$dsirTargetLang' AND doc_id % 7 = 0 GROUP BY b),
       |wt AS (SELECT b,
       |    ((COALESCE(tgt_cnt, 0) + 1) * 1000000)
       |      // (COALESCE(raw_cnt, 0) + 1) AS wt_ppm
       |  FROM raw FULL JOIN tgt USING (b)),
       |sc AS (SELECT doc_id, SUM(wt_ppm) AS score
       |  FROM gb JOIN wt USING (b) GROUP BY 1)
       |SELECT CAST(ROW_NUMBER() OVER (ORDER BY score DESC, doc_id)
       |    AS BIGINT) AS rk,
       |  doc_id, CAST(score AS BIGINT) AS score
       |FROM sc ORDER BY score DESC, doc_id LIMIT $dsirN""".stripMargin

  private val sqlMemorization: String =
    s"""WITH toks AS (SELECT doc_id, $SQL_TOKS AS ws FROM documents),
       |g AS (SELECT doc_id,
       |      ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3] AS g
       |      FROM toks, UNNEST(range(1, len(ws) - 2)) AS t(i)),
       |f AS (SELECT MIN(doc_id) AS doc_id, COUNT(*) AS c FROM g GROUP BY g),
       |u AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_unique
       |      FROM f WHERE c = 1 GROUP BY 1),
       |tot AS (SELECT doc_id,
       |      CAST(GREATEST(len(ws) - 3, 0) AS BIGINT) AS n_grams
       |      FROM toks)
       |SELECT t.doc_id, t.n_grams,
       |  CAST(COALESCE(u.n_unique, 0) AS BIGINT) AS n_unique,
       |  CAST(CASE WHEN t.n_grams = 0 THEN 0
       |       ELSE (COALESCE(u.n_unique, 0) * 1000000) // t.n_grams
       |       END AS BIGINT) AS risk_ppm
       |FROM tot t LEFT JOIN u USING (doc_id)""".stripMargin

  /** Build-once two-snapshot corpus release history under a
    * content-addressed [[graft.io.Versioned]] root, for q_corpus_diff:
    * v0 = documents as-is; v1 = the deterministic "next release" —
    * docs whose md5-of-id starts '0' are DELETED, docs starting '1'
    * get " rev2" appended to their text (updates), docs starting 'f'
    * are additionally re-keyed +1,000,000 as NEW docs (inserts). All
    * three mutations are pure md5 arithmetic, so the diff replays in
    * the oracle from the base table. The filesystem `versions()`
    * check makes the build idempotent across JVMs; `Versioned.write`
    * commits each manifest atomically. */
  private def versionedReleaseRoot(
      s: org.apache.spark.sql.SparkSession, dir: String): String = {
    val root = graft.io.IndexPaths.indexPath("verdiff",
      s"$dir/documents.parquet", "rev2")
    val have = graft.io.Versioned.versions(s, root)
    if (have.size < 2) {
      val docs = t(s, dir, "documents")
      val h1 = substring(md5(col("doc_id").cast("string")), 1, 1)
      if (!have.contains(0L))
        graft.io.Versioned.write(docs, root, Map("release" -> "v0"))
      val v1 = docs.where(h1 =!= "0")
        .withColumn("text", when(h1 === "1",
          concat(col("text"), lit(" rev2"))).otherwise(col("text")))
        .unionByName(docs.where(h1 === "f")
          .withColumn("doc_id", col("doc_id") + lit(1000000L)))
      graft.io.Versioned.write(v1, root, Map("release" -> "v1"))
    }
    root
  }

  /** The fixed CMS probe-term set shared by q_cms_counts' Spark side
    * and its oracle (derived, never duplicated — the q_sql_hybrid
    * probe-list lesson): a mix of corpus-heavy terms and one absent
    * term (whose estimate is the sketch's noise floor: the MIN of the
    * four counters it collides into — 0 whenever any of its buckets
    * is untouched). */
  private[graft] val cmsProbeSet: Seq[String] =
    Seq("hash", "join", "scan", "window", "the", "zzznever")

  /** The fixed BM25 query set shared by q_bm25 / q_bm25_indexed and
    * replayed as VALUES in their oracle. `private[graft]` so
    * RetrievalSpec can assert the q_bm25_log rank-oracle's score
    * margin on the exact set the oracle replays. */
  private[graft] val bm25QuerySet: Seq[(Long, String)] = Seq(
    1L -> "hash join order",
    2L -> "vector scan filter",
    3L -> "customer data stream window")

  private def bm25Queries(s: org.apache.spark.sql.SparkSession)
      : org.apache.spark.sql.DataFrame =
    s.createDataFrame(bm25QuerySet).toDF("query_id", "qtext")

  /** The hybrid-retrieval query set: query ids double as embedding
    * probe ids (documents.doc_id and embeddings.vec_id share an id
    * space — cf. q_hybrid_neardup), so each query has BOTH a lexical
    * text and a dense probe vector. */
  private val hybridQuerySet: Seq[(Long, String)] = Seq(
    0L -> "hash join order",
    7L -> "vector scan filter",
    19L -> "customer data stream window",
    42L -> "hash vector stream")

  /** DuckDB fixed-point dot product (mirror of `VectorFns.dotQ` —
    * duplicated from VectorQueries for the hybrid oracle). */
  private def sqlDotQT(a: String, b: String): String =
    s"""list_sum(list_transform(range(1, len($a) + 1),
       |  i -> CAST(FLOOR(CAST($a[i] AS DOUBLE) * 1000) AS BIGINT)
       |     * CAST(FLOOR(CAST($b[i] AS DOUBLE) * 1000) AS BIGINT)))""".stripMargin

  /** Full integer replay of [[graft.operators.Retrieval.bm25TopK]]:
    * postings, df, floor-avgdl, the odds idf and cross-multiplied tf
    * normalization, per-term integer contributions, and the
    * (score DESC, doc_id ASC) ranking — parameterized by the query
    * relation, the corpus restriction, and k so q_bm25 /
    * q_bm25_indexed / q_eval_retrieval_audit all replay through one
    * builder. */
  private def sqlBm25Of(queryCte: String, docsWhere: String,
      k: Int): String =
    s"""WITH q(query_id, qtext) AS ($queryCte),
       |qt AS (SELECT DISTINCT query_id,
       |    unnest(list_filter(string_split_regex(qtext, '[^\\p{L}]+'),
       |      x -> x <> '')) AS term
       |  FROM q),
       |d AS (SELECT doc_id, ws, CAST(len(ws) AS BIGINT) AS dl FROM
       |    (SELECT doc_id, $SQL_TOKS AS ws FROM documents $docsWhere)
       |  WHERE len(ws) >= 1),
       |tf AS (SELECT doc_id, dl, w AS term, CAST(COUNT(*) AS BIGINT) AS tf
       |  FROM (SELECT doc_id, dl, unnest(ws) AS w FROM d)
       |  GROUP BY doc_id, dl, w),
       |dfq AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df
       |  FROM tf GROUP BY term),
       |st AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
       |    CAST(SUM(dl) AS BIGINT) AS total FROM d),
       |sc AS (SELECT qt.query_id, tf.doc_id,
       |    CAST(SUM(
       |      ( (((2 * st.n_docs - 2 * dfq.df + 1) * 100) // (2 * dfq.df + 1))
       |        * ((4400000000 * tf.tf) //
       |           (2000 * tf.tf + 600 +
       |            18 * ((tf.dl * 100) // (st.total // st.n_docs)))) ) // 100
       |    ) AS BIGINT) AS score_q
       |  FROM tf JOIN qt USING (term) JOIN dfq USING (term), st
       |  GROUP BY 1, 2)
       |SELECT query_id, doc_id, score_q, CAST(rk AS BIGINT) AS rk FROM (
       |  SELECT query_id, doc_id, score_q,
       |    row_number() OVER (PARTITION BY query_id
       |      ORDER BY score_q DESC, doc_id ASC) AS rk
       |  FROM sc)
       |WHERE rk <= $k""".stripMargin

  private lazy val sqlBm25: String = sqlBm25Of(
    "VALUES " + bm25QuerySet
      .map { case (id, q) => s"(CAST($id AS BIGINT), '$q')" }
      .mkString(", "),
    "", 10)

  /** The hybrid-retrieval replay (BM25 CTE + exact-dot dense cosine +
    * integer RRF) — shared by q_hybrid_retrieval and its SQL-text
    * twin q_sql_hybrid (bit-identical by contract). */
  private lazy val sqlHybrid: String = {
    val qcte = "VALUES " + hybridQuerySet
      .map { case (id, q) => s"(CAST($id AS BIGINT), '$q')" }
      .mkString(", ")
    // dense probe list DERIVED from hybridQuerySet (not hardcoded) so
    // editing the query set cannot desync the oracle's dense side
    val probeIn = hybridQuerySet.map(_._1).mkString(", ")
    s"""WITH bm AS (${sqlBm25Of(qcte, "", 10)}),
       |pr AS (SELECT vec_id AS query_id, embedding AS pe
       |  FROM embeddings WHERE vec_id IN ($probeIn)),
       |nn AS (SELECT vec_id,
       |    ${sqlDotQT("embedding", "embedding")} AS nsq FROM embeddings),
       |sc AS (SELECT pr.query_id, e.vec_id AS doc_id,
       |    CAST(${sqlDotQT("e.embedding", "pr.pe")} AS DOUBLE) /
       |      SQRT(CAST(na.nsq * np.nsq AS DOUBLE)) AS cos
       |  FROM embeddings e CROSS JOIN pr
       |  JOIN nn na ON na.vec_id = e.vec_id
       |  JOIN nn np ON np.vec_id = pr.query_id
       |  WHERE e.vec_id <> pr.query_id),
       |dn AS (SELECT query_id, doc_id, CAST(rk AS BIGINT) AS rk FROM (
       |    SELECT query_id, doc_id, row_number() OVER (
       |        PARTITION BY query_id ORDER BY cos DESC, doc_id ASC) AS rk
       |    FROM sc) WHERE rk <= 10),
       |u AS (SELECT COALESCE(bm.query_id, dn.query_id) AS query_id,
       |    COALESCE(bm.doc_id, dn.doc_id) AS doc_id,
       |    COALESCE(1000000000 // (60 + bm.rk), 0) +
       |      COALESCE(1000000000 // (60 + dn.rk), 0) AS rrf_q
       |  FROM bm FULL OUTER JOIN dn
       |    ON bm.query_id = dn.query_id AND bm.doc_id = dn.doc_id)
       |SELECT query_id, doc_id, CAST(rrf_q AS BIGINT) AS rrf_q,
       |  CAST(rk AS BIGINT) AS rk FROM (
       |  SELECT query_id, doc_id, rrf_q, row_number() OVER (
       |      PARTITION BY query_id ORDER BY rrf_q DESC, doc_id ASC) AS rk
       |  FROM u) WHERE rk <= 10""".stripMargin
  }

  /** The indexed-hybrid replay (stored-postings BM25 + int8-quantized
    * dense cosine + integer RRF) — shared by q_hybrid_retrieval_indexed
    * and its SQL-text twin q_sql_hybrid_indexed (bit-identical by
    * contract: the stored postings are pinned identical to the ad-hoc
    * scorer, and the int8 quantization replays per-vector). */
  private lazy val sqlHybridIndexed: String = {
    val qcte = "VALUES " + hybridQuerySet
      .map { case (id, q) => s"(CAST($id AS BIGINT), '$q')" }
      .mkString(", ")
    // probe list derived from hybridQuerySet (cf. sqlHybrid)
    val probeIn = hybridQuerySet.map(_._1).mkString(", ")
    s"""WITH bm AS (${sqlBm25Of(qcte, "", 10)}),
       |qz AS (SELECT vec_id, embedding,
       |    list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS mx
       |  FROM embeddings),
       |v AS (SELECT vec_id,
       |    CASE WHEN mx = 0
       |         THEN list_transform(embedding, x -> CAST(0 AS BIGINT))
       |         ELSE list_transform(embedding,
       |           x -> CAST(FLOOR((CAST(x AS DOUBLE) * 127.0) / mx) AS BIGINT))
       |    END AS qv
       |  FROM qz),
       |nn8 AS (SELECT vec_id, list_sum(list_transform(range(1, 65),
       |    i -> qv[i] * qv[i])) AS n8 FROM v),
       |pr8 AS (SELECT vec_id AS query_id, qv AS pq FROM v
       |  WHERE vec_id IN ($probeIn)),
       |sc8 AS (SELECT pr8.query_id, v.vec_id AS doc_id,
       |    CAST(list_sum(list_transform(range(1, 65),
       |        i -> v.qv[i] * pr8.pq[i])) AS DOUBLE) /
       |      SQRT(CAST(na.n8 * np.n8 AS DOUBLE)) AS qcos
       |  FROM v CROSS JOIN pr8
       |  JOIN nn8 na ON na.vec_id = v.vec_id
       |  JOIN nn8 np ON np.vec_id = pr8.query_id
       |  WHERE v.vec_id <> pr8.query_id),
       |dn AS (SELECT query_id, doc_id, CAST(rk AS BIGINT) AS rk FROM (
       |    SELECT query_id, doc_id, row_number() OVER (
       |        PARTITION BY query_id ORDER BY qcos DESC, doc_id ASC) AS rk
       |    FROM sc8) WHERE rk <= 10),
       |u AS (SELECT COALESCE(bm.query_id, dn.query_id) AS query_id,
       |    COALESCE(bm.doc_id, dn.doc_id) AS doc_id,
       |    COALESCE(1000000000 // (60 + bm.rk), 0) +
       |      COALESCE(1000000000 // (60 + dn.rk), 0) AS rrf_q
       |  FROM bm FULL OUTER JOIN dn
       |    ON bm.query_id = dn.query_id AND bm.doc_id = dn.doc_id)
       |SELECT query_id, doc_id, CAST(rrf_q AS BIGINT) AS rrf_q,
       |  CAST(rk AS BIGINT) AS rk FROM (
       |  SELECT query_id, doc_id, rrf_q, row_number() OVER (
       |      PARTITION BY query_id ORDER BY rrf_q DESC, doc_id ASC) AS rk
       |  FROM u) WHERE rk <= 10""".stripMargin
  }

  private def sqlJaccard(threshold: Double): String =
    s"""SELECT da AS doc_a, db AS doc_b,
       |  CAST(i AS DOUBLE) / (sa.sz + sb.sz - i) AS jaccard
       |FROM inter JOIN sizes sa ON sa.doc_id = da JOIN sizes sb ON sb.doc_id = db
       |WHERE CAST(i AS DOUBLE) / (sa.sz + sb.sz - i) >= $threshold""".stripMargin

  val queries: Map[String, QFn] = Map(
    // The reference's own query (SURVEY §1.4-Q6 semantics): split on
    // non-letters, case-sensitive, count occurrences.
    // Ref: /root/reference/test/wordCount.go:14-32.
    "q_wordcount" -> { (s, dir) =>
      t(s, dir, "documents")
        .select(explode(TextFns.letterTokens(col("text"))).as("word"))
        .groupBy(col("word")).agg(count(lit(1)).as("cnt"))
    },

    // Word bigram frequencies, top-100 with deterministic tie-break —
    // the n-gram statistics pass of a corpus-analysis pipeline.
    "q_bigram_counts" -> { (s, dir) =>
      t(s, dir, "documents")
        .select(TextFns.letterTokens(col("text")).as("__toks"))
        .select(explode(TextFns.wordNGrams(col("__toks"), 2)).as("bigram"))
        .groupBy(col("bigram")).agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("bigram").asc).limit(100)
    },

    // Exact dedup via content hash.
    "q_dedup_exact" -> { (s, dir) =>
      Dedup.exactKeepers(t(s, dir, "documents"), "doc_id", "text")
    },

    // Exact n-gram Jaccard similarity, all pairs above threshold on a
    // bounded slice (the brute-force baseline the LSH path is checked
    // against).
    "q_ngram_jaccard" -> { (s, dir) =>
      val docs = t(s, dir, "documents").where(col("doc_id") < 300)
      val grams = Dedup.gramSets(docs, "doc_id", "text", 3)
      val a = grams.toDF("doc_a", "g")
      val b = grams.toDF("doc_b", "g")
      val pairs = a.join(b, "g").where(col("doc_a") < col("doc_b"))
        .select("doc_a", "doc_b").distinct()
      Dedup.jaccard(pairs, grams).where(col("jaccard") >= 0.5)
    },

    // MinHash-LSH near-dup pairs, verified with exact Jaccard >= 0.8.
    // The oracle is the all-pairs brute force; LSH recall at J>=0.8 with
    // 16x4 bands is >= 0.9998 (and 1.0 for the J~0.95 dups in real data).
    "q_dedup_minhash" -> { (s, dir) =>
      Dedup.minhashDedupPairs(t(s, dir, "documents"), "doc_id", "text",
        ngram = 3, numHashes = 64, bands = 16, threshold = 0.8)
    },

    // Asymmetric-overlap pairs: max containment >= 0.8 over trigram
    // sets — the boilerplate/quotation case a Jaccard threshold misses.
    // Prefix-filtered candidates (rarest-df grams) make this EXACT, so
    // the oracle is the full brute-force containment in SQL.
    "q_containment" -> { (s, dir) =>
      Dedup.containmentPairs(t(s, dir, "documents"), "doc_id", "text",
        ngram = 3, threshold = 0.8)
    },

    // The df-capped containment join — the documented recall-trading
    // knob at scale (boilerplate grams with df > maxDf stop feeding
    // the candidate join): work drops from sum_g df(g)² over all
    // shareable grams to the capped pool. At this SF the cap BITES
    // (pairs whose qualifying overlap rides df>4 template grams drop);
    // the oracle replays the whole capped candidate generation — pool
    // filter, portable (df, md5-long) prefix order, iMin probe cut,
    // prefix×shared join — then exact-scores candidates, so the traded
    // boundary is oracle-checked, not documentation-only.
    "q_containment_capped" -> { (s, dir) =>
      Dedup.containmentPairs(t(s, dir, "documents"), "doc_id", "text",
        ngram = 3, threshold = 0.8, maxDf = Some(4L))
    },

    // The containment join as PURE SQL TEXT — the surface a SQL-only
    // user gets for the newest pipeline (cf. q_sql_dedup). Mirrors the
    // Scala path stage for stage: tokenize once, gram arrays built
    // per-doc, candidate stages on xxhash64 longs (collisions only
    // widen the candidate set), prefix pool = shareable (df >= 2)
    // grams sorted rarest-first with the float-fuzz-proof iMin probe,
    // long-array prescore, string-exact verify. Only builtins — no
    // custom functions needed.
    //
    // The tokenize+gram+hash prepass is MATERIALIZED (temp view +
    // eager CACHE TABLE — still statements a SQL-only user issues):
    // Spark inlines deterministic CTEs, so the CTE form re-ran the
    // prepass once per reference (~7x: gram explode, the per-doc
    // regroup, both prescore sides, both verify sides) — the same
    // run-3x hazard the Scala twin's persist avoids (SCALE.md,
    // containment row).
    "q_sql_containment" -> { (s, dir) =>
      t(s, dir, "documents").createOrReplaceTempView("documents")
      // drop any previous invocation's cache entry BEFORE the view is
      // replaced: the eager CACHE TABLE below would otherwise leak the
      // old entry (keyed to the replaced view's plan) until a
      // harness-wide clearCache
      s.sql("UNCACHE TABLE IF EXISTS sqlcont_prep")
      s.sql(
        """CREATE OR REPLACE TEMPORARY VIEW sqlcont_prep AS
          |SELECT doc_id, gs, transform(gs, g -> xxhash64(g)) AS hs,
          |  size(gs) AS sz
          |FROM (
          |  SELECT doc_id, array_distinct(transform(sequence(1, size(ws) - 2),
          |    i -> concat_ws(' ', slice(ws, i, 3)))) AS gs
          |  FROM (SELECT doc_id,
          |          filter(split(text, '[^\\p{L}]+'), x -> x <> '') AS ws
          |        FROM documents)
          |  WHERE size(ws) >= 3)""".stripMargin)
      s.sql("CACHE TABLE sqlcont_prep")
      s.sql(
        """WITH grams AS (
          |  SELECT doc_id, gh
          |  FROM sqlcont_prep LATERAL VIEW explode(hs) t AS gh),
          |dfreq AS (
          |  SELECT gh, COUNT(*) AS df FROM grams GROUP BY gh
          |  HAVING COUNT(*) >= 2),
          |shared AS (
          |  SELECT g.doc_id, g.gh, d.df
          |  FROM grams g JOIN dfreq d ON g.gh = d.gh),
          |ord AS (
          |  SELECT s.doc_id,
          |    sort_array(collect_list(named_struct('df', s.df, 'gh', s.gh))) AS ord,
          |    first(h.sz) AS sz
          |  FROM shared s JOIN sqlcont_prep h ON s.doc_id = h.doc_id
          |  GROUP BY s.doc_id),
          |pfx AS (
          |  SELECT doc_id, p.gh
          |  FROM (
          |    SELECT doc_id, slice(ord, 1, greatest(CAST(size(ord) -
          |      (CASE WHEN CAST(ceil(0.8 * sz) - 1 AS DOUBLE) / sz >= 0.8
          |            THEN ceil(0.8 * sz) - 1 ELSE ceil(0.8 * sz) END)
          |      + 1 AS INT), 0)) AS pf
          |    FROM ord) q
          |  LATERAL VIEW explode(pf) t AS p),
          |cand AS (
          |  SELECT DISTINCT least(p.doc_id, s.doc_id) AS doc_a,
          |    greatest(p.doc_id, s.doc_id) AS doc_b
          |  FROM pfx p JOIN shared s ON p.gh = s.gh AND p.doc_id <> s.doc_id),
          |pre AS (
          |  SELECT c.doc_a, c.doc_b
          |  FROM cand c
          |  JOIN sqlcont_prep a ON a.doc_id = c.doc_a
          |  JOIN sqlcont_prep b ON b.doc_id = c.doc_b
          |  WHERE greatest(
          |    CAST(size(array_intersect(a.hs, b.hs)) AS DOUBLE) / a.sz,
          |    CAST(size(array_intersect(a.hs, b.hs)) AS DOUBLE) / b.sz) >= 0.8),
          |ver AS (
          |  SELECT c.doc_a, c.doc_b,
          |    size(array_intersect(a.gs, b.gs)) AS ni,
          |    size(a.gs) AS sa, size(b.gs) AS sb
          |  FROM pre c
          |  JOIN sqlcont_prep a ON a.doc_id = c.doc_a
          |  JOIN sqlcont_prep b ON b.doc_id = c.doc_b)
          |SELECT doc_a, doc_b,
          |  CAST(ni AS DOUBLE) / sa AS containment_a,
          |  CAST(ni AS DOUBLE) / sb AS containment_b,
          |  CAST(ni AS DOUBLE) / (sa + sb - ni) AS jaccard
          |FROM ver
          |WHERE greatest(CAST(ni AS DOUBLE) / sa,
          |               CAST(ni AS DOUBLE) / sb) >= 0.8
          |""".stripMargin)
    },

    // Provenance-priority keeper selection: turn near-dup clusters into
    // an actual KEEP decision that prefers the most trusted source
    // (tier), then the longest doc, then the lowest id — real pipelines
    // keep the canonical copy, not the min doc_id. The per-cluster
    // window partitions on cluster id (tiny groups — scale-safe).
    "q_dedup_keepers" -> { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val docs = t(s, dir, "documents")
      val pairs = Dedup.minhashDedupPairs(docs, "doc_id", "text",
        ngram = 3, numHashes = 64, bands = 16, threshold = 0.8)
      val clusters = Dedup.dedupClusters(pairs.select(col("doc_a"), col("doc_b")))
      val meta = docs.select(col("doc_id"), col("source"), col("n_chars"),
        (expr("CAST(substr(source, 4) AS INT)") % 3).as("tier"))
      val w = Window.partitionBy(col("cluster"))
        .orderBy(col("tier").asc, col("n_chars").desc, col("doc_id").asc)
      clusters.join(meta, "doc_id")
        .withColumn("rn", row_number().over(w))
        .where(col("rn") === 1)
        .select(col("cluster"), col("doc_id").as("keep_id"),
          col("source").as("keep_source"),
          col("n_chars").cast("long").as("keep_chars"))
    },

    // Token-budget corpus selection: per source, admit the
    // highest-token docs until the running token total crosses the
    // budget — the "fill a training budget with the best of each
    // source" step. Pure window arithmetic (cumulative sum inside each
    // source partition), deterministic order, exact SQL oracle.
    "q_token_budget" -> { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("source"))
        .orderBy(col("n_tokens").desc, col("doc_id").asc)
      t(s, dir, "documents")
        .select(col("doc_id"), col("source"),
          size(TextFns.letterTokens(col("text"))).cast("long").as("n_tokens"))
        .withColumn("cum_tokens", sum(col("n_tokens")).over(w))
        .where(col("cum_tokens") <= 800)
    },

    // Incremental containment — the ingest shape (cf.
    // q_incremental_dedup, same batch split): the batch's grams and
    // prefixes are computed fresh; the corpus is touched only through
    // the materialized ranked-postings index and the candidate-id
    // gram-set fetch. Exact, so the oracle is brute-force containment
    // restricted to pairs with a batch side.
    "q_incremental_containment" -> { (s, dir) =>
      val docs = t(s, dir, "documents")
      val corpus = docs.where(col("doc_id") % 5 =!= 4)
      val fresh = docs.where(col("doc_id") % 5 === 4)
      val indexPath = graft.io.IndexPaths.indexPath("contidx",
        s"$dir/documents.parquet", "n3")
      Dedup.ensureContainmentIndex(corpus, "doc_id", "text", indexPath)
      Dedup.incrementalContainmentPairs(fresh, corpus, indexPath,
        "doc_id", "text", ngram = 3, threshold = 0.8)
    },

    // Near-dup clustering: connected components over the MinHash-LSH
    // pair list (min-label propagation); cluster = min doc_id, so
    // cluster == doc_id marks the keeper. Oracle: recursive-CTE
    // transitive closure over the brute-force Jaccard pairs.
    "q_dedup_clusters" -> { (s, dir) =>
      val pairs = Dedup.minhashDedupPairs(t(s, dir, "documents"), "doc_id", "text",
        ngram = 3, numHashes = 64, bands = 16, threshold = 0.8)
      Dedup.dedupClusters(pairs.select(col("doc_a"), col("doc_b")))
    },

    // SOFT dedup: every member of a near-dup cluster kept with
    // probability 65536/(65536·|cluster|) — one expected keeper per
    // cluster, but the kept copy varies (reweight-don't-delete, the
    // SoftDeDup stance); singletons always keep. Oracle: recursive-CTE
    // clusters + all-doc sizes + the integer weight/md5 cut.
    "q_softdedup_keep" -> { (s, dir) =>
      val docs = t(s, dir, "documents")
      val pairs = Dedup.minhashDedupPairs(docs, "doc_id", "text",
        ngram = 3, numHashes = 64, bands = 16, threshold = 0.8)
      Dedup.softDedupKeep(docs, pairs.select(col("doc_a"), col("doc_b")),
        "doc_id")
    },

    // LEAKAGE-SAFE train/val/test split: near-dup clusters assigned
    // whole (split decided by the cluster representative's md5, not the
    // doc's own) — the guard against a doc landing in train while its
    // near-copy lands in test. Oracle replays clusters (recursive CTE)
    // + the same md5 cut rule.
    "q_cluster_split" -> { (s, dir) =>
      val docs = t(s, dir, "documents")
      val pairs = Dedup.minhashDedupPairs(docs, "doc_id", "text",
        ngram = 3, numHashes = 64, bands = 16, threshold = 0.8)
      Dedup.leakageSafeSplit(docs, pairs.select(col("doc_a"), col("doc_b")),
        "doc_id", Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
    },

    // MULTIMODAL leakage-safe split: the pair graph is the UNION of
    // the text near-dup pairs and all three perceptual pair graphs
    // off the stored media artifacts (the media card's graph) — a
    // doc whose image re-encode lands in test while its text twin
    // lands in train leaks either way, so co-assignment must close
    // over EVERY duplication channel. The union genuinely merges:
    // at sf0.01, 8 docs sit in BOTH the text and the image graph,
    // so components exist that no single channel produces. Oracle:
    // one recursive closure over the unioned edge list + the md5
    // cut rule on the representative.
    "q_split_multimodal" -> { (s, dir) =>
      val docs = t(s, dir, "documents")
      val tp = Dedup.minhashDedupPairs(docs, "doc_id", "text",
        ngram = 3, numHashes = 64, bands = 16, threshold = 0.8)
        .select(col("doc_a"), col("doc_b"))
      val (imgPath, audPath, frmPath) =
        MediaQueries.ensurePerceptualArtifacts(s, dir)
      val ip = Dedup.simhashPairs(
        s.read.parquet(imgPath).where(col("doc_id") % 3 === 0)
          .select(col("doc_id"), col("code").as("simhash")),
        maxDist = 3, bits = 64).select(col("doc_a"), col("doc_b"))
      val ap = Dedup.simhashPairs(
        s.read.parquet(audPath)
          .select(col("doc_id"), col("code").as("simhash")),
        maxDist = 3, bits = 60).select(col("doc_a"), col("doc_b"))
      val vp = graft.operators.Multimodal
        .videoNearDupPairsFromIndex(s, frmPath)
        .select(col("doc_a"), col("doc_b"))
      Dedup.leakageSafeSplit(docs,
        tp.unionByName(ip).unionByName(ap).unionByName(vp), "doc_id",
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
    },

    // Incremental dedup — the production ingest shape: docs with
    // doc_id % 5 == 4 are the "new batch", the rest the existing
    // corpus, whose signatures live in a MATERIALIZED band-bucket index
    // (built once through StoredIndex). Query-time signature
    // work is proportional to the batch; the oracle is the brute-force
    // ground truth restricted to pairs with a new-batch side.
    "q_incremental_dedup" -> { (s, dir) =>
      val docs = t(s, dir, "documents")
      val corpus = docs.where(col("doc_id") % 5 =!= 4)
      val fresh = docs.where(col("doc_id") % 5 === 4)
      // content-addressed: distinct source dirs never alias, and
      // regenerated testdata yields a fresh path (stale-index hazard
      // of the old dir.hashCode key)
      val indexPath = graft.io.IndexPaths.indexPath("bandidx",
        s"$dir/documents.parquet", "n3h64b16")
      Dedup.ensureBandIndex(corpus, "doc_id", "text", indexPath)
      Dedup.incrementalDedupPairs(fresh, corpus, indexPath, "doc_id", "text")
    },

    // STREAMING near-dup detection, batch-evaluated (the same code path
    // runs on an unbounded stream; StreamingSpec feeds it via
    // MemoryStream): per-row signatures -> one stateful shuffle with a
    // bounded per-bucket ListState (the hot-bucket cap enforced by
    // construction) -> candidate-only exact-Jaccard verify. Same ground
    // truth as q_dedup_minhash.
    "q_stream_neardup" -> { (s, dir) =>
      val docs = t(s, dir, "documents")
      graft.streaming.Streams.nearDupPairsStream(docs, docs)
    },

    // The INGEST-DEDUP LOOP end to end — the streaming-curation shape
    // (StreamingSpec drives the same per-batch step through a real
    // foreachBatch query over a MemoryStream): documents arrive in
    // three deterministic batches (doc_id % 3 in order), each batch
    // dedups against the admitted corpus through the stored band index
    // (work ∝ batch), keepers are admitted and their signatures folded
    // into the index for the next batch. Output: each admitted doc and
    // the batch that admitted it.
    //
    // Lifecycle matches the other index-backed queries (ensureBandIndex
    // / ivfTopKIndexed): the loop IS the ingest — it runs once per
    // corpus version into a content-addressed root and commits a
    // marker; re-invocations read the admitted table (rerunning an
    // identical ingest is not a production operation). A killed run
    // leaves no marker and is wiped + rebuilt. The result is
    // deterministic either way; the oracle replays the first-keeper
    // admission rule batch-by-batch over brute-force Jaccard pairs.
    "q_stream_ingest_dedup" -> { (s, dir) =>
      val docs = t(s, dir, "documents")
      val root = graft.io.IndexPaths.indexPath("ingestloop",
        s"$dir/documents.parquet", "n3h64b16t08x3")
      val fs = new org.apache.hadoop.fs.Path(root)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      val done = new org.apache.hadoop.fs.Path(s"$root/_LOOP_COMPLETE")
      if (!fs.exists(done)) {
        fs.delete(new org.apache.hadoop.fs.Path(root), true)
        for (b <- 0L to 2L)
          Dedup.ingestDedupBatch(docs.where(col("doc_id") % 3 === b), b,
            s"$root/bandidx", s"$root/admitted")
        fs.create(done).close()
      }
      s.read.parquet(s"$root/admitted")
        .select(col("doc_id"), col("batch").cast("long").as("admitted_batch"))
    },

    // The CONTAINMENT ingest loop, batch-evaluated (same code path
    // foreachBatch drives — StreamingSpec runs the MemoryStream form):
    // three arrival batches, each matched against everything admitted
    // before it through the stored postings index; admission unrolled
    // batch-by-batch in the oracle with the containment pair predicate.
    "q_stream_ingest_containment" -> { (s, dir) =>
      val docs = t(s, dir, "documents")
      val root = graft.io.IndexPaths.indexPath("contloop",
        s"$dir/documents.parquet", "n3t08x3")
      val fs = new org.apache.hadoop.fs.Path(root)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      val done = new org.apache.hadoop.fs.Path(s"$root/_LOOP_COMPLETE")
      if (!fs.exists(done)) {
        fs.delete(new org.apache.hadoop.fs.Path(root), true)
        for (b <- 0L to 2L)
          Dedup.ingestContainmentBatch(docs.where(col("doc_id") % 3 === b), b,
            s"$root/contidx", s"$root/admitted")
        fs.create(done).close()
      }
      s.read.parquet(s"$root/admitted")
        .select(col("doc_id"), col("batch").cast("long").as("admitted_batch"))
    },

    // The INCREMENTAL exact-substring loop, batch-evaluated (same code
    // path ingestSubstringScrubStream drives): three arrival batches,
    // each scrubbed against every span the corpus has kept so far
    // (first-ARRIVAL ownership: batch order, then min doc_id), novel
    // grams folded into the ownership index per batch. Oracle replays
    // the lexicographic (batch, doc_id) ownership key.
    "q_incremental_substring" -> { (s, dir) =>
      val docs = t(s, dir, "documents")
      val root = graft.io.IndexPaths.indexPath("subloop",
        s"$dir/documents.parquet", "n5x3")
      val fs = new org.apache.hadoop.fs.Path(root)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      val done = new org.apache.hadoop.fs.Path(s"$root/_LOOP_COMPLETE")
      if (!fs.exists(done)) {
        fs.delete(new org.apache.hadoop.fs.Path(root), true)
        for (b <- 0L to 2L)
          TextAnalysis.ingestSubstringScrubBatch(
            docs.where(col("doc_id") % 3 === b), b,
            s"$root/ownidx", s"$root/scrubbed")
        fs.create(done).close()
      }
      s.read.parquet(s"$root/scrubbed")
        .select(col("doc_id"), col("n_tokens"), col("n_kept"),
          col("n_removed"), col("scrubbed_md5"))
    },

    // The drift GATE, batch-evaluated (the foreachBatch code path),
    // through the STORED-counts production form: the batch-0 reference
    // is aggregated ONCE into a (term, c_a) table, then batches 1 and 2
    // (doc_id % 3) are admitted or quarantined by their term-
    // distribution TV distance against that table — the reference
    // corpus itself is never re-read per batch. The threshold
    // (60000 ppm) sits BETWEEN the two batches' actual drifts at
    // sf0.01, so the oracle's integer replay of termDrift decides one
    // batch each way — a wrong TV on either side flips a decision and
    // fails the hash.
    "q_drift_gate" -> { (s, dir) =>
      val docs = t(s, dir, "documents")
      val root = graft.io.IndexPaths.indexPath("driftgate",
        s"$dir/documents.parquet", "t60000m5stored")
      val fs = new org.apache.hadoop.fs.Path(root)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      val done = new org.apache.hadoop.fs.Path(s"$root/_LOOP_COMPLETE")
      if (!fs.exists(done)) {
        fs.delete(new org.apache.hadoop.fs.Path(root), true)
        TextAnalysis.writeReferenceCounts(
          docs.where(col("doc_id") % 3 === 0), s"$root/refcounts")
        for (b <- 1L to 2L)
          TextAnalysis.driftGatedIngestBatchStored(
            docs.where(col("doc_id") % 3 === b),
            b, s"$root/refcounts",
            s"$root/admitted", s"$root/quarantine", maxDriftPpm = 60000L)
        fs.create(done).close()
      }
      def readRoot(p: String, decision: String) =
        if (fs.exists(new org.apache.hadoop.fs.Path(p)))
          s.read.parquet(p).select(col("doc_id"),
            col("batch").cast("long").as("batch"),
            lit(decision).as("decision"))
        else
          s.range(0).select(col("id").as("doc_id"), col("id").as("batch"),
            lit(decision).as("decision"))
      readRoot(s"$root/admitted", "admitted")
        .unionByName(readRoot(s"$root/quarantine", "quarantine"))
    },

    // The drift gate composed in FRONT of the dedup loop (the
    // gatedIngestDedupStream foreachBatch path, batch-evaluated):
    // batch-0 docs become the stored reference counts; batches 1 and 2
    // are gated by TV distance (threshold 60000 decides one each way
    // at sf0.01, as in q_drift_gate), and the gated-IN batch runs the
    // index-backed first-keeper dedup. Per doc: admitted / rejected
    // (gated in, deduped away) / quarantine — the oracle replays the
    // gate arithmetic AND the conditional admission (batch 2's corpus
    // is batch 1's keepers ONLY if batch 1 was itself admitted).
    "q_stream_gated_dedup" -> { (s, dir) =>
      val docs = t(s, dir, "documents")
      val root = graft.io.IndexPaths.indexPath("gateddedup",
        s"$dir/documents.parquet", "t60000m5n3h64b16t08")
      val fs = new org.apache.hadoop.fs.Path(root)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      val done = new org.apache.hadoop.fs.Path(s"$root/_LOOP_COMPLETE")
      if (!fs.exists(done)) {
        fs.delete(new org.apache.hadoop.fs.Path(root), true)
        TextAnalysis.writeReferenceCounts(
          docs.where(col("doc_id") % 3 === 0), s"$root/refcounts")
        for (b <- 1L to 2L)
          Dedup.gatedIngestDedupBatch(docs.where(col("doc_id") % 3 === b),
            b, s"$root/refcounts", s"$root/quarantine",
            s"$root/bandidx", s"$root/admitted", maxDriftPpm = 60000L)
        fs.create(done).close()
      }
      def readRoot(p: String, decision: String) =
        if (fs.exists(new org.apache.hadoop.fs.Path(p)))
          s.read.parquet(p).select(col("doc_id"),
            col("batch").cast("long").as("batch"),
            lit(decision).as("decision"))
        else
          s.range(0).select(col("id").as("doc_id"), col("id").as("batch"),
            lit(decision).as("decision"))
      val adm = readRoot(s"$root/admitted", "admitted")
      val qua = readRoot(s"$root/quarantine", "quarantine")
      val rej = docs.where(col("doc_id") % 3 =!= 0)
        .select(col("doc_id"), (col("doc_id") % 3).as("batch"),
          lit("rejected").as("decision"))
        .join(adm.select("doc_id"), Seq("doc_id"), "left_anti")
        .join(qua.select("doc_id"), Seq("doc_id"), "left_anti")
      adm.unionByName(qua).unionByName(rej)
    },

    // SimHash near-dup pairs (hamming <= 3 on 60-bit portable
    // signatures: md5-derived token hashes through the native
    // long-input buffer aggregate). The banded pair search returns
    // exactly the pairs an all-pairs hamming scan finds (pigeonhole is
    // lossless at dist <= 3), so the oracle recomputes signature AND
    // pair list verbatim in SQL. The xxhash64 throughput variant stays
    // asserted in DedupSpec.
    "q_simhash_pairs" -> { (s, dir) =>
      Dedup.simhashPairs(
          Dedup.simhashPortable(t(s, dir, "documents"), "doc_id", "text"),
          maxDist = 3, bits = 60)
        .select(col("doc_a"), col("doc_b"), col("hamming").cast("long").as("hamming"))
    },

    // The ENTIRE MinHash-LSH dedup pipeline in pure SQL text — the
    // surface a SQL-only user gets (the reference's audience submits a
    // program; this engine's equivalent submits a query). Native
    // aggregates minhash_sig_long / bottom_k_longs are registered on
    // the live session, and the SQL mirrors the Scala path stage for
    // stage: tokens hashed ONCE and window-combined (no gram strings
    // ever built), banding via xxhash64 over signature slices, the
    // hot-bucket cap as the BOUNDED bottom_k_longs aggregate — per-
    // Stratified exact sampling in PURE SQL text — the SQL-only user's
    // surface over the registered k-bounded heap aggregate (cf.
    // q_sample_stratified, the Scala composition on orders): exactly
    // 30 docs per language, picked in md5-of-id order, map-side
    // partial heaps instead of a rank window's corpus shuffle+sort.
    "q_sql_stratified" -> { (s, dir) =>
      graft.plans.GraftExtensions.ensureRegistered(s)
      t(s, dir, "documents").createOrReplaceTempView("documents")
      s.sql(
        """SELECT stratum AS lang, CAST(i + 1 AS BIGINT) AS rk,
          |  e.id AS doc_id
          |FROM (SELECT lang AS stratum,
          |        top_k_by_long_score(
          |          -CAST(conv(substring(md5(CAST(doc_id AS STRING)), 1, 12),
          |                16, 10) AS BIGINT),
          |          doc_id, 30) AS picks
          |      FROM documents GROUP BY lang)
          |LATERAL VIEW posexplode(picks) t AS i, e""".stripMargin)
    },

    // bucket work is capped by the aggregate's k-slot buffer, so a
    // million-copy bucket costs k longs, never m² join-task
    // comparisons (the round-4 form wrote the cap as a join residual
    // `(b.r <= 64 OR a.r = 1)` that Catalyst could not push below the
    // join — output was capped but WORK was not). Core pairs explode
    // row-locally from the kept array; star edges probe the rare
    // overflow buckets only; the rescore builds per-doc gram-set
    // ARRAYS and intersects them row-locally. Oracle: the same
    // brute-force all-pairs Jaccard as q_dedup_minhash.
    "q_sql_dedup" -> { (s, dir) =>
      graft.plans.GraftExtensions.ensureRegistered(s)
      t(s, dir, "documents").createOrReplaceTempView("documents")
      s.sql(
        """WITH toks AS (
          |  SELECT doc_id, filter(split(text, '[^\\p{L}]+'), x -> x <> '') AS ws
          |  FROM documents),
          |th AS (
          |  SELECT doc_id, transform(ws, t -> xxhash64(t)) AS hs
          |  FROM toks WHERE size(ws) >= 3),
          |gh AS (
          |  SELECT doc_id, xxhash64(hs[i], hs[i + 1], hs[i + 2]) AS g
          |  FROM th LATERAL VIEW explode(sequence(0, size(hs) - 3)) t AS i),
          |sigs AS (
          |  SELECT doc_id, minhash_sig_long(g, 64) AS sig FROM gh GROUP BY doc_id),
          |bands AS (
          |  SELECT doc_id, b, xxhash64(b, slice(sig, b * 4 + 1, 4)) AS bucket
          |  FROM sigs LATERAL VIEW explode(sequence(0, 15)) t AS b),
          |hot AS (
          |  SELECT b, bucket, bottom_k_longs(doc_id, 64) AS kept,
          |    COUNT(*) AS cnt
          |  FROM bands GROUP BY b, bucket HAVING COUNT(*) >= 2),
          |core AS (
          |  SELECT p.a AS doc_a, p.b AS doc_b FROM hot
          |  LATERAL VIEW explode(flatten(transform(kept, (x, i) ->
          |    transform(slice(kept, i + 2, size(kept)),
          |      y -> named_struct('a', x, 'b', y))))) t AS p),
          |star AS (
          |  SELECT h.kept[0] AS doc_a, d.doc_id AS doc_b
          |  FROM bands d JOIN hot h
          |    ON d.b = h.b AND d.bucket = h.bucket AND h.cnt > 64
          |  WHERE NOT array_contains(h.kept, d.doc_id)),
          |cand AS (
          |  SELECT DISTINCT doc_a, doc_b
          |  FROM (SELECT * FROM core UNION ALL SELECT * FROM star)),
          |cids AS (
          |  SELECT doc_a AS doc_id FROM cand
          |  UNION SELECT doc_b FROM cand),
          |sets AS (
          |  SELECT t.doc_id, array_distinct(transform(
          |    sequence(1, size(ws) - 2),
          |    i -> concat_ws(' ', slice(ws, i, 3)))) AS gs
          |  FROM toks t JOIN cids c ON t.doc_id = c.doc_id
          |  WHERE size(ws) >= 3)
          |SELECT c.doc_a, c.doc_b,
          |  CAST(size(array_intersect(sa.gs, sb.gs)) AS DOUBLE) /
          |    (size(sa.gs) + size(sb.gs) - size(array_intersect(sa.gs, sb.gs)))
          |    AS jaccard
          |FROM cand c
          |JOIN sets sa ON sa.doc_id = c.doc_a
          |JOIN sets sb ON sb.doc_id = c.doc_b
          |WHERE CAST(size(array_intersect(sa.gs, sb.gs)) AS DOUBLE) /
          |    (size(sa.gs) + size(sb.gs) - size(array_intersect(sa.gs, sb.gs)))
          |    >= 0.8
          |""".stripMargin)
    },

    // Language ID (stopword heuristic).
    "q_lang_id" -> { (s, dir) =>
      TextAnalysis.langId(t(s, dir, "documents"), "doc_id", "text")
        .select(col("doc_id"),
          col("score_en").cast("long").as("score_en"),
          col("score_es").cast("long").as("score_es"),
          col("score_de").cast("long").as("score_de"),
          col("score_fr").cast("long").as("score_fr"),
          col("han_chars"),
          col("pred_lang"))
    },

    // Quality scoring.
    "q_quality_score" -> { (s, dir) =>
      TextAnalysis.quality(t(s, dir, "documents"), "doc_id", "text")
        .select(col("doc_id"),
          col("n_tokens").cast("long").as("n_tokens"),
          col("char_len").cast("long").as("char_len"),
          col("letter_ratio"), col("stop_ratio"), col("verdict"))
    },

    // Token counting (whitespace + alnum-run "BPE-ish" tokenizations).
    "q_token_count" -> { (s, dir) =>
      TextAnalysis.tokenCounts(t(s, dir, "documents"), "doc_id", "text")
        .select(col("doc_id"),
          col("ws_tokens").cast("long").as("ws_tokens"),
          col("alnum_tokens").cast("long").as("alnum_tokens"),
          col("char_len").cast("long").as("char_len"))
    },

    // BPE token counting (real greedy byte-pair merges over the
    // vendored table — see graft.functions.Bpe). The merge table is
    // engine-internal, so the oracle checks PROPERTIES DuckDB can
    // predict: doc count; the per-doc invariant ws_tokens <= bpe_tokens
    // <= char_tokens (each word yields between 1 and len tokens); and
    // that merging actually happened corpus-wide (bpe strictly below
    // the character-level count). Exact known-string counts are
    // asserted in TokenizerSpec.
    "q_bpe_tokens" -> { (s, dir) =>
      // runs under the vendored LEARNED table (3000 ranks, merges.txt
      // format) — the realistic-scale merge path, not the toy default
      val counts = graft.functions.Bpe.tokenCountsBpe(
        t(s, dir, "documents"), "doc_id", "text",
        merges = graft.functions.Bpe.vendoredMerges)
      counts.agg(count(lit(1)).as("n_docs"),
        min(when(col("bpe_tokens") >= col("ws_tokens") &&
          col("bpe_tokens") <= col("char_tokens"), 1L).otherwise(0L))
          .cast("boolean").as("bounds_ok"),
        (sum(col("bpe_tokens")) < sum(col("char_tokens"))).as("merges_applied"))
    },

    // TOKENIZER-FERTILITY audit: BPE tokens per 100 whitespace words
    // per predicted language, under the learned 3000-rank table — the
    // card's tokenizer-fairness companion. The language rollup and
    // word sums replay exactly in SQL; the BPE-derived bound rides as
    // a pinned boolean (TokenizerSpec pins exact fertility values).
    "q_tokenizer_fertility" -> { (s, dir) =>
      TextAnalysis.tokenizerFertility(t(s, dir, "documents"), "doc_id",
          "text", merges = graft.functions.Bpe.vendoredMerges)
        .select("pred_lang", "n_docs", "n_ws_tokens", "fert_ok")
    },

    // Per-doc top-3 terms by frequency (keyword extraction): integer-
    // deterministic ranking (tf desc, term asc).
    "q_top_terms" -> { (s, dir) =>
      val tf = t(s, dir, "documents")
        .select(col("doc_id"), explode(TextFns.letterTokens(col("text"))).as("term"))
        .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
      graft.operators.Relational.topKPerGroup(tf, Seq(col("doc_id")),
          Seq(col("tf").desc, col("term").asc), 3)
        .withColumn("rk", col("rk").cast("long"))
    },

    // Structured field extraction via regex: first capitalized word +
    // occurrence counts — the per-row parse step of a text pipeline.
    "q_regex_extract" -> { (s, dir) =>
      t(s, dir, "documents").select(col("doc_id"),
        regexp_extract(col("text"), "[A-Z][a-z]+", 0).as("first_cap"),
        regexp_count(col("text"), lit("the")).cast("long").as("n_the"))
    },

    // Normalized content fingerprint.
    "q_fingerprint" -> { (s, dir) =>
      TextAnalysis.fingerprint(t(s, dir, "documents"), "doc_id", "text")
    },

    // THE end-to-end curation pipeline a training-data corpus runs:
    // quality filter ∧ language filter ∧ exact-dedup keepers ∧ near-dup
    // cluster keepers (MinHash-LSH → clusters), then a deterministic
    // 50% subsample. Composed entirely from the inventory's operators;
    // the oracle re-derives every stage in SQL (incl. the recursive
    // transitive closure for clusters).
    "q_curation" -> { (s, dir) =>
      import graft.operators.Relational
      // five stages scan the corpus (quality, lang, exact hash, minhash
      // sigs, candidate grams) — cache the input once for the query
      val docs = t(s, dir, "documents")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val qual = TextAnalysis.quality(docs, "doc_id", "text")
        .where(col("verdict") === "keep").select("doc_id")
      val lang = TextAnalysis.langId(docs, "doc_id", "text")
        .where(col("pred_lang") === "en").select("doc_id")
      val exactKeep = Dedup.exactKeepers(docs, "doc_id", "text")
        .select(col("keep_id").as("doc_id"))
      val pairs = Dedup.minhashDedupPairs(docs, "doc_id", "text",
        ngram = 3, numHashes = 64, bands = 16, threshold = 0.8)
      val nearDupDrop = Dedup.dedupClusters(pairs.select(col("doc_a"), col("doc_b")))
        .where(col("doc_id") =!= col("cluster")).select("doc_id")
      val kept = docs.select(col("doc_id"))
        .join(qual, Seq("doc_id"), "left_semi")
        .join(lang, Seq("doc_id"), "left_semi")
        .join(exactKeep, Seq("doc_id"), "left_semi")
        .join(nearDupDrop, Seq("doc_id"), "left_anti")
      Relational.deterministicSample(kept, col("doc_id"), 0.5)
    },

    // Bottom-8 winnowing-style sketch over word 3-grams (md5-ranked —
    // identical in both engines, so exactly oracle-checkable).
    "q_doc_sketch" -> { (s, dir) =>
      TextAnalysis.bottomMSketch(t(s, dir, "documents"), "doc_id", "text")
    },

    // TF-IDF top-3 terms per doc — integer-arithmetic scoring so the
    // ranking is bit-stable cross-engine.
    "q_tfidf" -> { (s, dir) =>
      TextAnalysis.tfidfTopTerms(t(s, dir, "documents"), "doc_id", "text", 3)
    },

    // Most-repeated-trigram ratio: the boilerplate/spam quality signal.
    "q_repetition" -> { (s, dir) =>
      TextAnalysis.repetitionStats(t(s, dir, "documents"), "doc_id", "text")
    },

    // Per-doc gram novelty: fraction of a doc's distinct trigrams first
    // seen (min doc_id) in THIS doc — dedup-aware admission ordering /
    // corpus-growth accounting. One gram pass + min-agg + gram-keyed
    // join back; shuffle ∝ distinct gram occurrences, uniform keys.
    "q_gram_novelty" -> { (s, dir) =>
      TextAnalysis.gramNovelty(t(s, dir, "documents"), "doc_id", "text")
    },

    // Memorization-risk audit: ppm of each doc's 4-gram positions
    // whose gram occurs exactly ONCE corpus-wide — the verbatim-leak
    // review queue (content only extractable by memorizing that one
    // doc). Occurrence-level counts; all-integer; two map-side-combined
    // aggregations, corpus text shuffles once as gram strings.
    "q_memorization_risk" -> { (s, dir) =>
      TextAnalysis.memorizationRisk(t(s, dir, "documents"), "doc_id",
        "text")
    },

    // The stored/incremental form: per-batch gram-count partials
    // summed at read time, so the audit is RETROACTIVE (a later batch
    // repeating a singleton clears the earlier doc's risk) and the
    // timed query never reads document text (plan-pinned). Same
    // output, same oracle, as the batch operator over the union.
    "q_memorization_incremental" -> { (s, dir) =>
      val path = graft.io.IndexPaths.indexPath("memidx",
        s"$dir/documents.parquet", "n4b3")
      val docs = t(s, dir, "documents")
      TextAnalysis.ensureMemorizationIndex(s, path, Seq(0L, 1L, 2L)) {
        missing => missing.foreach(b =>
          TextAnalysis.appendToMemorizationIndex(
            docs.where(col("doc_id") % 3 === b), "doc_id", "text", path, b))
      }
      TextAnalysis.memorizationFromIndex(s, path)
    },

    // COUNT-MIN frequency sketch: probe-term estimates (always ≥ the
    // exact count — counters only over-count on collisions) next to
    // the exact counts and the over-estimate ppm. The cell table is
    // ≤ depth×width longs regardless of corpus size — the
    // bounded-memory alternative to shuffling the whole vocabulary —
    // and the md5-salted hashing replays exactly in SQL.
    "q_cms_counts" -> { (s, dir) =>
      val occ = t(s, dir, "documents")
        .select(explode(TextFns.letterTokens(col("text"))).as("term"))
      val cells = Sketches.countMinCells(occ, col("term"),
        depth = 4, width = 512)
      val probes = s.createDataFrame(cmsProbeSet.map(Tuple1(_)))
        .toDF("term")
      val tru = occ.where(col("term").isin(cmsProbeSet: _*))
        .groupBy("term").agg(count(lit(1)).as("true_cnt"))
      Sketches.countMinEstimate(cells, probes, "term", depth = 4,
          width = 512)
        .join(tru, Seq("term"), "left")
        .withColumn("true_cnt", coalesce(col("true_cnt"), lit(0L)))
        .withColumn("over_ppm", expr(
          "((est_cnt - true_cnt) * 1000000) DIV greatest(true_cnt, 1L)"))
    },

    // Heavy hitters from the STORED CMS index (vs q_cms_heavy's
    // ad-hoc built-in-sketch path, whose sketch bytes are
    // engine-internal): per-batch cell partials (cell-wise sum = the
    // union sketch, exactly) + per-batch local top-24 candidates; the
    // read unions the candidates, prices them against the summed
    // sketch, and keeps the global top-10 — no corpus access,
    // ≤ batches×(depth×width + 24) rows touched, and the md5 sketch
    // replays IN the oracle (the built-in one cannot).
    "q_cms_heavy_indexed" -> { (s, dir) =>
      val docs = t(s, dir, "documents")
      val path = graft.io.IndexPaths.indexPath("cmsidx",
        s"$dir/documents.parquet", "d4w256m24")
      Sketches.ensureCmsIndex(s, path, Seq(0L, 1L, 2L)) { missing =>
        missing.foreach { b =>
          Sketches.appendToCmsIndex(
            docs.where(col("doc_id") % 3 === b)
              .select(explode(TextFns.letterTokens(col("text"))).as("term")),
            col("term"), path, b, depth = 4, width = 256, candidates = 24)
        }
      }
      Sketches.cmsHeavyFromIndex(s, path, depth = 4, width = 256, k = 10)
    },

    // DSIR-style importance selection (integer fixed-point variant):
    // keep the 60 docs whose hashed-bigram profile most over-indexes
    // in the English slice relative to the whole corpus — weight
    // table ≤ 4096 rows broadcast back, scores fold row-local, top-n
    // through the bounded heap (never a rank window).
    "q_dsir_select" -> { (s, dir) =>
      TextAnalysis.importanceSelect(t(s, dir, "documents"), "doc_id",
        "text", targetPred = col("lang") === dsirTargetLang,
        buckets = dsirBuckets, n = dsirN)
    },

    // The stored-profile form: the corpus profile pass (half the
    // selector's gram scans) moves offline into additive per-batch
    // (bucket, raw, tgt) partials — ≤ 4096 rows a batch, summed at
    // read time — and the select pays ONE gram scan + a broadcast
    // join. Bit-identical to q_dsir_select (shared oracle).
    "q_dsir_indexed" -> { (s, dir) =>
      val docs = t(s, dir, "documents")
      val path = graft.io.IndexPaths.indexPath("impidx",
        s"$dir/documents.parquet", s"b${dsirBuckets}$dsirTargetLang")
      TextAnalysis.ensureImportanceIndex(s, path, Seq(0L, 1L, 2L)) {
        missing => missing.foreach(b =>
          TextAnalysis.appendToImportanceIndex(
            docs.where(col("doc_id") % 3 === b), "doc_id", "text",
            col("lang") === dsirTargetLang, path, b, buckets = dsirBuckets))
      }
      TextAnalysis.importanceSelectFromIndex(docs, s, path, "doc_id",
        "text", buckets = dsirBuckets, n = dsirN)
    },

    // DSIR against an EXTERNAL target relation — "select more like my
    // eval set": the reference profile comes from a separate
    // DataFrame (here a 1-in-7 English sample standing in for task
    // data), raw counts from the corpus; full-outer bucket join with
    // the Laplace default on either absent side. Same bucket
    // arithmetic as q_dsir_select (the two-relation form reduces to
    // it when the target is a corpus slice — spec-pinned).
    "q_dsir_external" -> { (s, dir) =>
      val docs = t(s, dir, "documents")
      val target = docs.where(col("lang") === dsirTargetLang &&
        col("doc_id") % 7 === 0)
      TextAnalysis.importanceSelectExternal(docs, target, "doc_id",
        "text", buckets = dsirBuckets, n = dsirN)
    },

    // The whole DSIR selector as pure SQL TEXT (the SQL-only user's
    // surface, cf. q_sql_bm25): same md5 bucket arithmetic, integer
    // ratio weights, and the registered top_k_by_long_score heap.
    // Bit-identical to q_dsir_select (shared oracle).
    "q_sql_dsir" -> { (s, dir) =>
      graft.plans.GraftExtensions.ensureRegistered(s)
      t(s, dir, "documents").createOrReplaceTempView("documents")
      s.sql(
        s"""WITH toks AS (
          |  SELECT doc_id, lang,
          |    filter(split(text, '[^\\\\p{L}]+'), x -> x <> '') AS ws
          |  FROM documents),
          |g AS (
          |  SELECT doc_id, lang, concat_ws(' ', ws[i], ws[i + 1]) AS g
          |  FROM (SELECT * FROM toks WHERE size(ws) >= 2)
          |  LATERAL VIEW explode(sequence(0, size(ws) - 2)) t AS i),
          |gb AS (
          |  SELECT doc_id, lang,
          |    CAST(conv(substring(md5(g), 1, 12), 16, 10) AS BIGINT)
          |      % $dsirBuckets AS b
          |  FROM g),
          |wt AS (
          |  SELECT b,
          |    ((SUM(CASE WHEN lang = '$dsirTargetLang' THEN 1L ELSE 0L END) + 1L)
          |      * 1000000L) DIV (COUNT(*) + 1L) AS wt_ppm
          |  FROM gb GROUP BY b),
          |sc AS (
          |  SELECT doc_id, SUM(wt_ppm) AS score
          |  FROM gb JOIN wt USING (b) GROUP BY doc_id),
          |tk AS (SELECT top_k_by_long_score(score, doc_id, $dsirN) AS top
          |  FROM sc)
          |SELECT CAST(p + 1 AS BIGINT) AS rk, e.id AS doc_id,
          |  e.score AS score
          |FROM tk LATERAL VIEW posexplode(top) t AS p, e""".stripMargin)
    },

    // TARGETED-RELEASE pipeline — the fourth arc COMPOSED: DSIR-select
    // the 100 most target-like docs (integer importance vs the English
    // slice), drop the larger side of every winnowing copy-suspect
    // pair WITHIN the selection (fingerprints and the maxDf guard run
    // over the selected subset — the screen prices what the release
    // actually ships), lay the survivors out as training shards.
    // Three stages, one SQL oracle end to end.
    "q_corpus_targeted" -> { (s, dir) =>
      val docs = t(s, dir, "documents")
      val sel = TextAnalysis.importanceSelect(docs, "doc_id", "text",
        col("lang") === dsirTargetLang, buckets = dsirBuckets, n = 100)
      val cand = graft.operators.Caches.persist(
        docs.join(sel.select(col("doc_id"), col("score")), Seq("doc_id")))
      val drop = Dedup.winnowPairs(cand, "doc_id", "text",
          k = 5, w = 4, minShared = 2, maxDf = 50)
        .select(col("doc_b").as("doc_id")).distinct()
      val kept = cand.join(drop, Seq("doc_id"), "left_anti")
      TextAnalysis.trainingShards(kept, "doc_id", "text", nShards = 4,
          epoch = 1L)
        .join(kept.select(col("doc_id"), col("score")), Seq("doc_id"))
        .select(col("doc_id"), col("score"), col("shard"), col("pos"),
          col("n_tokens"))
    },

    // Winnowing (MOSS) copy-suspect pairs: per-doc window-min
    // fingerprints over word 5-gram hashes (any shared 8-word run
    // yields a shared fingerprint, density ~2/(w+1)), maxDf guard on
    // boilerplate fingerprints, pairs sharing ≥ 2. Positional copy
    // detection — the axis MinHash resemblance and containment miss.
    "q_winnow_pairs" -> { (s, dir) =>
      Dedup.winnowPairs(t(s, dir, "documents"), "doc_id", "text",
        k = 5, w = 4, minShared = 2, maxDf = 50)
    },

    // Incremental winnowing — the ingest shape of copy detection:
    // the batch (every 5th doc) is fingerprinted fresh; the corpus is
    // touched only through the stored fingerprint index, pruned to
    // the fingerprints the batch touches; the boilerplate guard runs
    // over the UNION df. Exact, so the oracle is full-corpus
    // winnowing restricted to pairs with a batch side.
    "q_winnow_incremental" -> { (s, dir) =>
      val docs = t(s, dir, "documents")
      val corpus = docs.where(col("doc_id") % 5 =!= 0)
      val batch = docs.where(col("doc_id") % 5 === 0)
      val path = graft.io.IndexPaths.indexPath("winnowidx",
        s"$dir/documents.parquet", "k5w4")
      Dedup.ensureWinnowIndex(corpus, "doc_id", "text", path)
      Dedup.incrementalWinnowPairs(batch, s, path, "doc_id", "text",
        k = 5, w = 4, minShared = 2, maxDf = 50)
    },

    // RefinedWeb-style hard domain cap: at most 10 docs per source,
    // picked in md5-of-id order (deterministic uniform sample) via the
    // bounded-heap TopKByScore aggregate — never a rank window.
    "q_domain_cap" -> { (s, dir) =>
      TextAnalysis.domainCap(t(s, dir, "documents"), "doc_id", "source",
        cap = 10)
    },

    // Training-shard layout: deal the curated corpus into 8 shards
    // (epoch-stable md5-of-id membership) with a reproducible epoch-1
    // read order (rank of md5(epoch:id) within shard). The whole
    // layout — assignment, permutation, token counts — is pure md5
    // arithmetic, so it replays bit-exactly in the oracle.
    "q_training_shards" -> { (s, dir) =>
      TextAnalysis.trainingShards(t(s, dir, "documents"), "doc_id",
        "text", nShards = 8, epoch = 1L)
    },

    // Per-shard manifest of the same layout: doc/token totals plus an
    // order-independent bounded-hash checksum — what a training
    // loader reads for length-aware scheduling and integrity checks.
    "q_shard_manifest" -> { (s, dir) =>
      TextAnalysis.shardManifest(TextAnalysis.trainingShards(
        t(s, dir, "documents"), "doc_id", "text", nShards = 8,
        epoch = 1L))
    },

    // CURRICULUM shard ordering at the mid-schedule epoch (1 of 3):
    // same shard membership as q_training_shards, read order
    // interpolated between easy-first (capped token count) and the
    // epoch-salted hash — integer key, full oracle.
    "q_curriculum_shards" -> { (s, dir) =>
      TextAnalysis.curriculumShards(t(s, dir, "documents"), "doc_id",
        "text", nShards = 8, epoch = 1, epochs = 3)
    },

    // PER-SOURCE quality calibration: keep ~the top 26214/65536 (~40%)
    // of each source by the hashed-linear average score — exact full
    // buckets above/below the per-source boundary, md5 tie-break
    // inside the single boundary bucket. The histogram quantile (no
    // corpus-wide sort) is the point; full integer oracle.
    "q_quality_calibrated" -> { (s, dir) =>
      TextAnalysis.calibratedQualityKeep(t(s, dir, "documents"),
        "doc_id", "text", "source", keepQ = 26214L)
    },

    // STORED calibration thresholds: the score histogram arrives in
    // two batches (the ingest fold — additive partials, offline via
    // StoredIndex.ensureBatches) and the per-source release cut table is
    // derived from the STORED histogram alone — sources-row output, no
    // corpus access. keepQ = 13107 (~top 20%) so the boundary bucket
    // and cut_q both bite. Full integer oracle.
    "q_calibration_thresholds" -> { (s, dir) =>
      val docs = t(s, dir, "documents")
      val path = graft.io.IndexPaths.indexPath("calhist",
        s"$dir/documents.parquet", "v1")
      TextAnalysis.ensureCalibrationIndex(s, path, Seq(0L, 1L)) { missing =>
        if (missing.contains(0L)) TextAnalysis.appendToCalibrationIndex(
          docs.where(col("doc_id") % 3 =!= 2), "doc_id", "text", "source",
          path, 0L)
        if (missing.contains(1L)) TextAnalysis.appendToCalibrationIndex(
          docs.where(col("doc_id") % 3 === 2), "doc_id", "text", "source",
          path, 1L)
      }
      TextAnalysis.calibrationThresholds(s, path, keepQ = 13107L)
    },

    // Exact-integer BM25 retrieval: top-10 documents per query for a
    // fixed 3-query set — rational odds idf + cross-multiplied tf
    // normalization (k1=6/5, b=3/4), so the ENTIRE scorer (postings,
    // df, avgdl, per-term contributions, ranking, tie-break) replays
    // bit-for-bit in the SQL oracle; ln is the only textbook step that
    // cannot, and it is deliberately absent.
    "q_bm25" -> { (s, dir) =>
      graft.operators.Retrieval.bm25TopK(t(s, dir, "documents"),
        "doc_id", "text", bm25Queries(s), k = 10)
    },

    // FLOAT log-idf BM25 — the Lucene-comparable scorer for users who
    // need textbook-magnitude scores (VERDICT r7 gap #4). ln is not
    // correctly-rounded IEEE, so the SCORE column is deliberately
    // dropped from the query output and the oracle checks RANKS only
    // (query_id, doc_id, rk): DuckDB computes the same Lucene idf and
    // the ranking agrees wherever adjacent scores are separated by
    // far more than the ulp-scale libm divergence — RetrievalSpec
    // asserts that margin on the oracle corpus (sf0.01), so the
    // rank-level hash is a real check, not luck.
    "q_bm25_log" -> { (s, dir) =>
      graft.operators.Retrieval.bm25TopKLog(t(s, dir, "documents"),
        "doc_id", "text", bm25Queries(s), k = 10)
        .select(col("query_id"), col("doc_id"), col("rk"))
    },

    // HYBRID retrieval — the production search composition: lexical
    // BM25 over the document text AND dense cosine over the embedding
    // table, fused by reciprocal rank (exact integer RRF). Query ids
    // double as probe vec_ids; both retrieval passes are the
    // corpus-never-shuffles batched shapes, and the fusion is
    // query-bounded. Full SQL oracle: the BM25 CTE, the quantized
    // cosine ranking, and the integer RRF all replay in DuckDB.
    "q_hybrid_retrieval" -> { (s, dir) =>
      val queries = s.createDataFrame(hybridQuerySet)
        .toDF("query_id", "qtext")
      val text = graft.operators.Retrieval.bm25TopK(t(s, dir, "documents"),
          "doc_id", "text", queries, k = 10)
        .select("query_id", "doc_id", "rk")
      val dense = Similarity.bruteForceTopKBatch(t(s, dir, "embeddings"),
          "vec_id", "embedding", hybridQuerySet.map(_._1), 10)
        .select(col("probe_id").as("query_id"),
          col("vec_id").as("doc_id"), col("rk"))
      graft.operators.Retrieval.rrfFuse(text, dense, k = 10)
    },

    // The PRODUCTION hybrid composition — both sides through their
    // STORED indexes (the form the ad-hoc q_hybrid_retrieval
    // prototypes): BM25 via the materialized postings (no corpus
    // re-tokenization at query time) x dense cosine via the stored
    // int8 index (one scan of the 8x-smaller qvec table, no per-query
    // re-quantization), fused by exact integer RRF. Full SQL oracle:
    // the BM25 CTE, the int8 quantization + integer-dot cosine, and
    // the RRF all replay in DuckDB (cf. q_ann_recall_int8's full
    // oracle for the dense arithmetic).
    "q_hybrid_retrieval_indexed" -> { (s, dir) =>
      val queries = s.createDataFrame(hybridQuerySet)
        .toDF("query_id", "qtext")
      graft.operators.Retrieval.hybridTopKIndexed(s,
        t(s, dir, "documents"), "doc_id", "text",
        graft.io.IndexPaths.indexPath("bm25", s"$dir/documents.parquet", "v1"),
        t(s, dir, "embeddings"), "vec_id", "embedding",
        graft.io.IndexPaths.indexPath("int8", s"$dir/embeddings.parquet", "int8"),
        queries, hybridQuerySet.map(_._1), k = 10)
    },

    // The WHOLE hybrid composition as pure SQL TEXT — the SQL-only
    // user's flagship surface (cf. q_sql_bm25/q_sql_dedup): the BM25
    // scorer, the dense cosine ranking (registered dot_q fixed-point
    // dots), and the integer RRF fusion, all through the registered
    // bounded-heap aggregates (top_k_by_long_score for the exact
    // integer scores, top_k_by_score for the double cosines) — no
    // window anywhere in the text. Same oracle as q_hybrid_retrieval:
    // the SQL twin must be bit-identical to the Scala composition.
    "q_sql_hybrid" -> { (s, dir) =>
      graft.plans.GraftExtensions.ensureRegistered(s)
      t(s, dir, "documents").createOrReplaceTempView("documents")
      t(s, dir, "embeddings").createOrReplaceTempView("embeddings")
      val values = hybridQuerySet
        .map { case (id, q) => s"(CAST($id AS BIGINT), '$q')" }
        .mkString(", ")
      val probeIds = hybridQuerySet.map(_._1).mkString(", ")
      s.sql(("""WITH q AS (SELECT * FROM VALUES """ + values +
        """ AS t(query_id, qtext)),
          |qt AS (SELECT DISTINCT query_id, term
          |  FROM q LATERAL VIEW explode(
          |    filter(split(qtext, '[^\\p{L}]+'), x -> x <> '')) t AS term),
          |d AS (SELECT doc_id, ws, CAST(size(ws) AS BIGINT) AS dl
          |  FROM (SELECT doc_id,
          |          filter(split(text, '[^\\p{L}]+'), x -> x <> '') AS ws
          |        FROM documents)
          |  WHERE size(ws) >= 1),
          |tf AS (SELECT doc_id, dl, term, COUNT(*) AS tf
          |  FROM d LATERAL VIEW explode(ws) t AS term
          |  GROUP BY doc_id, dl, term),
          |dfq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
          |st AS (SELECT COUNT(*) AS n_docs, SUM(dl) AS total FROM d),
          |sc AS (SELECT qt.query_id, tf.doc_id,
          |    SUM( ( (((2L * st.n_docs - 2L * dfq.df + 1L) * 100L)
          |            DIV (2L * dfq.df + 1L))
          |         * ((4400000000L * tf.tf) DIV (2000L * tf.tf + 600L +
          |             18L * ((tf.dl * 100L) DIV (st.total DIV st.n_docs)))) )
          |         DIV 100L
          |    ) AS score_q
          |  FROM tf JOIN qt ON qt.term = tf.term
          |  JOIN dfq ON dfq.term = tf.term CROSS JOIN st
          |  GROUP BY qt.query_id, tf.doc_id),
          |btk AS (SELECT query_id,
          |    top_k_by_long_score(score_q, doc_id, 10) AS top
          |  FROM sc GROUP BY query_id),
          |bm AS (SELECT query_id, e.id AS doc_id, CAST(p + 1 AS BIGINT) AS rk
          |  FROM btk LATERAL VIEW posexplode(top) t AS p, e),
          |pr AS (SELECT vec_id AS query_id, embedding AS pe
          |  FROM embeddings WHERE vec_id IN (""" + probeIds + """)),
          |nn AS (SELECT vec_id, dot_q(embedding, embedding) AS nsq
          |  FROM embeddings),
          |dsc AS (SELECT pr.query_id, e.vec_id AS doc_id,
          |    CAST(dot_q(e.embedding, pr.pe) AS DOUBLE) /
          |      SQRT(CAST(na.nsq * np.nsq AS DOUBLE)) AS cos
          |  FROM embeddings e CROSS JOIN pr
          |  JOIN nn na ON na.vec_id = e.vec_id
          |  JOIN nn np ON np.vec_id = pr.query_id
          |  WHERE e.vec_id <> pr.query_id),
          |dtk AS (SELECT query_id, top_k_by_score(cos, doc_id, 10) AS top
          |  FROM dsc GROUP BY query_id),
          |dn AS (SELECT query_id, e.id AS doc_id, CAST(p + 1 AS BIGINT) AS rk
          |  FROM dtk LATERAL VIEW posexplode(top) t AS p, e),
          |u AS (SELECT COALESCE(bm.query_id, dn.query_id) AS query_id,
          |    COALESCE(bm.doc_id, dn.doc_id) AS doc_id,
          |    COALESCE(1000000000L DIV (60L + bm.rk), 0L) +
          |      COALESCE(1000000000L DIV (60L + dn.rk), 0L) AS rrf_q
          |  FROM bm FULL OUTER JOIN dn
          |    ON bm.query_id = dn.query_id AND bm.doc_id = dn.doc_id),
          |utk AS (SELECT query_id,
          |    top_k_by_long_score(rrf_q, doc_id, 10) AS top
          |  FROM u GROUP BY query_id)
          |SELECT query_id, e.id AS doc_id, e.score AS rrf_q,
          |  CAST(p + 1 AS BIGINT) AS rk
          |FROM utk LATERAL VIEW posexplode(top) t AS p, e""").stripMargin)
    },

    // The INDEXED hybrid as pure SQL TEXT — the SQL-only user's
    // PRODUCTION surface (q_sql_hybrid is the ad-hoc twin; this is
    // the form that scales): both retrieval sides read the STORED
    // indexes directly in the SQL (`parquet.`-path relations over the
    // materialized BM25 postings + stats and the int8 qvec table — no
    // documents or embeddings scan anywhere, plan-pinned), score with
    // builtins (the int8 integer dot is a plain aggregate/zip_with
    // fold), rank through the registered bounded heaps, and fuse with
    // integer RRF. Bit-identical to the Scala composition
    // q_hybrid_retrieval_indexed (same oracle; RetrievalSpec pins the
    // identity). The ensure calls are the build step an ingest job
    // owns — the SQL text itself touches only the index paths.
    "q_sql_hybrid_indexed" -> { (s, dir) =>
      graft.plans.GraftExtensions.ensureRegistered(s)
      val bm25Path = graft.io.IndexPaths.indexPath("bm25",
        s"$dir/documents.parquet", "v1")
      graft.operators.Retrieval.ensureBm25Index(s, t(s, dir, "documents"),
        "doc_id", "text", bm25Path)
      val int8Path = graft.io.IndexPaths.indexPath("int8",
        s"$dir/embeddings.parquet", "int8")
      Similarity.ensureQuantizedIndex(s, t(s, dir, "embeddings"),
        "vec_id", "embedding", int8Path)
      val values = hybridQuerySet
        .map { case (id, q) => s"(CAST($id AS BIGINT), '$q')" }
        .mkString(", ")
      val probeIn = hybridQuerySet.map(_._1).mkString(", ")
      def dotL(a: String, b: String) =
        s"aggregate(zip_with($a, $b, (x, y) -> x * y), 0L, (acc, v) -> acc + v)"
      s.sql((s"""WITH q AS (SELECT * FROM VALUES $values AS t(query_id, qtext)),
          |qt AS (SELECT DISTINCT query_id, term
          |  FROM q LATERAL VIEW explode(
          |    filter(split(qtext, '[^\\\\p{L}]+'), x -> x <> '')) t AS term),
          |p AS (SELECT * FROM parquet.`$bm25Path`),
          |st AS (SELECT * FROM parquet.`$bm25Path.stats`),
          |sc AS (SELECT qt.query_id, p.doc_id,
          |    SUM( ( (((2L * st.n_docs - 2L * p.df + 1L) * 100L)
          |            DIV (2L * p.df + 1L))
          |         * ((4400000000L * p.tf) DIV (2000L * p.tf + 600L +
          |             18L * ((p.dl * 100L)
          |                    DIV (st.total_tokens DIV st.n_docs)))) )
          |         DIV 100L
          |    ) AS score_q
          |  FROM p JOIN qt ON qt.term = p.term CROSS JOIN st
          |  GROUP BY qt.query_id, p.doc_id),
          |btk AS (SELECT query_id,
          |    top_k_by_long_score(score_q, doc_id, 10) AS top
          |  FROM sc GROUP BY query_id),
          |bm AS (SELECT query_id, e.id AS doc_id, CAST(p + 1 AS BIGINT) AS rk
          |  FROM btk LATERAL VIEW posexplode(top) t AS p, e),
          |q8 AS (SELECT vec_id, qvec FROM parquet.`$int8Path`),
          |pr AS (SELECT vec_id AS query_id, qvec AS pq FROM q8
          |  WHERE vec_id IN ($probeIn)),
          |dsc AS (SELECT pr.query_id, e.vec_id AS doc_id,
          |    CAST(${dotL("e.qvec", "pr.pq")} AS DOUBLE) /
          |      SQRT(CAST(${dotL("e.qvec", "e.qvec")} *
          |        ${dotL("pr.pq", "pr.pq")} AS DOUBLE)) AS cos
          |  FROM q8 e CROSS JOIN pr
          |  WHERE e.vec_id <> pr.query_id),
          |dtk AS (SELECT query_id, top_k_by_score(cos, doc_id, 10) AS top
          |  FROM dsc GROUP BY query_id),
          |dn AS (SELECT query_id, e.id AS doc_id, CAST(p + 1 AS BIGINT) AS rk
          |  FROM dtk LATERAL VIEW posexplode(top) t AS p, e),
          |u AS (SELECT COALESCE(bm.query_id, dn.query_id) AS query_id,
          |    COALESCE(bm.doc_id, dn.doc_id) AS doc_id,
          |    COALESCE(1000000000L DIV (60L + bm.rk), 0L) +
          |      COALESCE(1000000000L DIV (60L + dn.rk), 0L) AS rrf_q
          |  FROM bm FULL OUTER JOIN dn
          |    ON bm.query_id = dn.query_id AND bm.doc_id = dn.doc_id),
          |utk AS (SELECT query_id,
          |    top_k_by_long_score(rrf_q, doc_id, 10) AS top
          |  FROM u GROUP BY query_id)
          |SELECT query_id, e.id AS doc_id, e.score AS rrf_q,
          |  CAST(p + 1 AS BIGINT) AS rk
          |FROM utk LATERAL VIEW posexplode(top) t AS p, e""").stripMargin)
    },

    // The same retrieval through the MATERIALIZED postings index
    // (build-once, commit-marker gated): query time pays one postings
    // read + the broadcast-match scoring pass — the corpus text is
    // never re-tokenized. Same oracle as q_bm25: the stored path must
    // reproduce the ad-hoc path exactly.
    "q_bm25_indexed" -> { (s, dir) =>
      val indexPath = graft.io.IndexPaths.indexPath("bm25",
        s"$dir/documents.parquet", "v1")
      graft.operators.Retrieval.bm25TopKIndexed(s,
        t(s, dir, "documents"), "doc_id", "text", indexPath,
        bm25Queries(s), k = 10)
    },

    // The BM25 pipeline as pure SQL TEXT — the surface a SQL-only user
    // gets (cf. q_sql_dedup / q_sql_containment): same integer scorer
    // stage for stage, with the registered top_k_by_long_score native
    // aggregate as the per-query top-k (no rank window in the SQL
    // either, and no double cast — long scores rank exactly past 2^53
    // where a double key would round adjacent exact scores together).
    // Same oracle as q_bm25: the SQL twin must be bit-identical to
    // the Scala path.
    "q_sql_bm25" -> { (s, dir) =>
      graft.plans.GraftExtensions.ensureRegistered(s)
      t(s, dir, "documents").createOrReplaceTempView("documents")
      val values = bm25QuerySet
        .map { case (id, q) => s"(CAST($id AS BIGINT), '$q')" }
        .mkString(", ")
      s.sql(("""WITH q AS (SELECT * FROM VALUES """ + values +
        """ AS t(query_id, qtext)),
          |qt AS (SELECT DISTINCT query_id, term
          |  FROM q LATERAL VIEW explode(
          |    filter(split(qtext, '[^\\p{L}]+'), x -> x <> '')) t AS term),
          |d AS (SELECT doc_id, ws, CAST(size(ws) AS BIGINT) AS dl
          |  FROM (SELECT doc_id,
          |          filter(split(text, '[^\\p{L}]+'), x -> x <> '') AS ws
          |        FROM documents)
          |  WHERE size(ws) >= 1),
          |tf AS (SELECT doc_id, dl, term, COUNT(*) AS tf
          |  FROM d LATERAL VIEW explode(ws) t AS term
          |  GROUP BY doc_id, dl, term),
          |dfq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
          |st AS (SELECT COUNT(*) AS n_docs, SUM(dl) AS total FROM d),
          |sc AS (SELECT qt.query_id, tf.doc_id,
          |    SUM( ( (((2L * st.n_docs - 2L * dfq.df + 1L) * 100L)
          |            DIV (2L * dfq.df + 1L))
          |         * ((4400000000L * tf.tf) DIV (2000L * tf.tf + 600L +
          |             18L * ((tf.dl * 100L) DIV (st.total DIV st.n_docs)))) )
          |         DIV 100L
          |    ) AS score_q
          |  FROM tf JOIN qt ON qt.term = tf.term
          |  JOIN dfq ON dfq.term = tf.term CROSS JOIN st
          |  GROUP BY qt.query_id, tf.doc_id),
          |tk AS (SELECT query_id,
          |    top_k_by_long_score(score_q, doc_id, 10) AS top
          |  FROM sc GROUP BY query_id)
          |SELECT query_id, e.id AS doc_id, e.score AS score_q,
          |  CAST(p + 1 AS BIGINT) AS rk
          |FROM tk LATERAL VIEW posexplode(top) t AS p, e""").stripMargin)
    },

    // The BM25 index's rebuild ALARM: term-distribution TV drift
    // between the STORED postings' term counts and an arriving slice
    // (here the doc_id % 20 eval slice vs the full-corpus index) —
    // top-100 drifted terms. The oracle re-derives the stored counts
    // from the corpus, so a stored index whose tf sums diverge from
    // the corpus ALSO fails the hash: the query pins index integrity
    // and the drift arithmetic at once.
    "q_bm25_drift" -> { (s, dir) =>
      val docs = t(s, dir, "documents")
      val indexPath = graft.io.IndexPaths.indexPath("bm25",
        s"$dir/documents.parquet", "v1")
      graft.operators.Retrieval.ensureBm25Index(s, docs, "doc_id", "text",
        indexPath)
      graft.operators.Retrieval.bm25IndexDrift(s, indexPath,
          docs.where(col("doc_id") % 20 === 0))
        .orderBy(col("rate_diff_ppm").desc, col("term").asc)
        .limit(100)
    },

    // RETRIEVAL-based decontamination audit: every EVAL doc, used
    // verbatim as a query, retrieves its top-5 BM25-nearest TRAIN
    // docs — the ranked "which training documents look most like this
    // benchmark item" report a release audit publishes next to the
    // exact-gram decontaminate pass (exact matching catches verbatim
    // leaks; retrieval surfaces the paraphrased/partial ones a human
    // then reviews). Eval benchmarks are fixed-size, so the broadcast
    // query-term relation is bounded at any corpus scale; audit work
    // is ∝ |eval| × matched postings (the % 100 slice keeps the
    // benchmark honest about that — the synthetic corpus's ~30-word
    // vocabulary makes EVERY doc match every query, the degenerate
    // worst case a real vocabulary never hits).
    "q_eval_retrieval_audit" -> { (s, dir) =>
      val docs = t(s, dir, "documents")
      graft.operators.Retrieval.bm25TopK(
        docs.where(col("doc_id") % 100 =!= 0), "doc_id", "text",
        docs.where(col("doc_id") % 100 === 0)
          .select(col("doc_id").as("query_id"), col("text").as("qtext")),
        k = 5)
    },

    // The SAME audit through a stored TRAIN-slice postings index — the
    // production release-audit shape: the train corpus is fixed across
    // a release cycle and audited against benchmark after benchmark,
    // so it is tokenized ONCE into its own content-addressed index and
    // every audit pays one postings read + the broadcast-match pass.
    // Same oracle as the ad-hoc audit: the stored path must reproduce
    // it exactly (the bm25TopKIndexed == bm25TopK parity contract).
    "q_eval_audit_indexed" -> { (s, dir) =>
      val docs = t(s, dir, "documents")
      val train = docs.where(col("doc_id") % 100 =!= 0)
      val indexPath = graft.io.IndexPaths.indexPath("bm25",
        s"$dir/documents.parquet", "train100-v1")
      graft.operators.Retrieval.bm25TopKIndexed(s, train, "doc_id", "text",
        indexPath,
        docs.where(col("doc_id") % 100 === 0)
          .select(col("doc_id").as("query_id"), col("text").as("qtext")),
        k = 5)
    },

    // Fuzzy string matching (edit distance <= 3) over distinct part
    // names, length-band blocked — the candidate/verify shape at scale.
    "q_fuzzy_match" -> { (s, dir) =>
      TextAnalysis.fuzzyPairs(t(s, dir, "part"), "p_name", 3)
        .select(col("name_a"), col("name_b"), col("dist").cast("long").as("dist"))
    },

    // Source-balanced data mixing: every source deterministically
    // downsampled toward the token budget of the smallest source —
    // md5-prefix keep decision, exact integer quotas, map-side filter.
    "q_source_mix" -> { (s, dir) =>
      TextAnalysis.sourceBalancedMix(t(s, dir, "documents"),
        "doc_id", "text", "source")
    },

    // Language-ID audit: confusion matrix of the stopword-heuristic
    // prediction against the labeled lang column — the QA report a
    // curation pipeline publishes alongside its filters.
    "q_lang_confusion" -> { (s, dir) =>
      val docs = t(s, dir, "documents")
      TextAnalysis.langId(docs, "doc_id", "text")
        .select(col("doc_id"), col("pred_lang"))
        .join(docs.select(col("doc_id"), col("lang")), "doc_id")
        .groupBy("lang", "pred_lang").agg(count(lit(1)).as("n"))
    },

    // Temperature-sampled source mixing (mT5-style α=0.5): per-source
    // √(token-count) weights split a fixed token budget, so small
    // sources keep sub-linearly more than proportional sampling gives
    // them. IEEE sqrt is correctly rounded (unlike pow) — the single
    // non-integer step replays bit-for-bit in the oracle.
    "q_temperature_mix" -> { (s, dir) =>
      TextAnalysis.temperatureMix(t(s, dir, "documents"), "doc_id", "text",
        "source", budgetTokens = 20000L)
    },

    // LANGUAGE-balanced temperature mix: the mT5 rebalancing applied
    // along the PREDICTED-language axis instead of provenance — the
    // multilingual curation move (sources say where a doc came from;
    // the sampling that matters for a multilingual model is per
    // language). langId's deterministic heuristic feeds
    // temperatureMixDocs' sqrt-weighted cuts; both pieces replay in
    // the composed oracle, so the doc-level keep decisions are pinned
    // per predicted language.
    "q_lang_balanced_mix" -> { (s, dir) =>
      val docs = t(s, dir, "documents")
      val counts = TextAnalysis.langId(docs, "doc_id", "text")
        .select(col("doc_id"), col("pred_lang").as("source"))
        .join(docs.select(col("doc_id"),
          size(TextFns.letterTokens(col("text"))).cast("long").as("n_tok")),
          Seq("doc_id"))
      TextAnalysis.temperatureMixDocs(counts, budgetTokens = 5000L)
        .where(col("kept"))
        .select(col("doc_id"), col("source").as("pred_lang"),
          col("n_tok"), col("cut_q"))
    },

    // FERTILITY-adjusted language mix: the budget is denominated in
    // TOKENIZER tokens (cost = words·fert_cpw DIV 100) so
    // high-fertility languages stop over-drawing a fixed training
    // budget computed over words. fert_cpw values are the vendored-BPE
    // measurement on this corpus (a since-removed profiling main),
    // applied as config — the stored-thresholds stance that keeps the
    // decision SQL-replayable.
    "q_fertility_mix" -> { (s, dir) =>
      TextAnalysis.fertilityAdjustedMix(t(s, dir, "documents"), "doc_id",
          "text", col("lang"), budgetBpeTokens = 10000L,
          fertCpw = Map("de" -> 201L, "en" -> 200L, "es" -> 200L,
            "fr" -> 201L, "zh" -> 200L))
        .where(col("kept"))
        .select(col("doc_id"), col("lang"), col("n_ws"), col("n_tok"),
          col("cut_q"))
    },

    // Gopher-style quality rule battery (word count, mean word length,
    // alpha-word ratio, bullet/ellipsis line ratios) — hard pass/fail
    // verdict in pure integer arithmetic, zero shuffle.
    "q_gopher_rules" -> { (s, dir) =>
      TextAnalysis.gopherRules(t(s, dir, "documents"), "doc_id", "text")
    },

    // Corpus-trained bigram LM fluency score (the KenLM-style
    // perplexity quality filter) in exact integer arithmetic — scaled
    // conditional probability per bigram, per-doc sum and floor-divided
    // mean, all DuckDB-replayable.
    "q_lm_score" -> { (s, dir) =>
      TextAnalysis.bigramLmScore(t(s, dir, "documents"), "doc_id", "text")
    },

    // Cross-document repeated-span scrub (Lee et al. dedup-substrings):
    // every token covered by a corpus-wide repeated 5-gram is removed;
    // the md5 commits to the scrubbed text. Corpus text never shuffles —
    // only (doc, covered-position) pairs move.
    "q_scrub_spans" -> { (s, dir) =>
      TextAnalysis.scrubFrequentSpans(t(s, dir, "documents"), "doc_id", "text")
    },

    // FIRST-OCCURRENCE exact-substring dedup (Lee et al. ExactSubstr):
    // every shared 5-token span survives in exactly one doc — the
    // earliest — and is cut from all later ones. gramNovelty's
    // min(doc_id) ownership pass grafted onto scrubFrequentSpans'
    // covered-position removal; corpus text never shuffles.
    "q_exact_substring" -> { (s, dir) =>
      TextAnalysis.dedupExactSubstrings(t(s, dir, "documents"), "doc_id", "text")
    },

    // Hashed linear classifier inference (fastText-style quality filter
    // with the hashing trick): per-row aggregate over the token array,
    // zero shuffle, exact integer score.
    "q_model_score" -> { (s, dir) =>
      TextAnalysis.scoreHashedLinear(t(s, dir, "documents"), "doc_id", "text")
    },

    // TRAIN a quality model IN the engine: batch-perceptron
    // distillation of the Gopher rule filter into a 512-bucket hashed
    // linear model (2 synchronous integer iterations — deterministic
    // under any partitioning, unlike SGD), output = the nonzero
    // weights. The ENTIRE training run replays in the SQL oracle:
    // teacher labels (the gopher verdict CTEs), hashed features,
    // iteration-0 class-centroid update, iteration-1 margin +
    // mislabeled fold. Inference over the trained vector is
    // scoreHashedWeights (spec-pinned to agree with the teacher on
    // most docs after two rounds).
    "q_distill_quality" -> { (s, dir) =>
      import s.implicits._
      val w = TextAnalysis.distillQualityModel(t(s, dir, "documents"),
        "doc_id", "text", dim = 512, iters = 2)
      w.zipWithIndex.collect { case (wt, b) if wt != 0L => (b.toLong, wt) }
        .toSeq.toDF("bucket", "w")
    },

    // Pairwise source overlap: exact 3-gram Jaccard + containment for
    // every source pair — the cross-source redundancy diagnostic of a
    // data-mixture report.
    "q_source_overlap" -> { (s, dir) =>
      TextAnalysis.sourceOverlap(t(s, dir, "documents"), "text", "source")
    },

    // The 100 TB form of q_source_overlap: per-source KMV (bottom-m
    // distinct gram hash) sketches, union-sketch Jaccard estimate per
    // pair. No corpus-wide distinct-gram shuffle — the bounded sketch
    // aggregate dedups in-buffer and ships <= m longs per source per
    // map partition. md5-portable hashing here so the oracle replays
    // the whole estimator verbatim; the string-free xxhash production
    // path is cross-checked against exact Jaccard in TextAnalysisSpec.
    "q_source_overlap_sketch" -> { (s, dir) =>
      TextAnalysis.sourceOverlapSketch(t(s, dir, "documents"), "text",
        "source", m = 256, portableHash = true)
    },

    // KMV cardinality: per-source distinct-gram estimate from the same
    // bottom-m sketch, with the exact count alongside as the built-in
    // validation diagnostic (at scale only the sketch column runs).
    // md5-portable hashing → the oracle replays estimator AND exact
    // count verbatim.
    "q_kmv_cardinality" -> { (s, dir) =>
      TextAnalysis.kmvDistinctGrams(t(s, dir, "documents"), "text",
        "source", m = 256, portableHash = true)
    },

    // Term-distribution drift between the first source and everything
    // else — the unigram shift monitor gating a new ingest. Exact ppm
    // integer rates; top-100 by |rate difference| with deterministic
    // tie-break.
    "q_term_drift" -> { (s, dir) =>
      val docs = t(s, dir, "documents")
      TextAnalysis.termDrift(
          docs.where(col("source") === "src0"),
          docs.where(col("source") =!= "src0"), "text")
        .orderBy(col("rate_diff_ppm").desc, col("term").asc)
        .limit(100)
    },

    // Vocabulary induction + OOV coverage: top-20 corpus terms become
    // the vocab (deterministic tie-break); each doc reports exact-ppm
    // out-of-vocabulary rate — the tokenizer-coverage audit.
    "q_vocab_coverage" -> { (s, dir) =>
      TextAnalysis.vocabCoverage(t(s, dir, "documents"), "doc_id", "text", 20)
    },

    // Vocabulary frequency spectrum (frequency-of-frequencies): how
    // many terms occur exactly f times — the Zipf/vocab-growth summary
    // a corpus report includes. Two partial-agg'd shuffles.
    "q_freq_spectrum" -> { (s, dir) =>
      t(s, dir, "documents")
        .select(explode(TextFns.letterTokens(col("text"))).as("w"))
        .groupBy("w").agg(count(lit(1)).as("f"))
        .groupBy("f").agg(count(lit(1)).as("n_terms"))
    },

    // EXACT heavy hitters (terms with >= 1% of all tokens) via the
    // approximate-candidates / exact-verify split: freqItems sketch
    // (no false negatives) then one candidate-filtered count.
    "q_heavy_hitters" -> { (s, dir) =>
      TextAnalysis.heavyHitterTerms(t(s, dir, "documents"), "doc_id", "text",
        minShare = 0.01)
    },

    // Same exact heavy hitters via the Count-Min-sketch pre-filter path
    // (one-pass CMS build, map-side estimate filter, exact verify).
    // Same oracle as q_heavy_hitters: both are EXACT algorithms.
    "q_cms_heavy" -> { (s, dir) =>
      TextAnalysis.cmsHeavyHitters(t(s, dir, "documents"), "text",
        minShare = 0.01)
    },

    // End-to-end corpus assembly v2 (the modern pretraining prep):
    // training split (eval held out) -> exact-dedup keepers -> quality
    // floor -> decontaminate vs the eval set -> RAG-chunk the
    // survivors. Four operators composed; the oracle mirrors the whole
    // pipeline with a CLOSED-FORM chunk count (no window expansion).
    "q_corpus_pipeline" -> { (s, dir) =>
      val docs = t(s, dir, "documents")
      val train = docs.where(col("doc_id") % 20 =!= 0)
      val eval = docs.where(col("doc_id") % 20 === 0)
      val keepers = Dedup.exactKeepers(train, "doc_id", "text")
        .select(col("keep_id").as("doc_id"))
      val contaminated = TextAnalysis.decontaminate(train, eval,
        "doc_id", "text", n = 5).select(col("doc_id"))
      val kept = train
        .join(keepers, Seq("doc_id"), "left_semi")
        .join(contaminated, Seq("doc_id"), "left_anti")
        .where(size(TextFns.letterTokens(col("text"))) >= 20)
      TextAnalysis.chunkDocs(kept, "doc_id", "text",
          chunkSize = 64, stride = 48)
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_chunks"),
          // the final chunk ends exactly at the token count
          max(col("start_tok") + col("n_tok")).as("n_tokens"))
    },

    // End-to-end corpus assembly v3 — the round-6 curation operators
    // COMPOSED, because their interactions are order-sensitive in ways
    // single-operator oracles cannot pin: Gopher hard rules -> hard
    // domain cap over the survivors (the cap ranks the post-filter
    // population) -> exact-substring scrub WITHIN the capped set (the
    // scrub is corpus-relative: capping first changes which doc owns a
    // span) -> temperature mix budgeted on the SCRUBBED token counts
    // (raw-byte budgets would re-inflate boilerplate-heavy sources) ->
    // leakage-safe cluster split of the final keepers. The oracle
    // replays all five stages in one SQL chain. Every stage BITES at
    // sf0.01 (minWords=25 fails ~15% of docs; the cap drops 500->200;
    // the 2000-token budget cuts 200->~100 with every cut_q strictly
    // inside (0, 65536)) — a pipeline whose stages pass everything
    // through would pin nothing.
    "q_corpus_pipeline_v3" -> { (s, dir) =>
      val docs = t(s, dir, "documents")
      val gDocs = docs.join(
        TextAnalysis.gopherRules(docs, "doc_id", "text", minWords = 25)
          .where(col("verdict")).select("doc_id"),
        Seq("doc_id"), "left_semi")
      // capped and fin each feed several downstream branches (scrub +
      // counts; split + final join) — persist so the filter chain and
      // the mix decisions run once (harness clearCache() reclaims)
      val capped = graft.operators.Caches.persist(gDocs.join(
        TextAnalysis.domainCap(gDocs, "doc_id", "source", cap = 10)
          .select("doc_id"), Seq("doc_id"), "left_semi"))
      val scrub = TextAnalysis.dedupExactSubstrings(capped, "doc_id", "text")
        .select(col("doc_id"), col("n_kept").as("n_tok"))
      val counts = capped.select(col("doc_id"), col("source"))
        .join(scrub, Seq("doc_id"))
      // LINEAGE TRUNCATION at the stage-4/5 boundary: `fin` is the
      // pipeline's keeper snapshot — localCheckpoint (eager) cuts the
      // composed five-stage plan there, so the dedup/split tail and
      // every one of its AQE stages plan against a LEAF instead of
      // re-optimizing the whole gopher→cap→scrub→mix tree per stage.
      // Measured (a since-removed profiling main, quiet host, sf0.1): the tail's minhash
      // pairs drop 5.6 → 0.4 s and the split 7.6 → 1.3 s — the r7
      // bench ceiling was ~11 s of driver-side re-planning, not data.
      // On a cluster this boundary is exactly where the curated corpus
      // would be committed to storage between pipeline stages (swap
      // localCheckpoint for a reliable checkpoint/table write).
      // Caches.checkpoint tracks the checkpoint blocks so the harness's
      // between-queries release() frees them — bare localCheckpoint
      // left each bench iteration's MEMORY_AND_DISK blocks to the
      // ContextCleaner's GC schedule.
      val fin = graft.operators.Caches.checkpoint(
        TextAnalysis.temperatureMixDocs(counts, budgetTokens = 2000L)
          .where(col("kept"))
          .select(col("doc_id"), col("source"),
            col("n_tok").as("n_tok_scrubbed")))
      val finDocs = graft.operators.Caches.checkpoint(
        docs.join(fin.select("doc_id"), Seq("doc_id"), "left_semi")
          .select(col("doc_id"), col("text")))
      val pairs = Dedup.minhashDedupPairs(finDocs, "doc_id", "text",
        ngram = 3, numHashes = 64, bands = 16, threshold = 0.8)
      fin.join(
        Dedup.leakageSafeSplit(finDocs,
          pairs.select(col("doc_a"), col("doc_b")), "doc_id",
          Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)),
        Seq("doc_id"))
        .select("doc_id", "source", "n_tok_scrubbed", "rep", "split")
    },

    // End-to-end corpus assembly v4 — the ROUND-10 selection stack
    // COMPOSED, stage order load-bearing throughout: Gopher hard rules
    // -> per-source quality CALIBRATION over the survivors (the hist
    // is population-dependent: calibrating before the rules would cut
    // against a different distribution) -> SOFT dedup within the
    // calibrated set (the pair graph is set-relative: calibration
    // first changes the clusters) -> token budget on the soft
    // survivors' counts -> curriculum shard layout (epoch 0 of 2 =
    // pure easy-first order). Every stage bites at sf0.01. The oracle
    // replays all five stages in one SQL chain.
    "q_corpus_pipeline_v4" -> { (s, dir) =>
      val docs = t(s, dir, "documents")
      val gDocs = graft.operators.Caches.persist(docs.join(
        TextAnalysis.gopherRules(docs, "doc_id", "text", minWords = 25)
          .where(col("verdict")).select("doc_id"),
        Seq("doc_id"), "left_semi"))
      val cal = graft.operators.Caches.persist(gDocs.join(
        TextAnalysis.calibratedQualityKeep(gDocs, "doc_id", "text",
            "source", keepQ = 39321L)
          .where(col("kept")).select("doc_id"),
        Seq("doc_id"), "left_semi"))
      val pairs = Dedup.minhashDedupPairs(cal, "doc_id", "text",
        ngram = 3, numHashes = 64, bands = 16, threshold = 0.8)
      // lineage truncation at the cluster boundary, like v3's keeper
      // snapshot — the budget/layout tail plans against a leaf
      val softDocs = graft.operators.Caches.checkpoint(cal.join(
        Dedup.softDedupKeep(cal, pairs.select(col("doc_a"), col("doc_b")),
            "doc_id")
          .where(col("kept")).select("doc_id"),
        Seq("doc_id"), "left_semi"))
      val counts = softDocs.select(col("doc_id"), col("source"),
        size(TextFns.letterTokens(col("text"))).cast("long").as("n_tok"))
      val fin = TextAnalysis.temperatureMixDocs(counts, budgetTokens = 3000L)
        .where(col("kept")).select(col("doc_id"), col("source"),
          col("n_tok"))
      fin.join(
        TextAnalysis.curriculumShards(
          softDocs.join(fin.select("doc_id"), Seq("doc_id"), "left_semi"),
          "doc_id", "text", nShards = 8, epoch = 0, epochs = 2)
          .select(col("doc_id"), col("shard"), col("pos")),
        Seq("doc_id"))
        .select("doc_id", "source", "n_tok", "shard", "pos")
    },

    // End-to-end corpus assembly v5 — v4's selection stack with the
    // round-11 governance stages spliced in, order load-bearing:
    // Gopher hard rules -> LEXICAL DECONTAMINATION of the train slice
    // against the held-out eval slice (the eval set is external, so it
    // is NOT gopher-filtered; any train doc sharing a 5-gram with eval
    // is dropped BEFORE calibration so leaked boilerplate can't skew
    // the quality histograms) -> per-source calibration over the clean
    // survivors -> soft dedup within the calibrated set ->
    // FERTILITY-ADJUSTED language budget (cost in tokenizer tokens,
    // not words — the q_fertility_mix config literals) -> easy-first
    // curriculum layout (epoch 0 of 2). The whole six-stage chain
    // replays as ONE SQL oracle.
    "q_corpus_pipeline_v5" -> { (s, dir) =>
      val docs = t(s, dir, "documents")
      val gDocs = graft.operators.Caches.persist(docs.join(
        TextAnalysis.gopherRules(docs, "doc_id", "text", minWords = 25)
          .where(col("verdict")).select("doc_id"),
        Seq("doc_id"), "left_semi"))
      val train = gDocs.where(col("doc_id") % 20 =!= 0)
      val evalD = docs.where(col("doc_id") % 20 === 0)
      val clean = graft.operators.Caches.persist(train.join(
        TextAnalysis.decontaminate(train, evalD, "doc_id", "text", n = 5)
          .select("doc_id"),
        Seq("doc_id"), "left_anti"))
      val cal = graft.operators.Caches.persist(clean.join(
        TextAnalysis.calibratedQualityKeep(clean, "doc_id", "text",
            "source", keepQ = 39321L)
          .where(col("kept")).select("doc_id"),
        Seq("doc_id"), "left_semi"))
      val pairs = Dedup.minhashDedupPairs(cal, "doc_id", "text",
        ngram = 3, numHashes = 64, bands = 16, threshold = 0.8)
      // lineage truncation at the cluster boundary (v3/v4 precedent)
      val softDocs = graft.operators.Caches.checkpoint(cal.join(
        Dedup.softDedupKeep(cal, pairs.select(col("doc_a"), col("doc_b")),
            "doc_id")
          .where(col("kept")).select("doc_id"),
        Seq("doc_id"), "left_semi"))
      val fin = TextAnalysis.fertilityAdjustedMix(softDocs, "doc_id",
          "text", col("lang"), budgetBpeTokens = 3000L,
          fertCpw = Map("de" -> 201L, "en" -> 200L, "es" -> 200L,
            "fr" -> 201L, "zh" -> 200L))
        .where(col("kept"))
        .select(col("doc_id"), col("lang"), col("n_ws"), col("n_tok"))
      fin.join(
        TextAnalysis.curriculumShards(
          softDocs.join(fin.select("doc_id"), Seq("doc_id"), "left_semi"),
          "doc_id", "text", nShards = 8, epoch = 0, epochs = 2)
          .select(col("doc_id"), col("shard"), col("pos")),
        Seq("doc_id"))
        .select("doc_id", "lang", "n_ws", "n_tok", "shard", "pos")
    },

    // End-to-end corpus assembly v6 — the MEDIA-AWARE release: v4's
    // selection stack with a media-redundancy stage spliced between
    // soft dedup and the budget (gopher -> calibration -> soft dedup
    // -> media-redundancy drop -> temperature budget -> curriculum
    // layout). The media stage prices each doc's payload against the
    // corpus-wide CDC chunk store ([[Multimodal.mediaRedundancy]]):
    // docs whose media is >= 50% already-stored bytes are dropped —
    // they add blob-store cost without adding training signal. The
    // whole seven-stage chain replays as ONE SQL oracle.
    "q_corpus_pipeline_v6" -> { (s, dir) =>
      val docs = t(s, dir, "documents")
      val gDocs = graft.operators.Caches.persist(docs.join(
        TextAnalysis.gopherRules(docs, "doc_id", "text", minWords = 25)
          .where(col("verdict")).select("doc_id"),
        Seq("doc_id"), "left_semi"))
      val cal = graft.operators.Caches.persist(gDocs.join(
        TextAnalysis.calibratedQualityKeep(gDocs, "doc_id", "text",
            "source", keepQ = 39321L)
          .where(col("kept")).select("doc_id"),
        Seq("doc_id"), "left_semi"))
      val pairs = Dedup.minhashDedupPairs(cal, "doc_id", "text",
        ngram = 3, numHashes = 64, bands = 16, threshold = 0.8)
      // lineage truncation at the cluster boundary (v3/v4 precedent)
      val softDocs = graft.operators.Caches.checkpoint(cal.join(
        Dedup.softDedupKeep(cal, pairs.select(col("doc_a"), col("doc_b")),
            "doc_id")
          .where(col("kept")).select("doc_id"),
        Seq("doc_id"), "left_semi"))
      // media stage: redundancy priced against the FULL corpus blob
      // store (content-addressed stores are corpus-global, not
      // survivor-local); missing ppm (no chunks) reads 0. Read from
      // the STORED chunk manifest — the blob store maintains it
      // anyway, and the release chain must not re-chunk the corpus
      // (bit-identical to the ad-hoc audit, spec-pinned; same
      // content-addressed path as q_media_redundancy_indexed, so the
      // expensive pass is paid once per corpus version across both)
      val chunkPath = graft.io.IndexPaths.indexPath("chunkidx",
        s"$dir/documents.parquet", graft.operators.Multimodal.cdcParams())
      graft.operators.Multimodal.ensureChunkIndex(s, chunkPath,
        Seq(0L, 1L, 2L)) { missing =>
        missing.foreach(b =>
          graft.operators.Multimodal.appendToChunkIndex(
            graft.operators.Multimodal.mediaTable(
              docs.where(col("doc_id") % 3 === b)), chunkPath, b))
      }
      val ppm = graft.operators.Multimodal.mediaRedundancyFromIndex(
        s, chunkPath)
      val med = softDocs.join(ppm, Seq("doc_id"), "left")
        .withColumn("media_dup_ppm",
          coalesce(col("media_dup_ppm"), lit(0L)))
        .where(col("media_dup_ppm") < 500000L)
      val counts = med.select(col("doc_id"), col("source"),
        col("media_dup_ppm"),
        size(TextFns.letterTokens(col("text"))).cast("long").as("n_tok"))
      val fin = counts.join(
        TextAnalysis.temperatureMixDocs(
            counts.select("doc_id", "source", "n_tok"),
            budgetTokens = 3000L)
          .where(col("kept")).select("doc_id"),
        Seq("doc_id"), "left_semi")
      fin.join(
        TextAnalysis.curriculumShards(
          med.join(fin.select("doc_id"), Seq("doc_id"), "left_semi"),
          "doc_id", "text", nShards = 8, epoch = 0, epochs = 2)
          .select(col("doc_id"), col("shard"), col("pos")),
        Seq("doc_id"))
        .select("doc_id", "source", "n_tok", "media_dup_ppm", "shard",
          "pos")
    },

    // Pipeline v7 — the MULTIMODAL-dedup release: v6's chain with an
    // IMAGE PERCEPTUAL-DEDUP stage between the media-redundancy
    // filter and the budget. Byte-level CDC redundancy (v6's stage)
    // misses re-encoded/edited image copies — the aHash stage catches
    // exactly those: among the surviving docs, one keeper per
    // image-near-dup cluster (cluster = min doc_id; singletons keep).
    // Codes come from the STORED perceptual-code index (base images,
    // decode paid once per corpus version); pairs are restricted to
    // SURVIVORS on both sides (dedup among release candidates — a
    // dropped doc cannot chain two keepers). ONE SQL oracle end to
    // end, aHash formula included.
    "q_corpus_pipeline_v7" -> { (s, dir) =>
      val docs = t(s, dir, "documents")
      val gDocs = graft.operators.Caches.persist(docs.join(
        TextAnalysis.gopherRules(docs, "doc_id", "text", minWords = 25)
          .where(col("verdict")).select("doc_id"),
        Seq("doc_id"), "left_semi"))
      val cal = graft.operators.Caches.persist(gDocs.join(
        TextAnalysis.calibratedQualityKeep(gDocs, "doc_id", "text",
            "source", keepQ = 39321L)
          .where(col("kept")).select("doc_id"),
        Seq("doc_id"), "left_semi"))
      val pairs = Dedup.minhashDedupPairs(cal, "doc_id", "text",
        ngram = 3, numHashes = 64, bands = 16, threshold = 0.8)
      val softDocs = graft.operators.Caches.checkpoint(cal.join(
        Dedup.softDedupKeep(cal, pairs.select(col("doc_a"), col("doc_b")),
            "doc_id")
          .where(col("kept")).select("doc_id"),
        Seq("doc_id"), "left_semi"))
      val chunkPath = graft.io.IndexPaths.indexPath("chunkidx",
        s"$dir/documents.parquet", graft.operators.Multimodal.cdcParams())
      graft.operators.Multimodal.ensureChunkIndex(s, chunkPath,
        Seq(0L, 1L, 2L)) { missing =>
        missing.foreach(b =>
          graft.operators.Multimodal.appendToChunkIndex(
            graft.operators.Multimodal.mediaTable(
              docs.where(col("doc_id") % 3 === b)), chunkPath, b))
      }
      val ppm = graft.operators.Multimodal.mediaRedundancyFromIndex(
        s, chunkPath)
      // persisted: the survivor set feeds the pair restriction (both
      // sides), the label join, and the downstream counts
      val med = graft.operators.Caches.persist(
        softDocs.join(ppm, Seq("doc_id"), "left")
          .withColumn("media_dup_ppm",
            coalesce(col("media_dup_ppm"), lit(0L)))
          .where(col("media_dup_ppm") < 500000L))
      // image perceptual-dedup stage: stored codes (base images only
      // — the variants are test plants, not corpus docs)
      val codePath = graft.io.IndexPaths.indexPath("imgcode",
        s"$dir/documents.parquet", "ahash8x8base")
      graft.operators.Multimodal.ensureCodeIndex(s,
        graft.operators.Multimodal.imageAHash(
            graft.operators.Multimodal.pngTable(docs)).toDF()
          .select(col("doc_id"), col("phash").as("code")), codePath)
      // restrict the CODE TABLE to survivors BEFORE pairing (the
      // stage dedups among release candidates, so the survivor-
      // restricted pair graph IS the semantics) — the pigeonhole join
      // then runs over ~survivor codes instead of the whole corpus
      // index. At sf0.1 the upstream chain dominates and this is
      // noise-level; the point is the SHAPE — pair work ∝ survivors²,
      // not corpus², which is what survives a 100× corpus whose
      // release budget stays fixed
      val ipairs = Dedup.simhashPairs(
        s.read.parquet(codePath)
          .join(med.select(col("doc_id")), Seq("doc_id"), "left_semi")
          .select(col("doc_id"), col("code").as("simhash")))
      val labels = Dedup.dedupClusters(
        ipairs.select(col("doc_a"), col("doc_b")))
      val imged = med.join(labels, Seq("doc_id"), "left")
        .where(col("cluster").isNull || col("cluster") === col("doc_id"))
        .select(med.columns.map(col): _*)
      val counts = imged.select(col("doc_id"), col("source"),
        col("media_dup_ppm"),
        size(TextFns.letterTokens(col("text"))).cast("long").as("n_tok"))
      val fin = counts.join(
        TextAnalysis.temperatureMixDocs(
            counts.select("doc_id", "source", "n_tok"),
            budgetTokens = 3000L)
          .where(col("kept")).select("doc_id"),
        Seq("doc_id"), "left_semi")
      fin.join(
        TextAnalysis.curriculumShards(
          imged.join(fin.select("doc_id"), Seq("doc_id"), "left_semi"),
          "doc_id", "text", nShards = 8, epoch = 0, epochs = 2)
          .select(col("doc_id"), col("shard"), col("pos")),
        Seq("doc_id"))
        .select("doc_id", "source", "n_tok", "media_dup_ppm", "shard",
          "pos")
    },

    // RAG chunking: 64-token windows every 48 tokens (16 overlap);
    // chunk content committed via md5 so the compare is exact without
    // shipping chunk text.
    "q_chunk_docs" -> { (s, dir) =>
      TextAnalysis.chunkDocs(t(s, dir, "documents"), "doc_id", "text",
        chunkSize = 64, stride = 48)
    },

    // Sequence packing: concat-and-chunk token binning into 2048-token
    // context windows, packed per 100-doc shard; per-(shard, bin)
    // occupancy stats. Bit-exact integer arithmetic end to end.
    "q_pack_sequences" -> { (s, dir) =>
      TextAnalysis.packSequences(t(s, dir, "documents"), "doc_id", "text",
          budget = 2048, docsPerShard = 100)
        .groupBy(col("shard"), col("bin"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("tok_sum"),
          min(col("doc_id")).as("first_doc"), max(col("doc_id")).as("last_doc"))
    },

    // BALANCED packing: round-robin-decreasing deal into
    // ceil(tokens/budget) bins per shard — per-bin imbalance bounded
    // by the largest doc, vs greedy arrival order's tail bins. Whole
    // docs, shard-local sort, tiny broadcast bin counts.
    "q_pack_balanced" -> { (s, dir) =>
      TextAnalysis.packBalanced(t(s, dir, "documents"), "doc_id", "text",
        budget = 2048, docsPerShard = 100)
    },

    // Cross-modal near-dup verification: the text MinHash-LSH pairs
    // annotated with their embedding cosine — a multimodal corpus
    // checks whether textual duplicates are also embedding-space
    // duplicates (disagreement marks template pages / paraphrases).
    // Pairs are text-candidates only, so the embedding join touches
    // O(candidates) vectors, never all pairs.
    "q_hybrid_neardup" -> { (s, dir) =>
      import graft.functions.VectorFns
      val pairs = Dedup.minhashDedupPairs(t(s, dir, "documents"),
        "doc_id", "text", threshold = 0.8)
      val emb = t(s, dir, "embeddings")
      def side(a: String) = emb.select(col("vec_id").as(a),
        col("embedding").as(s"v_$a"),
        VectorFns.dotQ(col("embedding"), col("embedding")).as(s"n_$a"))
      pairs.join(side("doc_a"), "doc_a").join(side("doc_b"), "doc_b")
        .select(col("doc_a"), col("doc_b"), col("jaccard"),
          (VectorFns.dotQ(col("v_doc_a"), col("v_doc_b")).cast("double") /
            sqrt((col("n_doc_a") * col("n_doc_b")).cast("double"))).as("cos_sim"))
    },

    // Benchmark decontamination: every 20th doc is the held-out eval
    // suite; training docs sharing any word 5-gram with it are flagged
    // with their distinct-shared-gram count.
    "q_decontaminate" -> { (s, dir) =>
      val docs = t(s, dir, "documents")
      TextAnalysis.decontaminate(
        docs.where(col("doc_id") % 20 =!= 0),
        docs.where(col("doc_id") % 20 === 0),
        "doc_id", "text", n = 5)
    },

    // DATASET CARD — the per-source governance/composition table a
    // curated release ships with: doc/token totals, mean length,
    // quality pass rate, exact-dup rate (corpus-wide definition), and
    // the dominant predicted language with its share. All integer
    // ppm/centitoken arithmetic over already-pinned primitives, so the
    // whole card replays bit-for-bit in the oracle.
    "q_dataset_card" -> { (s, dir) =>
      TextAnalysis.datasetCard(t(s, dir, "documents"), "doc_id", "text",
        "source")
    },

    // CORPUS RELEASE DIFF: what changed between two versioned corpus
    // snapshots — the release-forensics question ("which docs did
    // this re-crawl add/drop/rewrite") answered from the Versioned
    // sink's snapshots by doc_id, one full-outer join on the key,
    // never a text re-derivation. v1 is a deterministic synthetic
    // next release (md5-of-id selects deletes/rewrites/re-keyed
    // inserts), so the whole diff replays in the oracle from the
    // base table alone.
    "q_corpus_diff" -> { (s, dir) =>
      graft.io.Versioned.diff(s, versionedReleaseRoot(s, dir), 0L, 1L,
        "doc_id")
    },

    // EPOCH-ANNEALED mixture schedule: epoch 0 samples sources
    // proportionally, the last epoch at the flattened sqrt
    // temperature, integer-interpolated between — the staged-
    // pretraining curriculum table a training loader applies as
    // per-epoch md5 cuts. Pure integer arithmetic, full oracle.
    "q_mix_schedule" -> { (s, dir) =>
      TextAnalysis.mixSchedule(t(s, dir, "documents"), "doc_id", "text",
        "source", budgetTokens = 20000L, epochs = 3)
    },

    // CONTAMINATION REPORT per eval item — the unified release audit:
    // lexical (shared 5-grams) and semantic (quantized cosine >= 0.40)
    // offender counts per eval doc plus their overlap; n_both > 0 is
    // verbatim leakage, semantic-only rows are the paraphrase leakage
    // the n-gram check misses. Eval split = every 20th id on both
    // tables (the split q_decontaminate and q_decontaminate_semantic
    // already pin). Full SQL oracle on both axes.
    "q_contamination_report" -> { (s, dir) =>
      val docs = t(s, dir, "documents")
      val emb = t(s, dir, "embeddings")
      TextAnalysis.contaminationReport(
        docs.where(col("doc_id") % 20 =!= 0),
        docs.where(col("doc_id") % 20 === 0),
        emb.where(col("vec_id") % 20 =!= 0),
        emb.where(col("vec_id") % 20 === 0),
        "doc_id", "text", "vec_id", "embedding",
        n = 5, minShared = 1L, tau = 0.40)
    },

    // PACKING-EFFICIENCY report over the q_pack_sequences layout: per
    // shard, bin count, capacity, and integer fill ppm — the padding-
    // waste diagnostic of the training loader. Same packing
    // arithmetic as q_pack_sequences, so the report replays exactly.
    "q_pack_efficiency" -> { (s, dir) =>
      TextAnalysis.packEfficiency(
        TextAnalysis.packSequences(t(s, dir, "documents"), "doc_id",
          "text", budget = 2048, docsPerShard = 100),
        budget = 2048)
    },

    // DROP ATTRIBUTION — every input doc tagged with the FIRST v3
    // pipeline stage that dropped it (gopher rules -> per-source cap
    // -> scrubbed-count budget cut) or 'kept'. Same stage parameters
    // as q_corpus_pipeline_v3, so its keeper set is exactly this
    // query's stage='kept' slice and the per-source 'kept' counts
    // reconcile with the dataset card's denominators. Every stage
    // bites at sf0.01 (v3's documented populations). Full oracle:
    // the v3 CTE chain truncated at `fin`, final select a 3-way
    // left-join CASE over the whole documents table.
    "q_drop_attribution" -> { (s, dir) =>
      TextAnalysis.dropAttribution(t(s, dir, "documents"), "doc_id",
        "text", "source", minWords = 25, cap = 10, budgetTokens = 2000L)
    },

    // INCREMENTAL dataset card: the corpus arrives in two batches
    // (doc_id % 3, the q_incremental_* split convention), each folds
    // additive partials into the stored card index, and the card is
    // assembled from the STORED relations only — bit-identical to
    // q_dataset_card over the full corpus (the shared oracle). The
    // two folds are the offline ingest step (StoredIndex.ensureBatches
    // + the per-batch-overwrite idempotency the specs pin); the QUERY is
    // the read — no document text is touched. Content-addressed path,
    // so regenerated testdata never reads a stale index.
    "q_card_incremental" -> { (s, dir) =>
      val docs = t(s, dir, "documents")
      val path = graft.io.IndexPaths.indexPath("cardidx",
        s"$dir/documents.parquet", "v1")
      TextAnalysis.ensureCardIndex(s, path, Seq(0L, 1L)) { missing =>
        if (missing.contains(0L)) TextAnalysis.appendToCardIndex(
          docs.where(col("doc_id") % 3 =!= 2),
          "doc_id", "text", "source", path, 0L)
        if (missing.contains(1L)) TextAnalysis.appendToCardIndex(
          docs.where(col("doc_id") % 3 === 2),
          "doc_id", "text", "source", path, 1L)
      }
      TextAnalysis.cardFromIndex(s, path)
    })

  /** Shared oracle of q_dataset_card and q_card_incremental — the
    * stored-index card is definitionally the same table. */
  private lazy val sqlCard: String =
      s"""WITH base AS (SELECT doc_id, source,
         |    CAST(len($SQL_TOKS) AS BIGINT) AS n_tok,
         |    (len(list_filter(string_split_regex(text, '\\s+'), x -> x <> '')) >= 5
         |      AND CAST(length(regexp_replace(text, '[^\\p{L}]', '', 'g')) AS DOUBLE)
         |        / CAST(length(text) AS DOUBLE) >= 0.5) AS keep,
         |    md5(text) AS h
         |  FROM documents),
         |dup AS (SELECT h FROM base GROUP BY h HAVING COUNT(*) >= 2),
         |st AS (SELECT source, COUNT(*) AS n_docs,
         |    CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
         |    SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS nk,
         |    SUM(CASE WHEN h IN (SELECT h FROM dup) THEN 1 ELSE 0 END) AS nd
         |  FROM base GROUP BY source),
         |sc AS (SELECT doc_id, length(text) AS n,
         |    ${sqlScore("en")} AS score_en,
         |    ${sqlScore("es")} AS score_es,
         |    ${sqlScore("de")} AS score_de,
         |    ${sqlScore("fr")} AS score_fr,
         |    CAST(length(regexp_replace(text, '[^\\p{Han}]', '', 'g')) AS BIGINT)
         |      AS han_chars
         |  FROM documents),
         |lg AS (SELECT d.source,
         |    CASE WHEN han_chars * 5 > n THEN 'zh'
         |         WHEN score_en + score_es + score_de + score_fr = 0 THEN 'und'
         |         WHEN score_en >= score_es AND score_en >= score_de
         |           AND score_en >= score_fr THEN 'en'
         |         WHEN score_es >= score_de AND score_es >= score_fr THEN 'es'
         |         WHEN score_de >= score_fr THEN 'de'
         |         ELSE 'fr' END AS pred_lang
         |  FROM sc JOIN documents d USING (doc_id)),
         |lc AS (SELECT source, pred_lang, COUNT(*) AS cnt
         |  FROM lg GROUP BY source, pred_lang),
         |top AS (SELECT source, pred_lang AS top_lang, cnt,
         |    SUM(cnt) OVER (PARTITION BY source) AS tot
         |  FROM lc
         |  QUALIFY row_number() OVER (PARTITION BY source
         |    ORDER BY cnt DESC, pred_lang ASC) = 1)
         |SELECT st.source, CAST(st.n_docs AS BIGINT) AS n_docs, st.n_tokens,
         |  CAST((st.n_tokens * 100) // st.n_docs AS BIGINT) AS avg_tok_c,
         |  CAST((st.nk * 1000000) // st.n_docs AS BIGINT) AS keep_ppm,
         |  CAST((st.nd * 1000000) // st.n_docs AS BIGINT) AS dup_ppm,
         |  top.top_lang,
         |  CAST((top.cnt * 1000000) // top.tot AS BIGINT) AS top_lang_ppm
         |FROM st JOIN top USING (source)""".stripMargin

  /** Shared release-chain oracle body: v6's full SQL; v7 derives
    * from it by splicing the image perceptual-dedup stage between
    * the media filter (`med`) and the budget (`stoks`). */
  private lazy val sqlPipelineV6: String =
    s"""WITH RECURSIVE gd AS (SELECT doc_id,
         |    list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS gws,
         |    list_filter(string_split(text, chr(10)), x -> x <> '') AS gls
         |  FROM documents),
         |gm AS (SELECT doc_id,
         |    CAST(len(gws) AS BIGINT) AS n_words,
         |    CAST(COALESCE(list_sum(list_transform(gws, x -> length(x))), 0)
         |      AS BIGINT) AS chars,
         |    CAST(len(list_filter(gws, x -> regexp_matches(x, '\\p{L}')))
         |      AS BIGINT) AS n_alpha,
         |    CAST(len(gls) AS BIGINT) AS n_lines,
         |    CAST(len(list_filter(gls, x -> regexp_matches(x, '^\\s*[-*•]')))
         |      AS BIGINT) AS n_bul,
         |    CAST(len(list_filter(gls, x -> regexp_matches(x, '\\.\\.\\.$$')))
         |      AS BIGINT) AS n_ell
         |  FROM gd),
         |gok AS (SELECT doc_id FROM (SELECT *, CASE WHEN n_words > 0
         |      THEN (chars * 100) // n_words ELSE 0 END AS mwl FROM gm)
         |  WHERE n_words >= 25 AND n_words <= 100000
         |    AND mwl >= 300 AND mwl <= 1000
         |    AND n_alpha * 5 >= n_words * 4
         |    AND n_bul * 10 <= n_lines AND n_ell * 10 <= n_lines * 3),
         |csc AS (SELECT d.doc_id, d.source,
         |    CAST(len($SQL_TOKS) AS BIGINT) AS n,
         |    CAST(COALESCE(list_sum(list_transform($SQL_TOKS,
         |      x -> CAST('0x' || substr(md5(x), 1, 4) AS BIGINT))), 0)
         |      AS BIGINT) AS s
         |  FROM documents d JOIN gok USING (doc_id)),
         |csq AS (SELECT doc_id, source, s // n AS avg_q FROM csc WHERE n > 0),
         |chist AS (SELECT source, avg_q, CAST(COUNT(*) AS BIGINT) AS c
         |  FROM csq GROUP BY 1, 2),
         |ccum AS (SELECT source, avg_q, c,
         |    CAST(COALESCE(SUM(c) OVER (PARTITION BY source
         |      ORDER BY avg_q DESC
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |      AS BIGINT) AS above,
         |    CAST(SUM(c) OVER (PARTITION BY source) AS BIGINT) AS tot
         |  FROM chist),
         |ct2 AS (SELECT source, avg_q, c, above,
         |    (tot * 39321) // 65536 AS target FROM ccum),
         |cal AS (SELECT csq.doc_id, csq.source
         |  FROM csq JOIN ct2 USING (source, avg_q)
         |  WHERE above + c <= target
         |     OR (above < target AND
         |         CAST('0x' || substr(md5(CAST(csq.doc_id AS VARCHAR)), 1, 4)
         |           AS BIGINT) < ((target - above) * 65536) // c)),
         |ctoks AS (SELECT d.doc_id, $SQL_TOKS AS ws
         |  FROM documents d JOIN cal USING (doc_id)),
         |jgr AS (SELECT DISTINCT doc_id,
         |    ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS g
         |  FROM ctoks, UNNEST(range(1, len(ws) - 1)) AS t(i)),
         |jsz AS (SELECT doc_id, COUNT(*) AS sz FROM jgr GROUP BY doc_id),
         |jin AS (SELECT a.doc_id AS da, b.doc_id AS db, COUNT(*) AS i
         |  FROM jgr a JOIN jgr b ON a.g = b.g AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2),
         |pr AS (SELECT da, db FROM jin
         |  JOIN jsz sa ON sa.doc_id = da JOIN jsz sb ON sb.doc_id = db
         |  WHERE CAST(i AS DOUBLE) / (sa.sz + sb.sz - i) >= 0.8),
         |edges AS (SELECT da AS s2, db AS d2 FROM pr
         |  UNION SELECT db, da FROM pr),
         |reach(s2, d2) AS (SELECT s2, d2 FROM edges
         |  UNION SELECT r.s2, e.d2 FROM reach r JOIN edges e ON r.d2 = e.s2),
         |cl AS (SELECT s2 AS doc_id, LEAST(s2, MIN(d2)) AS cluster
         |  FROM reach GROUP BY s2),
         |ac AS (SELECT cal.doc_id, cal.source,
         |    COALESCE(cl.cluster, cal.doc_id) AS cluster
         |  FROM cal LEFT JOIN cl USING (doc_id)),
         |sz2 AS (SELECT cluster, CAST(COUNT(*) AS BIGINT) AS cl_size
         |  FROM ac GROUP BY cluster),
         |soft AS (SELECT ac.doc_id, ac.source
         |  FROM ac JOIN sz2 USING (cluster)
         |  WHERE CAST('0x' || substr(md5(CAST(ac.doc_id AS VARCHAR)), 1, 4)
         |      AS BIGINT) < LEAST(65536, 65536 // cl_size)),
         |mm AS (SELECT doc_id, text AS ms, len(text) AS mL FROM documents),
         |mpos AS (SELECT doc_id, i FROM mm, UNNEST(range(4, mL + 1)) AS t(i)
         |  WHERE CAST('0x' || substr(md5(substr(ms, CAST(i - 3 AS INT), 4)),
         |      1, 12) AS BIGINT) % 64 = 0),
         |mmw AS (SELECT doc_id, i,
         |    CASE WHEN i - lag(i) OVER (PARTITION BY doc_id ORDER BY i) < 16
         |         THEN 0 ELSE 1 END AS strt
         |  FROM mpos),
         |mmc AS (SELECT doc_id, i,
         |    SUM(strt) OVER (PARTITION BY doc_id ORDER BY i
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS mcl
         |  FROM mmw),
         |mcut AS (SELECT doc_id, MAX(i) AS i FROM mmc GROUP BY doc_id, mcl),
         |mcuts AS (SELECT mm.doc_id,
         |    list_sort(list_append(COALESCE(list(DISTINCT p.i), []), mm.mL))
         |      AS ends
         |  FROM mm LEFT JOIN mcut p USING (doc_id) GROUP BY mm.doc_id, mm.mL),
         |mspans AS (SELECT doc_id, ends[j] AS e,
         |    CASE WHEN j = 1 THEN 1 ELSE ends[j - 1] + 1 END AS st
         |  FROM mcuts, UNNEST(range(1, len(ends) + 1)) AS t(j)
         |  WHERE j = 1 OR ends[j] > ends[j - 1]),
         |mch AS (SELECT c.doc_id,
         |    md5(substr(mm.ms, CAST(c.st AS INT), CAST(c.e - c.st + 1 AS INT)))
         |      AS h,
         |    c.e - c.st + 1 AS nb
         |  FROM mspans c JOIN mm USING (doc_id) WHERE c.e >= c.st),
         |mhc AS (SELECT h, COUNT(*) AS hc FROM mch GROUP BY h),
         |mppm AS (SELECT doc_id,
         |    (SUM(CASE WHEN hc > 1 THEN nb ELSE 0 END) * 1000000)
         |      // SUM(nb) AS media_dup_ppm
         |  FROM mch JOIN mhc USING (h) GROUP BY 1),
         |med AS (SELECT soft.doc_id, soft.source,
         |    CAST(COALESCE(mppm.media_dup_ppm, 0) AS BIGINT)
         |      AS media_dup_ppm
         |  FROM soft LEFT JOIN mppm USING (doc_id)
         |  WHERE COALESCE(mppm.media_dup_ppm, 0) < 500000),
         |stoks AS (SELECT d.doc_id, sf.source, sf.media_dup_ppm,
         |    CAST(len($SQL_TOKS) AS BIGINT) AS n_tok
         |  FROM documents d JOIN med sf ON d.doc_id = sf.doc_id),
         |st AS (SELECT source, CAST(SUM(n_tok) AS BIGINT) AS n_tokens
         |  FROM stoks GROUP BY source),
         |w AS (SELECT source, n_tokens,
         |    CAST(FLOOR(SQRT(CAST(n_tokens AS DOUBLE))) AS BIGINT) AS w_q
         |  FROM st),
         |cu AS (SELECT source, n_tokens, w_q,
         |    CAST((3000 * w_q) // (SELECT SUM(w_q) FROM w) AS BIGINT)
         |      AS target_tokens
         |  FROM w),
         |cu2 AS (SELECT source, CASE WHEN n_tokens = 0 THEN 65536
         |    ELSE LEAST(65536, (target_tokens * 65536) // n_tokens) END AS cut_q
         |  FROM cu),
         |fin AS (SELECT stoks.doc_id, stoks.source, stoks.media_dup_ppm,
         |    stoks.n_tok
         |  FROM stoks JOIN cu2 USING (source)
         |  WHERE CAST(('0x' || substr(md5(CAST(stoks.doc_id AS VARCHAR)), 1, 4))
         |          AS BIGINT) < cut_q),
         |lay AS (SELECT doc_id, source, n_tok, media_dup_ppm,
         |    CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 12)
         |      AS BIGINT) % 8 AS shard,
         |    LEAST(65535, n_tok) AS k
         |  FROM fin)
         |SELECT doc_id, source, n_tok, media_dup_ppm, shard,
         |  CAST(row_number() OVER (PARTITION BY shard ORDER BY k, doc_id)
         |    AS BIGINT) AS pos
         |FROM lay""".stripMargin

  /** v7 = v6 + the aHash image-dedup stage: base-image hashes in
    * closed form, pairs restricted to `med` survivors on BOTH
    * sides, recursive min-label closure, keeper = cluster min;
    * the budget then reads `imed` instead of `med`. */
  private lazy val sqlPipelineV7: String = sqlPipelineV6.replace(
    "stoks AS (SELECT d.doc_id, sf.source",
    """im3 AS (SELECT doc_id, CAST(doc_id % 29 + 4 AS INTEGER) AS iw,
      |    CAST(doc_id % 17 + 4 AS INTEGER) AS ih FROM documents),
      |isx AS (SELECT doc_id, gi.i * 8 + gj.i AS p,
      |    (doc_id * 31 + ((gi.i * iw) // 8) * 7
      |     + ((gj.i * ih) // 8) * 13) % 256 AS px
      |  FROM im3, UNNEST(range(0, 8)) AS gi(i), UNNEST(range(0, 8)) AS gj(i)),
      |itot AS (SELECT doc_id, SUM(px) AS total FROM isx GROUP BY doc_id),
      |iph AS (SELECT isx.doc_id,
      |    CAST(SUM(CASE
      |      WHEN isx.px * 64 > itot.total AND isx.p = 63
      |        THEN -9223372036854775808
      |      WHEN isx.px * 64 > itot.total
      |        THEN (1::BIGINT << CAST(isx.p AS INTEGER))
      |      ELSE 0 END) AS BIGINT) AS phash
      |  FROM isx JOIN itot USING (doc_id) GROUP BY isx.doc_id),
      |ipr AS (SELECT a.doc_id AS ia, b.doc_id AS ib
      |  FROM iph a JOIN iph b ON a.doc_id < b.doc_id
      |  JOIN med ma ON ma.doc_id = a.doc_id
      |  JOIN med mb ON mb.doc_id = b.doc_id
      |  WHERE bit_count(xor(a.phash, b.phash)) <= 3),
      |iedges AS (SELECT ia AS s3, ib AS d3 FROM ipr
      |  UNION SELECT ib, ia FROM ipr),
      |ireach(s3, d3) AS (SELECT s3, d3 FROM iedges
      |  UNION SELECT r.s3, e.d3 FROM ireach r JOIN iedges e ON r.d3 = e.s3),
      |icl AS (SELECT s3 AS doc_id, LEAST(s3, MIN(d3)) AS cluster
      |  FROM ireach GROUP BY s3),
      |imed AS (SELECT med.doc_id, med.source, med.media_dup_ppm
      |  FROM med LEFT JOIN icl USING (doc_id)
      |  WHERE icl.cluster IS NULL OR icl.cluster = med.doc_id),
      |stoks AS (SELECT d.doc_id, sf.source""".stripMargin)
    .replace("FROM documents d JOIN med sf",
      "FROM documents d JOIN imed sf")

  val oracles: Map[String, String] = Map(
    "q_wordcount" ->
      s"""SELECT w AS word, COUNT(*) AS cnt FROM (
         |  SELECT unnest($SQL_TOKS) AS w FROM documents)
         |GROUP BY w""".stripMargin,

    // full SimHash replay: md5-prefix token hashes, ±1 bit sums,
    // signature pack, all-pairs hamming via bit_count(xor) — the banded
    // Spark search is lossless at dist <= 3, so the sets coincide
    "q_simhash_pairs" ->
      s"""WITH toks AS (SELECT doc_id, unnest($SQL_TOKS) AS t FROM documents),
         |th AS (SELECT doc_id,
         |    CAST(('0x' || substr(md5(t), 1, 15)) AS BIGINT) AS h FROM toks),
         |bits AS (SELECT doc_id, j,
         |    CASE WHEN SUM(CASE WHEN (h >> j) & 1 = 1 THEN 1 ELSE -1 END) > 0
         |         THEN CAST(1 AS BIGINT) << j ELSE CAST(0 AS BIGINT) END AS b
         |  FROM th CROSS JOIN range(0, 60) r(j)
         |  GROUP BY doc_id, j),
         |sig AS (SELECT doc_id, CAST(SUM(b) AS BIGINT) AS simhash
         |  FROM bits GROUP BY doc_id)
         |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |  CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
         |FROM sig a JOIN sig b ON a.doc_id < b.doc_id
         |WHERE bit_count(xor(a.simhash, b.simhash)) <= 3""".stripMargin,

    "q_bigram_counts" ->
      s"""WITH toks AS (SELECT doc_id, $SQL_TOKS AS ws FROM documents),
         |b AS (SELECT ws[i] || ' ' || ws[i+1] AS bigram
         |      FROM toks, UNNEST(range(1, len(ws))) AS t(i))
         |SELECT bigram, COUNT(*) AS cnt FROM b GROUP BY bigram
         |ORDER BY cnt DESC, bigram LIMIT 100""".stripMargin,

    "q_dedup_exact" ->
      """SELECT md5(text) AS content_hash, MIN(doc_id) AS keep_id,
        |  COUNT(*) AS n_copies
        |FROM documents GROUP BY md5(text)""".stripMargin,

    "q_ngram_jaccard" ->
      s"""WITH ${sqlGrams("WHERE doc_id < 300")}
         |${sqlJaccard(0.5)}""".stripMargin,

    "q_dedup_minhash" ->
      s"""WITH ${sqlGrams("")}
         |${sqlJaccard(0.8)}""".stripMargin,

    // full brute-force containment: the prefix filter is exact, so the
    // Spark side must reproduce every max-containment >= 0.8 pair
    "q_containment" ->
      s"""WITH ${sqlGrams("")}
         |SELECT da AS doc_a, db AS doc_b,
         |  CAST(i AS DOUBLE) / sa.sz AS containment_a,
         |  CAST(i AS DOUBLE) / sb.sz AS containment_b,
         |  CAST(i AS DOUBLE) / (sa.sz + sb.sz - i) AS jaccard
         |FROM inter
         |JOIN sizes sa ON sa.doc_id = da JOIN sizes sb ON sb.doc_id = db
         |WHERE GREATEST(CAST(i AS DOUBLE) / sa.sz,
         |               CAST(i AS DOUBLE) / sb.sz) >= 0.8""".stripMargin,

    // FULL REPLAY of the capped candidate generation (not brute
    // force): pool = shareable grams with df <= 4, per-doc prefix in
    // (df, md5-long) order cut at |pool| - iMin + 1 (same float-fuzz
    // iMin probe as the engine), candidates = prefix × pool-shared,
    // then exact containment scoring of candidates only — so a pair
    // the cap trades away is EXPECTED absent here, and a pair it must
    // keep is expected present
    "q_containment_capped" ->
      s"""WITH toks AS (SELECT doc_id, $SQL_TOKS AS ws FROM documents),
         |grams AS (SELECT DISTINCT doc_id,
         |    ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS g
         |  FROM toks, UNNEST(range(1, len(ws) - 1)) AS t(i)),
         |sizes AS (SELECT doc_id, COUNT(*) AS sz FROM grams GROUP BY doc_id),
         |dfreq AS (SELECT g, COUNT(*) AS df FROM grams GROUP BY g),
         |pool AS (SELECT g, df FROM dfreq WHERE df >= 2 AND df <= 4),
         |shared AS (SELECT gr.doc_id, gr.g, p.df,
         |    CAST(('0x' || substr(md5(gr.g), 1, 15)) AS BIGINT) AS mh
         |  FROM grams gr JOIN pool p ON gr.g = p.g),
         |imin AS (SELECT doc_id, sz,
         |    CASE WHEN CAST(CEIL(0.8 * sz) - 1 AS DOUBLE) / sz >= 0.8
         |         THEN CEIL(0.8 * sz) - 1 ELSE CEIL(0.8 * sz) END AS im
         |  FROM sizes),
         |ordd AS (SELECT s.doc_id, s.g,
         |    row_number() OVER (PARTITION BY s.doc_id ORDER BY s.df, s.mh) AS r,
         |    COUNT(*) OVER (PARTITION BY s.doc_id) AS np, i.im
         |  FROM shared s JOIN imin i ON i.doc_id = s.doc_id),
         |pfx AS (SELECT doc_id, g FROM ordd WHERE r <= np - im + 1),
         |cand AS (SELECT DISTINCT LEAST(p.doc_id, s.doc_id) AS doc_a,
         |    GREATEST(p.doc_id, s.doc_id) AS doc_b
         |  FROM pfx p JOIN shared s ON p.g = s.g AND p.doc_id <> s.doc_id),
         |inter AS (SELECT c.doc_a, c.doc_b, COUNT(*) AS i
         |  FROM cand c JOIN grams a ON a.doc_id = c.doc_a
         |  JOIN grams b ON b.doc_id = c.doc_b AND a.g = b.g
         |  GROUP BY 1, 2)
         |SELECT c.doc_a, c.doc_b,
         |  CAST(i.i AS DOUBLE) / sa.sz AS containment_a,
         |  CAST(i.i AS DOUBLE) / sb.sz AS containment_b,
         |  CAST(i.i AS DOUBLE) / (sa.sz + sb.sz - i.i) AS jaccard
         |FROM cand c JOIN inter i ON i.doc_a = c.doc_a AND i.doc_b = c.doc_b
         |JOIN sizes sa ON sa.doc_id = c.doc_a
         |JOIN sizes sb ON sb.doc_id = c.doc_b
         |WHERE GREATEST(CAST(i.i AS DOUBLE) / sa.sz,
         |               CAST(i.i AS DOUBLE) / sb.sz) >= 0.8""".stripMargin,

    // same ground truth as q_containment: the SQL-text pipeline must
    // reproduce the brute-force containment pairs exactly
    "q_sql_containment" ->
      s"""WITH ${sqlGrams("")}
         |SELECT da AS doc_a, db AS doc_b,
         |  CAST(i AS DOUBLE) / sa.sz AS containment_a,
         |  CAST(i AS DOUBLE) / sb.sz AS containment_b,
         |  CAST(i AS DOUBLE) / (sa.sz + sb.sz - i) AS jaccard
         |FROM inter
         |JOIN sizes sa ON sa.doc_id = da JOIN sizes sb ON sb.doc_id = db
         |WHERE GREATEST(CAST(i AS DOUBLE) / sa.sz,
         |               CAST(i AS DOUBLE) / sb.sz) >= 0.8""".stripMargin,

    "q_dedup_keepers" ->
      s"""WITH RECURSIVE ${sqlGrams("")},
         |pr AS (SELECT da, db FROM inter
         |       JOIN sizes sa ON sa.doc_id = da JOIN sizes sb ON sb.doc_id = db
         |       WHERE CAST(i AS DOUBLE) / (sa.sz + sb.sz - i) >= 0.8),
         |edges AS (SELECT da AS s, db AS d FROM pr
         |          UNION SELECT db, da FROM pr),
         |reach(s, d) AS (SELECT s, d FROM edges
         |                UNION SELECT r.s, e.d FROM reach r JOIN edges e ON r.d = e.s),
         |cl AS (SELECT s AS doc_id, LEAST(s, MIN(d)) AS cluster
         |       FROM reach GROUP BY s),
         |m AS (SELECT cl.cluster, cl.doc_id, d.source, d.n_chars,
         |        CAST(substr(d.source, 4) AS INT) % 3 AS tier
         |      FROM cl JOIN documents d USING (doc_id)),
         |r AS (SELECT *, row_number() OVER (PARTITION BY cluster
         |        ORDER BY tier ASC, n_chars DESC, doc_id ASC) AS rn FROM m)
         |SELECT cluster, doc_id AS keep_id, source AS keep_source,
         |  CAST(n_chars AS BIGINT) AS keep_chars
         |FROM r WHERE rn = 1""".stripMargin,

    "q_token_budget" ->
      s"""WITH n AS (SELECT doc_id, source,
         |             CAST(len($SQL_TOKS) AS BIGINT) AS n_tokens
         |           FROM documents),
         |c AS (SELECT doc_id, source, n_tokens,
         |        CAST(SUM(n_tokens) OVER (PARTITION BY source
         |          ORDER BY n_tokens DESC, doc_id ASC) AS BIGINT) AS cum_tokens
         |      FROM n)
         |SELECT doc_id, source, n_tokens, cum_tokens
         |FROM c WHERE cum_tokens <= 800""".stripMargin,

    // ground truth restricted to pairs with at least one new-batch side
    "q_incremental_containment" ->
      s"""WITH ${sqlGrams("")}
         |SELECT da AS doc_a, db AS doc_b,
         |  CAST(i AS DOUBLE) / sa.sz AS containment_a,
         |  CAST(i AS DOUBLE) / sb.sz AS containment_b,
         |  CAST(i AS DOUBLE) / (sa.sz + sb.sz - i) AS jaccard
         |FROM inter
         |JOIN sizes sa ON sa.doc_id = da JOIN sizes sb ON sb.doc_id = db
         |WHERE GREATEST(CAST(i AS DOUBLE) / sa.sz,
         |               CAST(i AS DOUBLE) / sb.sz) >= 0.8
         |  AND (da % 5 = 4 OR db % 5 = 4)""".stripMargin,

    // same ground truth as q_dedup_minhash: the SQL-text pipeline must
    // find exactly the brute-force Jaccard pairs
    "q_sql_dedup" ->
      s"""WITH ${sqlGrams("")}
         |${sqlJaccard(0.8)}""".stripMargin,

    "q_sql_stratified" ->
      """SELECT lang, CAST(rk AS BIGINT) AS rk, doc_id FROM (
        |  SELECT lang, doc_id,
        |    row_number() OVER (PARTITION BY lang
        |      ORDER BY CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)),
        |                 1, 12) AS BIGINT),
        |        doc_id) AS rk
        |  FROM documents)
        |WHERE rk <= 30""".stripMargin,

    // same ground truth again: the streaming code path in batch mode
    // must find exactly the brute-force Jaccard pairs
    "q_stream_neardup" ->
      s"""WITH ${sqlGrams("")}
         |${sqlJaccard(0.8)}""".stripMargin,

    // first-keeper admission unrolled over the brute-force pair
    // relation, batch by batch: a batch-b doc is rejected iff paired
    // with an ADMITTED doc of an earlier batch or a smaller-id doc of
    // its OWN batch (admitted or not — the greedy rule, no closure)
    // the gate arithmetic (q_drift_gate's TV CTEs) + the CONDITIONAL
    // admission: batch 2's corpus clause is active only when tv1
    // admitted batch 1 — the composition is replayed, not assumed
    "q_stream_gated_dedup" ->
      s"""WITH ${sqlGrams("")},
         |pr AS (${sqlJaccard(0.8)}),
         |e AS (SELECT doc_a AS a, doc_b AS b FROM pr
         |      UNION ALL SELECT doc_b, doc_a FROM pr),
         |tok AS (SELECT doc_id % 3 AS b, unnest($SQL_TOKS) AS term
         |  FROM documents),
         |cr AS (SELECT term, COUNT(*) AS c FROM tok WHERE b = 0 GROUP BY term),
         |nr AS (SELECT SUM(c) AS n FROM cr),
         |cb1 AS (SELECT term, COUNT(*) AS c FROM tok WHERE b = 1 GROUP BY term),
         |nb1 AS (SELECT SUM(c) AS n FROM cb1),
         |cb2 AS (SELECT term, COUNT(*) AS c FROM tok WHERE b = 2 GROUP BY term),
         |nb2 AS (SELECT SUM(c) AS n FROM cb2),
         |tv1 AS (SELECT CAST(SUM(ABS(
         |    (COALESCE(cr.c, 0) * 1000000) // nr.n
         |    - (COALESCE(cb1.c, 0) * 1000000) // nb1.n)) AS BIGINT) AS tv
         |  FROM cr FULL OUTER JOIN cb1 ON cr.term = cb1.term, nr, nb1
         |  WHERE COALESCE(cr.c, 0) >= 5 OR COALESCE(cb1.c, 0) >= 5),
         |tv2 AS (SELECT CAST(SUM(ABS(
         |    (COALESCE(cr.c, 0) * 1000000) // nr.n
         |    - (COALESCE(cb2.c, 0) * 1000000) // nb2.n)) AS BIGINT) AS tv
         |  FROM cr FULL OUTER JOIN cb2 ON cr.term = cb2.term, nr, nb2
         |  WHERE COALESCE(cr.c, 0) >= 5 OR COALESCE(cb2.c, 0) >= 5),
         |d1 AS (SELECT doc_id FROM documents WHERE doc_id % 3 = 1),
         |d2 AS (SELECT doc_id FROM documents WHERE doc_id % 3 = 2),
         |a1 AS (SELECT doc_id FROM d1 dd WHERE NOT EXISTS (
         |    SELECT 1 FROM e JOIN d1 x ON e.a = x.doc_id
         |    WHERE e.b = dd.doc_id AND e.a < dd.doc_id)),
         |a2 AS (SELECT doc_id FROM d2 dd
         |  WHERE NOT EXISTS (SELECT 1 FROM e JOIN a1 x ON e.a = x.doc_id, tv1
         |    WHERE tv1.tv <= 60000 AND e.b = dd.doc_id)
         |  AND NOT EXISTS (SELECT 1 FROM e JOIN d2 x ON e.a = x.doc_id
         |    WHERE e.b = dd.doc_id AND e.a < dd.doc_id))
         |SELECT dd.doc_id, CAST(1 AS BIGINT) AS batch,
         |  CASE WHEN tv1.tv > 60000 THEN 'quarantine'
         |       WHEN dd.doc_id IN (SELECT doc_id FROM a1) THEN 'admitted'
         |       ELSE 'rejected' END AS decision
         |FROM d1 dd, tv1
         |UNION ALL
         |SELECT dd.doc_id, CAST(2 AS BIGINT) AS batch,
         |  CASE WHEN tv2.tv > 60000 THEN 'quarantine'
         |       WHEN dd.doc_id IN (SELECT doc_id FROM a2) THEN 'admitted'
         |       ELSE 'rejected' END AS decision
         |FROM d2 dd, tv2""".stripMargin,

    "q_stream_ingest_dedup" ->
      s"""WITH ${sqlGrams("")},
         |pr AS (${sqlJaccard(0.8)}),
         |e AS (SELECT doc_a AS a, doc_b AS b FROM pr
         |      UNION ALL SELECT doc_b, doc_a FROM pr),
         |d0 AS (SELECT doc_id FROM documents WHERE doc_id % 3 = 0),
         |d1 AS (SELECT doc_id FROM documents WHERE doc_id % 3 = 1),
         |d2 AS (SELECT doc_id FROM documents WHERE doc_id % 3 = 2),
         |a0 AS (SELECT doc_id FROM d0 dd WHERE NOT EXISTS (
         |    SELECT 1 FROM e JOIN d0 x ON e.a = x.doc_id
         |    WHERE e.b = dd.doc_id AND e.a < dd.doc_id)),
         |a1 AS (SELECT doc_id FROM d1 dd
         |  WHERE NOT EXISTS (SELECT 1 FROM e JOIN a0 x ON e.a = x.doc_id
         |    WHERE e.b = dd.doc_id)
         |  AND NOT EXISTS (SELECT 1 FROM e JOIN d1 x ON e.a = x.doc_id
         |    WHERE e.b = dd.doc_id AND e.a < dd.doc_id)),
         |a01 AS (SELECT doc_id FROM a0 UNION ALL SELECT doc_id FROM a1),
         |a2 AS (SELECT doc_id FROM d2 dd
         |  WHERE NOT EXISTS (SELECT 1 FROM e JOIN a01 x ON e.a = x.doc_id
         |    WHERE e.b = dd.doc_id)
         |  AND NOT EXISTS (SELECT 1 FROM e JOIN d2 x ON e.a = x.doc_id
         |    WHERE e.b = dd.doc_id AND e.a < dd.doc_id))
         |SELECT doc_id, CAST(0 AS BIGINT) AS admitted_batch FROM a0
         |UNION ALL SELECT doc_id, CAST(1 AS BIGINT) FROM a1
         |UNION ALL SELECT doc_id, CAST(2 AS BIGINT) FROM a2""".stripMargin,

    "q_stream_ingest_containment" ->
      s"""WITH ${sqlGrams("")},
         |pr AS (SELECT da AS doc_a, db AS doc_b FROM inter
         |  JOIN sizes sa ON sa.doc_id = da JOIN sizes sb ON sb.doc_id = db
         |  WHERE GREATEST(CAST(i AS DOUBLE) / sa.sz,
         |                 CAST(i AS DOUBLE) / sb.sz) >= 0.8),
         |e AS (SELECT doc_a AS a, doc_b AS b FROM pr
         |      UNION ALL SELECT doc_b, doc_a FROM pr),
         |d0 AS (SELECT doc_id FROM documents WHERE doc_id % 3 = 0),
         |d1 AS (SELECT doc_id FROM documents WHERE doc_id % 3 = 1),
         |d2 AS (SELECT doc_id FROM documents WHERE doc_id % 3 = 2),
         |a0 AS (SELECT doc_id FROM d0 dd WHERE NOT EXISTS (
         |    SELECT 1 FROM e JOIN d0 x ON e.a = x.doc_id
         |    WHERE e.b = dd.doc_id AND e.a < dd.doc_id)),
         |a1 AS (SELECT doc_id FROM d1 dd
         |  WHERE NOT EXISTS (SELECT 1 FROM e JOIN a0 x ON e.a = x.doc_id
         |    WHERE e.b = dd.doc_id)
         |  AND NOT EXISTS (SELECT 1 FROM e JOIN d1 x ON e.a = x.doc_id
         |    WHERE e.b = dd.doc_id AND e.a < dd.doc_id)),
         |a01 AS (SELECT doc_id FROM a0 UNION ALL SELECT doc_id FROM a1),
         |a2 AS (SELECT doc_id FROM d2 dd
         |  WHERE NOT EXISTS (SELECT 1 FROM e JOIN a01 x ON e.a = x.doc_id
         |    WHERE e.b = dd.doc_id)
         |  AND NOT EXISTS (SELECT 1 FROM e JOIN d2 x ON e.a = x.doc_id
         |    WHERE e.b = dd.doc_id AND e.a < dd.doc_id))
         |SELECT doc_id, CAST(0 AS BIGINT) AS admitted_batch FROM a0
         |UNION ALL SELECT doc_id, CAST(1 AS BIGINT) FROM a1
         |UNION ALL SELECT doc_id, CAST(2 AS BIGINT) FROM a2""".stripMargin,

    // ground truth restricted to pairs with at least one new-batch side
    "q_incremental_dedup" ->
      s"""WITH ${sqlGrams("")}
         |SELECT * FROM (${sqlJaccard(0.8)})
         |WHERE doc_a % 5 = 4 OR doc_b % 5 = 4""".stripMargin,

    // brute-force text pairs joined with the exact fixed-point cosine
    // (same dotQ arithmetic as the vector queries)
    "q_hybrid_neardup" -> {
      def dq(a: String, b: String) =
        s"""list_sum(list_transform(range(1, len($a) + 1),
           |  i -> CAST(FLOOR(CAST($a[i] AS DOUBLE) * 1000) AS BIGINT)
           |     * CAST(FLOOR(CAST($b[i] AS DOUBLE) * 1000) AS BIGINT)))""".stripMargin
      s"""WITH ${sqlGrams("")},
         |pr AS (${sqlJaccard(0.8)})
         |SELECT pr.doc_a, pr.doc_b, pr.jaccard,
         |  CAST(${dq("ea.embedding", "eb.embedding")} AS DOUBLE)
         |    / SQRT(CAST(${dq("ea.embedding", "ea.embedding")}
         |           * ${dq("eb.embedding", "eb.embedding")} AS DOUBLE)) AS cos_sim
         |FROM pr
         |JOIN embeddings ea ON ea.vec_id = pr.doc_a
         |JOIN embeddings eb ON eb.vec_id = pr.doc_b""".stripMargin
    },

    "q_dedup_clusters" ->
      s"""WITH RECURSIVE ${sqlGrams("")},
         |pr AS (SELECT da, db FROM inter
         |       JOIN sizes sa ON sa.doc_id = da JOIN sizes sb ON sb.doc_id = db
         |       WHERE CAST(i AS DOUBLE) / (sa.sz + sb.sz - i) >= 0.8),
         |edges AS (SELECT da AS s, db AS d FROM pr
         |          UNION SELECT db, da FROM pr),
         |reach(s, d) AS (SELECT s, d FROM edges
         |                UNION SELECT r.s, e.d FROM reach r JOIN edges e ON r.d = e.s)
         |SELECT s AS doc_id, LEAST(s, MIN(d)) AS cluster
         |FROM reach GROUP BY s""".stripMargin,

    // clusters (recursive CTE) extended to ALL docs (singletons =
    // their own cluster), integer weight 65536 // size, md5-16 cut
    "q_softdedup_keep" ->
      s"""WITH RECURSIVE ${sqlGrams("")},
         |pr AS (SELECT da, db FROM inter
         |       JOIN sizes sa ON sa.doc_id = da JOIN sizes sb ON sb.doc_id = db
         |       WHERE CAST(i AS DOUBLE) / (sa.sz + sb.sz - i) >= 0.8),
         |edges AS (SELECT da AS s, db AS d FROM pr
         |          UNION SELECT db, da FROM pr),
         |reach(s, d) AS (SELECT s, d FROM edges
         |                UNION SELECT r.s, e.d FROM reach r JOIN edges e ON r.d = e.s),
         |cl AS (SELECT s AS doc_id, LEAST(s, MIN(d)) AS cluster
         |       FROM reach GROUP BY s),
         |ac AS (SELECT d.doc_id, COALESCE(cl.cluster, d.doc_id) AS cluster
         |       FROM documents d LEFT JOIN cl USING (doc_id)),
         |sz AS (SELECT cluster, CAST(COUNT(*) AS BIGINT) AS cl_size
         |       FROM ac GROUP BY cluster)
         |SELECT ac.doc_id, ac.cluster, sz.cl_size,
         |  LEAST(65536, 65536 // cl_size) AS weight_q,
         |  CAST('0x' || substr(md5(CAST(ac.doc_id AS VARCHAR)), 1, 4)
         |    AS BIGINT) < LEAST(65536, 65536 // cl_size) AS kept
         |FROM ac JOIN sz USING (cluster)""".stripMargin,

    "q_cluster_split" ->
      s"""WITH RECURSIVE ${sqlGrams("")},
         |pr AS (SELECT da, db FROM inter
         |       JOIN sizes sa ON sa.doc_id = da JOIN sizes sb ON sb.doc_id = db
         |       WHERE CAST(i AS DOUBLE) / (sa.sz + sb.sz - i) >= 0.8),
         |edges AS (SELECT da AS s, db AS d FROM pr
         |          UNION SELECT db, da FROM pr),
         |reach(s, d) AS (SELECT s, d FROM edges
         |                UNION SELECT r.s, e.d FROM reach r JOIN edges e ON r.d = e.s),
         |cl AS (SELECT s AS doc_id, LEAST(s, MIN(d)) AS cluster
         |       FROM reach GROUP BY s),
         |rep AS (SELECT d.doc_id, COALESCE(cl.cluster, d.doc_id) AS rep
         |        FROM documents d LEFT JOIN cl USING (doc_id))
         |SELECT doc_id, rep,
         |  CASE WHEN substring(md5(CAST(rep AS VARCHAR)), 1, 4) < 'cccd'
         |       THEN 'train'
         |       WHEN substring(md5(CAST(rep AS VARCHAR)), 1, 4) < 'e666'
         |       THEN 'val' ELSE 'test' END AS split
         |FROM rep""".stripMargin,

    // the multimodal split: same closure + cut rule, edge list
    // unioned across the text Jaccard pairs and the three perceptual
    // pair formulas (base-only, modality-restricted — the media
    // card's graph)
    "q_split_multimodal" ->
      s"""WITH RECURSIVE ${sqlGrams("")},
         |tpr AS (SELECT da, db FROM inter
         |       JOIN sizes sa ON sa.doc_id = da JOIN sizes sb ON sb.doc_id = db
         |       WHERE CAST(i AS DOUBLE) / (sa.sz + sb.sz - i) >= 0.8),
         |im3 AS (SELECT doc_id, CAST(doc_id % 29 + 4 AS INTEGER) AS iw,
         |    CAST(doc_id % 17 + 4 AS INTEGER) AS ih FROM documents
         |  WHERE doc_id % 3 = 0),
         |isx AS (SELECT doc_id, gi.i * 8 + gj.i AS p,
         |    (doc_id * 31 + ((gi.i * iw) // 8) * 7
         |     + ((gj.i * ih) // 8) * 13) % 256 AS px
         |  FROM im3, UNNEST(range(0, 8)) AS gi(i), UNNEST(range(0, 8)) AS gj(i)),
         |itot AS (SELECT doc_id, SUM(px) AS total FROM isx GROUP BY doc_id),
         |iph AS (SELECT isx.doc_id,
         |    CAST(SUM(CASE
         |      WHEN isx.px * 64 > itot.total AND isx.p = 63
         |        THEN -9223372036854775808
         |      WHEN isx.px * 64 > itot.total
         |        THEN (1::BIGINT << CAST(isx.p AS INTEGER))
         |      ELSE 0 END) AS BIGINT) AS phash
         |  FROM isx JOIN itot USING (doc_id) GROUP BY isx.doc_id),
         |ipr AS (SELECT a.doc_id AS da, b.doc_id AS db
         |  FROM iph a JOIN iph b ON a.doc_id < b.doc_id
         |  WHERE bit_count(xor(a.phash, b.phash)) <= 3),
         |am AS (SELECT doc_id, text FROM documents WHERE doc_id % 3 = 1),
         |aw AS (SELECT doc_id, text,
         |    unnest(range(0, (length(text) // 2 - 4) // 2 + 1)) AS win_idx
         |  FROM am WHERE length(text) // 2 >= 4),
         |asv AS (SELECT doc_id, win_idx,
         |    list_transform(range(1, 5), i ->
         |      (ord(text[CAST(2 * (win_idx * 2 + i) - 1 AS INTEGER)])
         |       + 256 * ord(text[CAST(2 * (win_idx * 2 + i) AS INTEGER)]))
         |      - CASE WHEN ord(text[CAST(2 * (win_idx * 2 + i) AS INTEGER)]) >= 128
         |             THEN 65536 ELSE 0 END) AS vals
         |  FROM aw),
         |aen AS (SELECT doc_id, win_idx,
         |    CAST(list_sum(list_transform(vals, v -> v * v)) AS BIGINT) AS energy
         |  FROM asv),
         |ade AS (SELECT doc_id, win_idx, energy,
         |    lead(energy) OVER (PARTITION BY doc_id ORDER BY win_idx) AS nxt
         |  FROM aen),
         |afp AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bits,
         |    CAST(SUM(CASE WHEN nxt > energy
         |      THEN (1::BIGINT << CAST(win_idx AS INTEGER)) ELSE 0 END)
         |      AS BIGINT) AS fingerprint
         |  FROM ade WHERE nxt IS NOT NULL AND win_idx < 60 GROUP BY doc_id),
         |apr AS (SELECT a.doc_id AS da, b.doc_id AS db
         |  FROM afp a JOIN afp b ON a.doc_id < b.doc_id
         |  WHERE a.n_bits = 60 AND b.n_bits = 60
         |    AND bit_count(xor(a.fingerprint, b.fingerprint)) <= 3),
         |vv AS (SELECT doc_id, text AS s2 FROM documents WHERE doc_id % 3 = 2),
         |vfr AS (SELECT DISTINCT doc_id,
         |    md5(substr(s2, CAST(i * 32 + 1 AS INT), 32)) AS fh
         |  FROM vv, UNNEST(range(0, (len(s2) + 31) // 32)) AS t(i)),
         |vsz AS (SELECT doc_id, COUNT(*) AS nf FROM vfr GROUP BY doc_id),
         |vhot AS (SELECT fh FROM vfr GROUP BY fh HAVING COUNT(*) > 50),
         |vkept AS (SELECT * FROM vfr
         |  WHERE fh NOT IN (SELECT fh FROM vhot)),
         |vpr0 AS (SELECT a.doc_id AS da, b.doc_id AS db, COUNT(*) AS ns
         |  FROM vkept a JOIN vkept b ON a.fh = b.fh AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2),
         |vpr AS (SELECT da, db FROM vpr0
         |  JOIN vsz sa ON sa.doc_id = da JOIN vsz sb ON sb.doc_id = db
         |  WHERE ns >= 2 AND (ns * 1000000) // LEAST(sa.nf, sb.nf) >= 500000),
         |upr AS (SELECT da, db FROM tpr UNION SELECT da, db FROM ipr
         |  UNION SELECT da, db FROM apr UNION SELECT da, db FROM vpr),
         |edges AS (SELECT da AS s, db AS d FROM upr
         |          UNION SELECT db, da FROM upr),
         |reach(s, d) AS (SELECT s, d FROM edges
         |                UNION SELECT r.s, e.d FROM reach r JOIN edges e ON r.d = e.s),
         |cl AS (SELECT s AS doc_id, LEAST(s, MIN(d)) AS cluster
         |       FROM reach GROUP BY s),
         |rep AS (SELECT d.doc_id, COALESCE(cl.cluster, d.doc_id) AS rep
         |        FROM documents d LEFT JOIN cl USING (doc_id))
         |SELECT doc_id, rep,
         |  CASE WHEN substring(md5(CAST(rep AS VARCHAR)), 1, 4) < 'cccd'
         |       THEN 'train'
         |       WHEN substring(md5(CAST(rep AS VARCHAR)), 1, 4) < 'e666'
         |       THEN 'val' ELSE 'test' END AS split
         |FROM rep""".stripMargin,

    "q_lang_id" -> {
      s"""WITH s AS (SELECT doc_id, length(text) AS n,
         |  ${sqlScore("en")} AS score_en,
         |  ${sqlScore("es")} AS score_es,
         |  ${sqlScore("de")} AS score_de,
         |  ${sqlScore("fr")} AS score_fr,
         |  CAST(length(regexp_replace(text, '[^\\p{Han}]', '', 'g')) AS BIGINT) AS han_chars
         |FROM documents)
         |SELECT doc_id, score_en, score_es, score_de, score_fr, han_chars,
         |  CASE WHEN han_chars * 5 > n THEN 'zh'
         |       WHEN score_en + score_es + score_de + score_fr = 0 THEN 'und'
         |       WHEN score_en >= score_es AND score_en >= score_de AND score_en >= score_fr THEN 'en'
         |       WHEN score_es >= score_de AND score_es >= score_fr THEN 'es'
         |       WHEN score_de >= score_fr THEN 'de'
         |       ELSE 'fr' END AS pred_lang
         |FROM s""".stripMargin
    },

    "q_lang_balanced_mix" -> {
      s"""WITH sc AS (SELECT doc_id, length(text) AS n,
         |  ${sqlScore("en")} AS score_en,
         |  ${sqlScore("es")} AS score_es,
         |  ${sqlScore("de")} AS score_de,
         |  ${sqlScore("fr")} AS score_fr,
         |  CAST(length(regexp_replace(text, '[^\\p{Han}]', '', 'g')) AS BIGINT)
         |    AS han_chars,
         |  CAST(len($SQL_TOKS) AS BIGINT) AS n_tok
         |FROM documents),
         |d AS (SELECT doc_id, n_tok,
         |  CASE WHEN han_chars * 5 > n THEN 'zh'
         |       WHEN score_en + score_es + score_de + score_fr = 0 THEN 'und'
         |       WHEN score_en >= score_es AND score_en >= score_de
         |            AND score_en >= score_fr THEN 'en'
         |       WHEN score_es >= score_de AND score_es >= score_fr THEN 'es'
         |       WHEN score_de >= score_fr THEN 'de'
         |       ELSE 'fr' END AS pred_lang
         |  FROM sc),
         |st AS (SELECT pred_lang, CAST(SUM(n_tok) AS BIGINT) AS n_tokens
         |  FROM d GROUP BY pred_lang),
         |w AS (SELECT pred_lang, n_tokens,
         |    CAST(FLOOR(SQRT(CAST(n_tokens AS DOUBLE))) AS BIGINT) AS w_q
         |  FROM st),
         |cu AS (SELECT pred_lang, n_tokens,
         |    CAST((5000 * w_q) // (SELECT SUM(w_q) FROM w) AS BIGINT)
         |      AS target_tokens
         |  FROM w),
         |cu2 AS (SELECT pred_lang, CASE WHEN n_tokens = 0 THEN 65536
         |    ELSE LEAST(65536, (target_tokens * 65536) // n_tokens) END AS cut_q
         |  FROM cu)
         |SELECT d.doc_id, d.pred_lang, d.n_tok,
         |  CAST(cu2.cut_q AS BIGINT) AS cut_q
         |FROM d JOIN cu2 USING (pred_lang)
         |WHERE CAST(('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 4))
         |        AS BIGINT) < cu2.cut_q""".stripMargin
    },

    "q_fertility_mix" ->
      s"""WITH d AS (SELECT doc_id, lang,
         |    CAST(len($SQL_TOKS) AS BIGINT) AS n_ws,
         |    (CAST(len($SQL_TOKS) AS BIGINT) *
         |      CASE lang WHEN 'de' THEN 201 WHEN 'en' THEN 200
         |        WHEN 'es' THEN 200 WHEN 'fr' THEN 201 WHEN 'zh' THEN 200
         |        ELSE 100 END) // 100 AS n_tok
         |  FROM documents),
         |st AS (SELECT lang, CAST(SUM(n_tok) AS BIGINT) AS n_tokens
         |  FROM d GROUP BY lang),
         |w AS (SELECT lang, n_tokens,
         |    CAST(FLOOR(SQRT(CAST(n_tokens AS DOUBLE))) AS BIGINT) AS w_q
         |  FROM st),
         |cu AS (SELECT lang, n_tokens,
         |    CAST((10000 * w_q) // (SELECT SUM(w_q) FROM w) AS BIGINT)
         |      AS target_tokens
         |  FROM w),
         |cu2 AS (SELECT lang, CASE WHEN n_tokens = 0 THEN 65536
         |    ELSE LEAST(65536, (target_tokens * 65536) // n_tokens)
         |    END AS cut_q
         |  FROM cu)
         |SELECT d.doc_id, d.lang, d.n_ws, CAST(d.n_tok AS BIGINT) AS n_tok,
         |  CAST(cu2.cut_q AS BIGINT) AS cut_q
         |FROM d JOIN cu2 USING (lang)
         |WHERE CAST(('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 4))
         |        AS BIGINT) < cu2.cut_q""".stripMargin,

    "q_quality_score" -> {
      val enWords = TextAnalysis.stopwords("en").map(w => s"'$w'").mkString(", ")
      s"""WITH m AS (SELECT doc_id,
         |  CAST(len(list_filter(string_split_regex(text, '\\s+'), x -> x <> '')) AS BIGINT) AS n_tokens,
         |  CAST(length(text) AS BIGINT) AS char_len,
         |  CAST(length(regexp_replace(text, '[^\\p{L}]', '', 'g')) AS DOUBLE)
         |    / CAST(length(text) AS DOUBLE) AS letter_ratio,
         |  CAST(len(list_filter(string_split_regex(lower(text), '[^\\p{L}]+'), x -> x IN ($enWords))) AS DOUBLE)
         |    / CAST(len(list_filter(string_split_regex(text, '\\s+'), x -> x <> '')) AS DOUBLE) AS stop_ratio
         |FROM documents)
         |SELECT doc_id, n_tokens, char_len, letter_ratio, stop_ratio,
         |  CASE WHEN n_tokens >= 5 AND letter_ratio >= 0.5 THEN 'keep' ELSE 'drop' END AS verdict
         |FROM m""".stripMargin
    },

    "q_bpe_tokens" ->
      """SELECT CAST(COUNT(*) AS BIGINT) AS n_docs, TRUE AS bounds_ok,
        |  TRUE AS merges_applied
        |FROM documents""".stripMargin,

    // exact language rollup + word sums; the BPE bound rides as TRUE
    // (cf. q_bpe_tokens — the encode is not SQL-replayable)
    "q_tokenizer_fertility" ->
      s"""WITH sc AS (SELECT doc_id, length(text) AS n,
         |    ${sqlScore("en")} AS score_en,
         |    ${sqlScore("es")} AS score_es,
         |    ${sqlScore("de")} AS score_de,
         |    ${sqlScore("fr")} AS score_fr,
         |    CAST(length(regexp_replace(text, '[^\\p{Han}]', '', 'g')) AS BIGINT)
         |      AS han_chars
         |  FROM documents),
         |lg AS (SELECT sc.doc_id,
         |    CASE WHEN han_chars * 5 > n THEN 'zh'
         |         WHEN score_en + score_es + score_de + score_fr = 0 THEN 'und'
         |         WHEN score_en >= score_es AND score_en >= score_de
         |           AND score_en >= score_fr THEN 'en'
         |         WHEN score_es >= score_de AND score_es >= score_fr THEN 'es'
         |         WHEN score_de >= score_fr THEN 'de'
         |         ELSE 'fr' END AS pred_lang
         |  FROM sc),
         |w AS (SELECT doc_id,
         |    CAST(len(list_filter(string_split_regex(text, '\\s+'),
         |      x -> x <> '')) AS BIGINT) AS ws
         |  FROM documents)
         |SELECT lg.pred_lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |  CAST(SUM(w.ws) AS BIGINT) AS n_ws_tokens, TRUE AS fert_ok
         |FROM lg JOIN w USING (doc_id)
         |GROUP BY 1""".stripMargin,

    "q_token_count" ->
      """SELECT doc_id,
        |  CAST(len(list_filter(string_split_regex(text, '\s+'), x -> x <> '')) AS BIGINT) AS ws_tokens,
        |  CAST(len(list_filter(string_split_regex(text, '[^A-Za-z0-9]+'), x -> x <> '')) AS BIGINT) AS alnum_tokens,
        |  CAST(length(text) AS BIGINT) AS char_len
        |FROM documents""".stripMargin,

    "q_top_terms" ->
      s"""WITH tf AS (SELECT doc_id, w AS term, COUNT(*) AS tf FROM (
         |    SELECT doc_id, unnest($SQL_TOKS) AS w FROM documents)
         |  GROUP BY doc_id, w)
         |SELECT doc_id, term, tf, CAST(rk AS BIGINT) AS rk FROM (
         |  SELECT doc_id, term, tf,
         |    row_number() OVER (PARTITION BY doc_id
         |      ORDER BY tf DESC, term ASC) AS rk
         |  FROM tf)
         |WHERE rk <= 3""".stripMargin,

    "q_regex_extract" ->
      """SELECT doc_id,
        |  regexp_extract(text, '[A-Z][a-z]+') AS first_cap,
        |  CAST(len(regexp_extract_all(text, 'the')) AS BIGINT) AS n_the
        |FROM documents""".stripMargin,

    "q_fingerprint" ->
      """SELECT doc_id,
        |  substring(md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))), 1, 16) AS fp
        |FROM documents""".stripMargin,

    "q_curation" ->
      s"""WITH RECURSIVE ${sqlGrams("")},
         |pr AS (SELECT da, db FROM inter
         |       JOIN sizes sa ON sa.doc_id = da JOIN sizes sb ON sb.doc_id = db
         |       WHERE CAST(i AS DOUBLE) / (sa.sz + sb.sz - i) >= 0.8),
         |edges AS (SELECT da AS s, db AS d FROM pr
         |          UNION SELECT db, da FROM pr),
         |reach(s, d) AS (SELECT s, d FROM edges
         |                UNION SELECT r.s, e.d FROM reach r JOIN edges e ON r.d = e.s),
         |drop_nd AS (SELECT s AS doc_id FROM reach GROUP BY s
         |            HAVING LEAST(s, MIN(d)) <> s),
         |qual AS (SELECT doc_id FROM documents
         |  WHERE len(list_filter(string_split_regex(text, '\\s+'), x -> x <> '')) >= 5
         |    AND CAST(length(regexp_replace(text, '[^\\p{L}]', '', 'g')) AS DOUBLE)
         |        / CAST(length(text) AS DOUBLE) >= 0.5),
         |lng AS (SELECT doc_id FROM (
         |    SELECT doc_id, length(text) AS n,
         |      ${sqlScore("en")} AS s_en, ${sqlScore("es")} AS s_es,
         |      ${sqlScore("de")} AS s_de, ${sqlScore("fr")} AS s_fr,
         |      CAST(length(regexp_replace(text, '[^\\p{Han}]', '', 'g')) AS BIGINT) AS han
         |    FROM documents) x
         |  WHERE NOT (han * 5 > n) AND s_en + s_es + s_de + s_fr > 0
         |    AND s_en >= s_es AND s_en >= s_de AND s_en >= s_fr),
         |ex AS (SELECT MIN(doc_id) AS doc_id FROM documents GROUP BY md5(text))
         |SELECT d.doc_id FROM documents d
         |JOIN qual USING (doc_id)
         |JOIN lng USING (doc_id)
         |JOIN ex USING (doc_id)
         |WHERE d.doc_id NOT IN (SELECT doc_id FROM drop_nd)
         |  AND substring(md5(CAST(d.doc_id AS VARCHAR)), 1, 4) < '8000'""".stripMargin,

    "q_doc_sketch" ->
      s"""WITH toks AS (SELECT doc_id, $SQL_TOKS AS ws FROM documents),
         |grams AS (SELECT DISTINCT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS g
         |          FROM toks, UNNEST(range(1, len(ws) - 1)) AS t(i)),
         |h AS (SELECT doc_id, md5(g) AS fp_hash FROM grams),
         |r AS (SELECT doc_id, fp_hash,
         |        row_number() OVER (PARTITION BY doc_id ORDER BY fp_hash) AS rk
         |      FROM h)
         |SELECT doc_id, rk, fp_hash FROM r WHERE rk <= 8""".stripMargin,

    "q_tfidf" ->
      s"""WITH toks AS (SELECT doc_id, unnest($SQL_TOKS) AS term FROM documents),
         |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
         |df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
         |n AS (SELECT COUNT(DISTINCT doc_id) AS n_docs FROM documents),
         |s AS (SELECT tf.doc_id, tf.term, tf.tf, df.df,
         |        tf.tf * ((n.n_docs * 1000000) // df.df) AS score
         |      FROM tf JOIN df USING (term) CROSS JOIN n)
         |SELECT doc_id, term, CAST(tf AS BIGINT) AS tf, CAST(df AS BIGINT) AS df,
         |  CAST(score AS BIGINT) AS score,
         |  CAST(row_number() OVER (PARTITION BY doc_id
         |    ORDER BY score DESC, term) AS BIGINT) AS rk
         |FROM s QUALIFY rk <= 3""".stripMargin,

    "q_repetition" ->
      s"""WITH toks AS (SELECT doc_id, $SQL_TOKS AS ws FROM documents),
         |g AS (SELECT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS g
         |      FROM toks, UNNEST(range(1, len(ws) - 1)) AS t(i)),
         |c AS (SELECT doc_id, g, COUNT(*) AS cnt FROM g GROUP BY 1, 2)
         |SELECT doc_id, CAST(SUM(cnt) AS BIGINT) AS n_grams,
         |  COUNT(*) AS n_distinct, CAST(MAX(cnt) AS BIGINT) AS max_cnt,
         |  CAST(MAX(cnt) AS DOUBLE) / CAST(SUM(cnt) AS DOUBLE) AS rep_ratio
         |FROM c GROUP BY doc_id""".stripMargin,

    "q_gram_novelty" ->
      s"""WITH toks AS (SELECT doc_id, $SQL_TOKS AS ws FROM documents),
         |g AS (SELECT DISTINCT doc_id,
         |      ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS g
         |      FROM toks, UNNEST(range(1, len(ws) - 1)) AS t(i)),
         |f AS (SELECT g, MIN(doc_id) AS first_doc FROM g GROUP BY g)
         |SELECT g.doc_id, COUNT(*) AS n_distinct_grams,
         |  CAST(SUM(CASE WHEN f.first_doc = g.doc_id THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_novel,
         |  CAST(SUM(CASE WHEN f.first_doc = g.doc_id THEN 1 ELSE 0 END)
         |    AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS novelty
         |FROM g JOIN f USING (g) GROUP BY g.doc_id""".stripMargin,

    "q_memorization_risk" -> sqlMemorization,

    // read-time equivalence IS the incremental contract (cf.
    // q_card_incremental/sqlCard): the stored-partials read must land
    // on exactly the batch operator's answer over the union corpus
    "q_memorization_incremental" -> sqlMemorization,

    // Full CMS replay: salted hash48 buckets, cell counts, MIN-of-rows
    // estimates for the shared probe set, exact counts alongside.
    "q_cms_counts" ->
      s"""WITH toks AS (SELECT doc_id, $SQL_TOKS AS ws FROM documents),
         |occ AS (SELECT ws[i] AS term
         |        FROM toks, UNNEST(range(1, len(ws) + 1)) AS t(i)),
         |cells AS (SELECT r,
         |    CAST('0x' || substr(md5(r || ':' || term), 1, 12) AS BIGINT)
         |      % 512 AS b,
         |    COUNT(*) AS cnt
         |  FROM occ CROSS JOIN UNNEST(range(0, 4)) AS d(r) GROUP BY 1, 2),
         |probes(term) AS (VALUES ${cmsProbeSet.map(w => s"('$w')").mkString(", ")}),
         |est AS (SELECT p.term, MIN(COALESCE(c.cnt, 0)) AS est_cnt
         |  FROM probes p CROSS JOIN UNNEST(range(0, 4)) AS d(r)
         |  LEFT JOIN cells c ON c.r = d.r
         |    AND c.b = CAST('0x' || substr(md5(d.r || ':' || p.term), 1, 12)
         |          AS BIGINT) % 512
         |  GROUP BY 1),
         |tru AS (SELECT term, COUNT(*) AS c FROM occ
         |  WHERE term IN (${cmsProbeSet.map(w => s"'$w'").mkString(", ")})
         |  GROUP BY 1)
         |SELECT e.term, CAST(e.est_cnt AS BIGINT) AS est_cnt,
         |  CAST(COALESCE(t2.c, 0) AS BIGINT) AS true_cnt,
         |  CAST(((e.est_cnt - COALESCE(t2.c, 0)) * 1000000)
         |    // GREATEST(COALESCE(t2.c, 0), 1) AS BIGINT) AS over_ppm
         |FROM est e LEFT JOIN tru t2 USING (term)""".stripMargin,

    // Stored-index heavy hitters: summed batch cell partials equal the
    // union sketch exactly (counts are additive and a term's buckets
    // are fixed), so the oracle prices the per-batch top-24 candidate
    // union against the GLOBAL cell table.
    "q_cms_heavy_indexed" ->
      s"""WITH toks AS (SELECT doc_id, $SQL_TOKS AS ws FROM documents),
         |occ AS (SELECT doc_id % 3 AS b3, ws[i] AS term
         |        FROM toks, UNNEST(range(1, len(ws) + 1)) AS t(i)),
         |cells AS (SELECT r,
         |    CAST('0x' || substr(md5(r || ':' || term), 1, 12) AS BIGINT)
         |      % 256 AS b,
         |    COUNT(*) AS cnt
         |  FROM occ CROSS JOIN UNNEST(range(0, 4)) AS d(r) GROUP BY 1, 2),
         |bc AS (SELECT b3, term, COUNT(*) AS cnt FROM occ GROUP BY 1, 2),
         |cand AS (SELECT DISTINCT term FROM (
         |    SELECT term, ROW_NUMBER() OVER (PARTITION BY b3
         |      ORDER BY cnt DESC, term) AS rn FROM bc) WHERE rn <= 24),
         |est AS (SELECT p.term, MIN(COALESCE(c.cnt, 0)) AS est_cnt
         |  FROM cand p CROSS JOIN UNNEST(range(0, 4)) AS d(r)
         |  LEFT JOIN cells c ON c.r = d.r
         |    AND c.b = CAST('0x' || substr(md5(d.r || ':' || p.term), 1, 12)
         |          AS BIGINT) % 256
         |  GROUP BY 1)
         |SELECT term, CAST(est_cnt AS BIGINT) AS est_cnt
         |FROM est ORDER BY est_cnt DESC, term LIMIT 10""".stripMargin,

    // Full replay of the integer DSIR selector: hashed-bigram buckets,
    // Laplace-smoothed fixed-point target/raw ratios, summed per doc,
    // top-60 by (score DESC, id ASC). Shared verbatim by the stored-
    // profile form and the SQL-text twin — their bit-identity to the
    // ad-hoc selector IS the contract.
    "q_dsir_select" -> sqlDsir,
    "q_dsir_indexed" -> sqlDsir,
    "q_sql_dsir" -> sqlDsir,
    "q_dsir_external" -> sqlDsirExternal,

    // The composed targeted release: DSIR top-100 CTEs, winnowing
    // restricted to the selection (guard over the selected subset),
    // larger pair side dropped, md5 shard layout of the survivors.
    "q_corpus_targeted" ->
      s"""WITH toks AS (SELECT doc_id, lang, $SQL_TOKS AS ws FROM documents),
         |g2 AS (SELECT doc_id, lang, ws[i] || ' ' || ws[i+1] AS g
         |      FROM toks, UNNEST(range(1, len(ws))) AS t(i)),
         |gb AS (SELECT doc_id, lang,
         |    CAST('0x' || substr(md5(g), 1, 12) AS BIGINT) % $dsirBuckets AS b
         |  FROM g2),
         |wt AS (SELECT b,
         |    ((SUM(CASE WHEN lang = '$dsirTargetLang' THEN 1 ELSE 0 END) + 1) * 1000000)
         |      // (COUNT(*) + 1) AS wt_ppm FROM gb GROUP BY b),
         |sc AS (SELECT doc_id, SUM(wt_ppm) AS score
         |  FROM gb JOIN wt USING (b) GROUP BY 1),
         |sel AS (SELECT doc_id, CAST(score AS BIGINT) AS score FROM sc
         |  ORDER BY score DESC, doc_id LIMIT 100),
         |g5 AS (SELECT t.doc_id, i,
         |    CAST('0x' || substr(md5(ws[i] || ' ' || ws[i+1] || ' ' ||
         |      ws[i+2] || ' ' || ws[i+3] || ' ' || ws[i+4]), 1, 12)
         |      AS BIGINT) AS h
         |  FROM toks t JOIN sel USING (doc_id),
         |    UNNEST(range(1, len(ws) - 3)) AS u(i)),
         |wm AS (SELECT doc_id,
         |    MIN(h) OVER (PARTITION BY doc_id ORDER BY i
         |      ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp,
         |    COUNT(*) OVER (PARTITION BY doc_id ORDER BY i
         |      ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS c
         |  FROM g5),
         |fps AS (SELECT DISTINCT doc_id, fp FROM wm WHERE c = 4),
         |kfp AS (SELECT doc_id, fp FROM fps WHERE fp NOT IN (
         |  SELECT fp FROM fps GROUP BY fp HAVING COUNT(*) > 50)),
         |pr AS (SELECT a.doc_id AS da, b.doc_id AS db FROM kfp a
         |  JOIN kfp b ON a.fp = b.fp AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2 HAVING COUNT(*) >= 2),
         |dropd AS (SELECT DISTINCT db AS doc_id FROM pr),
         |fin AS (SELECT s.doc_id, s.score FROM sel s
         |  WHERE s.doc_id NOT IN (SELECT doc_id FROM dropd)),
         |lay AS (SELECT f.doc_id, f.score,
         |    CAST('0x' || substr(md5(CAST(f.doc_id AS VARCHAR)), 1, 12)
         |      AS BIGINT) % 4 AS shard,
         |    md5('1:' || CAST(f.doc_id AS VARCHAR)) AS oh,
         |    CAST(len(t.ws) AS BIGINT) AS n_tokens
         |  FROM fin f JOIN toks t USING (doc_id))
         |SELECT doc_id, score, shard,
         |  CAST(row_number() OVER (PARTITION BY shard ORDER BY oh, doc_id)
         |    AS BIGINT) AS pos, n_tokens
         |FROM lay""".stripMargin,

    // Full winnowing replay: word 5-gram hash48, per-doc 4-row window
    // minima (full windows only), distinct fingerprints, maxDf=50
    // boilerplate guard, pair join with n_shared >= 2.
    "q_winnow_pairs" ->
      s"""WITH toks AS (SELECT doc_id, $SQL_TOKS AS ws FROM documents),
         |g AS (SELECT doc_id, i,
         |    CAST('0x' || substr(md5(ws[i] || ' ' || ws[i+1] || ' ' ||
         |      ws[i+2] || ' ' || ws[i+3] || ' ' || ws[i+4]), 1, 12)
         |      AS BIGINT) AS h
         |  FROM toks, UNNEST(range(1, len(ws) - 3)) AS t(i)),
         |wm AS (SELECT doc_id,
         |    MIN(h) OVER (PARTITION BY doc_id ORDER BY i
         |      ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp,
         |    COUNT(*) OVER (PARTITION BY doc_id ORDER BY i
         |      ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS c
         |  FROM g),
         |fps AS (SELECT DISTINCT doc_id, fp FROM wm WHERE c = 4),
         |kept AS (SELECT doc_id, fp FROM fps WHERE fp NOT IN (
         |  SELECT fp FROM fps GROUP BY fp HAVING COUNT(*) > 50))
         |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |  CAST(COUNT(*) AS BIGINT) AS n_shared
         |FROM kept a JOIN kept b ON a.fp = b.fp AND a.doc_id < b.doc_id
         |GROUP BY 1, 2 HAVING COUNT(*) >= 2""".stripMargin,

    // The incremental contract: full-corpus winnowing (identical CTEs)
    // restricted to pairs with a batch (doc_id % 5 = 0) side.
    "q_winnow_incremental" ->
      s"""WITH toks AS (SELECT doc_id, $SQL_TOKS AS ws FROM documents),
         |g AS (SELECT doc_id, i,
         |    CAST('0x' || substr(md5(ws[i] || ' ' || ws[i+1] || ' ' ||
         |      ws[i+2] || ' ' || ws[i+3] || ' ' || ws[i+4]), 1, 12)
         |      AS BIGINT) AS h
         |  FROM toks, UNNEST(range(1, len(ws) - 3)) AS t(i)),
         |wm AS (SELECT doc_id,
         |    MIN(h) OVER (PARTITION BY doc_id ORDER BY i
         |      ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp,
         |    COUNT(*) OVER (PARTITION BY doc_id ORDER BY i
         |      ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS c
         |  FROM g),
         |fps AS (SELECT DISTINCT doc_id, fp FROM wm WHERE c = 4),
         |kept AS (SELECT doc_id, fp FROM fps WHERE fp NOT IN (
         |  SELECT fp FROM fps GROUP BY fp HAVING COUNT(*) > 50))
         |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |  CAST(COUNT(*) AS BIGINT) AS n_shared
         |FROM kept a JOIN kept b ON a.fp = b.fp AND a.doc_id < b.doc_id
         |WHERE a.doc_id % 5 = 0 OR b.doc_id % 5 = 0
         |GROUP BY 1, 2 HAVING COUNT(*) >= 2""".stripMargin,

    "q_domain_cap" ->
      """SELECT doc_id, source, pick_rank FROM (
        |  SELECT doc_id, source,
        |    CAST(row_number() OVER (PARTITION BY source
        |      ORDER BY CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 12)
        |                 AS BIGINT),
        |        doc_id) AS BIGINT) AS pick_rank
        |  FROM documents)
        |WHERE pick_rank <= 10""".stripMargin,

    // epoch 1 of 3: key = difficulty·(3−1−1) + h16(1:id)·1 with the
    // same hash48 membership as q_training_shards
    "q_curriculum_shards" ->
      s"""WITH a AS (SELECT doc_id,
         |    CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 12)
         |      AS BIGINT) % 8 AS shard,
         |    LEAST(65535, CAST(len($SQL_TOKS) AS BIGINT)) * 1
         |      + CAST('0x' || substr(md5('1:' || CAST(doc_id AS VARCHAR)),
         |          1, 4) AS BIGINT) * 1 AS k,
         |    CAST(len($SQL_TOKS) AS BIGINT) AS n_tokens
         |  FROM documents)
         |SELECT doc_id, shard,
         |  CAST(row_number() OVER (PARTITION BY shard ORDER BY k, doc_id)
         |    AS BIGINT) AS pos,
         |  n_tokens, CAST(k AS BIGINT) AS order_q
         |FROM a""".stripMargin,

    // full integer replay: per-token md5-16 sums, the per-source
    // (source, avg_q) histogram, cumulative-above window, target and
    // boundary-bucket md5 cut — all non-negative, so DuckDB // ==
    // Spark DIV
    "q_quality_calibrated" ->
      s"""WITH sc AS (SELECT doc_id, source,
         |    CAST(len($SQL_TOKS) AS BIGINT) AS n,
         |    CAST(COALESCE(list_sum(list_transform($SQL_TOKS,
         |      x -> CAST('0x' || substr(md5(x), 1, 4) AS BIGINT))), 0)
         |      AS BIGINT) AS s
         |  FROM documents),
         |sq AS (SELECT doc_id, source, s // n AS avg_q FROM sc WHERE n > 0),
         |hist AS (SELECT source, avg_q, CAST(COUNT(*) AS BIGINT) AS c
         |  FROM sq GROUP BY 1, 2),
         |cum AS (SELECT source, avg_q, c,
         |    CAST(COALESCE(SUM(c) OVER (PARTITION BY source
         |      ORDER BY avg_q DESC
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |      AS BIGINT) AS above,
         |    CAST(SUM(c) OVER (PARTITION BY source) AS BIGINT) AS tot
         |  FROM hist),
         |t2 AS (SELECT source, avg_q, c, above,
         |    (tot * 26214) // 65536 AS target FROM cum)
         |SELECT sq.doc_id, sq.source, sq.avg_q,
         |  CASE WHEN above + c <= target THEN TRUE
         |       WHEN above < target THEN
         |         CAST('0x' || substr(md5(CAST(sq.doc_id AS VARCHAR)), 1, 4)
         |           AS BIGINT) < ((target - above) * 65536) // c
         |       ELSE FALSE END AS kept
         |FROM sq JOIN t2 USING (source, avg_q)""".stripMargin,

    // the histogram/threshold arithmetic of q_quality_calibrated
    // rolled up to the per-source decision table (keepQ = 13107); the
    // boundary bucket is the one containing the target position, -1/0
    // when the whole source keeps
    "q_calibration_thresholds" ->
      s"""WITH sc AS (SELECT doc_id, source,
         |    CAST(len($SQL_TOKS) AS BIGINT) AS n,
         |    CAST(COALESCE(list_sum(list_transform($SQL_TOKS,
         |      x -> CAST('0x' || substr(md5(x), 1, 4) AS BIGINT))), 0)
         |      AS BIGINT) AS s
         |  FROM documents),
         |sq AS (SELECT doc_id, source, s // n AS avg_q FROM sc WHERE n > 0),
         |hist AS (SELECT source, avg_q, CAST(COUNT(*) AS BIGINT) AS c
         |  FROM sq GROUP BY 1, 2),
         |cum AS (SELECT source, avg_q, c,
         |    CAST(COALESCE(SUM(c) OVER (PARTITION BY source
         |      ORDER BY avg_q DESC
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |      AS BIGINT) AS above,
         |    CAST(SUM(c) OVER (PARTITION BY source) AS BIGINT) AS tot
         |  FROM hist),
         |t2 AS (SELECT source, avg_q, c, above, tot,
         |    (tot * 13107) // 65536 AS target FROM cum),
         |b AS (SELECT source, avg_q AS thr_q,
         |    ((target - above) * 65536) // c AS cut_q
         |  FROM t2 WHERE above <= target AND target < above + c),
         |s2 AS (SELECT DISTINCT source, tot, target FROM t2)
         |SELECT s2.source, s2.tot, s2.target,
         |  COALESCE(b.thr_q, -1) AS thr_q, COALESCE(b.cut_q, 0) AS cut_q
         |FROM s2 LEFT JOIN b USING (source)""".stripMargin,

    "q_training_shards" ->
      s"""WITH a AS (SELECT doc_id,
         |    CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 12)
         |      AS BIGINT) % 8 AS shard,
         |    md5('1:' || CAST(doc_id AS VARCHAR)) AS oh,
         |    CAST(len($SQL_TOKS) AS BIGINT) AS n_tokens
         |  FROM documents)
         |SELECT doc_id, shard,
         |  CAST(row_number() OVER (PARTITION BY shard ORDER BY oh, doc_id)
         |    AS BIGINT) AS pos,
         |  n_tokens
         |FROM a""".stripMargin,

    "q_shard_manifest" ->
      s"""WITH a AS (SELECT doc_id,
         |    CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 12)
         |      AS BIGINT) AS h48,
         |    CAST(len($SQL_TOKS) AS BIGINT) AS n_tokens
         |  FROM documents)
         |SELECT h48 % 8 AS shard, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |  CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
         |  CAST(SUM(h48 % 1000003) AS BIGINT) AS id_checksum
         |FROM a GROUP BY 1""".stripMargin,

    "q_bm25" -> sqlBm25,
    "q_bm25_indexed" -> sqlBm25,
    "q_sql_bm25" -> sqlBm25,
    // RANK-level oracle: DuckDB replays the Lucene log-idf scorer and
    // the hash compares (query_id, doc_id, rk) ONLY — scores are float
    // and ln is not bit-stable cross-engine, but the ranking agrees
    // because adjacent per-query scores on this corpus are separated
    // by >> ulp (margin asserted in RetrievalSpec at sf0.01).
    "q_bm25_log" -> {
      val qcte = "VALUES " + bm25QuerySet
        .map { case (id, q) => s"(CAST($id AS BIGINT), '$q')" }
        .mkString(", ")
      s"""WITH q(query_id, qtext) AS ($qcte),
         |qt AS (SELECT DISTINCT query_id,
         |    unnest(list_filter(string_split_regex(qtext, '[^\\p{L}]+'),
         |      x -> x <> '')) AS term
         |  FROM q),
         |d AS (SELECT doc_id, ws, CAST(len(ws) AS BIGINT) AS dl FROM
         |    (SELECT doc_id, $SQL_TOKS AS ws FROM documents)
         |  WHERE len(ws) >= 1),
         |tf AS (SELECT doc_id, dl, w AS term, CAST(COUNT(*) AS BIGINT) AS tf
         |  FROM (SELECT doc_id, dl, unnest(ws) AS w FROM d)
         |  GROUP BY doc_id, dl, w),
         |dfq AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df
         |  FROM tf GROUP BY term),
         |st AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
         |    CAST(SUM(dl) AS BIGINT) AS total FROM d),
         |sc AS (SELECT qt.query_id, tf.doc_id,
         |    SUM( ln(1.0 + (CAST(st.n_docs AS DOUBLE) - df + 0.5) / (df + 0.5))
         |       * ((tf * (1.2 + 1.0)) / (tf + 1.2 * (0.25 + (0.75 * dl) /
         |           (CAST(st.total AS DOUBLE) / CAST(st.n_docs AS DOUBLE))))) )
         |      AS score
         |  FROM tf JOIN qt USING (term) JOIN dfq USING (term), st
         |  GROUP BY 1, 2)
         |SELECT query_id, doc_id, CAST(rk AS BIGINT) AS rk FROM (
         |  SELECT query_id, doc_id,
         |    row_number() OVER (PARTITION BY query_id
         |      ORDER BY score DESC, doc_id ASC) AS rk
         |  FROM sc)
         |WHERE rk <= 10""".stripMargin
    },

    "q_hybrid_retrieval" -> sqlHybrid,
    // the SQL-text twin is bit-identical to the Scala composition
    "q_sql_hybrid" -> sqlHybrid,

    // the indexed composition's oracle: same BM25 CTE (the stored
    // postings are spec-pinned bit-identical to the ad-hoc scorer),
    // dense side replayed through the int8 QUANTIZATION (per-vector
    // max-abs floor(x*127/mx), integer dots, one correctly-rounded
    // division+sqrt — cf. q_ann_recall_int8's full oracle), RRF exact
    "q_hybrid_retrieval_indexed" -> sqlHybridIndexed,
    // the SQL-text twin reads the same stored indexes and must be
    // bit-identical to the Scala composition (RetrievalSpec pins it)
    "q_sql_hybrid_indexed" -> sqlHybridIndexed,

    // side A = the stored postings' term counts, re-derived from the
    // corpus (docs with >= 1 token; tf sums == corpus occurrence
    // counts) — an index whose counts diverge fails the hash too
    "q_bm25_drift" ->
      s"""WITH ta AS (SELECT unnest($SQL_TOKS) AS term FROM documents),
         |tb AS (SELECT unnest($SQL_TOKS) AS term FROM documents
         |  WHERE doc_id % 20 = 0),
         |ca AS (SELECT term, COUNT(*) AS c_a FROM ta GROUP BY term),
         |cb AS (SELECT term, COUNT(*) AS c_b FROM tb GROUP BY term),
         |na AS (SELECT SUM(c_a) AS n_a FROM ca),
         |nb AS (SELECT SUM(c_b) AS n_b FROM cb),
         |j AS (SELECT COALESCE(ca.term, cb.term) AS term,
         |    COALESCE(c_a, 0) AS c_a, COALESCE(c_b, 0) AS c_b
         |  FROM ca FULL OUTER JOIN cb ON ca.term = cb.term
         |  WHERE COALESCE(c_a, 0) >= 5 OR COALESCE(c_b, 0) >= 5)
         |SELECT term, CAST(c_a AS BIGINT) AS c_a, CAST(c_b AS BIGINT) AS c_b,
         |  CAST((c_a * 1000000) // n_a AS BIGINT) AS rate_a_ppm,
         |  CAST((c_b * 1000000) // n_b AS BIGINT) AS rate_b_ppm,
         |  CAST(ABS((c_a * 1000000) // n_a - (c_b * 1000000) // n_b)
         |    AS BIGINT) AS rate_diff_ppm
         |FROM j, na, nb
         |ORDER BY rate_diff_ppm DESC, term ASC LIMIT 100""".stripMargin,
    "q_eval_retrieval_audit" -> sqlBm25Of(
      "SELECT CAST(doc_id AS BIGINT), text FROM documents WHERE doc_id % 100 = 0",
      "WHERE doc_id % 100 <> 0", 5),
    // stored train-slice postings reproduce the ad-hoc audit exactly
    "q_eval_audit_indexed" -> sqlBm25Of(
      "SELECT CAST(doc_id AS BIGINT), text FROM documents WHERE doc_id % 100 = 0",
      "WHERE doc_id % 100 <> 0", 5),

    "q_fuzzy_match" ->
      """WITH n AS (SELECT DISTINCT p_name FROM part)
        |SELECT a.p_name AS name_a, b.p_name AS name_b,
        |  CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS dist
        |FROM n a JOIN n b ON a.p_name < b.p_name
        |WHERE levenshtein(a.p_name, b.p_name) <= 3""".stripMargin,

    "q_temperature_mix" ->
      s"""WITH d AS (SELECT doc_id, source,
         |    CAST(len($SQL_TOKS) AS BIGINT) AS n_tok FROM documents),
         |st AS (SELECT source, COUNT(*) AS n_docs,
         |    CAST(SUM(n_tok) AS BIGINT) AS n_tokens
         |  FROM d GROUP BY source),
         |w AS (SELECT source, n_docs, n_tokens,
         |    CAST(FLOOR(SQRT(CAST(n_tokens AS DOUBLE))) AS BIGINT) AS w_q
         |  FROM st),
         |c AS (SELECT source, n_docs, n_tokens, w_q,
         |    CAST((20000 * w_q) // (SELECT SUM(w_q) FROM w) AS BIGINT)
         |      AS target_tokens
         |  FROM w),
         |c2 AS (SELECT *, CAST(LEAST(65536, (target_tokens * 65536) // n_tokens)
         |    AS BIGINT) AS cut_q FROM c),
         |k AS (SELECT d.source, COUNT(*) AS n_kept
         |  FROM d JOIN c2 USING (source)
         |  WHERE CAST(('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 4))
         |          AS BIGINT) < cut_q
         |  GROUP BY d.source)
         |SELECT c2.source, c2.n_docs, c2.n_tokens, c2.w_q,
         |  c2.target_tokens, c2.cut_q,
         |  CAST(COALESCE(k.n_kept, 0) AS BIGINT) AS n_kept
         |FROM c2 LEFT JOIN k ON k.source = c2.source""".stripMargin,

    "q_gopher_rules" ->
      """WITH d AS (SELECT doc_id,
        |    list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS ws,
        |    list_filter(string_split(text, chr(10)), x -> x <> '') AS ls
        |  FROM documents),
        |m AS (SELECT doc_id,
        |    CAST(len(ws) AS BIGINT) AS n_words,
        |    CAST(COALESCE(list_sum(list_transform(ws, x -> length(x))), 0)
        |      AS BIGINT) AS chars,
        |    CAST(len(list_filter(ws, x -> regexp_matches(x, '\p{L}')))
        |      AS BIGINT) AS n_alpha_words,
        |    CAST(len(ls) AS BIGINT) AS n_lines,
        |    CAST(len(list_filter(ls, x -> regexp_matches(x, '^\s*[-*•]')))
        |      AS BIGINT) AS n_bullet_lines,
        |    CAST(len(list_filter(ls, x -> regexp_matches(x, '\.\.\.$')))
        |      AS BIGINT) AS n_ellipsis_lines
        |  FROM d),
        |m2 AS (SELECT *, CASE WHEN n_words > 0
        |      THEN CAST((chars * 100) // n_words AS BIGINT)
        |      ELSE CAST(0 AS BIGINT) END AS mean_wlen_q
        |  FROM m)
        |SELECT doc_id, n_words, mean_wlen_q,
        |  n_alpha_words, n_lines, n_bullet_lines, n_ellipsis_lines,
        |  (n_words >= 10 AND n_words <= 100000
        |   AND mean_wlen_q >= 300 AND mean_wlen_q <= 1000
        |   AND n_alpha_words * 5 >= n_words * 4
        |   AND n_bullet_lines * 10 <= n_lines
        |   AND n_ellipsis_lines * 10 <= n_lines * 3) AS verdict
        |FROM m2""".stripMargin,

    // full training replay: gopher teacher CTEs -> labels, hashed
    // token-count features (md5 3-hex mod 512), iteration 0 (w=0 =>
    // every margin 0 <= 0 => class-centroid update w1), iteration 1
    // (margins under w1, mislabeled fold d1), final nonzero weights
    "q_distill_quality" ->
      s"""WITH d AS (SELECT doc_id,
         |    list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS ws,
         |    list_filter(string_split(text, chr(10)), x -> x <> '') AS ls
         |  FROM documents),
         |m AS (SELECT doc_id,
         |    CAST(len(ws) AS BIGINT) AS n_words,
         |    CAST(COALESCE(list_sum(list_transform(ws, x -> length(x))), 0)
         |      AS BIGINT) AS chars,
         |    CAST(len(list_filter(ws, x -> regexp_matches(x, '\\p{L}')))
         |      AS BIGINT) AS n_alpha_words,
         |    CAST(len(ls) AS BIGINT) AS n_lines,
         |    CAST(len(list_filter(ls, x -> regexp_matches(x, '^\\s*[-*•]')))
         |      AS BIGINT) AS n_bullet_lines,
         |    CAST(len(list_filter(ls, x -> regexp_matches(x, '\\.\\.\\.$$')))
         |      AS BIGINT) AS n_ellipsis_lines
         |  FROM d),
         |m2 AS (SELECT *, CASE WHEN n_words > 0
         |      THEN CAST((chars * 100) // n_words AS BIGINT)
         |      ELSE CAST(0 AS BIGINT) END AS mean_wlen_q
         |  FROM m),
         |lab AS (SELECT doc_id, CASE WHEN
         |    (n_words >= 10 AND n_words <= 100000
         |     AND mean_wlen_q >= 300 AND mean_wlen_q <= 1000
         |     AND n_alpha_words * 5 >= n_words * 4
         |     AND n_bullet_lines * 10 <= n_lines
         |     AND n_ellipsis_lines * 10 <= n_lines * 3)
         |    THEN 1 ELSE -1 END AS y FROM m2),
         |tk AS (SELECT doc_id, unnest($SQL_TOKS) AS w FROM documents),
         |ft AS (SELECT doc_id,
         |    CAST(('0x' || substr(md5(w), 1, 3)) AS BIGINT) % 512 AS b,
         |    CAST(COUNT(*) AS BIGINT) AS c
         |  FROM tk GROUP BY 1, 2),
         |w1 AS (SELECT b, SUM(lab.y * ft.c) AS w
         |  FROM ft JOIN lab USING (doc_id) GROUP BY b),
         |m1 AS (SELECT ft.doc_id, lab.y, SUM(COALESCE(w1.w, 0) * ft.c) AS s
         |  FROM ft JOIN lab USING (doc_id) LEFT JOIN w1 USING (b)
         |  GROUP BY ft.doc_id, lab.y),
         |mis AS (SELECT doc_id, y FROM m1 WHERE y * s <= 0),
         |d1 AS (SELECT ft.b, SUM(mis.y * ft.c) AS dw
         |  FROM ft JOIN mis USING (doc_id) GROUP BY ft.b),
         |w2 AS (SELECT COALESCE(w1.b, d1.b) AS b,
         |    COALESCE(w1.w, 0) + COALESCE(d1.dw, 0) AS w
         |  FROM w1 FULL OUTER JOIN d1 ON w1.b = d1.b)
         |SELECT b AS bucket, CAST(w AS BIGINT) AS w
         |FROM w2 WHERE w <> 0""".stripMargin,

    "q_source_mix" ->
      s"""WITH d AS (SELECT doc_id, source,
         |    CAST(len($SQL_TOKS) AS BIGINT) AS n_tok FROM documents),
         |stats AS (SELECT source, COUNT(*) AS n_docs,
         |    CAST(SUM(n_tok) AS BIGINT) AS n_tokens
         |  FROM d GROUP BY source),
         |cuts AS (SELECT source, n_docs, n_tokens,
         |    LEAST(65536, (SELECT MIN(n_tokens) FROM stats) * 65536 // n_tokens)
         |      AS cut_q
         |  FROM stats),
         |kept AS (SELECT d.source, COUNT(*) AS n_kept
         |  FROM d JOIN cuts USING (source)
         |  WHERE CAST(('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 4))
         |          AS BIGINT) < cut_q
         |  GROUP BY d.source)
         |SELECT c.source, c.n_docs, c.n_tokens, CAST(c.cut_q AS BIGINT) AS cut_q,
         |  CAST(COALESCE(k.n_kept, 0) AS BIGINT) AS n_kept
         |FROM cuts c LEFT JOIN kept k ON k.source = c.source""".stripMargin,

    "q_lang_confusion" -> {
      s"""WITH s AS (SELECT doc_id, lang, length(text) AS n,
         |  ${sqlScore("en")} AS score_en,
         |  ${sqlScore("es")} AS score_es,
         |  ${sqlScore("de")} AS score_de,
         |  ${sqlScore("fr")} AS score_fr,
         |  CAST(length(regexp_replace(text, '[^\\p{Han}]', '', 'g')) AS BIGINT)
         |    AS han_chars
         |FROM documents)
         |SELECT lang,
         |  CASE WHEN han_chars * 5 > n THEN 'zh'
         |       WHEN score_en + score_es + score_de + score_fr = 0 THEN 'und'
         |       WHEN score_en >= score_es AND score_en >= score_de AND score_en >= score_fr THEN 'en'
         |       WHEN score_es >= score_de AND score_es >= score_fr THEN 'es'
         |       WHEN score_de >= score_fr THEN 'de'
         |       ELSE 'fr' END AS pred_lang,
         |  COUNT(*) AS n
         |FROM s GROUP BY 1, 2""".stripMargin
    },

    "q_lm_score" ->
      s"""WITH toks AS (SELECT doc_id, $SQL_TOKS AS ws FROM documents),
         |uni AS (SELECT w AS w1, COUNT(*) AS c1 FROM (
         |    SELECT unnest(ws) AS w FROM toks) GROUP BY w),
         |bi AS (SELECT doc_id, ws[i] AS w1, ws[i] || ' ' || ws[i+1] AS bg
         |       FROM toks, UNNEST(range(1, len(ws))) AS t(i)),
         |bc AS (SELECT bg, COUNT(*) AS c12 FROM bi GROUP BY bg)
         |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
         |  CAST(SUM((c12 * 1000000) // c1) AS BIGINT) AS sum_q,
         |  CAST(SUM((c12 * 1000000) // c1) // COUNT(*) AS BIGINT) AS avg_q
         |FROM bi JOIN bc USING (bg) JOIN uni USING (w1)
         |GROUP BY doc_id""".stripMargin,

    "q_scrub_spans" ->
      s"""WITH toks AS (SELECT doc_id, $SQL_TOKS AS ws FROM documents),
         |grams AS (SELECT doc_id, i - 1 AS p,
         |    ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3]
         |      || ' ' || ws[i+4] AS g
         |  FROM toks, UNNEST(range(1, len(ws) - 3)) AS t(i)),
         |freq AS (SELECT g FROM grams GROUP BY g HAVING COUNT(*) >= 2),
         |cov AS (SELECT DISTINCT grams.doc_id, grams.p + d AS cp
         |  FROM grams JOIN freq USING (g), UNNEST(range(0, 5)) AS u(d)),
         |pos AS (SELECT doc_id, i - 1 AS p, ws[i] AS w
         |  FROM toks, UNNEST(range(1, len(ws) + 1)) AS r(i)),
         |kept AS (SELECT pos.doc_id, pos.p, pos.w FROM pos
         |  LEFT JOIN cov ON cov.doc_id = pos.doc_id AND cov.cp = pos.p
         |  WHERE cov.cp IS NULL),
         |agg AS (SELECT doc_id, COUNT(*) AS n_kept,
         |    md5(string_agg(w, ' ' ORDER BY p)) AS m
         |  FROM kept GROUP BY doc_id)
         |SELECT t.doc_id, CAST(len(ws) AS BIGINT) AS n_tokens,
         |  CAST(COALESCE(a.n_kept, 0) AS BIGINT) AS n_kept,
         |  CAST(len(ws) - COALESCE(a.n_kept, 0) AS BIGINT) AS n_removed,
         |  COALESCE(a.m, md5('')) AS scrubbed_md5
         |FROM toks t LEFT JOIN agg a USING (doc_id)""".stripMargin,

    "q_exact_substring" ->
      s"""WITH toks AS (SELECT doc_id, $SQL_TOKS AS ws FROM documents),
         |grams AS (SELECT doc_id, i - 1 AS p,
         |    ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3]
         |      || ' ' || ws[i+4] AS g
         |  FROM toks, UNNEST(range(1, len(ws) - 3)) AS t(i)),
         |own AS (SELECT g, MIN(doc_id) AS fid FROM grams GROUP BY g),
         |cov AS (SELECT DISTINCT grams.doc_id, grams.p + d AS cp
         |  FROM grams JOIN own USING (g), UNNEST(range(0, 5)) AS u(d)
         |  WHERE grams.doc_id > own.fid),
         |pos AS (SELECT doc_id, i - 1 AS p, ws[i] AS w
         |  FROM toks, UNNEST(range(1, len(ws) + 1)) AS r(i)),
         |kept AS (SELECT pos.doc_id, pos.p, pos.w FROM pos
         |  LEFT JOIN cov ON cov.doc_id = pos.doc_id AND cov.cp = pos.p
         |  WHERE cov.cp IS NULL),
         |agg AS (SELECT doc_id, COUNT(*) AS n_kept,
         |    md5(string_agg(w, ' ' ORDER BY p)) AS m
         |  FROM kept GROUP BY doc_id)
         |SELECT t.doc_id, CAST(len(ws) AS BIGINT) AS n_tokens,
         |  CAST(COALESCE(a.n_kept, 0) AS BIGINT) AS n_kept,
         |  CAST(len(ws) - COALESCE(a.n_kept, 0) AS BIGINT) AS n_removed,
         |  COALESCE(a.m, md5('')) AS scrubbed_md5
         |FROM toks t LEFT JOIN agg a USING (doc_id)""".stripMargin,

    "q_drift_gate" ->
      s"""WITH tok AS (SELECT doc_id % 3 AS b, unnest($SQL_TOKS) AS term
         |  FROM documents),
         |cr AS (SELECT term, COUNT(*) AS c FROM tok WHERE b = 0 GROUP BY term),
         |nr AS (SELECT SUM(c) AS n FROM cr),
         |c1 AS (SELECT term, COUNT(*) AS c FROM tok WHERE b = 1 GROUP BY term),
         |n1 AS (SELECT SUM(c) AS n FROM c1),
         |c2 AS (SELECT term, COUNT(*) AS c FROM tok WHERE b = 2 GROUP BY term),
         |n2 AS (SELECT SUM(c) AS n FROM c2),
         |tv1 AS (SELECT CAST(SUM(ABS(
         |    (COALESCE(cr.c, 0) * 1000000) // nr.n
         |    - (COALESCE(c1.c, 0) * 1000000) // n1.n)) AS BIGINT) AS tv
         |  FROM cr FULL OUTER JOIN c1 ON cr.term = c1.term, nr, n1
         |  WHERE COALESCE(cr.c, 0) >= 5 OR COALESCE(c1.c, 0) >= 5),
         |tv2 AS (SELECT CAST(SUM(ABS(
         |    (COALESCE(cr.c, 0) * 1000000) // nr.n
         |    - (COALESCE(c2.c, 0) * 1000000) // n2.n)) AS BIGINT) AS tv
         |  FROM cr FULL OUTER JOIN c2 ON cr.term = c2.term, nr, n2
         |  WHERE COALESCE(cr.c, 0) >= 5 OR COALESCE(c2.c, 0) >= 5)
         |SELECT d.doc_id, CAST(1 AS BIGINT) AS batch,
         |  CASE WHEN tv1.tv <= 60000 THEN 'admitted'
         |       ELSE 'quarantine' END AS decision
         |FROM documents d, tv1 WHERE d.doc_id % 3 = 1
         |UNION ALL
         |SELECT d.doc_id, CAST(2 AS BIGINT) AS batch,
         |  CASE WHEN tv2.tv <= 60000 THEN 'admitted'
         |       ELSE 'quarantine' END AS decision
         |FROM documents d, tv2 WHERE d.doc_id % 3 = 2""".stripMargin,

    "q_incremental_substring" ->
      s"""WITH toks AS (SELECT doc_id, $SQL_TOKS AS ws FROM documents),
         |grams AS (SELECT doc_id, doc_id % 3 AS b, i - 1 AS p,
         |    ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3]
         |      || ' ' || ws[i+4] AS g
         |  FROM toks, UNNEST(range(1, len(ws) - 3)) AS t(i)),
         |own AS (SELECT g, MIN(b * 1000000000 + doc_id) AS ok
         |  FROM grams GROUP BY g),
         |cov AS (SELECT DISTINCT grams.doc_id, grams.p + d AS cp
         |  FROM grams JOIN own USING (g), UNNEST(range(0, 5)) AS u(d)
         |  WHERE grams.b * 1000000000 + grams.doc_id > own.ok),
         |pos AS (SELECT doc_id, i - 1 AS p, ws[i] AS w
         |  FROM toks, UNNEST(range(1, len(ws) + 1)) AS r(i)),
         |kept AS (SELECT pos.doc_id, pos.p, pos.w FROM pos
         |  LEFT JOIN cov ON cov.doc_id = pos.doc_id AND cov.cp = pos.p
         |  WHERE cov.cp IS NULL),
         |agg AS (SELECT doc_id, COUNT(*) AS n_kept,
         |    md5(string_agg(w, ' ' ORDER BY p)) AS m
         |  FROM kept GROUP BY doc_id)
         |SELECT t.doc_id, CAST(len(ws) AS BIGINT) AS n_tokens,
         |  CAST(COALESCE(a.n_kept, 0) AS BIGINT) AS n_kept,
         |  CAST(len(ws) - COALESCE(a.n_kept, 0) AS BIGINT) AS n_removed,
         |  COALESCE(a.m, md5('')) AS scrubbed_md5
         |FROM toks t LEFT JOIN agg a USING (doc_id)""".stripMargin,

    "q_model_score" ->
      s"""WITH d AS (SELECT doc_id, $SQL_TOKS AS ws FROM documents),
         |s AS (SELECT doc_id, CAST(len(ws) AS BIGINT) AS n_tokens,
         |    CAST(COALESCE(list_sum(list_transform(ws, w ->
         |      CAST(('0x' || substr(md5(w), 1, 4)) AS BIGINT) - 32768)), 0)
         |      AS BIGINT) AS score_q
         |  FROM d WHERE len(ws) > 0)
         |SELECT doc_id, n_tokens, score_q,
         |  CAST(score_q AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS avg_w,
         |  CASE WHEN CAST(score_q AS DOUBLE) / CAST(n_tokens AS DOUBLE) >= 0
         |       THEN 'keep' ELSE 'drop' END AS verdict
         |FROM s""".stripMargin,

    "q_source_overlap" ->
      s"""WITH toks AS (SELECT source, $SQL_TOKS AS ws FROM documents),
         |grams AS (SELECT DISTINCT source,
         |    ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS g
         |  FROM toks, UNNEST(range(1, len(ws) - 1)) AS t(i)),
         |sizes AS (SELECT source, COUNT(*) AS sz FROM grams GROUP BY source),
         |inter AS (SELECT a.source AS source_a, b.source AS source_b,
         |    COUNT(*) AS n_shared
         |  FROM grams a JOIN grams b ON a.g = b.g AND a.source < b.source
         |  GROUP BY 1, 2)
         |SELECT source_a, source_b, CAST(sa.sz AS BIGINT) AS n_a,
         |  CAST(sb.sz AS BIGINT) AS n_b, n_shared,
         |  CAST(n_shared AS DOUBLE) / CAST(sa.sz + sb.sz - n_shared AS DOUBLE)
         |    AS jaccard,
         |  CAST(n_shared AS DOUBLE) / CAST(LEAST(sa.sz, sb.sz) AS DOUBLE)
         |    AS containment
         |FROM inter JOIN sizes sa ON sa.source = inter.source_a
         |  JOIN sizes sb ON sb.source = inter.source_b""".stripMargin,

    "q_source_overlap_sketch" ->
      s"""WITH toks AS (SELECT source, $SQL_TOKS AS ws FROM documents),
         |g AS (SELECT DISTINCT source,
         |    ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS g
         |  FROM toks, UNNEST(range(1, len(ws) - 1)) AS t(i)),
         |h AS (SELECT DISTINCT source,
         |    CAST(('0x' || substr(md5(g), 1, 15)) AS BIGINT) AS h FROM g),
         |rk AS (SELECT source, h,
         |    row_number() OVER (PARTITION BY source ORDER BY h) AS r FROM h),
         |sk AS (SELECT source, h FROM rk WHERE r <= 256),
         |srcs AS (SELECT DISTINCT source FROM documents),
         |pairs AS (SELECT a.source AS sa, b.source AS sb
         |  FROM srcs a JOIN srcs b ON a.source < b.source),
         |u AS (SELECT p.sa, p.sb, s.h FROM pairs p
         |  JOIN sk s ON s.source = p.sa OR s.source = p.sb
         |  GROUP BY p.sa, p.sb, s.h),
         |ur AS (SELECT sa, sb, h,
         |    row_number() OVER (PARTITION BY sa, sb ORDER BY h) AS r FROM u),
         |x AS (SELECT sa, sb, h FROM ur WHERE r <= 256),
         |sh AS (SELECT x.sa, x.sb, COUNT(*) AS ns FROM x
         |  JOIN sk ka ON ka.source = x.sa AND ka.h = x.h
         |  JOIN sk kb ON kb.source = x.sb AND kb.h = x.h
         |  GROUP BY x.sa, x.sb),
         |mu AS (SELECT sa, sb, COUNT(*) AS mu FROM x GROUP BY sa, sb)
         |SELECT mu.sa AS source_a, mu.sb AS source_b,
         |  CAST(mu.mu AS BIGINT) AS m_used,
         |  CAST(COALESCE(sh.ns, 0) AS BIGINT) AS n_shared_sketch,
         |  CAST(COALESCE(sh.ns, 0) AS DOUBLE) / CAST(mu.mu AS DOUBLE)
         |    AS jaccard_est
         |FROM mu LEFT JOIN sh ON sh.sa = mu.sa AND sh.sb = mu.sb""".stripMargin,

    "q_kmv_cardinality" ->
      s"""WITH toks AS (SELECT source, $SQL_TOKS AS ws FROM documents),
         |g AS (SELECT DISTINCT source,
         |    ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS g
         |  FROM toks, UNNEST(range(1, len(ws) - 1)) AS t(i)),
         |h AS (SELECT DISTINCT source,
         |    CAST(('0x' || substr(md5(g), 1, 15)) AS BIGINT) AS h FROM g),
         |a AS (SELECT source, COUNT(*) AS n_exact FROM h GROUP BY source),
         |rk AS (SELECT source, h,
         |    row_number() OVER (PARTITION BY source ORDER BY h) AS r FROM h),
         |sk AS (SELECT source, COUNT(*) AS m_used, MAX(h) AS vm
         |  FROM rk WHERE r <= 256 GROUP BY source)
         |SELECT sk.source, CAST(a.n_exact AS BIGINT) AS n_exact,
         |  CAST(sk.m_used AS BIGINT) AS m_used,
         |  CASE WHEN sk.m_used < 256 THEN CAST(sk.m_used AS DOUBLE)
         |       ELSE (255.0 * power(2, 60)) / CAST(sk.vm AS DOUBLE) END
         |    AS n_est
         |FROM sk JOIN a ON a.source = sk.source""".stripMargin,

    "q_term_drift" ->
      s"""WITH ta AS (SELECT unnest($SQL_TOKS) AS term FROM documents
         |  WHERE source = 'src0'),
         |tb AS (SELECT unnest($SQL_TOKS) AS term FROM documents
         |  WHERE source <> 'src0'),
         |ca AS (SELECT term, COUNT(*) AS c_a FROM ta GROUP BY term),
         |cb AS (SELECT term, COUNT(*) AS c_b FROM tb GROUP BY term),
         |na AS (SELECT SUM(c_a) AS n_a FROM ca),
         |nb AS (SELECT SUM(c_b) AS n_b FROM cb),
         |j AS (SELECT COALESCE(ca.term, cb.term) AS term,
         |    COALESCE(c_a, 0) AS c_a, COALESCE(c_b, 0) AS c_b
         |  FROM ca FULL OUTER JOIN cb ON ca.term = cb.term
         |  WHERE COALESCE(c_a, 0) >= 5 OR COALESCE(c_b, 0) >= 5)
         |SELECT term, CAST(c_a AS BIGINT) AS c_a, CAST(c_b AS BIGINT) AS c_b,
         |  CAST((c_a * 1000000) // n_a AS BIGINT) AS rate_a_ppm,
         |  CAST((c_b * 1000000) // n_b AS BIGINT) AS rate_b_ppm,
         |  CAST(ABS((c_a * 1000000) // n_a - (c_b * 1000000) // n_b)
         |    AS BIGINT) AS rate_diff_ppm
         |FROM j, na, nb
         |ORDER BY rate_diff_ppm DESC, term ASC LIMIT 100""".stripMargin,

    "q_vocab_coverage" ->
      s"""WITH toks AS (SELECT doc_id, unnest($SQL_TOKS) AS term FROM documents),
         |vocab AS (SELECT term FROM (
         |    SELECT term, COUNT(*) AS cnt FROM toks GROUP BY term
         |    ORDER BY cnt DESC, term ASC LIMIT 20)),
         |oov AS (SELECT doc_id, COUNT(*) AS n_oov FROM toks
         |  WHERE term NOT IN (SELECT term FROM vocab) GROUP BY doc_id),
         |n AS (SELECT doc_id, CAST(len($SQL_TOKS) AS BIGINT) AS n_tokens
         |  FROM documents)
         |SELECT n.doc_id, n.n_tokens,
         |  CAST(COALESCE(o.n_oov, 0) AS BIGINT) AS n_oov,
         |  CAST((COALESCE(o.n_oov, 0) * 1000000) // n.n_tokens AS BIGINT)
         |    AS oov_ppm
         |FROM n LEFT JOIN oov o USING (doc_id)
         |WHERE n.n_tokens > 0""".stripMargin,

    "q_freq_spectrum" ->
      s"""SELECT f, COUNT(*) AS n_terms FROM (
         |  SELECT w, COUNT(*) AS f FROM (
         |    SELECT unnest($SQL_TOKS) AS w FROM documents)
         |  GROUP BY w)
         |GROUP BY f""".stripMargin,

    "q_heavy_hitters" ->
      s"""WITH toks AS (SELECT unnest($SQL_TOKS) AS term FROM documents),
         |n AS (SELECT COUNT(*) AS nt FROM toks)
         |SELECT term, COUNT(*) AS cnt
         |FROM toks, n GROUP BY term, nt
         |HAVING COUNT(*) >= CEIL(nt * 0.01)""".stripMargin,

    "q_cms_heavy" ->
      s"""WITH toks AS (SELECT unnest($SQL_TOKS) AS term FROM documents),
         |n AS (SELECT COUNT(*) AS nt FROM toks)
         |SELECT term, COUNT(*) AS cnt
         |FROM toks, n GROUP BY term, nt
         |HAVING COUNT(*) >= CEIL(nt * 0.01)""".stripMargin,

    "q_corpus_pipeline" ->
      s"""WITH tr AS (SELECT doc_id, text, $SQL_TOKS AS ws FROM documents
         |            WHERE doc_id % 20 <> 0),
         |ev AS (SELECT doc_id, $SQL_TOKS AS ws FROM documents
         |       WHERE doc_id % 20 = 0),
         |keep AS (SELECT MIN(doc_id) AS doc_id FROM tr GROUP BY md5(text)),
         |gt AS (SELECT DISTINCT doc_id,
         |         ws[i]||' '||ws[i+1]||' '||ws[i+2]||' '||ws[i+3]||' '||ws[i+4] AS g
         |       FROM tr, UNNEST(range(1, len(ws) - 3)) AS t(i)),
         |ge AS (SELECT DISTINCT
         |         ws[i]||' '||ws[i+1]||' '||ws[i+2]||' '||ws[i+3]||' '||ws[i+4] AS g
         |       FROM ev, UNNEST(range(1, len(ws) - 3)) AS t(i)),
         |dirty AS (SELECT DISTINCT gt.doc_id FROM gt JOIN ge ON gt.g = ge.g),
         |kept AS (SELECT tr.doc_id, CAST(len(tr.ws) AS BIGINT) AS n FROM tr
         |  WHERE tr.doc_id IN (SELECT doc_id FROM keep)
         |    AND tr.doc_id NOT IN (SELECT doc_id FROM dirty)
         |    AND len(tr.ws) >= 20)
         |SELECT doc_id,
         |  CAST(CASE WHEN n <= 64 THEN 1 ELSE (n - 64 + 47) // 48 + 1 END
         |    AS BIGINT) AS n_chunks,
         |  n AS n_tokens
         |FROM kept""".stripMargin,

    // all five v3 stages replayed in one chain: gopher verdicts, the
    // md5-rank cap over the survivors, first-occurrence substring
    // coverage within the capped set, sqrt-weighted cuts over the
    // SCRUBBED counts, and the cluster-rep split of the final keepers
    // the v3 chain truncated at `fin` (no dedup/split tail needed —
    // attribution is over the doc-DROPPING stages), final select a
    // first-failure CASE over the full documents table
    "q_drop_attribution" ->
      s"""WITH gd AS (SELECT doc_id,
         |    list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS gws,
         |    list_filter(string_split(text, chr(10)), x -> x <> '') AS gls
         |  FROM documents),
         |gm AS (SELECT doc_id,
         |    CAST(len(gws) AS BIGINT) AS n_words,
         |    CAST(COALESCE(list_sum(list_transform(gws, x -> length(x))), 0)
         |      AS BIGINT) AS chars,
         |    CAST(len(list_filter(gws, x -> regexp_matches(x, '\\p{L}')))
         |      AS BIGINT) AS n_alpha,
         |    CAST(len(gls) AS BIGINT) AS n_lines,
         |    CAST(len(list_filter(gls, x -> regexp_matches(x, '^\\s*[-*•]')))
         |      AS BIGINT) AS n_bul,
         |    CAST(len(list_filter(gls, x -> regexp_matches(x, '\\.\\.\\.$$')))
         |      AS BIGINT) AS n_ell
         |  FROM gd),
         |gok AS (SELECT doc_id FROM (SELECT *, CASE WHEN n_words > 0
         |      THEN (chars * 100) // n_words ELSE 0 END AS mwl FROM gm)
         |  WHERE n_words >= 25 AND n_words <= 100000
         |    AND mwl >= 300 AND mwl <= 1000
         |    AND n_alpha * 5 >= n_words * 4
         |    AND n_bul * 10 <= n_lines AND n_ell * 10 <= n_lines * 3),
         |cap AS (SELECT doc_id FROM (
         |    SELECT d.doc_id, row_number() OVER (PARTITION BY d.source
         |        ORDER BY CAST('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)),
         |                 1, 12) AS BIGINT), d.doc_id) AS rk
         |    FROM documents d JOIN gok USING (doc_id))
         |  WHERE rk <= 10),
         |toks AS (SELECT d.doc_id, d.source, $SQL_TOKS AS ws
         |  FROM documents d JOIN cap USING (doc_id)),
         |sgrams AS (SELECT doc_id, i - 1 AS p,
         |    ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3]
         |      || ' ' || ws[i+4] AS g
         |  FROM toks, UNNEST(range(1, len(ws) - 3)) AS t(i)),
         |own AS (SELECT g, MIN(doc_id) AS fid FROM sgrams GROUP BY g),
         |cov AS (SELECT DISTINCT sgrams.doc_id, sgrams.p + dd AS cp
         |  FROM sgrams JOIN own USING (g), UNNEST(range(0, 5)) AS u(dd)
         |  WHERE sgrams.doc_id > own.fid),
         |nc AS (SELECT doc_id, COUNT(*) AS n_cov FROM cov GROUP BY doc_id),
         |sc AS (SELECT t.doc_id, t.source,
         |    CAST(len(ws) - COALESCE(nc.n_cov, 0) AS BIGINT) AS n_tok
         |  FROM toks t LEFT JOIN nc USING (doc_id)),
         |st AS (SELECT source, CAST(SUM(n_tok) AS BIGINT) AS n_tokens
         |  FROM sc GROUP BY source),
         |w AS (SELECT source, n_tokens,
         |    CAST(FLOOR(SQRT(CAST(n_tokens AS DOUBLE))) AS BIGINT) AS w_q
         |  FROM st),
         |cu AS (SELECT source, n_tokens, w_q,
         |    CAST((2000 * w_q) // (SELECT SUM(w_q) FROM w) AS BIGINT)
         |      AS target_tokens
         |  FROM w),
         |cu2 AS (SELECT source, CASE WHEN n_tokens = 0 THEN 65536
         |    ELSE LEAST(65536, (target_tokens * 65536) // n_tokens) END AS cut_q
         |  FROM cu),
         |fin AS (SELECT sc.doc_id
         |  FROM sc JOIN cu2 USING (source)
         |  WHERE CAST(('0x' || substr(md5(CAST(sc.doc_id AS VARCHAR)), 1, 4))
         |          AS BIGINT) < cut_q)
         |SELECT d.doc_id, d.source,
         |  CASE WHEN g.doc_id IS NULL THEN 'gopher'
         |       WHEN c.doc_id IS NULL THEN 'cap'
         |       WHEN f.doc_id IS NULL THEN 'budget'
         |       ELSE 'kept' END AS stage
         |FROM documents d
         |LEFT JOIN gok g ON d.doc_id = g.doc_id
         |LEFT JOIN cap c ON d.doc_id = c.doc_id
         |LEFT JOIN fin f ON d.doc_id = f.doc_id""".stripMargin,

    // the round-10 stack replayed in one chain: gopher -> per-source
    // calibration (hist over the survivors) -> soft dedup (clusters
    // over the calibrated set, weight cut) -> sqrt-temperature budget
    // -> shard + easy-first curriculum order (epoch 0 of 2)
    "q_corpus_pipeline_v4" ->
      s"""WITH RECURSIVE gd AS (SELECT doc_id,
         |    list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS gws,
         |    list_filter(string_split(text, chr(10)), x -> x <> '') AS gls
         |  FROM documents),
         |gm AS (SELECT doc_id,
         |    CAST(len(gws) AS BIGINT) AS n_words,
         |    CAST(COALESCE(list_sum(list_transform(gws, x -> length(x))), 0)
         |      AS BIGINT) AS chars,
         |    CAST(len(list_filter(gws, x -> regexp_matches(x, '\\p{L}')))
         |      AS BIGINT) AS n_alpha,
         |    CAST(len(gls) AS BIGINT) AS n_lines,
         |    CAST(len(list_filter(gls, x -> regexp_matches(x, '^\\s*[-*•]')))
         |      AS BIGINT) AS n_bul,
         |    CAST(len(list_filter(gls, x -> regexp_matches(x, '\\.\\.\\.$$')))
         |      AS BIGINT) AS n_ell
         |  FROM gd),
         |gok AS (SELECT doc_id FROM (SELECT *, CASE WHEN n_words > 0
         |      THEN (chars * 100) // n_words ELSE 0 END AS mwl FROM gm)
         |  WHERE n_words >= 25 AND n_words <= 100000
         |    AND mwl >= 300 AND mwl <= 1000
         |    AND n_alpha * 5 >= n_words * 4
         |    AND n_bul * 10 <= n_lines AND n_ell * 10 <= n_lines * 3),
         |csc AS (SELECT d.doc_id, d.source,
         |    CAST(len($SQL_TOKS) AS BIGINT) AS n,
         |    CAST(COALESCE(list_sum(list_transform($SQL_TOKS,
         |      x -> CAST('0x' || substr(md5(x), 1, 4) AS BIGINT))), 0)
         |      AS BIGINT) AS s
         |  FROM documents d JOIN gok USING (doc_id)),
         |csq AS (SELECT doc_id, source, s // n AS avg_q FROM csc WHERE n > 0),
         |chist AS (SELECT source, avg_q, CAST(COUNT(*) AS BIGINT) AS c
         |  FROM csq GROUP BY 1, 2),
         |ccum AS (SELECT source, avg_q, c,
         |    CAST(COALESCE(SUM(c) OVER (PARTITION BY source
         |      ORDER BY avg_q DESC
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |      AS BIGINT) AS above,
         |    CAST(SUM(c) OVER (PARTITION BY source) AS BIGINT) AS tot
         |  FROM chist),
         |ct2 AS (SELECT source, avg_q, c, above,
         |    (tot * 39321) // 65536 AS target FROM ccum),
         |cal AS (SELECT csq.doc_id, csq.source
         |  FROM csq JOIN ct2 USING (source, avg_q)
         |  WHERE above + c <= target
         |     OR (above < target AND
         |         CAST('0x' || substr(md5(CAST(csq.doc_id AS VARCHAR)), 1, 4)
         |           AS BIGINT) < ((target - above) * 65536) // c)),
         |ctoks AS (SELECT d.doc_id, $SQL_TOKS AS ws
         |  FROM documents d JOIN cal USING (doc_id)),
         |jgr AS (SELECT DISTINCT doc_id,
         |    ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS g
         |  FROM ctoks, UNNEST(range(1, len(ws) - 1)) AS t(i)),
         |jsz AS (SELECT doc_id, COUNT(*) AS sz FROM jgr GROUP BY doc_id),
         |jin AS (SELECT a.doc_id AS da, b.doc_id AS db, COUNT(*) AS i
         |  FROM jgr a JOIN jgr b ON a.g = b.g AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2),
         |pr AS (SELECT da, db FROM jin
         |  JOIN jsz sa ON sa.doc_id = da JOIN jsz sb ON sb.doc_id = db
         |  WHERE CAST(i AS DOUBLE) / (sa.sz + sb.sz - i) >= 0.8),
         |edges AS (SELECT da AS s2, db AS d2 FROM pr
         |  UNION SELECT db, da FROM pr),
         |reach(s2, d2) AS (SELECT s2, d2 FROM edges
         |  UNION SELECT r.s2, e.d2 FROM reach r JOIN edges e ON r.d2 = e.s2),
         |cl AS (SELECT s2 AS doc_id, LEAST(s2, MIN(d2)) AS cluster
         |  FROM reach GROUP BY s2),
         |ac AS (SELECT cal.doc_id, cal.source,
         |    COALESCE(cl.cluster, cal.doc_id) AS cluster
         |  FROM cal LEFT JOIN cl USING (doc_id)),
         |sz2 AS (SELECT cluster, CAST(COUNT(*) AS BIGINT) AS cl_size
         |  FROM ac GROUP BY cluster),
         |soft AS (SELECT ac.doc_id, ac.source
         |  FROM ac JOIN sz2 USING (cluster)
         |  WHERE CAST('0x' || substr(md5(CAST(ac.doc_id AS VARCHAR)), 1, 4)
         |      AS BIGINT) < LEAST(65536, 65536 // cl_size)),
         |stoks AS (SELECT d.doc_id, sf.source,
         |    CAST(len($SQL_TOKS) AS BIGINT) AS n_tok
         |  FROM documents d JOIN soft sf ON d.doc_id = sf.doc_id),
         |st AS (SELECT source, CAST(SUM(n_tok) AS BIGINT) AS n_tokens
         |  FROM stoks GROUP BY source),
         |w AS (SELECT source, n_tokens,
         |    CAST(FLOOR(SQRT(CAST(n_tokens AS DOUBLE))) AS BIGINT) AS w_q
         |  FROM st),
         |cu AS (SELECT source, n_tokens, w_q,
         |    CAST((3000 * w_q) // (SELECT SUM(w_q) FROM w) AS BIGINT)
         |      AS target_tokens
         |  FROM w),
         |cu2 AS (SELECT source, CASE WHEN n_tokens = 0 THEN 65536
         |    ELSE LEAST(65536, (target_tokens * 65536) // n_tokens) END AS cut_q
         |  FROM cu),
         |fin AS (SELECT stoks.doc_id, stoks.source, stoks.n_tok
         |  FROM stoks JOIN cu2 USING (source)
         |  WHERE CAST(('0x' || substr(md5(CAST(stoks.doc_id AS VARCHAR)), 1, 4))
         |          AS BIGINT) < cut_q),
         |lay AS (SELECT doc_id, source, n_tok,
         |    CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 12)
         |      AS BIGINT) % 8 AS shard,
         |    LEAST(65535, n_tok) AS k
         |  FROM fin)
         |SELECT doc_id, source, n_tok, shard,
         |  CAST(row_number() OVER (PARTITION BY shard ORDER BY k, doc_id)
         |    AS BIGINT) AS pos
         |FROM lay""".stripMargin,

    // v4's oracle chain + the media-redundancy stage: the CDC CTEs of
    // q_cdc_dedup (minLen merge included) rolled to per-doc dup ppm,
    // spliced between soft and the budget.
    "q_corpus_pipeline_v6" -> sqlPipelineV6,

    "q_corpus_pipeline_v7" -> sqlPipelineV7,

    "q_corpus_pipeline_v5" ->
      s"""WITH RECURSIVE gd AS (SELECT doc_id,
         |    list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS gws,
         |    list_filter(string_split(text, chr(10)), x -> x <> '') AS gls
         |  FROM documents),
         |gm AS (SELECT doc_id,
         |    CAST(len(gws) AS BIGINT) AS n_words,
         |    CAST(COALESCE(list_sum(list_transform(gws, x -> length(x))), 0)
         |      AS BIGINT) AS chars,
         |    CAST(len(list_filter(gws, x -> regexp_matches(x, '\\p{L}')))
         |      AS BIGINT) AS n_alpha,
         |    CAST(len(gls) AS BIGINT) AS n_lines,
         |    CAST(len(list_filter(gls, x -> regexp_matches(x, '^\\s*[-*•]')))
         |      AS BIGINT) AS n_bul,
         |    CAST(len(list_filter(gls, x -> regexp_matches(x, '\\.\\.\\.$$')))
         |      AS BIGINT) AS n_ell
         |  FROM gd),
         |gok AS (SELECT doc_id FROM (SELECT *, CASE WHEN n_words > 0
         |      THEN (chars * 100) // n_words ELSE 0 END AS mwl FROM gm)
         |  WHERE n_words >= 25 AND n_words <= 100000
         |    AND mwl >= 300 AND mwl <= 1000
         |    AND n_alpha * 5 >= n_words * 4
         |    AND n_bul * 10 <= n_lines AND n_ell * 10 <= n_lines * 3),
         |tr0 AS (SELECT doc_id FROM gok WHERE doc_id % 20 <> 0),
         |evt AS (SELECT $SQL_TOKS AS ws FROM documents WHERE doc_id % 20 = 0),
         |evg AS (SELECT DISTINCT
         |    ws[i]||' '||ws[i+1]||' '||ws[i+2]||' '||ws[i+3]||' '||ws[i+4] AS g
         |  FROM evt, UNNEST(range(1, len(ws) - 3)) AS t(i)),
         |trt AS (SELECT d.doc_id, $SQL_TOKS AS ws
         |  FROM documents d JOIN tr0 USING (doc_id)),
         |trg AS (SELECT DISTINCT doc_id,
         |    ws[i]||' '||ws[i+1]||' '||ws[i+2]||' '||ws[i+3]||' '||ws[i+4] AS g
         |  FROM trt, UNNEST(range(1, len(ws) - 3)) AS t(i)),
         |flag AS (SELECT DISTINCT trg.doc_id FROM trg JOIN evg USING (g)),
         |clean AS (SELECT tr0.doc_id FROM tr0
         |  LEFT JOIN flag ON tr0.doc_id = flag.doc_id
         |  WHERE flag.doc_id IS NULL),
         |csc AS (SELECT d.doc_id, d.source,
         |    CAST(len($SQL_TOKS) AS BIGINT) AS n,
         |    CAST(COALESCE(list_sum(list_transform($SQL_TOKS,
         |      x -> CAST('0x' || substr(md5(x), 1, 4) AS BIGINT))), 0)
         |      AS BIGINT) AS s
         |  FROM documents d JOIN clean USING (doc_id)),
         |csq AS (SELECT doc_id, source, s // n AS avg_q FROM csc WHERE n > 0),
         |chist AS (SELECT source, avg_q, CAST(COUNT(*) AS BIGINT) AS c
         |  FROM csq GROUP BY 1, 2),
         |ccum AS (SELECT source, avg_q, c,
         |    CAST(COALESCE(SUM(c) OVER (PARTITION BY source
         |      ORDER BY avg_q DESC
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |      AS BIGINT) AS above,
         |    CAST(SUM(c) OVER (PARTITION BY source) AS BIGINT) AS tot
         |  FROM chist),
         |ct2 AS (SELECT source, avg_q, c, above,
         |    (tot * 39321) // 65536 AS target FROM ccum),
         |cal AS (SELECT csq.doc_id, csq.source
         |  FROM csq JOIN ct2 USING (source, avg_q)
         |  WHERE above + c <= target
         |     OR (above < target AND
         |         CAST('0x' || substr(md5(CAST(csq.doc_id AS VARCHAR)), 1, 4)
         |           AS BIGINT) < ((target - above) * 65536) // c)),
         |ctoks AS (SELECT d.doc_id, $SQL_TOKS AS ws
         |  FROM documents d JOIN cal USING (doc_id)),
         |jgr AS (SELECT DISTINCT doc_id,
         |    ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS g
         |  FROM ctoks, UNNEST(range(1, len(ws) - 1)) AS t(i)),
         |jsz AS (SELECT doc_id, COUNT(*) AS sz FROM jgr GROUP BY doc_id),
         |jin AS (SELECT a.doc_id AS da, b.doc_id AS db, COUNT(*) AS i
         |  FROM jgr a JOIN jgr b ON a.g = b.g AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2),
         |pr AS (SELECT da, db FROM jin
         |  JOIN jsz sa ON sa.doc_id = da JOIN jsz sb ON sb.doc_id = db
         |  WHERE CAST(i AS DOUBLE) / (sa.sz + sb.sz - i) >= 0.8),
         |edges AS (SELECT da AS s2, db AS d2 FROM pr
         |  UNION SELECT db, da FROM pr),
         |reach(s2, d2) AS (SELECT s2, d2 FROM edges
         |  UNION SELECT r.s2, e.d2 FROM reach r JOIN edges e ON r.d2 = e.s2),
         |cl AS (SELECT s2 AS doc_id, LEAST(s2, MIN(d2)) AS cluster
         |  FROM reach GROUP BY s2),
         |ac AS (SELECT cal.doc_id,
         |    COALESCE(cl.cluster, cal.doc_id) AS cluster
         |  FROM cal LEFT JOIN cl USING (doc_id)),
         |sz2 AS (SELECT cluster, CAST(COUNT(*) AS BIGINT) AS cl_size
         |  FROM ac GROUP BY cluster),
         |soft AS (SELECT ac.doc_id
         |  FROM ac JOIN sz2 USING (cluster)
         |  WHERE CAST('0x' || substr(md5(CAST(ac.doc_id AS VARCHAR)), 1, 4)
         |      AS BIGINT) < LEAST(65536, 65536 // cl_size)),
         |stoks AS (SELECT d.doc_id, d.lang,
         |    CAST(len($SQL_TOKS) AS BIGINT) AS n_ws,
         |    (CAST(len($SQL_TOKS) AS BIGINT) *
         |      CASE d.lang WHEN 'de' THEN 201 WHEN 'en' THEN 200
         |        WHEN 'es' THEN 200 WHEN 'fr' THEN 201 WHEN 'zh' THEN 200
         |        ELSE 100 END) // 100 AS n_tok
         |  FROM documents d JOIN soft sf ON d.doc_id = sf.doc_id),
         |st AS (SELECT lang, CAST(SUM(n_tok) AS BIGINT) AS n_tokens
         |  FROM stoks GROUP BY lang),
         |w AS (SELECT lang, n_tokens,
         |    CAST(FLOOR(SQRT(CAST(n_tokens AS DOUBLE))) AS BIGINT) AS w_q
         |  FROM st),
         |cu AS (SELECT lang, n_tokens, w_q,
         |    CAST((3000 * w_q) // (SELECT SUM(w_q) FROM w) AS BIGINT)
         |      AS target_tokens
         |  FROM w),
         |cu2 AS (SELECT lang, CASE WHEN n_tokens = 0 THEN 65536
         |    ELSE LEAST(65536, (target_tokens * 65536) // n_tokens) END AS cut_q
         |  FROM cu),
         |fin AS (SELECT stoks.doc_id, stoks.lang, stoks.n_ws,
         |    CAST(stoks.n_tok AS BIGINT) AS n_tok
         |  FROM stoks JOIN cu2 USING (lang)
         |  WHERE CAST(('0x' || substr(md5(CAST(stoks.doc_id AS VARCHAR)), 1, 4))
         |          AS BIGINT) < cut_q),
         |lay AS (SELECT doc_id, lang, n_ws, n_tok,
         |    CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 12)
         |      AS BIGINT) % 8 AS shard,
         |    LEAST(65535, n_ws) AS k
         |  FROM fin)
         |SELECT doc_id, lang, n_ws, n_tok, shard,
         |  CAST(row_number() OVER (PARTITION BY shard ORDER BY k, doc_id)
         |    AS BIGINT) AS pos
         |FROM lay""".stripMargin,

    "q_corpus_pipeline_v3" ->
      s"""WITH RECURSIVE gd AS (SELECT doc_id,
         |    list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS gws,
         |    list_filter(string_split(text, chr(10)), x -> x <> '') AS gls
         |  FROM documents),
         |gm AS (SELECT doc_id,
         |    CAST(len(gws) AS BIGINT) AS n_words,
         |    CAST(COALESCE(list_sum(list_transform(gws, x -> length(x))), 0)
         |      AS BIGINT) AS chars,
         |    CAST(len(list_filter(gws, x -> regexp_matches(x, '\\p{L}')))
         |      AS BIGINT) AS n_alpha,
         |    CAST(len(gls) AS BIGINT) AS n_lines,
         |    CAST(len(list_filter(gls, x -> regexp_matches(x, '^\\s*[-*•]')))
         |      AS BIGINT) AS n_bul,
         |    CAST(len(list_filter(gls, x -> regexp_matches(x, '\\.\\.\\.$$')))
         |      AS BIGINT) AS n_ell
         |  FROM gd),
         |gok AS (SELECT doc_id FROM (SELECT *, CASE WHEN n_words > 0
         |      THEN (chars * 100) // n_words ELSE 0 END AS mwl FROM gm)
         |  WHERE n_words >= 25 AND n_words <= 100000
         |    AND mwl >= 300 AND mwl <= 1000
         |    AND n_alpha * 5 >= n_words * 4
         |    AND n_bul * 10 <= n_lines AND n_ell * 10 <= n_lines * 3),
         |cap AS (SELECT doc_id FROM (
         |    SELECT d.doc_id, row_number() OVER (PARTITION BY d.source
         |        ORDER BY CAST('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)),
         |                 1, 12) AS BIGINT), d.doc_id) AS rk
         |    FROM documents d JOIN gok USING (doc_id))
         |  WHERE rk <= 10),
         |toks AS (SELECT d.doc_id, d.source, $SQL_TOKS AS ws
         |  FROM documents d JOIN cap USING (doc_id)),
         |sgrams AS (SELECT doc_id, i - 1 AS p,
         |    ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3]
         |      || ' ' || ws[i+4] AS g
         |  FROM toks, UNNEST(range(1, len(ws) - 3)) AS t(i)),
         |own AS (SELECT g, MIN(doc_id) AS fid FROM sgrams GROUP BY g),
         |cov AS (SELECT DISTINCT sgrams.doc_id, sgrams.p + dd AS cp
         |  FROM sgrams JOIN own USING (g), UNNEST(range(0, 5)) AS u(dd)
         |  WHERE sgrams.doc_id > own.fid),
         |nc AS (SELECT doc_id, COUNT(*) AS n_cov FROM cov GROUP BY doc_id),
         |sc AS (SELECT t.doc_id, t.source,
         |    CAST(len(ws) - COALESCE(nc.n_cov, 0) AS BIGINT) AS n_tok
         |  FROM toks t LEFT JOIN nc USING (doc_id)),
         |st AS (SELECT source, CAST(SUM(n_tok) AS BIGINT) AS n_tokens
         |  FROM sc GROUP BY source),
         |w AS (SELECT source, n_tokens,
         |    CAST(FLOOR(SQRT(CAST(n_tokens AS DOUBLE))) AS BIGINT) AS w_q
         |  FROM st),
         |cu AS (SELECT source, n_tokens, w_q,
         |    CAST((2000 * w_q) // (SELECT SUM(w_q) FROM w) AS BIGINT)
         |      AS target_tokens
         |  FROM w),
         |cu2 AS (SELECT source, CASE WHEN n_tokens = 0 THEN 65536
         |    ELSE LEAST(65536, (target_tokens * 65536) // n_tokens) END AS cut_q
         |  FROM cu),
         |fin AS (SELECT sc.doc_id, sc.source, sc.n_tok
         |  FROM sc JOIN cu2 USING (source)
         |  WHERE CAST(('0x' || substr(md5(CAST(sc.doc_id AS VARCHAR)), 1, 4))
         |          AS BIGINT) < cut_q),
         |jgr AS (SELECT DISTINCT f.doc_id,
         |    ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS g
         |  FROM fin f JOIN toks USING (doc_id),
         |    UNNEST(range(1, len(ws) - 1)) AS t(i)),
         |sizes AS (SELECT doc_id, COUNT(*) AS sz FROM jgr GROUP BY doc_id),
         |inter AS (SELECT a.doc_id AS da, b.doc_id AS db, COUNT(*) AS i
         |  FROM jgr a JOIN jgr b ON a.g = b.g AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2),
         |pr AS (SELECT da, db FROM inter
         |  JOIN sizes sa ON sa.doc_id = da JOIN sizes sb ON sb.doc_id = db
         |  WHERE CAST(i AS DOUBLE) / (sa.sz + sb.sz - i) >= 0.8),
         |edges AS (SELECT da AS s2, db AS d2 FROM pr
         |  UNION SELECT db, da FROM pr),
         |reach(s2, d2) AS (SELECT s2, d2 FROM edges
         |  UNION SELECT r.s2, e.d2 FROM reach r JOIN edges e ON r.d2 = e.s2),
         |cl AS (SELECT s2 AS doc_id, LEAST(s2, MIN(d2)) AS cluster
         |  FROM reach GROUP BY s2),
         |rep AS (SELECT f.doc_id, COALESCE(cl.cluster, f.doc_id) AS rep
         |  FROM fin f LEFT JOIN cl USING (doc_id))
         |SELECT f.doc_id, f.source, f.n_tok AS n_tok_scrubbed, r.rep,
         |  CASE WHEN substring(md5(CAST(r.rep AS VARCHAR)), 1, 4) < 'cccd'
         |       THEN 'train'
         |       WHEN substring(md5(CAST(r.rep AS VARCHAR)), 1, 4) < 'e666'
         |       THEN 'val' ELSE 'test' END AS split
         |FROM fin f JOIN rep r USING (doc_id)""".stripMargin,

    "q_chunk_docs" ->
      s"""WITH t AS (SELECT doc_id, $SQL_TOKS AS ws,
         |    CAST(len($SQL_TOKS) AS BIGINT) AS n FROM documents),
         |c AS (SELECT doc_id, ws, n,
         |    unnest(range(0, CASE WHEN n <= 64 THEN 1
         |      ELSE (n - 64 + 47) // 48 + 1 END)) AS chunk_idx
         |  FROM t WHERE n > 0)
         |SELECT doc_id, CAST(chunk_idx AS BIGINT) AS chunk_idx,
         |  CAST(chunk_idx * 48 AS BIGINT) AS start_tok,
         |  CAST(LEAST(64, n - chunk_idx * 48) AS BIGINT) AS n_tok,
         |  md5(array_to_string(
         |    ws[CAST(chunk_idx * 48 + 1 AS INTEGER) :
         |       CAST(chunk_idx * 48 + LEAST(64, n - chunk_idx * 48) AS INTEGER)],
         |    ' ')) AS chunk_md5
         |FROM c""".stripMargin,

    "q_pack_sequences" ->
      s"""WITH d AS (SELECT doc_id, CAST(len($SQL_TOKS) AS BIGINT) AS n_tokens,
         |    doc_id // 100 AS shard FROM documents),
         |c AS (SELECT shard, doc_id, n_tokens,
         |    COALESCE(SUM(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS start_tok
         |  FROM d)
         |SELECT shard, CAST(start_tok // 2048 AS BIGINT) AS bin, COUNT(*) AS n_docs,
         |  CAST(SUM(n_tokens) AS BIGINT) AS tok_sum,
         |  MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
         |FROM c GROUP BY 1, 2""".stripMargin,

    "q_pack_balanced" ->
      s"""WITH d AS (SELECT doc_id, CAST(len($SQL_TOKS) AS BIGINT) AS n_tokens,
         |    doc_id // 100 AS shard FROM documents),
         |nb AS (SELECT shard,
         |    GREATEST(1, (SUM(n_tokens) + 2047) // 2048) AS nbins
         |  FROM d GROUP BY shard),
         |r AS (SELECT shard, doc_id, n_tokens,
         |    row_number() OVER (PARTITION BY shard
         |      ORDER BY n_tokens DESC, doc_id ASC) AS rk
         |  FROM d)
         |SELECT r.shard, CAST((r.rk - 1) % nb.nbins AS BIGINT) AS bin,
         |  COUNT(*) AS n_docs, CAST(SUM(r.n_tokens) AS BIGINT) AS bin_tokens,
         |  CAST((SUM(r.n_tokens) * 1000000) // 2048 AS BIGINT) AS fill_ppm
         |FROM r JOIN nb USING (shard)
         |GROUP BY 1, 2""".stripMargin,

    "q_decontaminate" ->
      s"""WITH tr AS (SELECT doc_id, $SQL_TOKS AS ws FROM documents
         |            WHERE doc_id % 20 <> 0),
         |ev AS (SELECT doc_id, $SQL_TOKS AS ws FROM documents
         |       WHERE doc_id % 20 = 0),
         |gt AS (SELECT DISTINCT doc_id,
         |         ws[i]||' '||ws[i+1]||' '||ws[i+2]||' '||ws[i+3]||' '||ws[i+4] AS g
         |       FROM tr, UNNEST(range(1, len(ws) - 3)) AS t(i)),
         |ge AS (SELECT DISTINCT
         |         ws[i]||' '||ws[i+1]||' '||ws[i+2]||' '||ws[i+3]||' '||ws[i+4] AS g
         |       FROM ev, UNNEST(range(1, len(ws) - 3)) AS t(i))
         |SELECT gt.doc_id, CAST(COUNT(*) AS BIGINT) AS n_shared_grams
         |FROM gt JOIN ge ON gt.g = ge.g
         |GROUP BY gt.doc_id""".stripMargin,

    // full replay of the card: tokens/quality/md5 per doc, corpus-wide
    // dup hashes, per-source integer rates, and the language rollup
    // through the exact q_lang_id CASE (ties to the lexicographically
    // first language = min over (-cnt, lang))
    "q_dataset_card" -> sqlCard,

    "q_corpus_diff" ->
      """WITH v1 AS (
        |  SELECT doc_id,
        |    CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) = '1'
        |         THEN text || ' rev2' ELSE text END AS text
        |  FROM documents
        |  WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) <> '0'
        |  UNION ALL
        |  SELECT doc_id + 1000000, text FROM documents
        |  WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) = 'f')
        |SELECT COALESCE(d.doc_id, v1.doc_id) AS doc_id,
        |  CASE WHEN d.doc_id IS NULL THEN 'insert'
        |       WHEN v1.doc_id IS NULL THEN 'delete'
        |       ELSE 'update' END AS op
        |FROM documents d FULL OUTER JOIN v1 ON d.doc_id = v1.doc_id
        |WHERE d.doc_id IS NULL OR v1.doc_id IS NULL
        |   OR d.text <> v1.text""".stripMargin,

    // the STORED-index card must equal the batch card over the full
    // corpus — the oracle IS q_dataset_card's replay (incrementality
    // is the engine-side property; the answer is definitionally the
    // same table)
    "q_card_incremental" -> sqlCard,


    // epochs = 3, budget = 20000: w_e = n_tokens*(2-e) + floor(sqrt)*e,
    // per-epoch integer shares and md5 cuts — temperatureMix's exact
    // arithmetic at each interpolation point
    "q_mix_schedule" ->
      s"""WITH d AS (SELECT source, CAST(len($SQL_TOKS) AS BIGINT) AS n_tok
         |  FROM documents),
         |st AS (SELECT source, COUNT(*) AS n_docs,
         |    CAST(SUM(n_tok) AS BIGINT) AS n_tokens
         |  FROM d GROUP BY source),
         |sq AS (SELECT *, CAST(FLOOR(SQRT(CAST(n_tokens AS DOUBLE)))
         |    AS BIGINT) AS sqw FROM st),
         |pe AS (SELECT CAST(e AS BIGINT) AS epoch, source, n_docs, n_tokens,
         |    n_tokens * (2 - e) + sqw * e AS w_q
         |  FROM sq, UNNEST(range(0, 3)) t(e)),
         |ws AS (SELECT epoch, SUM(w_q) AS wsum FROM pe GROUP BY epoch)
         |SELECT pe.epoch, pe.source, CAST(pe.n_docs AS BIGINT) AS n_docs,
         |  pe.n_tokens, CAST(pe.w_q AS BIGINT) AS w_q,
         |  CAST((20000 * pe.w_q) // ws.wsum AS BIGINT) AS target_tokens,
         |  CAST(CASE WHEN pe.n_tokens = 0 THEN 65536
         |       ELSE LEAST(65536, (((20000 * pe.w_q) // ws.wsum) * 65536)
         |                          // pe.n_tokens) END AS BIGINT) AS cut_q
         |FROM pe JOIN ws USING (epoch)""".stripMargin,

    // both audit axes replayed: 5-gram pair counts with eval
    // attribution (>= 1 shared), quantized-cosine pairs at tau 0.40,
    // and the offender-set overlap; spine = union of flagged eval ids
    "q_contamination_report" ->
      s"""WITH tr AS (SELECT doc_id, $SQL_TOKS AS ws FROM documents
         |            WHERE doc_id % 20 <> 0),
         |ev AS (SELECT doc_id, $SQL_TOKS AS ws FROM documents
         |       WHERE doc_id % 20 = 0),
         |gt AS (SELECT doc_id,
         |         ws[i]||' '||ws[i+1]||' '||ws[i+2]||' '||ws[i+3]||' '||ws[i+4] AS g
         |       FROM tr, UNNEST(range(1, len(ws) - 3)) AS t(i)),
         |ge AS (SELECT DISTINCT doc_id AS eval_id,
         |         ws[i]||' '||ws[i+1]||' '||ws[i+2]||' '||ws[i+3]||' '||ws[i+4] AS g
         |       FROM ev, UNNEST(range(1, len(ws) - 3)) AS t(i)),
         |lexk AS (SELECT ge.eval_id, gt.doc_id
         |  FROM gt JOIN ge ON gt.g = ge.g
         |  GROUP BY ge.eval_id, gt.doc_id
         |  HAVING COUNT(DISTINCT gt.g) >= 1),
         |sem AS (SELECT e2.vec_id AS eval_id, e1.vec_id AS doc_id
         |  FROM embeddings e1 CROSS JOIN embeddings e2
         |  WHERE e1.vec_id % 20 <> 0 AND e2.vec_id % 20 = 0
         |    AND CAST(${sqlDotQT("e1.embedding", "e2.embedding")} AS DOUBLE) /
         |      SQRT(CAST(${sqlDotQT("e1.embedding", "e1.embedding")} *
         |        ${sqlDotQT("e2.embedding", "e2.embedding")} AS DOUBLE)) >= 0.40),
         |nl AS (SELECT eval_id, COUNT(*) AS n_lexical FROM lexk GROUP BY 1),
         |ns AS (SELECT eval_id, COUNT(*) AS n_semantic FROM sem GROUP BY 1),
         |nb AS (SELECT l.eval_id, COUNT(*) AS n_both
         |  FROM lexk l JOIN sem s ON s.eval_id = l.eval_id AND s.doc_id = l.doc_id
         |  GROUP BY l.eval_id),
         |ids AS (SELECT eval_id FROM nl UNION SELECT eval_id FROM ns
         |  UNION SELECT eval_id FROM nb)
         |SELECT ids.eval_id,
         |  CAST(COALESCE(nl.n_lexical, 0) AS BIGINT) AS n_lexical,
         |  CAST(COALESCE(ns.n_semantic, 0) AS BIGINT) AS n_semantic,
         |  CAST(COALESCE(nb.n_both, 0) AS BIGINT) AS n_both
         |FROM ids LEFT JOIN nl USING (eval_id)
         |LEFT JOIN ns USING (eval_id)
         |LEFT JOIN nb USING (eval_id)""".stripMargin,

    // q_pack_sequences' packing arithmetic rolled up per shard:
    // n_bins from the last start position's bin, capacity, fill ppm
    "q_pack_efficiency" ->
      s"""WITH d AS (SELECT doc_id, CAST(len($SQL_TOKS) AS BIGINT) AS n_tokens,
         |    doc_id // 100 AS shard FROM documents),
         |c AS (SELECT shard, doc_id, n_tokens,
         |    COALESCE(SUM(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS start_tok
         |  FROM d)
         |SELECT CAST(shard AS BIGINT) AS shard, COUNT(*) AS n_docs,
         |  CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
         |  CAST(MAX(start_tok // 2048) + 1 AS BIGINT) AS n_bins,
         |  CAST((MAX(start_tok // 2048) + 1) * 2048 AS BIGINT) AS capacity,
         |  CAST((SUM(n_tokens) * 1000000)
         |    // ((MAX(start_tok // 2048) + 1) * 2048) AS BIGINT) AS fill_ppm
         |FROM c GROUP BY shard""".stripMargin)
}
