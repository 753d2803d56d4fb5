package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Mergeable sketch operators (Apache DataSketches via Spark 4's
  * `hll_sketch_agg` family). The defining property at 100 TB: sketches
  * COMBINE — per-partition / per-day / per-shard partials union into
  * exact rollups of the approximate state without touching raw data
  * again, the same algebra map-side partial aggregation exploits. A
  * daily sketch table is a few KB per bucket regardless of row count,
  * and any ad-hoc rollup (weekly, monthly, all-time) is a union over
  * sketch bytes, never a rescan.
  *
  * Estimator nuance: DataSketches HLL carries an order-sensitive HIP
  * estimator on never-merged sketches but falls back to the composite
  * (register-only) estimator after any union. Every distributed path
  * here merges, so estimates are a pure function of the input SET —
  * partition- and order-invariant (pinned in SketchTextSpec) — but a
  * single-node never-merged sketch of the same data may differ by a
  * fraction of a percent. Both sit inside the lgK=12 error bounds.
  */
object Sketches {

  /** Per-bucket HLL sketches of `key` — the materialized sketch table.
    * One shuffle on the bucket; map-side partial sketches combine. */
  def hllBuckets(df: DataFrame, bucket: Column, key: Column): DataFrame =
    df.select(bucket.as("bucket"), key.as("k"))
      .groupBy(col("bucket"))
      .agg(expr("hll_sketch_agg(k)").as("sk"))

  /** Roll sketch buckets up to a coarser grain: union the sketch bytes,
    * estimate at the end. Touches only the (tiny) sketch table. */
  def hllRollup(sketches: DataFrame, rollup: Column): DataFrame =
    sketches.groupBy(rollup.as("grain"))
      .agg(expr("hll_sketch_estimate(hll_union_agg(sk))").as("est_distinct"),
        count(lit(1)).as("n_buckets"))

  // ── Count-Min frequency sketch (Cormode & Muthukrishnan 2005) ──

  /** 48-bit md5 prefix as a long — the engine's shared deterministic
    * uniform hash (cf. TextAnalysis.hash48); exact in SQL via
    * `CAST('0x' || substr(md5(x),1,12) AS BIGINT)`. */
  private def hash48(c: Column): Column =
    conv(substring(md5(c), 1, 12), 16, 10).cast("long")

  /** CMS row/bucket coordinate for one hash row: salt the term with
    * the row index so the depth rows are independent views. */
  private def cmsBucket(r: Int, term: Column, width: Int): Column =
    hash48(concat_ws(":", lit(r.toString), term)) % width

  /** Count-Min sketch of a term-occurrence column as a (r, b, cnt)
    * cell table — at most depth×width rows REGARDLESS of corpus size.
    *
    * Why this shape at 100 TB: exact per-term counts shuffle the full
    * distinct-gram vocabulary (the [[graft.operators.TextAnalysis]]
    * drift/novelty family pays that deliberately, strings and all);
    * the CMS cell table is a few thousand longs that (a) map-side
    * combines perfectly — each task emits ≤ depth×width partial cells,
    * (b) is ADDITIVE across any corpus split (cell-wise sum of batch
    * sketches IS the union corpus's sketch, the same associative-fold
    * algebra as the card/memorization indexes), and (c) answers any
    * later point query with no corpus access. Estimates are exact
    * upper bounds: est ≥ true always (counters only over-count on
    * collisions), with the usual (ε=e/width, δ=e^-depth) guarantee.
    *
    * Hashing is the md5-derived hash48 with the row index as salt —
    * deterministic, partition/order-invariant, and replayable in SQL,
    * so CMS queries carry FULL oracles (unlike the DataSketches HLL
    * family above, whose estimator is pinned by property specs). */
  def countMinCells(occurrences: DataFrame, term: Column, depth: Int,
      width: Int): DataFrame = {
    require(depth >= 1 && width >= 2)
    val views = array((0 until depth).map(r =>
      struct(lit(r).as("r"), cmsBucket(r, term, width).as("b"))): _*)
    occurrences.select(explode(views).as("rb"))
      .groupBy(col("rb.r").as("r"), col("rb.b").as("b"))
      .agg(count(lit(1)).as("cnt"))
  }

  /** Point-query a CMS cell table: est(term) = MIN over the depth rows
    * of that row's counter (a bucket no probe hashed to holds 0).
    * Probe work ∝ |probes|×depth; the cell table broadcasts. */
  def countMinEstimate(cells: DataFrame, probes: DataFrame, termCol: String,
      depth: Int, width: Int): DataFrame = {
    require(depth >= 1 && width >= 2)
    probes.select(col(termCol).as("term"),
        explode(array((0 until depth).map(lit): _*)).as("r"))
      .withColumn("b",
        hash48(concat_ws(":", col("r").cast("string"), col("term"))) % width)
      .join(broadcast(cells), Seq("r", "b"), "left")
      .groupBy("term")
      .agg(min(coalesce(col("cnt"), lit(0L))).as("est_cnt"))
  }

  /** Append one ingest batch to the stored CMS index — two partials
    * per batch under the engine's index discipline (idempotent
    * per-batch overwrite dirs):
    *  - `cells/batch=<id>`: the batch's CMS cell table (cell-wise sum
    *    across batches = the union corpus's sketch, exactly);
    *  - `cand/batch=<id>`: the batch's local top-`candidates` terms by
    *    exact batch count (count DESC, term ASC — deterministic), the
    *    classic candidates-from-partials heavy-hitter scheme: a global
    *    heavy hitter is heavy in at least one batch of any partition
    *    of the corpus once `candidates` covers the head, and the
    *    summed sketch then prices every candidate globally.
    * Batches must partition the corpus by document (the standing
    * append contract of every stored index here). */
  def appendToCmsIndex(occurrences: DataFrame, term: Column, path: String,
      batchId: Long, depth: Int, width: Int, candidates: Int,
      coalesceTo: Int = 1): Unit = {
    require(candidates >= 1)
    val occ = occurrences.select(term.as("term"))
    def w(df: DataFrame, sub: String): Unit =
      (if (coalesceTo > 0) df.coalesce(coalesceTo) else df)
        .write.mode("overwrite").parquet(s"$path/$sub/batch=$batchId")
    w(countMinCells(occ, col("term"), depth, width), "cells")
    w(occ.groupBy("term").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("term").asc)
      .limit(candidates).select("term"), "cand")
  }

  /** Global heavy hitters from the stored CMS index: sum the batch
    * cell partials (the union sketch), union the batch candidate
    * lists, price each candidate against the summed sketch, keep the
    * top `k` (estimate DESC, term ASC). NO corpus access — the read
    * touches ≤ batches×(depth×width + candidates) rows, so a 100 TB
    * corpus's term-frequency head is servable from kilobytes. */
  def cmsHeavyFromIndex(spark: org.apache.spark.sql.SparkSession,
      path: String, depth: Int, width: Int, k: Int): DataFrame = {
    val cells = spark.read.parquet(s"$path/cells")
      .groupBy("r", "b").agg(sum(col("cnt")).as("cnt"))
    val cand = spark.read.parquet(s"$path/cand").select("term").distinct()
    countMinEstimate(cells, cand, "term", depth, width)
      .orderBy(col("est_cnt").desc, col("term").asc).limit(k)
  }

  /** Crash-safe compaction for the CMS index (the memorization-index
    * shape): fold all but the newest `keepLast` batch dirs into
    * `batch=-1` with the same aggregate the read applies — cell-wise
    * sum for `cells`, set union for `cand` — both associative and the
    * read re-applies them, so compaction commutes with
    * [[cmsHeavyFromIndex]] (spec-pinned). */
  def compactCmsIndex(spark: org.apache.spark.sql.SparkSession,
      path: String, targetFiles: Int = 1, keepLast: Int = 1): Unit = {
    graft.io.Compaction.foldBatches(spark, s"$path/cells", targetFiles,
      keepLast)(_.groupBy(col("r"), col("b"))
        .agg(sum(col("cnt")).as("cnt")))
    graft.io.Compaction.foldBatches(spark, s"$path/cand", targetFiles,
      keepLast)(_.select(col("term")).distinct())
  }

  /** Build-once CMS index through
    * [[graft.io.StoredIndex.ensureBatches]] over both partials:
    * folded batches never rebuild (a post-compaction session would
    * otherwise see the deleted batch dirs as missing and double-count
    * the already-folded partials); torn builds re-run `build`, whose
    * per-batch overwrites are idempotent. */
  def ensureCmsIndex(spark: org.apache.spark.sql.SparkSession,
      path: String, batchIds: Seq[Long])(build: Seq[Long] => Unit): Unit =
    graft.io.StoredIndex.ensureBatches(spark, path, Seq("cells", "cand"),
      batchIds)(build)
}
