package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.VectorFns

/** Approximate/exact nearest-neighbor search over an `array<float>`
  * embedding column.
  *
  *  - [[bruteForceTopK]]: exact cosine top-k — one scan, no shuffle
  *    until the final k-row sort. The correctness baseline.
  *  - [[lshBucketTopK]]: sign-random-projection LSH — each vector maps
  *    to an 8-bit bucket; search touches only the query's bucket. The
  *    100 TB path: the bucket id is a partitionable key, so at scale the
  *    scan prunes to ~1/256 of the data (trade recall for IO).
  */
object Similarity {

  /** Deterministic ±1 hyperplanes — no RNG at plan time, identical
    * across runs and executors. Entry (p, i) is the parity of the first
    * hex digit of md5("p_i"), a derivation any engine can replay in
    * plain SQL (`md5` + hex parse), which is what lets the LSH queries
    * carry full DuckDB oracles instead of rows-only checks. */
  private[operators] def hyperplanes(nPlanes: Int, dim: Int): Array[Array[Int]] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    Array.tabulate(nPlanes, dim) { (p, i) =>
      val h = md.digest(s"${p}_${i}".getBytes("UTF-8"))
      md.reset()
      if (((h(0) >> 4) & 1) == 1) 1 else -1
    }
  }

  /** Exact top-k by quantized cosine (bit-stable across engines).
    * `probeId` supplies the query vector. Deterministic tie-break on id.
    * orderBy+limit plans as TakeOrderedAndProject — per-partition top-k
    * then a k-row driver merge, NOT a single-partition global sort; the
    * trailing row_number window runs over just k rows. */
  def bruteForceTopK(spark: SparkSession, emb: DataFrame, idCol: String, vecCol: String,
      probeId: Long, k: Int): DataFrame = {
    val qvec = emb.where(col(idCol) === probeId).select(col(vecCol)).head()
      .getSeq[Float](0)
    val q = typedLit(qvec)
    emb.where(col(idCol) =!= probeId)
      .select(col(idCol).as("vec_id"), VectorFns.cosineQ(col(vecCol), q).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col("vec_id").asc)
      .limit(k)
      .withColumn("rk", row_number().over(
        Window.orderBy(col("cos_sim").desc, col("vec_id").asc)))
  }

  /** Embedding dimensionality probed from the first row — hyperplanes
    * are generated at plan time, so the dim must be known up front. */
  private[operators] def probeDim(emb: DataFrame, vecCol: String): Int =
    emb.select(size(col(vecCol))).head().getInt(0)

  /** Runtime guard: every vector must match the plane dimension, else
    * the LSH dot products would be null (length-mismatch semantics of
    * [[VectorFns.dot]]) and bucketing would silently degrade — fail
    * loudly instead. The guard is part of the value expression so the
    * optimizer cannot elide it. */
  private def dimGuarded(vecCol: String, dim: Int, value: Column): Column =
    when(col(vecCol).isNull, lit(null)) // null vector passes through (not a dim error)
      .when(size(col(vecCol)) === dim, value)
      .otherwise(raise_error(concat(
        lit(s"embedding dim != LSH plane dim $dim: got "),
        size(col(vecCol)).cast("string"))))

  /** 8-bit sign-LSH bucket id for every vector: bit p = sign of
    * dot(vec, plane_p) with ±1 planes, via the native fused dot-product
    * expression (one loop per plane, no intermediate arrays). The dot
    * is the QUANTIZED integer form (dotQ): with ±1 planes its sign is
    * an exact integer comparison, bit-reproducible in any engine —
    * float summation order can flip a near-zero sign, an integer sum
    * cannot.
    * @param dim plane dimensionality; <= 0 means probe from the data */
  def withLshBucket(emb: DataFrame, vecCol: String, nPlanes: Int = 8,
      dim: Int = 0): DataFrame = {
    val d = if (dim > 0) dim else probeDim(emb, vecCol)
    val planes = hyperplanes(nPlanes, d)
    val bucket = (0 until nPlanes).map { p =>
      val dotP = VectorFns.dotQ(col(vecCol),
        typedLit(planes(p).map(_.toFloat).toSeq))
      when(dotP >= 0, lit(1L << p)).otherwise(lit(0L))
    }.reduce(_.bitwiseOR(_))
    emb.withColumn("lsh_bucket", dimGuarded(vecCol, d, bucket))
  }

  /** Embedding-cosine near-duplicate pairs, exact: every (a, b), a < b,
    * with quantized cosine >= threshold. All-pairs O(n²) self-join — the
    * correctness baseline only (cf. [[bruteForceTopK]]); the scale path
    * is [[nearDupPairsLsh]]. */
  def nearDupPairsExact(emb: DataFrame, idCol: String, vecCol: String,
      threshold: Double): DataFrame = {
    // per-vector quantized norm computed once (n·d), not per pair (n²·d)
    val a = emb.select(col(idCol).as("id_a"), col(vecCol).as("va"),
      VectorFns.dotQ(col(vecCol), col(vecCol)).as("na"))
    val b = emb.select(col(idCol).as("id_b"), col(vecCol).as("vb"),
      VectorFns.dotQ(col(vecCol), col(vecCol)).as("nb"))
    a.crossJoin(b).where(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        (VectorFns.dotQ(col("va"), col("vb")).cast("double") /
          sqrt((col("na") * col("nb")).cast("double"))).as("cos_sim"))
      .where(col("cos_sim") >= threshold)
  }

  /** Embedding-cosine near-dup, banded sign-LSH: each vector gets
    * `nBands` independent bucket keys (8 planes each); candidates are
    * pairs sharing any (band, bucket) key — an equi-join, never
    * all-pairs — then rescored exactly. OR-amplification over bands
    * trades shuffle volume for recall; at 100 TB the (band, bucket)
    * join key hash-partitions, so cost is ~nBands·n rows shuffled +
    * per-bucket pair generation, vs n² for the exact variant. */
  /** The exploded (id, v, nq, bkey) relation of banded sign-LSH — the
    * shared blocking front of [[nearDupPairsLsh]], [[knnJoinLsh]] and
    * the stored kNN-index family ([[knnWriteIndex]] /
    * [[incrementalKnnEdges]]). `bkey` packs (band, bucket) into one
    * long (band·256 + 8 sign bits); the hyperplanes are md5-derived
    * from (count, dim) alone, so batch and corpus sides of an
    * incremental probe derive IDENTICAL keys with no stored
    * plane state. Quantized integer dots: exact sign, SQL-replayable
    * (see [[withLshBucket]]). */
  private def bandExploded(emb: DataFrame, idCol: String, vecCol: String,
      nPlanes: Int, nBands: Int, d: Int): DataFrame = {
    val planes = hyperplanes(nPlanes * nBands, d)
    val bandKeys = array((0 until nBands).map { bnd =>
      (0 until nPlanes).map { p =>
        val dotP = VectorFns.dotQ(col(vecCol),
          typedLit(planes(bnd * nPlanes + p).map(_.toFloat).toSeq))
        when(dotP >= 0, lit(1L << p)).otherwise(lit(0L))
      }.reduce(_.bitwiseOR(_)) + lit(bnd.toLong * 256L)
    }: _*)
    emb.select(col(idCol).as("id"), col(vecCol).as("v"),
      VectorFns.dotQ(col(vecCol), col(vecCol)).as("nq"),
      explode(dimGuarded(vecCol, d, bandKeys)).as("bkey"))
  }

  def nearDupPairsLsh(emb: DataFrame, idCol: String, vecCol: String,
      threshold: Double, nPlanes: Int = 8, nBands: Int = 8,
      dim: Int = 0, maxBucket: Int = 64): DataFrame = {
    val d = if (dim > 0) dim else probeDim(emb, vecCol)
    // hot-bucket guard (cf. Dedup.cappedBucketPairs): an embedding
    // cluster of m near-identical vectors lands in ONE bucket per band;
    // rank members by id within each bucket, pair all-pairs among the
    // first maxBucket, and link overflow members only to the rank-1
    // representative — per-bucket work cap²/2 + (m − cap), not m².
    import org.apache.spark.sql.expressions.Window
    // Singleton pre-filter (cf. Dedup.cappedBucketPairs): almost every
    // (band, bucket) key holds one vector and can never pair, so the
    // rank window must not shuffle+sort the whole nBands×corpus keyed
    // relation. Bucket sizes are counted first (map-side partial agg)
    // and only `size >= 2` buckets are ranked — the sort covers rows
    // ∝ dup rate. The count branch recomputes the plane dots once
    // (map-side, no shuffle); that 2× dot cost replaces the old full
    // sort + corpus-sized cache.
    val exploded = bandExploded(emb, idCol, vecCol, nPlanes, nBands, d)
    val pairable = exploded.groupBy(col("bkey"))
      .agg(count(lit(1)).as("__n")).where(col("__n") >= 2)
      .select(col("bkey"))
    // persisted: the ranked relation feeds four broadcast-join inputs
    // (core a/b, star rep/overflow) which share no exchange — without
    // the persist the plane dots + semi-join + rank recompute per
    // input (measured 4x the work; callers clear the SQL cache). The
    // cache now holds only pair-producing buckets, not the corpus.
    val keyed = graft.operators.Caches.persist(
      exploded.join(pairable, Seq("bkey"), "left_semi")
        .withColumn("r", row_number().over(
          Window.partitionBy(col("bkey")).orderBy(col("id").asc))))
    // score WHILE the vectors are co-located by the band join, then
    // dedupe band collisions on (id_a, id_b, cos) — the dedup shuffle
    // carries ids + one double instead of two 64-float vectors; a pair
    // colliding in b bands costs b cheap fused dots, not b vector-row
    // shuffles. Threshold applied before the shuffle prunes further.
    def scored(x: DataFrame, y: DataFrame): DataFrame =
      x.as("x").join(y.as("y"), Seq("bkey"))
        .where(col("x.id") < col("y.id"))
        .select(col("x.id").as("id_a"), col("y.id").as("id_b"),
          (VectorFns.dotQ(col("x.v"), col("y.v")).cast("double") /
            sqrt((col("x.nq") * col("y.nq")).cast("double"))).as("cos_sim"))
        .where(col("cos_sim") >= threshold)
    val core = scored(keyed.where(col("r") <= maxBucket),
      keyed.where(col("r") <= maxBucket))
    val star = scored(keyed.where(col("r") === 1),
      keyed.where(col("r") > maxBucket))
    core.unionByName(star).dropDuplicates("id_a", "id_b")
  }

  /** Per-document k-NEAREST-NEIGHBOR JOIN over the whole corpus — the
    * self-join sibling of the probe-set ANN family
    * ([[bruteForceTopKBatch]] answers "top-k for THESE probes";
    * this answers "top-k for EVERY document", the shape behind
    * dedup-cluster diagnostics, retrieval-augmentation candidate
    * generation, and kNN-graph construction). All-pairs is n² and
    * off the table at corpus scale, so candidates come from the SAME
    * banded-LSH blocking as [[nearDupPairsLsh]] (deterministic md5
    * hyperplanes, exact integer sign dots, hot-bucket guard) — but
    * DIRECTED (each member of a pair sees the other as a candidate)
    * and unthresholded: per source doc, the k best candidates by
    * quantized cosine through the bounded-heap
    * [[graft.functions.expr.TopKByScore]] aggregate (map-side
    * partials, never a per-doc rank window over the corpus).
    *
    * Recall contract (the LSH trade, spec-measured): a true neighbor
    * is a candidate iff it shares ≥1 of the `nBands` band buckets —
    * near-identical vectors agree on all sign bits and always
    * collide; cosine-`τ` neighbors collide with probability
    * `1−(1−p^nPlanes)^nBands`, `p = 1 − θ/π`. A doc whose every
    * bucket is a singleton has no candidates and is ABSENT from the
    * output (deterministic; the oracle replays it). Overflow members
    * of a hot bucket (guard, cf. [[graft.operators.Dedup
    * .cappedBucketPairs]]) pair only with the bucket's rank-1
    * representative in that band.
    *
    * Scale shape: identical to [[nearDupPairsLsh]] (scoring rides the
    * band co-location; the dedup + heap shuffles carry ids and one
    * double each) plus one (id)-keyed bounded aggregate — work ∝
    * capped candidates, never n².
    * @return (idCol, nn_id, cos_sim, rk) — rk 1-based, ties to the
    *         lowest nn_id; ≤ k rows per source doc */
  def knnJoinLsh(emb: DataFrame, idCol: String, vecCol: String, k: Int,
      nPlanes: Int = 8, nBands: Int = 8, dim: Int = 0,
      maxBucket: Int = 64): DataFrame = {
    import org.apache.spark.sql.graft.shim
    val d = if (dim > 0) dim else probeDim(emb, vecCol)
    import org.apache.spark.sql.expressions.Window
    val exploded = bandExploded(emb, idCol, vecCol, nPlanes, nBands, d)
    val pairable = exploded.groupBy(col("bkey"))
      .agg(count(lit(1)).as("__n")).where(col("__n") >= 2)
      .select(col("bkey"))
    val keyed = graft.operators.Caches.persist(
      exploded.join(pairable, Seq("bkey"), "left_semi")
        .withColumn("r", row_number().over(
          Window.partitionBy(col("bkey")).orderBy(col("id").asc))))
    // directed scoring: x is the SOURCE doc, y the candidate neighbor
    def scored(x: DataFrame, y: DataFrame): DataFrame =
      x.as("x").join(y.as("y"), Seq("bkey"))
        .where(col("x.id") =!= col("y.id"))
        .select(col("x.id").as("id"), col("y.id").as("nn_id"),
          (VectorFns.dotQ(col("x.v"), col("y.v")).cast("double") /
            sqrt((col("x.nq") * col("y.nq")).cast("double"))).as("cos_sim"))
    val kept = keyed.where(col("r") <= maxBucket)
    val over = keyed.where(col("r") > maxBucket)
    val rep = keyed.where(col("r") === 1)
    val cands = scored(kept, kept) // both directions: same relation both sides
      .unionByName(scored(rep, over)) // rep sees overflow members...
      .unionByName(scored(over, rep)) // ...and overflow members see the rep
      .dropDuplicates("id", "nn_id") // band collisions
    knnHeapTail(cands, idCol, k)
  }

  /** The per-source bounded-heap ranking tail shared by [[knnJoinLsh]]
    * and [[incrementalKnnEdges]]: candidates (id, nn_id, cos_sim) →
    * (outIdCol, nn_id, cos_sim, rk), rk 1-based, ties to the lowest
    * nn_id — map-side-combined [[graft.functions.expr.TopKByScore]],
    * never a per-doc rank window over the corpus. */
  private def knnHeapTail(cands: DataFrame, outIdCol: String,
      k: Int): DataFrame = {
    import org.apache.spark.sql.graft.shim
    val agg = shim.column(graft.functions.expr.TopKByScore(
        shim.expression(col("cos_sim")), shim.expression(col("nn_id")), k)
      .toAggregateExpression())
    cands.groupBy(col("id")).agg(agg.as("__top"))
      .select(col("id"), posexplode(col("__top")).as(Seq("__p", "__e")))
      .select(col("id").as(outIdCol), col("__e.id").as("nn_id"),
        col("__e.score").as("cos_sim"),
        (col("__p") + 1).cast("long").as("rk"))
  }

  /** CONTRASTIVE training-pair generation — the (anchor, positive,
    * negatives) triplet builder for embedding-model training data:
    * each anchor's POSITIVE is its LSH-kNN rank-1 neighbor
    * ([[knnJoinLsh]] with k = 1 — anchors whose every bucket is a
    * singleton have no positive and emit nothing), and its `nNeg`
    * NEGATIVES are drawn deterministically by hashed bucketing: every
    * corpus doc is assigned one of `nBuckets` md5 buckets, each bucket
    * is represented by its MIN id (a `nBuckets`-row broadcast table),
    * and negative slot j of anchor a is the representative of bucket
    * `md5(a ++ "_" ++ j ++ "_" ++ epoch) mod nBuckets` — uniform over
    * representatives, reproducible on any engine, and EPOCH-salted:
    * advancing `epoch` redraws every anchor's negatives (fresh
    * negatives per training epoch) while the positives — a property
    * of the corpus geometry, not of the salt — are untouched, the
    * same split of concerns as [[TextAnalysis.trainingShards]]'
    * membership/permutation hashes. A slot whose representative
    * collides with the anchor or the positive is DROPPED (not
    * resampled — determinism over density; ~ (nNeg · 2 / nBuckets)
    * expected loss).
    *
    * EPOCH TURNS ARE CHEAP THROUGH THE STORED INDEX: positives are
    * epoch-INVARIANT, yet the kNN join that derives them is the whole
    * triplet cost (~97% measured, SCALE.md) — so pass `indexPath` to
    * read them from the stored kNN graph ([[knnWriteIndex]], built
    * once per corpus version via [[ensureKnnIndex]]) and every
    * `epoch = e` call costs ONE pruned (id, nn_id) index read + the
    * broadcast negative join. The stored rank-1 edge is bit-identical
    * to a fresh `knnJoinLsh(k = 1)` (the bounded heap's rank 1 is the
    * same row at any k ≥ 1 — spec-pinned), so routing through the
    * index changes nothing but the cost. Without `indexPath` the
    * ad-hoc kNN join runs per call (prototyping form). Work:
    * one index read (or the kNN join) + one broadcast equi-join of
    * (anchors × nNeg) rows — nothing corpus-quadratic anywhere.
    * @return (anchor, pos_id, neg_slot, neg_id) */
  def contrastivePairs(emb: DataFrame, idCol: String, vecCol: String,
      nNeg: Int = 3, nBuckets: Int = 64, nPlanes: Int = 8,
      nBands: Int = 8, dim: Int = 0, maxBucket: Int = 64,
      epoch: Long = 0L, indexPath: Option[String] = None,
      indexK: Int = 5): DataFrame = {
    require(nNeg >= 1 && nBuckets >= 2)
    def mdBucket(c: Column) =
      conv(substring(md5(c), 1, 4), 16, 10).cast("long") % nBuckets
    val pos = indexPath match {
      case Some(p) =>
        ensureKnnIndex(emb, idCol, vecCol, p, indexK, nPlanes, nBands,
          dim, maxBucket)
        knnPositives(emb.sparkSession, p)
      case None =>
        knnJoinLsh(emb, idCol, vecCol, k = 1, nPlanes, nBands, dim,
            maxBucket)
          .select(col(idCol).as("anchor"), col("nn_id").as("pos_id"))
    }
    val reps = emb.select(mdBucket(col(idCol).cast("string")).as("__bk"),
        col(idCol).cast("long").as("neg_id"))
      .groupBy(col("__bk")).agg(min(col("neg_id")).as("neg_id"))
    pos.select(col("anchor"), col("pos_id"),
        explode(sequence(lit(0), lit(nNeg - 1))).as("neg_slot"))
      .withColumn("__bk", mdBucket(concat(col("anchor").cast("string"),
        lit("_"), col("neg_slot").cast("string"), lit("_"),
        lit(epoch).cast("string"))))
      .join(broadcast(reps), Seq("__bk"))
      .where(col("neg_id") =!= col("anchor") && col("neg_id") =!= col("pos_id"))
      .select(col("anchor"), col("pos_id"),
        col("neg_slot").cast("long").as("neg_slot"), col("neg_id"))
  }

  // ─────────────── Stored kNN-graph index ───────────────

  /** Sibling location of a kNN index's band-bucket postings — the
    * probe surface of the incremental path (cf.
    * [[graft.operators.Dedup.writeBandIndex]]'s stored ranks). */
  def knnBucketsPath(path: String): String =
    path.stripSuffix("/") + ".buckets"

  /** Sibling location of a kNN index's build-time novelty baseline
    * (cf. [[kmeansBuildStatsPath]] — fixed at build so quiet appends
    * cannot ratchet it). */
  def knnBuildStatsPath(path: String): String =
    path.stripSuffix("/") + ".buildstats"

  /** Materialize the kNN GRAPH as an index: the full [[knnJoinLsh]]
    * edge table at `path` (id, nn_id, cos_sim, rk), the band-bucket
    * postings sibling at [[knnBucketsPath]] (id, bkey, __r — ranks
    * over ALL buckets, singletons included: a later batch may probe a
    * today-singleton bucket), and the build-time novelty baseline at
    * [[knnBuildStatsPath]] (n_docs, orphan_ppm — the ppm of docs whose
    * every bucket was a singleton, i.e. absent from the edge table).
    *
    * This is the "compute the expensive geometry once per corpus
    * version" move the VERDICT r9 worklist asked for: the kNN join is
    * ~97% of the contrastive-triplet cost and its output is
    * epoch-invariant, so multi-epoch training runs
    * ([[contrastivePairs]] with `indexPath`) and graph consumers pay
    * one pruned read instead of a full banded-LSH pipeline per call.
    * Build cost: the kNN join itself + one full-bucket rank window
    * (the [[graft.operators.Dedup.writeBandIndex]] build shape — a
    * shard of the corpus×nBands keyed relation per task, offline). */
  def knnWriteIndex(emb: DataFrame, idCol: String, vecCol: String,
      path: String, k: Int = 5, nPlanes: Int = 8, nBands: Int = 8,
      dim: Int = 0, maxBucket: Int = 64, coalesceTo: Int = 8): Unit = {
    import org.apache.spark.sql.expressions.Window
    val spark = emb.sparkSession
    val d = if (dim > 0) dim else probeDim(emb, vecCol)
    def bounded(df: DataFrame) =
      if (coalesceTo > 0) df.coalesce(coalesceTo) else df
    bounded(knnJoinLsh(emb, idCol, vecCol, k, nPlanes, nBands, d, maxBucket)
        .select(col(idCol).as("id"), col("nn_id"), col("cos_sim"), col("rk")))
      .write.mode("overwrite").parquet(path)
    val w = Window.partitionBy(col("bkey")).orderBy(col("id").asc)
    bounded(bandExploded(emb, idCol, vecCol, nPlanes, nBands, d)
        .select(col("id"), col("bkey"))
        .withColumn("__r", row_number().over(w)))
      .write.mode("overwrite").parquet(knnBucketsPath(path))
    val n = emb.count()
    val matched = spark.read.parquet(path)
      .select(col("id")).distinct().count()
    import spark.implicits._
    Seq((n, if (n > 0) (n - matched) * 1000000L / n else 0L))
      .toDF("n_docs", "orphan_ppm")
      .coalesce(1).write.mode("overwrite").parquet(knnBuildStatsPath(path))
  }

  /** Build-once [[knnWriteIndex]] through [[graft.io.StoredIndex]]
    * (all three artifacts gate, so a crash between the writes
    * rebuilds). */
  def ensureKnnIndex(emb: => DataFrame, idCol: String, vecCol: String,
      path: String, k: Int = 5, nPlanes: Int = 8, nBands: Int = 8,
      dim: Int = 0, maxBucket: Int = 64): Unit =
    graft.io.StoredIndex.ensure(SparkSession.active, path,
      knnBucketsPath(path), knnBuildStatsPath(path))(
      knnWriteIndex(emb, idCol, vecCol, path, k, nPlanes, nBands, dim,
        maxBucket))

  /** Retrain the kNN graph over the CURRENT corpus and overwrite the
    * stored index (all three artifacts) — the restore for
    * [[appendToKnnIndex]]'s documented one-sided staleness. */
  def rebuildKnnIndex(emb: DataFrame, idCol: String, vecCol: String,
      path: String, k: Int = 5, nPlanes: Int = 8, nBands: Int = 8,
      dim: Int = 0, maxBucket: Int = 64): Unit =
    knnWriteIndex(emb, idCol, vecCol, path, k, nPlanes, nBands, dim,
      maxBucket)

  /** The stored (anchor, pos_id) rank-1 slice of a kNN index — the
    * contrastive-positive table. The bounded heap's rank 1 is the
    * same row at ANY build k ≥ 1 (same ordering contract), so one
    * stored graph serves both graph consumers (k edges) and the
    * positive reads (rank 1). */
  def knnPositives(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path).where(col("rk") === 1L)
      .select(col("id").as("anchor"), col("nn_id").as("pos_id"))

  /** INCREMENTAL per-document kNN — the production ingest shape (the
    * embedding twin of [[graft.operators.Dedup.incrementalDedupPairs]]):
    * a NEW batch is kNN-joined against an EXISTING corpus through the
    * stored band postings WITHOUT recomputing corpus band keys or
    * corpus edges. READ-ONLY (the fold is [[appendToKnnIndex]]).
    *
    * Work at query time: band keys for the batch only (the planes are
    * md5-derived — no stored plane state), one postings read pruned to
    * the buckets the batch touches (broadcast semi-join on batch
    * keys), a batch-sized rank window, candidate vectors fetched by id
    * from `corpusEmb` (semi-join — only capped members of touched
    * buckets), scoring ∝ capped candidates, and the per-doc bounded
    * heap. Nothing corpus-sized moves.
    *
    * Rank semantics — the ARRIVAL-order contract of
    * [[graft.operators.Dedup.appendToBandIndex]]: batch members extend
    * each touched bucket's stored rank sequence (rank = stored max +
    * rank within batch by id), so the hot-bucket guard keeps a
    * bounded, deterministic kept set whose representative is the
    * earliest-ingested member. When corpus ids all precede batch ids,
    * arrival ranks EQUAL the global id ranks and the result is
    * bit-identical to the new-side restriction of a full
    * [[knnJoinLsh]] over the union (spec-pinned). Candidate rules
    * mirror the batch operator on the union: a kept batch member sees
    * every kept union member in its bucket; an overflow batch member
    * sees the bucket's rank-1 representative; a batch member that IS
    * the representative (possible only in all-new buckets) sees the
    * batch overflow. Corpus-side edges are NOT updated (one-sided
    * growth — the documented staleness [[rebuildKnnIndexIfDrifted]]
    * restores).
    *
    * `newEmb` ids must be disjoint from the indexed corpus (the
    * [[graft.operators.Dedup.incrementalDedupPairs]] contract).
    * Persists intermediates through [[Caches]] — release with
    * `Caches.release()` after the consuming action.
    * @return (idCol, nn_id, cos_sim, rk) for batch docs only */
  def incrementalKnnEdges(newEmb: DataFrame, corpusEmb: DataFrame,
      path: String, idCol: String, vecCol: String, k: Int = 5,
      nPlanes: Int = 8, nBands: Int = 8, dim: Int = 0,
      maxBucket: Int = 64): DataFrame = {
    val d = if (dim > 0) dim else probeDim(newEmb, vecCol)
    incrementalKnnEdgesFromKeyed(
      Caches.persist(bandExploded(newEmb, idCol, vecCol, nPlanes, nBands, d)),
      corpusEmb, path, idCol, vecCol, k, maxBucket)
  }

  /** [[incrementalKnnEdges]] over precomputed (persisted — consumed
    * several times) batch band keys. */
  private def incrementalKnnEdgesFromKeyed(newKeyed: DataFrame,
      corpusEmb: DataFrame, path: String, idCol: String, vecCol: String,
      k: Int, maxBucket: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val spark = newKeyed.sparkSession
    require(graft.io.IndexPaths.complete(spark, path) &&
        graft.io.IndexPaths.complete(spark, knnBucketsPath(path)),
      s"kNN index at $path is absent or torn (no _SUCCESS); " +
        "build it with knnWriteIndex/ensureKnnIndex first")
    val touched = newKeyed.select(col("bkey")).distinct()
    // ALL stored rows of touched buckets: the base ranks must include
    // overflow rows, or batch ranks would collide with them and a
    // batch doc could slip under the cap in an overflowed bucket
    val storedTouched = Caches.persist(
      spark.read.parquet(knnBucketsPath(path))
        .join(broadcast(touched), Seq("bkey"), "left_semi"))
    val base = storedTouched.groupBy(col("bkey"))
      .agg(max(col("__r")).as("__base"))
    val newRanked = Caches.persist(newKeyed
      .withColumn("__nr", row_number().over(
        Window.partitionBy(col("bkey")).orderBy(col("id").asc)))
      .join(base, Seq("bkey"), "left")
      .select(col("id"), col("v"), col("nq"), col("bkey"),
        (col("__nr") + coalesce(col("__base"), lit(0))).as("r")))
    // candidate corpus vectors: only capped members of touched buckets,
    // fetched by id (broadcast-built semi-join — the corpus itself
    // never shuffles)
    val storedKeptIds = storedTouched.where(col("__r") <= maxBucket)
    val corpusVecs = corpusEmb
      .select(col(idCol).as("id"), col(vecCol).as("v"),
        VectorFns.dotQ(col(vecCol), col(vecCol)).as("nq"))
      .join(storedKeptIds.select(col("id")).distinct(), Seq("id"), "left_semi")
    val storedSide = Caches.persist(storedKeptIds
      .join(corpusVecs, Seq("id"))
      .select(col("id"), col("v"), col("nq"), col("bkey"),
        col("__r").as("r")))
    def scoredX(x: DataFrame, y: DataFrame): DataFrame =
      x.as("x").join(y.as("y"), Seq("bkey"))
        .where(col("x.id") =!= col("y.id"))
        .select(col("x.id").as("id"), col("y.id").as("nn_id"),
          (VectorFns.dotQ(col("x.v"), col("y.v")).cast("double") /
            sqrt((col("x.nq") * col("y.nq")).cast("double"))).as("cos_sim"))
    val newKept = newRanked.where(col("r") <= maxBucket)
    val newOver = newRanked.where(col("r") > maxBucket)
    val unionKept = storedSide.unionByName(newKept)
    val unionRep = unionKept.where(col("r") === 1)
    // a batch member can be the representative only in an all-new
    // bucket (any stored member would own rank 1), so the rep→overflow
    // direction needs only the batch overflow
    val newRep = newRanked.where(col("r") === 1)
    val cands = scoredX(newKept, unionKept)
      .unionByName(scoredX(newOver, unionRep))
      .unionByName(scoredX(newRep, newOver))
      .dropDuplicates("id", "nn_id")
    knnHeapTail(cands, idCol, k)
  }

  /** Fold a new batch INTO the stored kNN index — the step that closes
    * the kNN-graph ingest loop (batch N+1's neighbors include batch
    * N): computes the batch's edges through the stored postings
    * ([[incrementalKnnEdges]]), APPENDS them to the edge table, and
    * folds the batch's band keys into the postings sibling with
    * continued arrival ranks. Replay-idempotent on both artifacts:
    * batch ids already present in the edge table are dropped before
    * the edge append, and (id, bkey) rows already stored are dropped
    * before the postings rank-extend — an at-least-once re-delivery
    * appends nothing (cf. [[graft.operators.Dedup
    * .appendToBandIndexFromBuckets]]). The buildstats baseline is NOT
    * touched (fixed at build — the anti-ratchet contract). Corpus-side
    * edges go stale one-sidedly; [[rebuildKnnIndexIfDrifted]] is the
    * restore arc. */
  def appendToKnnIndex(newEmb: DataFrame, corpusEmb: DataFrame,
      path: String, idCol: String, vecCol: String, k: Int = 5,
      nPlanes: Int = 8, nBands: Int = 8, dim: Int = 0,
      maxBucket: Int = 64, coalesceTo: Int = 8): Unit = {
    import org.apache.spark.sql.expressions.Window
    val spark = newEmb.sparkSession
    val d = if (dim > 0) dim else probeDim(newEmb, vecCol)
    def bounded(df: DataFrame) =
      if (coalesceTo > 0) df.coalesce(coalesceTo) else df
    val newKeyed = Caches.persist(
      bandExploded(newEmb, idCol, vecCol, nPlanes, nBands, d))
    val edges = incrementalKnnEdgesFromKeyed(newKeyed, corpusEmb, path,
      idCol, vecCol, k, maxBucket)
    // replay guard: a batch id already carrying stored edges was
    // folded by a previous (crashed-after-append) delivery
    val batchIds = newKeyed.select(col("id")).distinct()
    val already = spark.read.parquet(path)
      .join(broadcast(batchIds), Seq("id"), "left_semi")
      .select(col("id")).distinct()
    bounded(edges
        .select(col(idCol).as("id"), col("nn_id"), col("cos_sim"), col("rk"))
        .join(already, Seq("id"), "left_anti"))
      .write.mode("append").parquet(path)
    // postings fold (membership-idempotent, continued arrival ranks)
    val touched = newKeyed.select(col("bkey")).distinct()
    val storedB = spark.read.parquet(knnBucketsPath(path))
      .join(broadcast(touched), Seq("bkey"), "left_semi")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val fresh = newKeyed.select(col("id"), col("bkey"))
        .join(storedB.select(col("id"), col("bkey")),
          Seq("id", "bkey"), "left_anti")
      val baseB = storedB.groupBy(col("bkey"))
        .agg(max(col("__r")).as("__base"))
      bounded(fresh
          .withColumn("__nr", row_number().over(
            Window.partitionBy(col("bkey")).orderBy(col("id").asc)))
          .join(baseB, Seq("bkey"), "left")
          .select(col("id"), col("bkey"),
            (col("__nr") + coalesce(col("__base"), lit(0))).as("__r")))
        .write.mode("append").parquet(knnBucketsPath(path))
    } finally storedB.unpersist()
  }

  /** NOVELTY of a batch against a stored kNN index, in ppm: the
    * fraction of batch docs with NO band-bucket collision anywhere in
    * the stored postings — on-distribution content lands in occupied
    * buckets (near-dups agree on every sign bit; same-topic vectors
    * collide with the standard LSH probability), while a distribution
    * shift flips sign patterns and lands in fresh buckets. Work: batch
    * band keys (map-side) + one postings read pruned to the batch's
    * buckets. */
  def knnIndexNoveltyPpm(batch: DataFrame, path: String, idCol: String,
      vecCol: String, nPlanes: Int = 8, nBands: Int = 8,
      dim: Int = 0): Long = {
    val spark = batch.sparkSession
    val d = if (dim > 0) dim else probeDim(batch, vecCol)
    val keyed = bandExploded(batch, idCol, vecCol, nPlanes, nBands, d)
      .select(col("id"), col("bkey"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val touched = keyed.select(col("bkey")).distinct()
      val storedKeys = spark.read.parquet(knnBucketsPath(path))
        .join(broadcast(touched), Seq("bkey"), "left_semi")
        .select(col("bkey")).distinct()
      val n = keyed.select(col("id")).distinct().count()
      val collided = keyed.join(storedKeys, Seq("bkey"), "left_semi")
        .select(col("id")).distinct().count()
      if (n == 0) 0L else (n - collided) * 1000000L / n
    } finally keyed.unpersist()
  }

  /** ALARM → REBUILD for the kNN index (cf.
    * [[rebuildKmeansIndexIfDrifted]]): compare the arriving batch's
    * novelty ([[knnIndexNoveltyPpm]]) against the BUILD-TIME baseline
    * stored at [[knnBuildStatsPath]] (the seed corpus's own orphan
    * rate, fixed at training — a live-table baseline would ratchet as
    * appends fold each quiet batch's buckets in), retrain over `emb`
    * iff `novelty > threshold · baseline + slackPpm`. The additive
    * slack keeps a fully-connected seed corpus (baseline 0) from
    * alarming on ordinary growth; a genuine shift lands near 10⁶ ppm.
    * A baseline written by a pre-baseline builder is healed in place
    * from the stored artifacts. Check BEFORE folding the batch
    * ([[appendToKnnIndex]]) so the judged batch cannot pollute its own
    * evidence. @return true iff a rebuild ran. */
  def rebuildKnnIndexIfDrifted(emb: => DataFrame, batch: DataFrame,
      path: String, idCol: String, vecCol: String, k: Int = 5,
      nPlanes: Int = 8, nBands: Int = 8, dim: Int = 0,
      maxBucket: Int = 64, threshold: Double = 4.0,
      slackPpm: Long = 100000L): Boolean = {
    val spark = batch.sparkSession
    val baseline =
      if (graft.io.IndexPaths.complete(spark, knnBuildStatsPath(path)))
        spark.read.parquet(knnBuildStatsPath(path)).head().getLong(1)
      else { // index predates the baseline sibling: heal it in place
        import spark.implicits._
        val n = spark.read.parquet(knnBucketsPath(path))
          .select(col("id")).distinct().count()
        val matched = spark.read.parquet(path)
          .select(col("id")).distinct().count()
        val ppm = if (n > 0) (n - matched) * 1000000L / n else 0L
        Seq((n, ppm)).toDF("n_docs", "orphan_ppm")
          .coalesce(1).write.mode("overwrite")
          .parquet(knnBuildStatsPath(path))
        ppm
      }
    val novelty = knnIndexNoveltyPpm(batch, path, idCol, vecCol,
      nPlanes, nBands, dim)
    val drifted = novelty > threshold * baseline + slackPpm
    if (drifted)
      rebuildKnnIndex(emb, idCol, vecCol, path, k, nPlanes, nBands, dim,
        maxBucket)
    drifted
  }

  /** IVF coarse quantizer: k-means centroids trained with a few Lloyd
    * iterations. Deterministic init (lowest-id vectors); each iteration
    * is fully distributed (argmin assignment + per-dimension mean);
    * only the k×dim centroid matrix ever reaches the driver — the same
    * shape as Spark ML's KMeans. Returns the centroid matrix. */
  def ivfTrain(emb: DataFrame, idCol: String, vecCol: String,
      k: Int = 16, iters: Int = 3): Array[Seq[Float]] = {
    var centroids: Array[Seq[Float]] = emb.orderBy(col(idCol).asc).limit(k)
      .select(col(vecCol)).collect().map(_.getSeq[Float](0))
    for (_ <- 0 until iters) {
      val assigned = assignToCentroids(emb, vecCol, centroids)
      val means = assigned
        .select(col("__cid"), posexplode(col(vecCol)).as(Seq("__pos", "__v")))
        .groupBy(col("__cid"), col("__pos"))
        .agg(avg(col("__v")).as("__m"))
        .collect()
      val byCid = means.groupBy(_.getInt(0))
      centroids = centroids.indices.map { cid =>
        byCid.get(cid) match {
          case Some(rows) =>
            rows.sortBy(_.getInt(1)).map(_.getDouble(2).toFloat).toSeq
          case None => centroids(cid) // empty cluster keeps its centroid
        }
      }.toArray
    }
    centroids
  }

  /** Nearest-centroid id per vector (argmin of squared L2 distance,
    * expanded to -2·dot + |c|² since |v|² is constant per row) — one
    * fused native dot per centroid, no shuffle. */
  private def assignToCentroids(emb: DataFrame, vecCol: String,
      centroids: Array[Seq[Float]]): DataFrame = {
    val scored = centroids.zipWithIndex.map { case (c, i) =>
      val norm2 = c.map(x => x.toDouble * x.toDouble).sum
      struct((VectorFns.dot(col(vecCol), typedLit(c)) * lit(-2.0) + lit(norm2)).as("d"),
        lit(i).as("cid"))
    }
    emb.withColumn("__cid", array_min(array(scored.toIndexedSeq: _*)).getField("cid"))
  }

  /** IVF ANN top-k: scan only the `nProbe` inverted lists whose
    * centroids are nearest the query, exact cosine within them. At
    * scale the assignment is precomputed and the table partitioned by
    * `__cid`, so the probe reads nProbe/k of the corpus. */
  def ivfTopK(spark: SparkSession, emb: DataFrame, idCol: String, vecCol: String,
      probeId: Long, k: Int, nClusters: Int = 16, nProbe: Int = 4): DataFrame = {
    // train + assign scan the corpus ~2x per Lloyd iteration — cache it
    // (tracked: callers release via Caches.release after the action)
    val cached = Caches.persist(emb)
    val centroids = ivfTrain(cached, idCol, vecCol, nClusters)
    val qvec = cached.where(col(idCol) === probeId).select(col(vecCol)).head()
      .getSeq[Float](0)
    val probes = centroids.zipWithIndex.map { case (c, i) =>
      val d = c.zip(qvec).map { case (a, b) => (a - b).toDouble * (a - b) }.sum
      (d, i)
    }.sortBy(_._1).take(nProbe).map(_._2).toSeq
    assignToCentroids(cached, vecCol, centroids)
      .where(col("__cid").isin(probes: _*) && col(idCol) =!= probeId)
      .select(col(idCol).as("vec_id"),
        VectorFns.cosineQ(col(vecCol), typedLit(qvec)).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col("vec_id").asc)
      .limit(k)
      .withColumn("rk", row_number().over(
        Window.orderBy(col("cos_sim").desc, col("vec_id").asc)))
  }

  /** Per-label embedding centroids (average pooling over a group) in
    * fixed-point arithmetic: mean of floor(v*1000) per dimension, so the
    * result double is bit-identical across engines and summation orders.
    * One shuffle on (label, pos) with map-side partial sums — the
    * posexplode's 64x row expansion never crosses the wire uncombined. */
  def labelCentroids(emb: DataFrame, labelCol: String, vecCol: String): DataFrame =
    emb.select(col(labelCol).as("label"),
        posexplode(col(vecCol)).as(Seq("pos", "__v")))
      .groupBy(col("label"), col("pos").cast("long").as("pos"))
      .agg((sum(VectorFns.qint(col("__v"))).cast("double") / count(lit(1)))
          .as("mean_q"),
        count(lit(1)).as("n"))

  /** Materialize the IVF index as a table PARTITIONED BY the coarse
    * cluster id — the 100 TB layout: a probe then reads only its
    * nProbe partitions (directory-level pruning, verified in
    * SimilaritySpec), instead of scanning the corpus and filtering.
    * Returns the centroid matrix needed at query time. */
  def ivfWriteIndex(emb: DataFrame, idCol: String, vecCol: String,
      path: String, nClusters: Int = 16): Array[Seq[Float]] = {
    val cached = emb.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val centroids = ivfTrain(cached, idCol, vecCol, nClusters)
    assignToCentroids(cached, vecCol, centroids)
      .select(col(idCol), col(vecCol), col("__cid"))
      .write.mode("overwrite").partitionBy("__cid").parquet(path)
    cached.unpersist()
    // persist the centroid matrix NEXT TO the index (sibling path, so
    // the partitioned parquet dir stays homogeneous): the index is now
    // self-describing across JVMs — append and query jobs reload
    // centroids from disk instead of depending on the build JVM's memo
    val spark = emb.sparkSession
    import spark.implicits._
    centroids.zipWithIndex.map { case (c, i) => (i, c) }.toSeq
      .toDF("__cid", "centroid")
      .coalesce(1).write.mode("overwrite").parquet(centroidsPath(path))
    centroids
  }

  /** Sibling location of an index's persisted centroid matrix. */
  def centroidsPath(path: String): String =
    path.stripSuffix("/") + ".centroids"

  /** Reload the centroid matrix written by [[ivfWriteIndex]]. */
  def loadCentroids(spark: SparkSession, path: String): Array[Seq[Float]] =
    spark.read.parquet(centroidsPath(path))
      .orderBy(col("__cid").asc).collect()
      .map(_.getSeq[Float](1))

  /** Fold a new batch of embeddings INTO the stored IVF index — the ANN
    * side of the production ingest loop (cf.
    * [[graft.operators.Dedup.appendToBandIndex]]): new vectors are
    * assigned to the EXISTING centroids and appended to their
    * partitions; the stored corpus is never rewritten and queries see
    * the union immediately (same directory-pruned probe).
    *
    * No re-clustering happens on append — the standard IVF ingest
    * trade: centroids drift as the distribution shifts, degrading list
    * balance (probe recall stays correct, since assignment and probe
    * use the same centroids). Production practice is periodic offline
    * retraining ([[ivfWriteIndex]] again) when imbalance crosses a
    * threshold. */
  def appendToIvfIndex(newEmb: DataFrame, path: String, idCol: String,
      vecCol: String): Unit = {
    val spark = newEmb.sparkSession
    val centroids = graft.io.StoredIndex.memo[Array[Seq[Float]]](path)
      .getOrElse(loadCentroids(spark, path))
    assignToCentroids(newEmb, vecCol, centroids)
      .select(col(idCol), col(vecCol), col("__cid"))
      .write.mode("append").partitionBy("__cid").parquet(path)
  }

  /** Build-once IVF index through [[graft.io.StoredIndex]]: the index
    * table and its centroid sibling gate; a fresh JVM reloads a
    * committed index's centroids instead of retraining (the index is
    * self-describing on disk, see [[ivfWriteIndex]]), a torn or missing
    * one rebuilds. Returns the centroid matrix. */
  private def ensureIvfIndex(spark: SparkSession, emb: => DataFrame,
      idCol: String, vecCol: String, indexPath: String,
      nClusters: Int): Array[Seq[Float]] =
    graft.io.StoredIndex.ensureValue(spark, indexPath,
      centroidsPath(indexPath))(loadCentroids(spark, indexPath))(
      ivfWriteIndex(emb, idCol, vecCol, indexPath, nClusters))

  /** IVF ANN top-k THROUGH the materialized index: [[ensureIvfIndex]],
    * then [[ivfQueryIndex]]'s partition-pruned probe.
    * This is the form a query inventory should expose — per-query
    * k-means training ([[ivfTopK]]) is a non-starter at corpus scale. */
  def ivfTopKIndexed(spark: SparkSession, emb: => DataFrame, idCol: String,
      vecCol: String, indexPath: String, probeId: Long, k: Int,
      nClusters: Int = 16, nProbe: Int = 4): DataFrame = {
    val centroids = ensureIvfIndex(spark, emb, idCol, vecCol, indexPath,
      nClusters)
    ivfQueryIndex(spark, indexPath, centroids, idCol, vecCol, probeId, k, nProbe)
  }

  /** ANN top-k over a materialized [[ivfWriteIndex]] table: pick the
    * `nProbe` nearest centroids, read ONLY those partitions (the
    * `__cid isin` filter prunes at the directory level — shows up as
    * PartitionFilters in the scan), exact cosine within them. */
  def ivfQueryIndex(spark: SparkSession, path: String,
      centroids: Array[Seq[Float]], idCol: String, vecCol: String,
      probeId: Long, k: Int, nProbe: Int = 4): DataFrame = {
    val index = spark.read.parquet(path)
    val qvec = index.where(col(idCol) === probeId).select(col(vecCol)).head()
      .getSeq[Float](0)
    val probes = centroids.zipWithIndex.map { case (c, i) =>
      (c.zip(qvec).map { case (a, b) => (a - b).toDouble * (a - b) }.sum, i)
    }.sortBy(_._1).take(nProbe).map(_._2).toSeq
    index.where(col("__cid").isin(probes: _*) && col(idCol) =!= probeId)
      .select(col(idCol).as("vec_id"),
        VectorFns.cosineQ(col(vecCol), typedLit(qvec)).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col("vec_id").asc)
      .limit(k)
      .withColumn("rk", row_number().over(
        Window.orderBy(col("cos_sim").desc, col("vec_id").asc)))
  }

  /** Batched IVF probe over the stored index — the offline-eval shape
    * for the PRODUCTION ANN path: every probe's inverted lists are read
    * in ONE partition-pruned scan (`__cid isin` over the union of all
    * probes' nProbe lists — still a PartitionFilter), and each corpus
    * row is scored only against the probes that probe ITS list (a
    * broadcast equi-join on `__cid`, probe rows ∝ |probes|·nProbe —
    * KBs). Per-probe top-k is the bounded-heap aggregate, identical
    * ordering to [[ivfQueryIndex]] (spec-pinned). */
  def ivfQueryIndexBatch(spark: SparkSession, path: String,
      centroids: Array[Seq[Float]], idCol: String, vecCol: String,
      probeIds: Seq[Long], k: Int, nProbe: Int = 4): DataFrame = {
    require(probeIds.nonEmpty)
    import spark.implicits._
    val index = graft.io.StoredIndex.read(spark, path)
    // probe vectors: |probes| rows to the driver — KBs, size-bounded
    val probeVecs = index.where(col(idCol).isin(probeIds: _*))
      .select(col(idCol), col(vecCol)).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    val pairs = probeIds.flatMap { pid =>
      require(probeVecs.contains(pid),
        s"probe $pid not found in index $path")
      val qv = probeVecs(pid)
      centroids.zipWithIndex.map { case (c, i) =>
        (c.zip(qv).map { case (a, b) => (a - b).toDouble * (a - b) }.sum, i)
      }.sortBy(_._1).take(nProbe).map(t => (pid, t._2, qv))
    }
    val allCids = pairs.map(_._2).distinct
    val probes = broadcast(pairs.toDF("probe_id", "__cid", "__pv"))
    topKPerProbe(index.where(col("__cid").isin(allCids: _*))
      .join(probes, Seq("__cid"))
      .where(col(idCol) =!= col("probe_id"))
      .select(col("probe_id"), col(idCol).as("vec_id"),
        VectorFns.cosineQ(col(vecCol), col("__pv")).as("cos_sim")), k)
  }

  /** Batched [[ivfTopKIndexed]]: [[ensureIvfIndex]], then the one-scan
    * probe-set query above. */
  def ivfTopKIndexedBatch(spark: SparkSession, emb: => DataFrame,
      idCol: String, vecCol: String, indexPath: String,
      probeIds: Seq[Long], k: Int, nClusters: Int = 16,
      nProbe: Int = 4): DataFrame = {
    val centroids = ensureIvfIndex(spark, emb, idCol, vecCol, indexPath,
      nClusters)
    ivfQueryIndexBatch(spark, indexPath, centroids, idCol, vecCol,
      probeIds, k, nProbe)
  }

  /** ANN top-k: restrict the scan to the probe's LSH bucket, then exact
    * cosine within it. Recall < 1 by construction; at scale the win is
    * reading 1/2^nPlanes of the corpus. */
  def lshBucketTopK(spark: SparkSession, emb: DataFrame, idCol: String, vecCol: String,
      probeId: Long, k: Int, nPlanes: Int = 8): DataFrame = {
    val bucketed = withLshBucket(emb, vecCol, nPlanes)
    val probe = bucketed.where(col(idCol) === probeId)
      .select(col(vecCol), col("lsh_bucket")).head()
    val qvec = probe.getSeq[Float](0)
    val qBucket = probe.getLong(1)
    bucketed.where(col("lsh_bucket") === qBucket && col(idCol) =!= probeId)
      .select(col(idCol).as("vec_id"),
        VectorFns.cosineQ(col(vecCol), typedLit(qvec)).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col("vec_id").asc)
      .limit(k)
      .withColumn("rk", row_number().over(
        Window.orderBy(col("cos_sim").desc, col("vec_id").asc)))
  }

  /** Multi-probe LSH ANN top-k: scan the probe's sign-LSH bucket PLUS
    * its `nPlanes` Hamming-distance-1 neighbor buckets (flip one sign
    * bit each) — the standard recall amplifier for sign LSH: a near
    * neighbor that lands just across one hyperplane is recovered
    * without adding hash tables. Reads (nPlanes+1)/2^nPlanes of the
    * corpus (~3.5% at 8 planes) instead of 1/2^nPlanes; at scale the
    * bucket id is a partition key, so the probe set is a partition-
    * pruned IN-list scan. Deterministic md5 planes + integer sign dots
    * keep the whole pipeline SQL-replayable (full oracle). */
  def lshMultiProbeTopK(spark: SparkSession, emb: DataFrame, idCol: String,
      vecCol: String, probeId: Long, k: Int, nPlanes: Int = 8): DataFrame = {
    val bucketed = withLshBucket(emb, vecCol, nPlanes)
    val probe = bucketed.where(col(idCol) === probeId)
      .select(col(vecCol), col("lsh_bucket")).head()
    val qvec = probe.getSeq[Float](0)
    val qBucket = probe.getLong(1)
    val probes = (qBucket +: (0 until nPlanes).map(j => qBucket ^ (1L << j))).distinct
    bucketed.where(col("lsh_bucket").isin(probes: _*) && col(idCol) =!= probeId)
      .select(col(idCol).as("vec_id"),
        VectorFns.cosineQ(col(vecCol), typedLit(qvec)).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col("vec_id").asc)
      .limit(k)
      .withColumn("rk", row_number().over(
        Window.orderBy(col("cos_sim").desc, col("vec_id").asc)))
  }

  /** Batched exact top-k over a PROBE SET — the offline retrieval-eval
    * shape (recall measurement, golden-set scoring): ONE corpus scan
    * serves every probe. The probe rows (ids + vectors — KBs) broadcast
    * into a nested-loop join against the corpus, each corpus vector is
    * scored against every probe row-locally, and per-probe top-k is the
    * bounded-heap [[graft.functions.expr.TopKByScore]] aggregate
    * (map-side combined: ≤ k rows per probe per map task cross the
    * shuffle) — NOT a probe-partitioned rank window, which would sort
    * |probes| full corpus copies on |probes| reducers. Per-probe
    * ordering (cos DESC, id ASC) is identical to [[bruteForceTopK]]
    * (spec-pinned); quantized-cosine arithmetic keeps the whole batch
    * SQL-replayable.
    * @return (probe_id, vec_id, cos_sim, rk) — k rows per probe. */
  def bruteForceTopKBatch(emb: DataFrame, idCol: String, vecCol: String,
      probeIds: Seq[Long], k: Int): DataFrame = {
    require(probeIds.nonEmpty)
    val probes = broadcast(emb.where(col(idCol).isin(probeIds: _*))
      .select(col(idCol).as("probe_id"), col(vecCol).as("__pv")))
    topKPerProbe(emb.join(probes, col(idCol) =!= col("probe_id"))
      .select(col("probe_id"), col(idCol).as("vec_id"),
        VectorFns.cosineQ(col(vecCol), col("__pv")).as("cos_sim")), k)
  }

  /** Batched sign-LSH top-k over a probe set: [[bruteForceTopKBatch]]
    * restricted to each probe's own LSH bucket — candidates come from a
    * broadcast EQUI-join on the bucket id (at scale: a partition-pruned
    * IN-list over the probes' buckets), so the scan touches
    * ~|distinct probe buckets|/2^nPlanes of the corpus and scoring work
    * is ∝ bucket occupancy, not corpus × probes. May return fewer than
    * k rows for a sparse bucket — exactly the recall loss
    * [[annRecallReport]] measures. */
  def lshBucketTopKBatch(emb: DataFrame, idCol: String, vecCol: String,
      probeIds: Seq[Long], k: Int, nPlanes: Int = 8): DataFrame = {
    require(probeIds.nonEmpty)
    val bucketed = withLshBucket(emb, vecCol, nPlanes)
    val probes = broadcast(bucketed.where(col(idCol).isin(probeIds: _*))
      .select(col(idCol).as("probe_id"), col(vecCol).as("__pv"),
        col("lsh_bucket").as("__pb")))
    topKPerProbe(bucketed.join(probes,
        col("lsh_bucket") === col("__pb") && col(idCol) =!= col("probe_id"))
      .select(col("probe_id"), col(idCol).as("vec_id"),
        VectorFns.cosineQ(col(vecCol), col("__pv")).as("cos_sim")), k)
  }

  /** Batched MULTI-PROBE sign-LSH top-k over a probe set: each probe's
    * candidate set is its own bucket plus the `nPlanes` Hamming-1
    * neighbor buckets ([[lshMultiProbeTopK]]'s recall amplifier,
    * batched). The probe rows explode row-locally into (probe,
    * bucket-id) keys — still a broadcast EQUI-join against the bucketed
    * corpus; a corpus vector has ONE bucket and the expanded ids are
    * distinct, so no candidate dedup pass is needed. */
  def lshMultiProbeTopKBatch(emb: DataFrame, idCol: String, vecCol: String,
      probeIds: Seq[Long], k: Int, nPlanes: Int = 8): DataFrame = {
    require(probeIds.nonEmpty)
    val bucketed = withLshBucket(emb, vecCol, nPlanes)
    val flips = array(col("__pb") +:
      (0 until nPlanes).map(j => col("__pb").bitwiseXOR(lit(1L << j))): _*)
    val probes = broadcast(bucketed.where(col(idCol).isin(probeIds: _*))
      .select(col(idCol).as("probe_id"), col(vecCol).as("__pv"),
        col("lsh_bucket").as("__pb"))
      .withColumn("__pbx", explode(flips)))
    topKPerProbe(bucketed.join(probes,
        col("lsh_bucket") === col("__pbx") && col(idCol) =!= col("probe_id"))
      .select(col("probe_id"), col(idCol).as("vec_id"),
        VectorFns.cosineQ(col(vecCol), col("__pv")).as("cos_sim")), k)
  }

  /** Shared tail of the batch ANN paths: bounded-heap per-probe top-k
    * over pre-scored (probe_id, vec_id, cos_sim) rows. */
  private def topKPerProbe(scored: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.graft.shim
    val agg = shim.column(graft.functions.expr.TopKByScore(
        shim.expression(col("cos_sim")), shim.expression(col("vec_id")), k)
      .toAggregateExpression())
    scored.groupBy(col("probe_id")).agg(agg.as("__top"))
      .select(col("probe_id"), posexplode(col("__top")).as(Seq("__p", "__e")))
      .select(col("probe_id"), col("__e.id").as("vec_id"),
        col("__e.score").as("cos_sim"),
        (col("__p") + 1).cast("long").as("rk"))
  }

  /** ANN recall@k report — the retrieval-quality eval a production ANN
    * deployment runs offline: for each probe, |approx top-k ∩ exact
    * top-k| over the exact count, for single-bucket LSH AND its
    * multi-probe amplification side by side (the report's point: it
    * MEASURES what the Hamming-1 expansion buys at 9× the scan). All
    * sides are the BATCHED one-scan paths above; the comparison is
    * probe-keyed joins over k-row-per-probe relations — corpus-sized
    * data never moves after the scans — and the whole pipeline
    * (deterministic md5 planes, integer sign dots, quantized cosine)
    * replays in plain SQL, so the report carries a full external oracle
    * rather than a property check.
    * @return (probe_id, n_exact, n_lsh, hits_lsh, recall_lsh, n_multi,
    *         hits_multi, recall_multi) per probe. */
  def annRecallReport(emb: DataFrame, idCol: String, vecCol: String,
      probeIds: Seq[Long], k: Int, nPlanes: Int = 8): DataFrame = {
    val exact = bruteForceTopKBatch(emb, idCol, vecCol, probeIds, k)
      .select(col("probe_id"), col("vec_id")).persist()
    def side(approx: DataFrame, tag: String): DataFrame = {
      val a = approx.select(col("probe_id"), col("vec_id"))
      val n = a.groupBy("probe_id").agg(count(lit(1)).as(s"n_$tag"))
      val h = exact.join(a, Seq("probe_id", "vec_id"), "left_semi")
        .groupBy("probe_id").agg(count(lit(1)).as(s"hits_$tag"))
      n.join(h, Seq("probe_id"), "left")
    }
    val nExact = exact.groupBy("probe_id").agg(count(lit(1)).as("n_exact"))
    val out = nExact
      .join(side(lshBucketTopKBatch(emb, idCol, vecCol, probeIds, k, nPlanes),
        "lsh"), Seq("probe_id"), "left")
      .join(side(lshMultiProbeTopKBatch(emb, idCol, vecCol, probeIds, k,
        nPlanes), "multi"), Seq("probe_id"), "left")
      .select(col("probe_id"), col("n_exact"),
        coalesce(col("n_lsh"), lit(0L)).as("n_lsh"),
        coalesce(col("hits_lsh"), lit(0L)).as("hits_lsh"),
        (coalesce(col("hits_lsh"), lit(0L)).cast("double") /
          col("n_exact").cast("double")).as("recall_lsh"),
        coalesce(col("n_multi"), lit(0L)).as("n_multi"),
        coalesce(col("hits_multi"), lit(0L)).as("hits_multi"),
        (coalesce(col("hits_multi"), lit(0L)).cast("double") /
          col("n_exact").cast("double")).as("recall_multi"))
    out.count() // force before unpersist
    exact.unpersist()
    out
  }

  /** Symmetric int8 quantization of an embedding column: each vector is
    * scaled by its own max-abs so components land in [-127, 127],
    * `q_i = floor((x_i * 127) / max_abs)` — the storage/compute
    * compression step of a quantized ANN index (4x smaller vectors,
    * integer SIMD dot products downstream). Deterministic: two
    * correctly-rounded IEEE ops then floor, identical on every engine.
    * Adds `qvec: array<bigint>` (long-typed lanes so downstream integer
    * dot products cannot overflow: 64·127² « 2^63). All-zero vectors
    * quantize to zeros. */
  def quantizeInt8(emb: DataFrame, vecCol: String): DataFrame = {
    val mx = array_max(transform(col(vecCol), x => abs(x.cast("double"))))
    emb.withColumn("qvec",
      when(mx === 0.0d, transform(col(vecCol), _ => lit(0L)))
        .otherwise(transform(col(vecCol),
          x => floor((x.cast("double") * lit(127.0d)) / mx).cast("long"))))
  }

  /** Top-k neighbors of `probeId` by QUANTIZED cosine: integer dot
    * products over int8-quantized vectors, normalized by the quantized
    * norms (one double division + sqrt — deterministic). This is the
    * rescoring arithmetic of an int8 ANN index: at 100 TB the index
    * stores only qvec (4x less IO), and ranking quality degrades
    * gracefully (~1e-2 cosine error), which the spec checks against
    * float brute force. */
  def quantizedTopK(emb: DataFrame, idCol: String, vecCol: String,
      probeId: Long, k: Int): DataFrame = {
    val q = quantizeInt8(emb, vecCol)
    val qvec = q.where(col(idCol) === probeId).select(col("qvec")).head()
      .getSeq[Long](0)
    val probe = typedLit(qvec)
    val dot = VectorFns.dotLong(col("qvec"), probe)
    val na = VectorFns.dotLong(col("qvec"), col("qvec"))
    val nq = VectorFns.dotLong(probe, probe)
    q.where(col(idCol) =!= probeId)
      .select(col(idCol).as("vec_id"),
        (dot.cast("double") / sqrt((na * nq).cast("double"))).as("qcos"))
      .orderBy(col("qcos").desc, col("vec_id").asc)
      .limit(k)
      .withColumn("rk", row_number().over(
        Window.orderBy(col("qcos").desc, col("vec_id").asc)))
  }

  /** Batched [[quantizedTopK]] over a probe set — the int8 index's
    * recall-eval shape: the corpus is quantized ONCE, the probes' qvecs
    * broadcast (|probes| rows), each corpus row scores against every
    * probe by the integer dot product, and per-probe top-k is the
    * bounded-heap aggregate. Same ordering and tie-break as the
    * single-probe operator (spec-pinned); columns
    * (probe_id, vec_id, qcos, rk). */
  def quantizedTopKBatch(emb: DataFrame, idCol: String, vecCol: String,
      probeIds: Seq[Long], k: Int): DataFrame =
    quantizedTail(
      quantizeInt8(emb, vecCol).select(col(idCol).as("vec_id"), col("qvec")),
      probeIds, k, "the embedding relation")

  /** The shared scoring tail of the in-memory and stored int8 paths,
    * over a (vec_id, qvec) relation: validate + broadcast the probes'
    * qvecs, integer dot per (corpus row, probe), bounded-heap top-k
    * per probe. Sharing the tail is what makes
    * [[quantizedTopKIndexedBatch]] bit-identical to
    * [[quantizedTopKBatch]] (parquet round-trips longs exactly). */
  private def quantizedTail(q: DataFrame, probeIds: Seq[Long], k: Int,
      what: String): DataFrame = {
    require(probeIds.nonEmpty)
    // ONE probe pass: collect the |probes| (id, qvec) rows, validate
    // from the collected set (cf. probeVecsOf: a typo'd probe id must
    // fail loudly, not silently shrink the recall report), and build
    // the broadcast side from the collected rows — the prior shape
    // scanned the (possibly re-quantized in-memory) relation once for
    // validation and AGAIN for the broadcast
    val spark = q.sparkSession
    import spark.implicits._
    val probeRows = q.where(col("vec_id").isin(probeIds: _*))
      .select(col("vec_id"), col("qvec"))
      .collect().map(r => (r.getLong(0), r.getSeq[Long](1)))
    val found = probeRows.map(_._1).toSet
    probeIds.foreach(pid => require(found.contains(pid),
      s"probe $pid not found in $what"))
    val probes = broadcast(probeRows.toSeq
      .toDF("probe_id", "__pq"))
    val dot = VectorFns.dotLong(col("qvec"), col("__pq"))
    val na = VectorFns.dotLong(col("qvec"), col("qvec"))
    val nq = VectorFns.dotLong(col("__pq"), col("__pq"))
    topKPerProbe(q.join(probes, col("vec_id") =!= col("probe_id"))
      .select(col("probe_id"), col("vec_id"),
        (dot.cast("double") / sqrt((na * nq).cast("double"))).as("cos_sim")),
      k).withColumnRenamed("cos_sim", "qcos")
  }

  /** Materialize the int8 index: the (vec_id, qvec) table at `path` —
    * conversion paid ONCE, and every subsequent scan reads the 8×
    * smaller long-array column instead of re-quantizing the float
    * corpus per query (the [[pqWriteIndex]] lifecycle, minus
    * codebooks: int8 scaling is PER-VECTOR max-abs, so the index
    * carries no corpus-global statistic). */
  def writeQuantizedIndex(emb: DataFrame, idCol: String, vecCol: String,
      path: String, coalesceTo: Int = 8): Unit = {
    def bounded(df: DataFrame) =
      if (coalesceTo > 0) df.coalesce(coalesceTo) else df
    bounded(quantizeInt8(emb, vecCol)
      .select(col(idCol).as("vec_id"), col("qvec")))
      .write.mode("overwrite").parquet(path)
  }

  /** Fold new embeddings INTO the stored int8 index. Unlike
    * [[appendToPqIndex]]/[[appendToIvfIndex]] this append is EXACT
    * with no drift trade: each vector quantizes against its own
    * max-abs, so appended rows are bit-identical to what a full
    * rebuild would store — the one ANN index here that needs no
    * staleness alarm. */
  def appendToQuantizedIndex(newEmb: DataFrame, path: String,
      idCol: String, vecCol: String): Unit =
    quantizeInt8(newEmb, vecCol)
      .select(col(idCol).as("vec_id"), col("qvec"))
      .write.mode("append").parquet(path)

  /** Build-once [[writeQuantizedIndex]] through
    * [[graft.io.StoredIndex]]. */
  def ensureQuantizedIndex(spark: SparkSession, emb: => DataFrame,
      idCol: String, vecCol: String, path: String): Unit =
    graft.io.StoredIndex.ensure(spark, path)(
      writeQuantizedIndex(emb, idCol, vecCol, path))

  /** [[quantizedTopKBatch]] through the stored (vec_id, qvec) index:
    * quantization paid at build time, every query-set evaluation is
    * one scan of the 8×-smaller long-array table. Bit-identical to
    * the in-memory path (shared [[quantizedTail]], longs round-trip
    * parquet exactly — spec-pinned). */
  def quantizedTopKIndexedBatch(spark: SparkSession, emb: => DataFrame,
      idCol: String, vecCol: String, path: String, probeIds: Seq[Long],
      k: Int): DataFrame = {
    ensureQuantizedIndex(spark, emb, idCol, vecCol, path)
    quantizedTail(spark.read.parquet(path), probeIds, k,
      s"the stored int8 index at $path")
  }

  /** SEMANTIC decontamination — the embedding-space twin of
    * [[TextAnalysis.decontaminate]]'s n-gram overlap: flag every
    * corpus vector whose quantized cosine against ANY eval-set vector
    * reaches `tau` (paraphrased or translated eval leakage that shares
    * no n-grams and so slips past the lexical check). For each flagged
    * corpus row, report the best-matching eval id and the cosine.
    *
    * Scale shape: an eval benchmark is a BOUNDED set (thousands of
    * rows — KBs of vectors), so the eval side broadcasts and the
    * corpus is scanned ONCE with per-row |eval| dot products — no
    * shuffle of corpus data, the same corpus-never-moves shape as
    * [[bruteForceTopKBatch]]. All arithmetic is the quantized integer
    * dot + one double division ([[VectorFns.cosineQ]]), so the full
    * relation replays in SQL. Ties on cosine break to the LARGEST
    * eval_id (max-struct semantics, deterministic).
    * @return (id, eval_id, qcos) for flagged corpus rows only */
  def semanticDecontaminate(corpus: DataFrame, evalSet: DataFrame,
      idCol: String, vecCol: String, tau: Double): DataFrame = {
    val ev = broadcast(evalSet.select(col(idCol).as("eval_id"),
      col(vecCol).as("__ev")))
    corpus.select(col(idCol), col(vecCol))
      .crossJoin(ev)
      .select(col(idCol),
        struct(VectorFns.cosineQ(col(vecCol), col("__ev")).as("qcos"),
          col("eval_id")).as("__m"))
      .where(col("__m.qcos") >= tau)
      .groupBy(col(idCol)).agg(max(col("__m")).as("__best"))
      .select(col(idCol), col("__best.eval_id").as("eval_id"),
        col("__best.qcos").as("qcos"))
  }

  /** CLUSTER-BLOCKED semantic decontamination — the large-eval-set
    * form of [[semanticDecontaminate]]: when the eval side outgrows a
    * broadcast (continuous decontamination against every benchmark
    * ever released, eval suites in the millions of rows), the
    * corpus × eval brute force becomes the same quadratic SemDeDup
    * exists to avoid — so reuse the STORED kmeans clustering
    * ([[kmeansWriteIndex]]) as the blocking function. Each eval vector
    * is assigned to its `nProbe` nearest stored centroids (one
    * zero-shuffle scan, centroids ride as a literal — multi-probe so
    * boundary-straddling leakage still collides with the corpus's
    * cluster), then corpus and eval meet on the cluster equi-key: a
    * hash-partitioned join, work Σ_c |corpus_c|·|eval_c| instead of
    * |corpus|·|eval|, and no broadcast of either side. Same scoring
    * arithmetic and output contract as the brute-force form. Recall
    * contract (the standard blocking trade, cf. [[semDedupPairs]]): a
    * leaked pair is missed iff none of the eval copy's nProbe nearest
    * centroids is the corpus copy's cluster — near-identical vectors
    * land on the same centroid except exactly at cluster boundaries,
    * which multi-probe covers (planted-leakage parity with brute force
    * spec-pinned).
    * @return (id, eval_id, qcos) for flagged corpus rows only */
  def semanticDecontaminateBlocked(spark: SparkSession, corpus: DataFrame,
      evalSet: DataFrame, idCol: String, vecCol: String, tau: Double,
      indexPath: String, nProbe: Int = 2): DataFrame =
    semanticDecontaminateBlockedPairs(spark, corpus, evalSet, idCol,
        vecCol, tau, indexPath, nProbe)
      .select(col(idCol),
        struct(col("qcos"), col("eval_id")).as("__m"))
      .groupBy(col(idCol)).agg(max(col("__m")).as("__best"))
      .select(col(idCol), col("__best.eval_id").as("eval_id"),
        col("__best.qcos").as("qcos"))

  /** ALL flagged (corpus, eval) pairs of the cluster-blocked check —
    * the relation [[semanticDecontaminateBlocked]] rolls up to a best
    * match per corpus row, and the per-eval contamination report
    * ([[TextAnalysis.contaminationReport]] with a `kmeansIndexPath`)
    * consumes whole: a release audit needs EVERY offender per eval
    * item, not just each corpus doc's best. A pair appears at most
    * once (a corpus row lives in one cluster; the eval row's nProbe
    * probes include it or not). Same blocking/recall contract as the
    * rollup form. @return (idCol, eval_id, qcos), qcos >= tau */
  def semanticDecontaminateBlockedPairs(spark: SparkSession,
      corpus: DataFrame, evalSet: DataFrame, idCol: String,
      vecCol: String, tau: Double, indexPath: String,
      nProbe: Int = 2): DataFrame = {
    // a torn index (crash mid-build, no _SUCCESS) must fail LOUDLY:
    // silently joining a partial assignment table would drop corpus
    // rows from the check and pass leaked documents unflagged
    require(graft.io.IndexPaths.complete(spark, indexPath) &&
        graft.io.IndexPaths.complete(spark, centroidsPath(indexPath)),
      s"kmeans index at $indexPath is absent or torn (no _SUCCESS); " +
        "build it with kmeansWriteIndex/ensureKmeansIndex first")
    val assign = spark.read.parquet(indexPath)
    val cbs = loadKmeansCentroids(spark, indexPath)
    val cbLit = typedLit(cbs.map(_.toSeq).toSeq)
    require(nProbe >= 1 && nProbe <= cbs.length,
      s"nProbe must be in [1, ${cbs.length}]")
    // eval assignment in the clustering's own space (x1000 fixed-point
    // quantization, integer L2², (dist, cid) struct order = lowest-cid
    // tie-break) — the nProbe best centroids per eval vector
    val evAssigned = evalSet
      .select(col(idCol).as("eval_id"), col(vecCol).as("__ev"),
        transform(col(vecCol), x => VectorFns.qint(x)).as("__eq"))
      .select(col("eval_id"), col("__ev"),
        explode(slice(array_sort(transform(
          sequence(lit(0), lit(cbs.length - 1)), j =>
            struct(aggregate(zip_with(col("__eq"), element_at(cbLit, j + 1),
                (a, b) => (a - b) * (a - b)), lit(0L),
              (acc, v) => acc + v).as("d"),
              j.cast("long").as("cid")))), 1, nProbe)).as("__a"))
      .select(col("eval_id"), col("__ev"), col("__a.cid").as("cluster"))
    // a corpus row lives in exactly ONE cluster, so each (corpus, eval)
    // pair is scored at most once — no post-join distinct needed.
    // LEFT join + centroid-classify fallback (not inner): corpus rows
    // appended AFTER the index build have no stored assignment, and an
    // inner join would silently drop them from the check — leaked
    // documents passing decontamination unflagged. Classifying them
    // against the stored centroids (same integer argmin as the eval
    // side) keeps them covered; coalesce short-circuits, so assigned
    // rows never pay the k x dim scan.
    val tagged = corpus.select(col(idCol), col(vecCol))
      .join(assign.select(col(idCol), col("cluster")), Seq(idCol), "left")
      .withColumn("cluster", coalesce(col("cluster"),
        kmAssign(transform(col(vecCol), x => VectorFns.qint(x)), cbs)
          .getField("cid").cast("long")))
    tagged.join(evAssigned.hint("shuffle_hash"), Seq("cluster"))
      .select(col(idCol), col("eval_id"),
        VectorFns.cosineQ(col(vecCol), col("__ev")).as("qcos"))
      .where(col("qcos") >= tau)
  }

  // ---------------- K-means corpus clustering ----------------

  /** Corpus-size-derived cluster count for the clustering family:
    * k ≈ n / `target` members per cluster (floor 8, cap 4096). This is
    * the SemDeDup paper's own regime — k GROWS with the corpus so
    * clusters stay bounded near `target`, which (a) keeps the
    * within-cluster quadratic pair generation cap-sized and (b) keeps
    * each Lloyd round's k×dim driver matrix small (4096×64 longs = 2 MB
    * at the cap; beyond that, raise `target` rather than k — per-cluster
    * work is already guard-bounded). `target` = 64 aligns the expected
    * cluster size with the [[semDedupPairsWithAssignments]] pair cap,
    * so on a balanced clustering the guard is inert. The q_kmeans
    * oracle replays this exact derivation in SQL (GREATEST/LEAST/CEIL
    * over COUNT(*)), so the derived k stays engine-independent at any
    * scale factor. */
  def deriveK(n: Long, target: Int = 64): Int =
    math.min(4096L, math.max(8L, math.ceil(n.toDouble / target).toLong)).toInt

  /** Argmin-centroid struct (d, cid) for one quantized vector against
    * the codebook literal: integer L2² per centroid (zip_with fold —
    * exact), ties to the lowest cluster id via struct ordering. */
  private def kmAssign(qvCol: Column, cbs: Array[Seq[Long]]): Column = {
    val cbLit = typedLit(cbs.map(_.toSeq).toSeq)
    array_min(transform(sequence(lit(0), lit(cbs.length - 1)), j =>
      struct(aggregate(zip_with(qvCol, element_at(cbLit, j + 1),
          (a, b) => (a - b) * (a - b)), lit(0L), (acc, v) => acc + v).as("d"),
        j.as("cid"))))
  }

  /** K-means corpus clustering in FIXED-POINT arithmetic — the
    * "partition the corpus into topical/structural groups" operator of
    * a curation pipeline (per-cluster sampling quotas, outlier mining,
    * diversity balancing), distinct from [[ivfTrain]] whose float
    * centroids exist only to serve ANN probes. Everything here is
    * exact integer math: vectors quantize to floor(v·1000) longs,
    * assignment is integer-L2² argmin (ties → lowest cluster id),
    * centroid updates are floor-divided integer means, empty clusters
    * keep their centroid — so every intermediate centroid and the
    * final assignment are BIT-REPRODUCIBLE in any engine, and the
    * q_kmeans oracle replays the entire clustering (init + `iters`
    * Lloyd rounds + final assignment) in pure SQL.
    *
    * Scale shape per round: one scan with the k×dim codebook riding as
    * a codegen literal (no join, no shuffle for assignment) + one
    * (cid, pos)-keyed partial-combined aggregation whose output is
    * k×dim rows; only the k×dim centroid matrix ever reaches the
    * driver. Deterministic init: the k lowest-id vectors.
    *
    * Returns (assignments (id, cluster, dist_q), centroid matrix). */
  def kmeansFixedPoint(emb: DataFrame, idCol: String, vecCol: String,
      k: Int = 8, iters: Int = 2): (DataFrame, Array[Seq[Long]]) = {
    val qv = Caches.persist(emb.select(col(idCol),
      transform(col(vecCol), x => VectorFns.qint(x)).as("__qv")))
    var cbs: Array[Seq[Long]] = qv.orderBy(col(idCol).asc).limit(k)
      .select(col("__qv")).collect().map(_.getSeq[Long](0))
    require(cbs.length == k, s"need >= $k rows to seed k-means")
    for (_ <- 0 until iters) {
      val sums = qv
        .withColumn("__cid", kmAssign(col("__qv"), cbs).getField("cid"))
        .select(col("__cid"), posexplode(col("__qv")).as(Seq("__pos", "__v")))
        .groupBy(col("__cid"), col("__pos"))
        .agg(sum(col("__v")).as("__s"), count(lit(1)).as("__n"))
        .collect()
      val byCid = sums.groupBy(_.getInt(0))
      cbs = Array.tabulate(k)(j => byCid.get(j) match {
        case Some(rows) => rows.sortBy(_.getInt(1))
          .map(r => Math.floorDiv(r.getLong(2), r.getLong(3))).toSeq
        case None => cbs(j) // empty cluster keeps its centroid
      })
    }
    val fin = qv.select(col(idCol), kmAssign(col("__qv"), cbs).as("__a"))
      .select(col(idCol), col("__a.cid").cast("long").as("cluster"),
        col("__a.d").as("dist_q"))
    (fin, cbs)
  }

  /** Materialize the fixed-point clustering as an INDEX: the
    * assignments table plus a centroid sibling (long matrix), the same
    * self-describing-on-disk contract as the ANN indexes. Training is
    * the offline step — the whole kmeans query family (assignments,
    * outliers, balanced sampling, new-batch classification) READS this
    * table; per-query retraining is the same non-starter the r3 IVF
    * path had. Returns the centroid matrix. */
  def kmeansWriteIndex(emb: DataFrame, idCol: String, vecCol: String,
      path: String, k: Int = 8, iters: Int = 2): Array[Seq[Long]] = {
    val (assign, cbs) = kmeansFixedPoint(emb, idCol, vecCol, k, iters)
    assign.write.mode("overwrite").parquet(path)
    val spark = emb.sparkSession
    import spark.implicits._
    // the drift BASELINE, captured at build time (cf. pqWriteIndex):
    // the fresh centroids' mean dist_q over the corpus they were
    // trained on. [[rebuildKmeansIndexIfDrifted]] compares arriving
    // batches against THIS fixed number — comparing against the live
    // table's mean instead would let a slowly drifting stream ratchet
    // the baseline upward with every quiet append and evade the
    // threshold indefinitely.
    spark.read.parquet(path).agg(avg(col("dist_q")).as("mean_dist_q"))
      .coalesce(1).write.mode("overwrite")
      .parquet(kmeansBuildStatsPath(path))
    cbs.zipWithIndex.map { case (c, i) => (i, c) }.toSeq
      .toDF("cid", "centroid")
      .coalesce(1).write.mode("overwrite").parquet(centroidsPath(path))
    cbs
  }

  /** Sibling location of a kmeans index's build-time mean-distance
    * baseline (cf. [[pqBuildStatsPath]]). */
  def kmeansBuildStatsPath(path: String): String =
    path.stripSuffix("/") + ".buildstats"

  /** Reload the centroid matrix written by [[kmeansWriteIndex]]. */
  def loadKmeansCentroids(spark: SparkSession, path: String): Array[Seq[Long]] =
    spark.read.parquet(centroidsPath(path))
      .orderBy(col("cid").asc).collect().map(_.getSeq[Long](1))

  /** Build-once [[kmeansWriteIndex]] through [[graft.io.StoredIndex]]
    * (the assignments and their centroid sibling gate). */
  def ensureKmeansIndex(emb: => DataFrame, idCol: String, vecCol: String,
      path: String, k: Int = 8, iters: Int = 2): Unit =
    graft.io.StoredIndex.ensure(SparkSession.active, path,
      centroidsPath(path))(kmeansWriteIndex(emb, idCol, vecCol, path, k,
        iters))

  /** Classify a NEW batch against the stored clustering and append its
    * assignments — the kmeans ingest step (cf. [[appendToIvfIndex]]):
    * centroids never move on append (rebuild offline when drift
    * matters), so batch classification is one zero-shuffle scan with
    * the stored codebook as a literal. */
  def appendToKmeansIndex(newEmb: DataFrame, path: String, idCol: String,
      vecCol: String): Unit = {
    val spark = newEmb.sparkSession
    val cbs = loadKmeansCentroids(spark, path)
    newEmb
      .select(col(idCol), transform(col(vecCol),
        x => VectorFns.qint(x)).as("__qv"))
      .select(col(idCol), kmAssign(col("__qv"), cbs).as("__a"))
      .select(col(idCol), col("__a.cid").cast("long").as("cluster"),
        col("__a.d").as("dist_q"))
      .write.mode("append").parquet(path)
  }

  /** Retrain the clustering over the CURRENT corpus and overwrite the
    * stored index — the restore for [[appendToKmeansIndex]]'s
    * documented no-retrain drift. THE REBUILD TRIGGER is already in
    * the stored table: `dist_q` is each row's (quantized) squared
    * distance to its assigned centroid, so compare the appended
    * batch's mean `dist_q` to the seed corpus's mean — a
    * distribution-shifted batch lands far from every stale centroid
    * and the ratio jumps (SimilaritySpec pins ~an order of magnitude
    * on a planted shift; ≥ 2× is a sane production alarm). */
  def rebuildKmeansIndex(emb: DataFrame, path: String, idCol: String,
      vecCol: String, k: Int = 8, iters: Int = 2): Array[Seq[Long]] =
    kmeansWriteIndex(emb, idCol, vecCol, path, k, iters)

  /** ALARM → REBUILD for the kmeans index (cf.
    * [[rebuildPqIndexIfDrifted]]): classify the arriving batch against
    * the stored centroids (one zero-shuffle scan — centroids ride as a
    * literal), compare its mean `dist_q` to the BUILD-TIME corpus
    * baseline stored at [[kmeansBuildStatsPath]] (fixed at training —
    * a baseline derived from the live table would ratchet upward as
    * [[appendToKmeansIndex]] folds each quiet batch's larger
    * distances in, letting a slowly drifting stream evade the
    * threshold forever), retrain over `emb` iff the ratio exceeds
    * `threshold`. Check BEFORE folding the batch in
    * ([[appendToKmeansIndex]]), so the baseline is not polluted by
    * the batch being judged. A baseline written by a pre-baseline
    * builder is healed in place from the stored assignments. Result
    * identical to a manual [[rebuildKmeansIndex]] (spec-pinned). The
    * `+ 1` slack on the baseline keeps a perfectly-clustered seed
    * corpus (mean 0) from alarming on quantization noise.
    * @return true iff a rebuild ran. */
  def rebuildKmeansIndexIfDrifted(emb: => DataFrame, batch: DataFrame,
      path: String, idCol: String, vecCol: String, k: Int = 8,
      iters: Int = 2, threshold: Double = 2.0): Boolean = {
    val spark = batch.sparkSession
    val cbs = loadKmeansCentroids(spark, path)
    val batchMean = batch
      .select(transform(col(vecCol), x => VectorFns.qint(x)).as("__qv"))
      .select(kmAssign(col("__qv"), cbs).getField("d").as("dist_q"))
      .agg(avg(col("dist_q"))).head().getDouble(0)
    // the FIXED build-time baseline (cf. rebuildPqIndexIfDrifted) —
    // NOT the live table's mean: appendToKmeansIndex folds each quiet
    // batch's (larger) dist_q rows into the table, so a live-mean
    // baseline ratchets upward with every append and a slowly
    // drifting stream evades the threshold indefinitely
    val baseline =
      if (graft.io.IndexPaths.complete(spark, kmeansBuildStatsPath(path)))
        spark.read.parquet(kmeansBuildStatsPath(path)).head().getDouble(0)
      else { // index predates the baseline sibling: heal it in place
        import spark.implicits._
        val b = spark.read.parquet(path)
          .agg(avg(col("dist_q"))).head().getDouble(0)
        Seq(b).toDF("mean_dist_q").coalesce(1)
          .write.mode("overwrite").parquet(kmeansBuildStatsPath(path))
        b
      }
    val drifted = batchMean > threshold * (baseline + 1.0)
    if (drifted) rebuildKmeansIndex(emb, path, idCol, vecCol, k, iters)
    drifted
  }

  /** Outlier mining over a stored clustering ([[kmeansWriteIndex]]
    * assignments): the `n` vectors FARTHEST from their assigned
    * centroid — the "what doesn't fit any topic" quality-audit
    * shortlist (mislabeled sources, garbage embeddings, novel
    * content). orderBy+limit plans as TakeOrderedAndProject
    * (per-partition bounded heaps, n-row driver merge); inherits
    * kmeans' bit-reproducibility, so the full-oracle guarantee
    * extends here. */
  def kmeansOutliers(assign: DataFrame, idCol: String,
      n: Int = 20): DataFrame =
    assign.orderBy(col("dist_q").desc, col(idCol).asc)
      .limit(n)
      .withColumn("rk", row_number().over(
        Window.orderBy(col("dist_q").desc, col(idCol).asc)).cast("long"))

  /** Cluster-balanced deterministic sample over a stored clustering
    * ([[kmeansWriteIndex]] assignments): a per-cluster quota filled in
    * md5 order — the diversity-balancing selection a curation pipeline
    * runs after clustering (equal representation per topical group
    * regardless of cluster skew). Selection order is the 48-bit
    * md5-of-id prefix (ascending, id tie-break): a pure function of
    * the id, reproducible and engine-independent.
    *
    * The quota is a BOUNDED-HEAP aggregate ([[graft.functions.expr
    * .TopKByScore]] on the negated prefix), not a rank window: a
    * window partitioned by cluster has only k partitions, so at corpus
    * scale k reducers would each sort corpus/k rows — the aggregate
    * keeps a quota-bounded buffer, combines map-side, and ships at
    * most quota rows per cluster per map partition. */
  def clusterBalancedSample(assign: DataFrame, idCol: String,
      quota: Int = 25): DataFrame = {
    import org.apache.spark.sql.graft.shim
    // 48-bit prefix: exact in a double (< 2^53), so the aggregate's
    // (score DESC, id ASC) order is exactly (prefix ASC, id ASC)
    val h = conv(substring(md5(col(idCol).cast("string")), 1, 12), 16, 10)
      .cast("long")
    val agg = shim.column(graft.functions.expr.TopKByScore(
        shim.expression((-h).cast("double")),
        shim.expression(col(idCol)), quota)
      .toAggregateExpression())
    assign.groupBy(col("cluster"))
      .agg(agg.as("__top"))
      .select(col("cluster"), posexplode(col("__top")).as(Seq("__p", "__e")))
      .select(col("__e.id").as(idCol), col("cluster"),
        (col("__p") + 1).cast("long").as("rn"))
  }

  /** SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
    * deduplication = cluster the embedding space, then find cosine
    * near-duplicates WITHIN each cluster only — the clustering is the
    * blocking function, so candidate generation is Σ|cluster|² instead
    * of corpus², and the cluster id is an equi-join key that
    * hash-partitions at scale. In the published method k grows with
    * the corpus (k ≈ n/1000s) keeping clusters bounded, which bounds
    * the per-cluster quadratic; the trade (documented recall contract)
    * is that a near-dup pair split across cluster boundaries is
    * missed — the standard blocking trade, same family as LSH banding
    * ([[nearDupPairsLsh]] catches those when it matters).
    *
    * Built on the FIXED-POINT clustering + quantized cosine, so unlike
    * the float original the entire pipeline (clustering included)
    * replays bit-exactly in SQL. Returns (id_a, id_b, cluster,
    * cos_sim), id_a < id_b, cos_sim >= threshold; `keep lowest id per
    * pair` downstream mirrors the paper's keep-one policy
    * deterministically. Shuffles: the clustering's + one bounded
    * per-cluster aggregate + two candidate-sized id joins (see
    * [[semDedupPairsWithAssignments]] for the hot-cluster guard). */
  def semDedupPairs(emb: DataFrame, idCol: String, vecCol: String,
      threshold: Double, k: Int = 8, iters: Int = 2,
      maxCluster: Int = 64): DataFrame = {
    val cached = Caches.persist(emb.select(col(idCol), col(vecCol)))
    val (assign, _) = kmeansFixedPoint(cached, idCol, vecCol, k, iters)
    semDedupPairsWithAssignments(cached, assign, idCol, vecCol, threshold,
      maxCluster)
  }

  /** [[semDedupPairs]] against a STORED clustering
    * ([[kmeansWriteIndex]] assignments) — the production form: the
    * clustering is the corpus-version index, semantic dedup is a query
    * over it.
    *
    * `maxCluster` is the HOT-CLUSTER GUARD — the same bound every LSH
    * path carries ([[graft.operators.Dedup.cappedBucketPairs]], with
    * `cluster` as the bucket key): candidate pairs are all pairs among
    * the `maxCluster` lowest-id members of each cluster plus a
    * representative star (rank-1 member → each overflow member), so a
    * skewed dup-heavy cluster — the EXPECTED case in a dedup corpus —
    * costs cap²/2 + (size − cap) instead of size². The paper's own
    * regime (k growing with n keeps clusters ≈ bounded) makes the cap
    * inert on balanced clusterings; it only bites where the unguarded
    * join would degenerate quadratic in one join key. Recall contract:
    * an overflow member still pairs with the cluster representative
    * (the keep decision stays connected — it can still lose to rank 1),
    * but overflow↔overflow and overflow↔core(non-rep) pairs are not
    * scored. Requires a numeric id column (ids ride the bounded
    * aggregate as longs). */
  def semDedupPairsWithAssignments(emb: DataFrame, assign: DataFrame,
      idCol: String, vecCol: String, threshold: Double,
      maxCluster: Int = 64): DataFrame = {
    val tagged = Caches.persist(emb.select(col(idCol), col(vecCol))
      .join(assign.select(col(idCol), col("cluster")), Seq(idCol))
      .select(col(idCol).as("id"), col(vecCol).as("v"), col("cluster"),
        VectorFns.dotQ(col(vecCol), col(vecCol)).as("nq")))
    // per-vector quantized norm computed once (n·d); candidate pairs
    // are cap-bounded per cluster, then the two id-equi-joins fetch
    // (vec, norm) for exactly the candidate rows — work ∝ candidates,
    // never Σ|cluster|²
    val pairs = Dedup.cappedBucketPairs(
      tagged.select(col("id"), col("cluster")), Seq("cluster"), "id",
      maxCluster)
    pairs
      .join(tagged.select(col("id").as("id_a"), col("v").as("__va"),
        col("nq").as("__nqa"), col("cluster")), Seq("id_a"))
      .join(tagged.select(col("id").as("id_b"), col("v").as("__vb"),
        col("nq").as("__nqb")), Seq("id_b"))
      .select(col("id_a"), col("id_b"), col("cluster"),
        (VectorFns.dotQ(col("__va"), col("__vb")).cast("double") /
          sqrt((col("__nqa") * col("__nqb")).cast("double"))).as("cos_sim"))
      .where(col("cos_sim") >= threshold)
  }

  /** The SemDeDup KEEP decision: per near-dup pair the LARGER id
    * loses (deterministic stand-in for the paper's keep-one-random) —
    * a doc is kept iff it is never the larger side of any pair. One
    * distinct over rejected ids + one anti-join, both ∝ pairs; no
    * transitive closure (the greedy per-pair rule, cf. the
    * cluster-closure alternative in [[graft.operators.Dedup
    * .dedupClusters]] + keeper selection when canonical-copy semantics
    * matter). */
  def semDedupKeepers(assign: DataFrame, pairs: DataFrame,
      idCol: String): DataFrame =
    assign.select(col(idCol), col("cluster"))
      .join(pairs.select(col("id_b").as(idCol)).distinct(),
        Seq(idCol), "left_anti")

  // ---------------- Product quantization (PQ) ----------------

  /** Nearest-codeword id for one subspace, evaluated entirely inside
    * codegen: the codebook rides along as a 3-d literal and the argmin
    * expands L2² to -2·dot + |c|² (|v|² is constant per row). `ssCol`
    * may be a lambda variable, so one expression encodes ALL subspaces
    * at once. Ties break to the lowest codeword id (struct ordering). */
  private def pqNearest(ssCol: Column, svCol: Column,
      cbs: Array[Array[Seq[Float]]]): Column = {
    val k = cbs(0).length
    val cbLit = typedLit(cbs.map(_.toSeq).toSeq)
    val normLit = typedLit(cbs.map(_.map(c =>
      c.map(x => x.toDouble * x.toDouble).sum).toSeq).toSeq)
    array_min(transform(sequence(lit(0), lit(k - 1)), j =>
      struct((lit(-2.0) * VectorFns.dot(svCol,
          element_at(element_at(cbLit, ssCol + 1), j + 1))
        + element_at(element_at(normLit, ssCol + 1), j + 1)).as("d"),
        j.as("cid")))).getField("cid")
  }

  /** PQ codebooks: the vector is split into `m` contiguous subvectors
    * of dim/m and each subspace gets its own `k`-codeword codebook via
    * Lloyd iterations — ONE exploded (row × subspace) relation trains
    * all `m` codebooks simultaneously, so an iteration costs one scan
    * + one (ss, cid, pos)-keyed partial-combined aggregation regardless
    * of m. Deterministic init (subvectors of the k lowest-id rows);
    * only the m×k×(dim/m) codebook matrix reaches the driver. */
  def pqTrain(emb: DataFrame, idCol: String, vecCol: String, m: Int = 16,
      k: Int = 16, iters: Int = 3): Array[Array[Seq[Float]]] = {
    val dim = probeDim(emb, vecCol)
    require(dim % m == 0, s"dim $dim not divisible by m=$m subspaces")
    val d = dim / m
    var cbs: Array[Array[Seq[Float]]] = {
      val seed = emb.orderBy(col(idCol).asc).limit(k)
        .select(col(vecCol)).collect().map(_.getSeq[Float](0))
      require(seed.length == k, s"need >= $k rows to seed PQ codebooks")
      Array.tabulate(m)(ss => seed.map(v => v.slice(ss * d, ss * d + d).toSeq))
    }
    val subs = emb.select(explode(transform(sequence(lit(0), lit(m - 1)),
        ss => struct(ss.as("ss"),
          slice(col(vecCol), ss * lit(d) + lit(1), lit(d)).as("sv")))).as("e"))
      .select(col("e.ss").as("ss"), col("e.sv").as("sv"))
    for (_ <- 0 until iters) {
      val means = subs
        .withColumn("__cid", pqNearest(col("ss"), col("sv"), cbs))
        .select(col("ss"), col("__cid"),
          posexplode(col("sv")).as(Seq("__pos", "__v")))
        .groupBy(col("ss"), col("__cid"), col("__pos"))
        .agg(avg(col("__v")).as("__m"))
        .collect()
      val bySsCid = means.groupBy(r => (r.getInt(0), r.getInt(1)))
      cbs = Array.tabulate(m)(ss => Array.tabulate(k)(j =>
        bySsCid.get((ss, j)) match {
          case Some(rows) =>
            rows.sortBy(_.getInt(2)).map(_.getDouble(3).toFloat).toSeq
          case None => cbs(ss)(j) // empty cluster keeps its codeword
        }))
    }
    cbs
  }

  /** Encode each vector as `m` codeword ids — the compression step
    * (64 floats = 256 bytes → m 4-bit-range ids, 16 bytes packed at
    * m=16/k=16). Pure per-row expression, zero shuffle. */
  def pqEncode(emb: DataFrame, idCol: String, vecCol: String,
      cbs: Array[Array[Seq[Float]]]): DataFrame =
    emb.select(col(idCol), pqCodes(vecCol, cbs).as("codes"))

  /** The m-codeword-id array expression behind [[pqEncode]]. */
  private def pqCodes(vecCol: String,
      cbs: Array[Array[Seq[Float]]]): Column = {
    val m = cbs.length
    val d = cbs(0)(0).length
    transform(sequence(lit(0), lit(m - 1)), ss =>
      pqNearest(ss, slice(col(vecCol), ss * lit(d) + lit(1), lit(d)), cbs))
  }

  /** Sibling location of a PQ index's persisted codebooks. */
  def pqCodebooksPath(path: String): String =
    path.stripSuffix("/") + ".codebooks"

  /** Materialize the PQ index: train codebooks, store (id, codes) —
    * the table an ADC scan reads at 1/16 the bytes of the raw
    * embeddings — and persist the codebooks next to it so append and
    * query jobs on fresh JVMs reload instead of retraining (same
    * self-describing-index contract as [[ivfWriteIndex]]). */
  def pqWriteIndex(emb: DataFrame, idCol: String, vecCol: String,
      path: String, m: Int = 16, k: Int = 16): Array[Array[Seq[Float]]] = {
    val cached = emb.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val cbs = pqTrain(cached, idCol, vecCol, m, k)
    pqEncode(cached, idCol, vecCol, cbs)
      .write.mode("overwrite").parquet(path)
    // the drift BASELINE, captured while the build corpus is in hand:
    // the fresh codebooks' mean reconstruction error over the corpus
    // they were trained on — what [[rebuildPqIndexIfDrifted]] compares
    // arriving batches against
    pqQuantizationError(cached, idCol, vecCol, cbs)
      .agg(avg(col("pq_err")).as("mean_err"))
      .coalesce(1).write.mode("overwrite").parquet(pqBuildStatsPath(path))
    cached.unpersist()
    val spark = emb.sparkSession
    import spark.implicits._
    cbs.zipWithIndex.flatMap { case (row, ss) =>
      row.zipWithIndex.map { case (c, j) => (ss, j, c) }
    }.toSeq.toDF("ss", "j", "codeword")
      .coalesce(1).write.mode("overwrite").parquet(pqCodebooksPath(path))
    cbs
  }

  /** Sibling location of a PQ index's build-time error baseline. */
  def pqBuildStatsPath(path: String): String =
    path.stripSuffix("/") + ".buildstats"

  /** Reload the codebooks written by [[pqWriteIndex]]. */
  def loadPqCodebooks(spark: SparkSession, path: String): Array[Array[Seq[Float]]] = {
    val rows = spark.read.parquet(pqCodebooksPath(path))
      .orderBy(col("ss").asc, col("j").asc).collect()
    rows.groupBy(_.getInt(0)).toArray.sortBy(_._1).map(_._2
      .sortBy(_.getInt(1)).map(_.getSeq[Float](2)))
  }

  /** Fold new embeddings INTO the stored PQ index (cf.
    * [[appendToIvfIndex]]): encode against the EXISTING codebooks,
    * append the codes. Same no-retrain trade as IVF append — codebooks
    * drift as the distribution shifts; rebuild offline when ADC error
    * degrades. */
  def appendToPqIndex(newEmb: DataFrame, path: String, idCol: String,
      vecCol: String): Unit = {
    val spark = newEmb.sparkSession
    val cbs = graft.io.StoredIndex.memo[Array[Array[Seq[Float]]]](path)
      .getOrElse(loadPqCodebooks(spark, path))
    pqEncode(newEmb, idCol, vecCol, cbs)
      .write.mode("append").parquet(path)
  }

  /** Per-vector PQ quantization error against `cbs`:
    * Σ_ss min_j ‖sv_ss − c_{ss,j}‖² — how badly the codebooks
    * reconstruct each vector, i.e. THE REBUILD TRIGGER for the
    * append-only PQ index. [[appendToPqIndex]] encodes new batches
    * with frozen codebooks; a distribution-shifted batch quantizes to
    * whatever codeword happens to be least wrong, its ADC distances
    * collapse toward a constant, and shortlist recall decays
    * silently. Monitoring is one zero-shuffle scan of the BATCH
    * (codebooks ride in as literals): rebuild when the batch's mean
    * error is a multiple of the build-time corpus mean
    * (SimilaritySpec plants a shift and pins the jump; ≥ 2× is a sane
    * production alarm). Returns (id, pq_err). */
  def pqQuantizationError(emb: DataFrame, idCol: String, vecCol: String,
      cbs: Array[Array[Seq[Float]]]): DataFrame = {
    val m = cbs.length
    val k = cbs(0).length
    val d = cbs(0)(0).length
    val cbLit = typedLit(cbs.map(_.toSeq).toSeq)
    val normLit = typedLit(cbs.map(_.map(c =>
      c.map(x => x.toDouble * x.toDouble).sum).toSeq).toSeq)
    val perSs = transform(sequence(lit(0), lit(m - 1)), ss => {
      val sv = slice(col(vecCol), ss * lit(d) + lit(1), lit(d))
      VectorFns.norm2(sv) + array_min(
        transform(sequence(lit(0), lit(k - 1)), j =>
          element_at(element_at(normLit, ss + 1), j + 1)
            - lit(2.0) * VectorFns.dot(sv,
                element_at(element_at(cbLit, ss + 1), j + 1))))
    })
    emb.select(col(idCol),
      aggregate(perSs, lit(0.0), (a, x) => a + x).as("pq_err"))
  }

  /** Retrain PQ codebooks over the CURRENT corpus and overwrite the
    * stored codes — the restore for [[appendToPqIndex]]'s documented
    * codebook drift (trigger: [[pqQuantizationError]]). Replaces the
    * in-session codebook memo ([[graft.io.StoredIndex.rebuild]]) so
    * queries pick up the retrain without a JVM bounce. */
  def rebuildPqIndex(emb: DataFrame, path: String, idCol: String,
      vecCol: String, m: Int = 16, k: Int = 16): Array[Array[Seq[Float]]] =
    graft.io.StoredIndex.rebuild(path)(
      pqWriteIndex(emb, idCol, vecCol, path, m, k))

  /** ALARM → REBUILD, composed — the arc that makes the PQ index
    * lifecycle unattended-safe: measure the arriving batch's mean
    * [[pqQuantizationError]] under the CURRENT codebooks, compare to
    * the build-time corpus baseline stored at [[pqBuildStatsPath]],
    * and retrain over `emb` (the current full corpus, lazily
    * evaluated — untouched when the alarm stays quiet) iff the ratio
    * exceeds `threshold`. The check is one zero-shuffle scan of the
    * BATCH (codebooks ride as literals) + a one-row stats read; the
    * result is identical to calling [[rebuildPqIndex]] by hand
    * (spec-pinned). A baseline written by a pre-baseline builder is
    * healed in place from `emb`. @return true iff a rebuild ran. */
  def rebuildPqIndexIfDrifted(emb: => DataFrame, batch: DataFrame,
      path: String, idCol: String, vecCol: String, m: Int = 16,
      k: Int = 16, threshold: Double = 2.0): Boolean = {
    val spark = batch.sparkSession
    val cbs = graft.io.StoredIndex.memo[Array[Array[Seq[Float]]]](path)
      .getOrElse(loadPqCodebooks(spark, path))
    def meanErr(df: DataFrame): Double =
      pqQuantizationError(df, idCol, vecCol, cbs)
        .agg(avg(col("pq_err"))).head().getDouble(0)
    val baseline =
      if (graft.io.IndexPaths.complete(spark, pqBuildStatsPath(path)))
        spark.read.parquet(pqBuildStatsPath(path)).head().getDouble(0)
      else { // index predates the baseline sibling: heal it in place
        val b = meanErr(emb)
        import spark.implicits._
        Seq(b).toDF("mean_err").coalesce(1)
          .write.mode("overwrite").parquet(pqBuildStatsPath(path))
        b
      }
    val drifted = meanErr(batch) > threshold * (baseline + 1e-9)
    if (drifted) rebuildPqIndex(emb, path, idCol, vecCol, m, k)
    drifted
  }

  /** Build-once PQ index through [[graft.io.StoredIndex]]: the codes
    * and their codebook sibling gate; a committed index reloads its
    * codebooks, a torn or missing one retrains. Returns the
    * codebooks. */
  private def ensurePqIndex(spark: SparkSession, emb: => DataFrame,
      idCol: String, vecCol: String, indexPath: String, m: Int,
      kCode: Int): Array[Array[Seq[Float]]] =
    graft.io.StoredIndex.ensureValue(spark, indexPath,
      pqCodebooksPath(indexPath))(loadPqCodebooks(spark, indexPath))(
      pqWriteIndex(emb, idCol, vecCol, indexPath, m, kCode))

  /** The shared ADC-scan + exact-rerank tail of both PQ query paths
    * ([[pqTopKIndexed]], [[ivfPqTopKIndexed]]): the query's
    * per-subspace dot products against every codeword are precomputed
    * into an m×k lookup table (driver-side, tiny) that rides into
    * codegen as a literal, so scoring a `codes` row is m array lookups
    * + adds on an m-int row (no float vectors read); the shortlist is
    * a bounded top-N (TakeOrdered), and the exact pass touches only
    * `shortlistFactor`·k rows fetched by a broadcast semi-join.
    * Callers pass the codes relation already partition-pruned (IVF-PQ
    * filters `__cid` first — its second pruning axis). */
  private def adcShortlistRerank(emb: DataFrame, idCol: String,
      vecCol: String, codes: DataFrame, qvec: Seq[Float],
      cbs: Array[Array[Seq[Float]]], probeId: Long, k: Int,
      shortlistFactor: Int): DataFrame = {
    val d = cbs(0)(0).length
    val dotLut: Seq[Seq[Double]] = cbs.zipWithIndex.map { case (row, ss) =>
      val qs = qvec.slice(ss * d, ss * d + d)
      row.map(c => c.zip(qs).map { case (a, b) => a.toDouble * b.toDouble }.sum)
        .toSeq
    }.toSeq
    val normLut: Seq[Seq[Double]] = cbs.map(_.map(c =>
      c.map(x => x.toDouble * x.toDouble).sum).toSeq).toSeq
    def lutSum(lut: Seq[Seq[Double]]): Column =
      aggregate(zip_with(col("codes"), typedLit(lut),
          (c, lutRow) => element_at(lutRow, c + 1)),
        lit(0.0), (acc, v) => acc + v)
    val shortlist = codes
      .where(col(idCol) =!= probeId)
      .select(col(idCol),
        (lutSum(dotLut) /
          sqrt(greatest(lutSum(normLut), lit(1e-12)))).as("__adc"))
      .orderBy(col("__adc").desc, col(idCol).asc)
      .limit(shortlistFactor * k)
    emb.join(broadcast(shortlist.select(col(idCol))), Seq(idCol), "left_semi")
      .select(col(idCol).as("vec_id"),
        VectorFns.cosineQ(col(vecCol), typedLit(qvec)).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col("vec_id").asc)
      .limit(k)
      .withColumn("rk", row_number().over(
        Window.orderBy(col("cos_sim").desc, col("vec_id").asc)))
  }

  /** Materialize the IVF-PQ index — the canonical production ANN
    * layout (coarse quantizer for partition pruning × product codes
    * for scan compression): rows live in `__cid`-partitioned
    * directories carrying only (id, codes); IVF centroids and PQ
    * codebooks persist as siblings, so the index is fully
    * self-describing on disk. A probe therefore reads
    * nProbe/nClusters of the DIRECTORIES and 1/16 of the BYTES within
    * them — the two pruning axes compose. (Codebooks are trained on
    * raw vectors, not per-list residuals — the simpler variant; the
    * residual refinement drops ADC error further but needs per-list
    * LUTs per query.) */
  def ivfPqWriteIndex(emb: DataFrame, idCol: String, vecCol: String,
      path: String, nClusters: Int = 16, m: Int = 16, k: Int = 16)
      : (Array[Seq[Float]], Array[Array[Seq[Float]]]) = {
    val cached = emb.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val centroids = ivfTrain(cached, idCol, vecCol, nClusters)
    val cbs = pqTrain(cached, idCol, vecCol, m, k)
    // one pass computes both quantizations: coarse cid + product codes
    assignToCentroids(cached, vecCol, centroids)
      .select(col(idCol), pqCodes(vecCol, cbs).as("codes"), col("__cid"))
      .write.mode("overwrite").partitionBy("__cid").parquet(path)
    cached.unpersist()
    val spark = emb.sparkSession
    import spark.implicits._
    centroids.zipWithIndex.map { case (c, i) => (i, c) }.toSeq
      .toDF("__cid", "centroid")
      .coalesce(1).write.mode("overwrite").parquet(centroidsPath(path))
    cbs.zipWithIndex.flatMap { case (row, ss) =>
      row.zipWithIndex.map { case (c, j) => (ss, j, c) }
    }.toSeq.toDF("ss", "j", "codeword")
      .coalesce(1).write.mode("overwrite").parquet(pqCodebooksPath(path))
    (centroids, cbs)
  }

  /** Build-once IVF-PQ index through [[graft.io.StoredIndex]]: the
    * codes, centroid and codebook siblings all gate. Returns
    * (centroids, codebooks). */
  private def ensureIvfPqIndex(spark: SparkSession, emb: => DataFrame,
      idCol: String, vecCol: String, indexPath: String, nClusters: Int,
      m: Int, kCode: Int): (Array[Seq[Float]], Array[Array[Seq[Float]]]) =
    graft.io.StoredIndex.ensureValue(spark, indexPath,
      centroidsPath(indexPath), pqCodebooksPath(indexPath))(
      (loadCentroids(spark, indexPath), loadPqCodebooks(spark, indexPath)))(
      ivfPqWriteIndex(emb, idCol, vecCol, indexPath, nClusters, m, kCode))

  /** IVF-PQ ANN top-k through the materialized index: pick the
    * `nProbe` nearest coarse centroids, read ONLY those partitions
    * (directory pruning — PartitionFilters on `__cid`), ADC-score the
    * codes within them via the codegen'd lookup table, exact-rescore
    * the bounded shortlist against the raw embeddings. At scale the
    * scan cost is (nProbe/nClusters) × (1/16 bytes) of the corpus —
    * each factor from an independent index axis — with the same
    * build-once / reload-on-fresh-JVM lifecycle as the other
    * indexes. */
  def ivfPqTopKIndexed(spark: SparkSession, emb: => DataFrame,
      idCol: String, vecCol: String, indexPath: String, probeId: Long,
      k: Int, nClusters: Int = 16, nProbe: Int = 4, m: Int = 16,
      kCode: Int = 16, shortlistFactor: Int = 16): DataFrame = {
    val (centroids, cbs) = ensureIvfPqIndex(spark, emb, idCol, vecCol,
      indexPath, nClusters, m, kCode)
    val e = emb
    val qvec = e.where(col(idCol) === probeId).select(col(vecCol)).head()
      .getSeq[Float](0)
    val probes = centroids.zipWithIndex.map { case (c, i) =>
      (c.zip(qvec).map { case (a, b) => (a - b).toDouble * (a - b) }.sum, i)
    }.sortBy(_._1).take(nProbe).map(_._2).toSeq
    adcShortlistRerank(e, idCol, vecCol,
      spark.read.parquet(indexPath).where(col("__cid").isin(probes: _*)),
      qvec, cbs, probeId, k, shortlistFactor)
  }

  /** PQ ANN top-k through the materialized index: ADC scan over the
    * CODES via [[adcShortlistRerank]] (16× less scan IO than raw
    * vectors), exact rescore of the bounded shortlist — the standard
    * ADC-shortlist-rerank production shape. Build-once per
    * `indexPath`, reloaded from disk on fresh JVMs. */
  def pqTopKIndexed(spark: SparkSession, emb: => DataFrame, idCol: String,
      vecCol: String, indexPath: String, probeId: Long, k: Int,
      m: Int = 16, kCode: Int = 16, shortlistFactor: Int = 16): DataFrame = {
    val cbs = ensurePqIndex(spark, emb, idCol, vecCol, indexPath, m, kCode)
    val e = emb
    val qvec = e.where(col(idCol) === probeId).select(col(vecCol)).head()
      .getSeq[Float](0)
    adcShortlistRerank(e, idCol, vecCol, spark.read.parquet(indexPath),
      qvec, cbs, probeId, k, shortlistFactor)
  }

  /** The probe vectors of a batch query, driver-side: |probes| rows —
    * KBs, size-bounded. Fails with an actionable message on a missing
    * probe (cf. [[ivfQueryIndexBatch]]). */
  private def probeVecsOf(emb: DataFrame, idCol: String, vecCol: String,
      probeIds: Seq[Long], what: String): Map[Long, Seq[Float]] = {
    require(probeIds.nonEmpty)
    val m = emb.where(col(idCol).isin(probeIds: _*))
      .select(col(idCol), col(vecCol)).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    probeIds.foreach(pid =>
      require(m.contains(pid), s"probe $pid not found in $what"))
    m
  }

  /** One probe's ADC dot-product lookup table (m×kCode doubles —
    * tiny, driver-side), the batch twin of [[adcShortlistRerank]]'s
    * per-query LUT. */
  private def adcDotLut(qvec: Seq[Float], cbs: Array[Array[Seq[Float]]])
      : Seq[Seq[Double]] = {
    val d = cbs(0)(0).length
    cbs.zipWithIndex.map { case (row, ss) =>
      val qs = qvec.slice(ss * d, ss * d + d)
      row.map(c => c.zip(qs).map { case (a, b) => a.toDouble * b.toDouble }.sum)
        .toSeq
    }.toSeq
  }

  /** Batched ADC-scan + exact-rerank over a probe SET — the shared
    * tail of [[pqTopKIndexedBatch]] / [[ivfPqTopKIndexedBatch]]: ONE
    * scan of the codes relation serves every probe (each codes row
    * joins only the broadcast probe rows keyed to it — all probes for
    * the full-scan PQ path, the `__cid`-matched probes for IVF-PQ),
    * scored through per-probe dot LUT columns riding in the broadcast;
    * per-probe shortlists are bounded-heap aggregates (≤
    * shortlistFactor·k rows/probe/task cross the wire), and ONE
    * broadcast-driven exact pass rescopes all shortlists against the
    * raw embeddings. Per-probe ordering identical to the single-probe
    * paths (spec-pinned). `probes` columns: (probe_id, __pv, __lut
    * [, join key]). */
  private def adcShortlistRerankBatch(emb: DataFrame, idCol: String,
      vecCol: String, codes: DataFrame, probes: DataFrame,
      joinKeys: Seq[String], cbs: Array[Array[Seq[Float]]], k: Int,
      shortlistFactor: Int): DataFrame = {
    import org.apache.spark.sql.graft.shim
    val normLut: Seq[Seq[Double]] = cbs.map(_.map(c =>
      c.map(x => x.toDouble * x.toDouble).sum).toSeq).toSeq
    def lutSum(lut: Column): Column =
      aggregate(zip_with(col("codes"), lut,
          (c, lutRow) => element_at(lutRow, c + 1)),
        lit(0.0), (acc, v) => acc + v)
    val scored =
      (if (joinKeys.isEmpty) codes.crossJoin(broadcast(probes))
       else codes.join(broadcast(probes), joinKeys))
        .where(col(idCol) =!= col("probe_id"))
        .select(col("probe_id"), col(idCol),
          (lutSum(col("__lut")) /
            sqrt(greatest(lutSum(typedLit(normLut)), lit(1e-12))))
            .as("__adc"))
    val slAgg = shim.column(graft.functions.expr.TopKByScore(
        shim.expression(col("__adc")), shim.expression(col(idCol)),
        shortlistFactor * k)
      .toAggregateExpression())
    val shortlist = scored.groupBy(col("probe_id")).agg(slAgg.as("__sl"))
      .select(col("probe_id"), explode(col("__sl")).as("__e"))
      .select(col("probe_id"), col("__e.id").as(idCol))
    topKPerProbe(emb.select(col(idCol), col(vecCol))
      .join(broadcast(shortlist), Seq(idCol))
      .join(broadcast(probes.select(col("probe_id").as("__ppid"), col("__pv")))
          .dropDuplicates("__ppid"),
        col("probe_id") === col("__ppid"))
      .select(col("probe_id"), col(idCol).as("vec_id"),
        VectorFns.cosineQ(col(vecCol), col("__pv")).as("cos_sim")), k)
  }

  /** Batched [[pqTopKIndexed]] over a probe set — the recall-eval /
    * offline-serving shape: [[ensurePqIndex]], then ONE
    * ADC scan of the stored codes serves the whole probe set. */
  def pqTopKIndexedBatch(spark: SparkSession, emb: => DataFrame,
      idCol: String, vecCol: String, indexPath: String,
      probeIds: Seq[Long], k: Int, m: Int = 16, kCode: Int = 16,
      shortlistFactor: Int = 16): DataFrame = {
    val cbs = ensurePqIndex(spark, emb, idCol, vecCol, indexPath, m, kCode)
    val e = emb
    val pv = probeVecsOf(e, idCol, vecCol, probeIds, s"embeddings for $indexPath")
    import spark.implicits._
    val probes = probeIds.map(pid => (pid, pv(pid), adcDotLut(pv(pid), cbs)))
      .toDF("probe_id", "__pv", "__lut")
    adcShortlistRerankBatch(e, idCol, vecCol,
      spark.read.parquet(indexPath), probes, Seq.empty, cbs, k,
      shortlistFactor)
  }

  /** Batched [[ivfPqTopKIndexed]] over a probe set: the union of all
    * probes' nProbe inverted lists is read in ONE partition-pruned
    * scan (PartitionFilters on `__cid`), each codes row ADC-scores
    * only against the probes that probe ITS list, shortlists rerank
    * exactly — both index pruning axes compose with the one-scan
    * batch shape. */
  def ivfPqTopKIndexedBatch(spark: SparkSession, emb: => DataFrame,
      idCol: String, vecCol: String, indexPath: String,
      probeIds: Seq[Long], k: Int, nClusters: Int = 16, nProbe: Int = 4,
      m: Int = 16, kCode: Int = 16, shortlistFactor: Int = 16): DataFrame = {
    val (centroids, cbs) = ensureIvfPqIndex(spark, emb, idCol, vecCol,
      indexPath, nClusters, m, kCode)
    val e = emb
    val pv = probeVecsOf(e, idCol, vecCol, probeIds, s"embeddings for $indexPath")
    val pairs = probeIds.flatMap { pid =>
      val qv = pv(pid)
      val lut = adcDotLut(qv, cbs)
      centroids.zipWithIndex.map { case (c, i) =>
        (c.zip(qv).map { case (a, b) => (a - b).toDouble * (a - b) }.sum, i)
      }.sortBy(_._1).take(nProbe).map(t => (pid, t._2, qv, lut))
    }
    val allCids = pairs.map(_._2).distinct
    import spark.implicits._
    val probes = pairs.toDF("probe_id", "__cid", "__pv", "__lut")
    adcShortlistRerankBatch(e, idCol, vecCol,
      spark.read.parquet(indexPath).where(col("__cid").isin(allCids: _*)),
      probes, Seq("__cid"), cbs, k, shortlistFactor)
  }

  // ── Binary (sign-bit) embedding quantization + Hamming ANN ──

  /** Sign-bit packing of a float embedding: bit `i` of 32-bit half
    * `h` is set iff `vec[32h + i] > 0` — `dim` dims pack into
    * `dim/32` longs each holding 32 bits (a sum of powers below 2^32
    * stays positive and exact in both engines; packing 64 bits into
    * one word would overflow into the sign bit at bit 63). The
    * coarsest of the quantization ladder (float → int8 → PQ → sign):
    * 32× smaller than float32, distance = XOR + popcount — a few
    * codegen'd ALU ops per candidate, no multiply — which is why
    * binary prefilters front large-scale vector search. Sign
    * comparison is exact in IEEE floats, so the packing (and
    * everything downstream) replays bit-for-bit in SQL.
    * Returns (vec_id, bits: array<long> of dim/32 halves). */
  def signPack(emb: DataFrame, idCol: String, vecCol: String,
      dim: Int = 64): DataFrame = {
    require(dim >= 32 && dim % 32 == 0,
      s"sign packing needs a positive multiple of 32 dims, got $dim")
    def half(off: Int): Column =
      (0 until 32).map(i =>
        when(element_at(col(vecCol), off + i + 1) > lit(0f), lit(1L << i))
          .otherwise(lit(0L))).reduce(_ + _)
    emb.select(col(idCol).as("vec_id"),
      array((0 until dim by 32).map(half): _*).as("bits"))
  }

  /** Hamming distance between two packed code arrays: per-half
    * XOR+popcount, summed — whole-stage-codegen'd builtins end to
    * end (`zip_with` + `bit_count` + `aggregate`). */
  private def hammingDist(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => bit_count(x.bitwiseXOR(y)).cast("long")),
      lit(0L), (acc, x) => acc + x)

  /** The shared shortlist tail of the ad-hoc and stored Hamming
    * paths: probes broadcast (code arrays only — a handful of longs
    * each), one scan of the packed corpus, per-probe top-k through
    * the bounded TopKByLongScore heap on NEGATED distance (score
    * DESC ≡ hamming ASC, id tie-break) — never a rank window.
    * Bit-identical between paths by construction: longs round-trip
    * parquet exactly (the [[quantizedTail]] argument). */
  private def hammingTail(packed: DataFrame, probes: DataFrame,
      k: Int): DataFrame = {
    import org.apache.spark.sql.graft.shim
    val agg = shim.column(graft.functions.expr.TopKByLongScore(
        shim.expression(-col("hamming")), shim.expression(col("vec_id")), k)
      .toAggregateExpression())
    packed.join(broadcast(probes), col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        hammingDist(col("bits"), col("qbits")).as("hamming"))
      .groupBy(col("query_id")).agg(agg.as("__top"))
      .select(col("query_id"), posexplode(col("__top")).as(Seq("__p", "__e")))
      .select(col("query_id"), (col("__p") + 1).cast("long").as("rk"),
        col("__e.id").as("vec_id"), (-col("__e.score")).as("hamming"))
  }

  /** Batched exact top-k under Hamming distance over the sign-packed
    * corpus — the ad-hoc form: packs the float column on the fly
    * (one pass), then the shared [[hammingTail]].
    * Returns (query_id, rk, vec_id, hamming). */
  def hammingTopKBatch(emb: DataFrame, idCol: String, vecCol: String,
      probeIds: Seq[Long], k: Int, dim: Int = 64): DataFrame = {
    require(probeIds.nonEmpty && k >= 1)
    val packed = signPack(emb, idCol, vecCol, dim)
    val probes = packed.where(col("vec_id").isin(probeIds: _*))
      .toDF("query_id", "qbits")
    hammingTail(packed, probes, k)
  }

  // ── Stored sign-code index (the int8 lifecycle: exact append) ──

  /** Materialize the sign-code index: the (vec_id, bits) table at
    * `path` — packing paid ONCE, and every subsequent probe set
    * streams past the 32×-smaller code column instead of re-deriving
    * codes from the float corpus per call (the [[writeQuantizedIndex]]
    * lifecycle: per-vector arithmetic, no corpus-global statistic, so
    * no codebooks and no staleness alarm). */
  def writeSignIndex(emb: DataFrame, idCol: String, vecCol: String,
      path: String, dim: Int = 64, coalesceTo: Int = 8): Unit = {
    val packed = signPack(emb, idCol, vecCol, dim)
    (if (coalesceTo > 0) packed.coalesce(coalesceTo) else packed)
      .write.mode("overwrite").parquet(path)
  }

  /** Fold new embeddings INTO the stored sign index — EXACT like
    * [[appendToQuantizedIndex]]: each vector packs independently
    * (sign of its own coordinates), so appended rows are bit-identical
    * to what a full rebuild would store. */
  def appendToSignIndex(newEmb: DataFrame, path: String, idCol: String,
      vecCol: String, dim: Int = 64): Unit =
    signPack(newEmb, idCol, vecCol, dim)
      .write.mode("append").parquet(path)

  /** One arrival batch of the sign-index maintenance loop (the step
    * [[graft.streaming.Streams.ingestSignStream]] drives, also
    * batch-evaluable for the oracle-checked query): the batch lands
    * exactly-once in `corpusRoot/batch=<id>` (idempotent overwrite),
    * then folds into the stored (vec_id, bits) table — EXACT append
    * like the int8 loop ([[appendToQuantizedIndex]]): each vector
    * packs from the sign of its own coordinates, no corpus-global
    * statistic, so appended rows are bit-identical to a full
    * rebuild's and no staleness alarm exists to wire. Replay-safe via
    * the stored-id anti-join (a redelivered batch appends nothing).
    * First batch builds the index from the accumulated corpus. */
  def ingestSignBatch(batch: DataFrame, batchId: Long, indexPath: String,
      corpusRoot: String, idCol: String = "vec_id",
      vecCol: String = "embedding", dim: Int = 64): Unit = {
    val spark = batch.sparkSession
    if (batch.isEmpty) return
    val b = batch.select(col(idCol), col(vecCol))
    b.coalesce(4).write.mode("overwrite")
      .parquet(s"$corpusRoot/batch=$batchId")
    if (!graft.io.IndexPaths.complete(spark, indexPath))
      writeSignIndex(
        spark.read.parquet(corpusRoot).select(col(idCol), col(vecCol)),
        idCol, vecCol, indexPath, dim)
    else {
      val fresh = b.join(
        spark.read.parquet(indexPath).select(col("vec_id").as("__stored")),
        col(idCol) === col("__stored"), "left_anti")
      if (!fresh.isEmpty)
        appendToSignIndex(fresh, indexPath, idCol, vecCol, dim)
    }
  }

  /** Build-once [[writeSignIndex]] through [[graft.io.StoredIndex]]. */
  def ensureSignIndex(spark: SparkSession, emb: => DataFrame,
      idCol: String, vecCol: String, path: String, dim: Int = 64): Unit =
    graft.io.StoredIndex.ensure(spark, path)(
      writeSignIndex(emb, idCol, vecCol, path, dim))

  /** [[hammingTopKBatch]] through the stored code table: the corpus
    * streams past as codes — the float `embeddings` column is NEVER
    * scanned (plan-pinned), closing the gap between the rung's
    * scaladoc and its execution. Bit-identical to the ad-hoc path
    * (shared [[hammingTail]], exact long round-trip — spec-pinned,
    * shared oracle). */
  def hammingTopKIndexedBatch(spark: SparkSession, emb: => DataFrame,
      idCol: String, vecCol: String, path: String, probeIds: Seq[Long],
      k: Int, dim: Int = 64): DataFrame = {
    require(probeIds.nonEmpty && k >= 1)
    ensureSignIndex(spark, emb, idCol, vecCol, path, dim)
    val packed = spark.read.parquet(path)
    val probes = packed.where(col("vec_id").isin(probeIds: _*))
      .toDF("query_id", "qbits")
    hammingTail(packed, probes, k)
  }

  /** The shared rerank tail of [[hammingRerankTopK]] and its stored
    * form: join the float vectors to the SHORTLIST ids only
    * (probes × k·factor rows — at 100 TB a pruned point-lookup join,
    * never a float-column scan) and rank the exact quantized cosine
    * per probe through the bounded heap. */
  private def hammingRerankTail(short: DataFrame, emb: DataFrame,
      idCol: String, vecCol: String, probeIds: Seq[Long], k: Int)
      : DataFrame = {
    val vecs = emb.select(col(idCol).as("vec_id"), col(vecCol).as("__v"))
    val probes = broadcast(emb.where(col(idCol).isin(probeIds: _*))
      .select(col(idCol).as("probe_id"), col(vecCol).as("__pv")))
    topKPerProbe(short.join(vecs, Seq("vec_id")).join(probes, Seq("probe_id"))
      .select(col("probe_id"), col("vec_id"),
        VectorFns.cosineQ(col("__v"), col("__pv")).as("cos_sim")), k)
  }

  /** Binary prefilter + quantized-cosine rerank — the PRODUCTION use
    * of the sign codes: shortlist `k · shortlistFactor` candidates per
    * probe by Hamming distance over the packed codes, then rerank
    * ONLY the shortlist with the full float vectors under the exact
    * quantized cosine. Deterministic end to end (integer Hamming, id
    * tie-breaks, quantized cosine) → full SQL oracle; the recall the
    * prefilter gives up vs brute cosine is measured in SimilaritySpec,
    * the same trade [[annRecallReport]] prices for the LSH rungs.
    * Returns (probe_id, vec_id, cos_sim, rk). */
  def hammingRerankTopK(emb: DataFrame, idCol: String, vecCol: String,
      probeIds: Seq[Long], k: Int, shortlistFactor: Int = 8,
      dim: Int = 64): DataFrame = {
    require(shortlistFactor >= 1)
    val short = hammingTopKBatch(emb, idCol, vecCol, probeIds,
        k * shortlistFactor, dim)
      .select(col("query_id").as("probe_id"), col("vec_id"))
    hammingRerankTail(short, emb, idCol, vecCol, probeIds, k)
  }

  /** [[hammingRerankTopK]] with the shortlist phase through the
    * stored code table: the corpus passes as 32×-smaller codes, and
    * the float column is touched only by the shortlist-sized id join
    * of the rerank — exactly the cost model the rung advertises.
    * Bit-identical to the ad-hoc form (shared tails, shared oracle).
    */
  def hammingRerankTopKIndexed(spark: SparkSession, emb: DataFrame,
      idCol: String, vecCol: String, path: String, probeIds: Seq[Long],
      k: Int, shortlistFactor: Int = 8, dim: Int = 64): DataFrame = {
    require(shortlistFactor >= 1)
    val short = hammingTopKIndexedBatch(spark, emb, idCol, vecCol, path,
        probeIds, k * shortlistFactor, dim)
      .select(col("query_id").as("probe_id"), col("vec_id"))
    hammingRerankTail(short, emb, idCol, vecCol, probeIds, k)
  }
}
