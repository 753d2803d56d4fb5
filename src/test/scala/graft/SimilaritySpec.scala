package graft

import org.apache.spark.sql.functions._

import graft.functions.VectorFns
import graft.operators.Similarity
import graft.streaming.Streams

class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  private lazy val emb = spark.read.parquet(s"$sf/embeddings.parquet")

  test("cosine: self-similarity is 1, orthogonal is 0, opposite is -1") {
    val df = Seq(
      (Seq(1f, 0f), Seq(1f, 0f), 1.0),
      (Seq(1f, 0f), Seq(0f, 1f), 0.0),
      (Seq(1f, 0f), Seq(-1f, 0f), -1.0)).toDF("a", "b", "want")
    val got = df.select(VectorFns.cosine(col("a"), col("b")).as("c"), col("want")).collect()
    got.foreach(r => assert(math.abs(r.getDouble(0) - r.getDouble(1)) < 1e-9))
  }

  test("quantized cosine tracks true cosine within quantization error") {
    val rows = emb.limit(50)
      .select(VectorFns.cosine(col("embedding"), col("embedding")).as("c"),
        VectorFns.cosineQ(col("embedding"), col("embedding")).as("cq"))
      .collect()
    rows.foreach { r =>
      assert(math.abs(r.getDouble(0) - 1.0) < 1e-6)
      assert(math.abs(r.getDouble(1) - 1.0) < 2e-2)
    }
  }

  test("bruteForceTopK: k rows, ranked by descending similarity, probe excluded") {
    val top = Similarity.bruteForceTopK(spark, emb, "vec_id", "embedding", 0L, 10)
      .orderBy("rk").collect()
    assert(top.length === 10)
    assert(!top.map(_.getLong(0)).contains(0L))
    val sims = top.map(_.getDouble(1))
    assert(sims.zip(sims.tail).forall { case (a, b) => a >= b })
  }

  test("lshBucketTopK = exact cosine ranking restricted to the probe's bucket") {
    val ann = Similarity.lshBucketTopK(spark, emb, "vec_id", "embedding", 0L, 10)
      .orderBy("rk").collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(ann.nonEmpty, "probe bucket must contain neighbors")
    // the operator's contract: prune the scan to the probe's bucket,
    // then EXACT quantized-cosine ranking within it — recompute that
    // reference set independently from withLshBucket + bruteForceTopK
    // over the bucket members and demand identical (id, score) lists
    val bucketed = Similarity.withLshBucket(emb, "embedding")
    val qBucket = bucketed.where(col("vec_id") === 0L)
      .select("lsh_bucket").head().getLong(0)
    val bucketMembers = bucketed.where(col("lsh_bucket") === qBucket)
      .drop("lsh_bucket")
    // probe vector must be scored against bucket members only
    val withProbe = bucketMembers.union(
      emb.where(col("vec_id") === 0L)).distinct()
    val exactInBucket = Similarity.bruteForceTopK(spark, withProbe,
        "vec_id", "embedding", 0L, 10)
      .orderBy("rk").collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(ann.toSeq === exactInBucket.toSeq)
  }

  test("batch ANN: one-scan probe-set paths match the per-probe operators") {
    val probes = Seq(0L, 7L, 19L)
    def grouped(df: org.apache.spark.sql.DataFrame): Map[Long, Seq[(Long, Double)]] =
      df.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
        .groupBy(_._1).view
        .mapValues(_.sortBy(_._4).map(t => (t._2, t._3)).toSeq).toMap
    val bf = grouped(Similarity.bruteForceTopKBatch(emb, "vec_id",
      "embedding", probes, 10))
    val lsh = grouped(Similarity.lshBucketTopKBatch(emb, "vec_id",
      "embedding", probes, 10))
    val multi = grouped(Similarity.lshMultiProbeTopKBatch(emb, "vec_id",
      "embedding", probes, 10))
    probes.foreach { p =>
      def single(df: org.apache.spark.sql.DataFrame): Seq[(Long, Double)] =
        df.orderBy("rk").collect()
          .map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(bf(p) === single(Similarity.bruteForceTopK(spark, emb,
        "vec_id", "embedding", p, 10)), s"brute probe $p")
      assert(lsh.getOrElse(p, Seq.empty) === single(Similarity.lshBucketTopK(
        spark, emb, "vec_id", "embedding", p, 10)), s"lsh probe $p")
      assert(multi.getOrElse(p, Seq.empty) === single(
        Similarity.lshMultiProbeTopK(spark, emb, "vec_id", "embedding",
          p, 10)), s"multiprobe probe $p")
    }
  }

  test("ivfQueryIndexBatch matches per-probe ivfQueryIndex through the same index") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-ivfbatch").toString
    val e = emb.select("vec_id", "embedding")
    val centroids = Similarity.ivfWriteIndex(e, "vec_id", "embedding",
      s"$tmp/idx", 16)
    val probes = Seq(0L, 7L, 19L)
    val batch = Similarity.ivfQueryIndexBatch(spark, s"$tmp/idx", centroids,
        "vec_id", "embedding", probes, 10)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
      .groupBy(_._1).view
      .mapValues(_.sortBy(_._4).map(t => (t._2, t._3)).toSeq).toMap
    probes.foreach { p =>
      val single = Similarity.ivfQueryIndex(spark, s"$tmp/idx", centroids,
          "vec_id", "embedding", p, 10)
        .orderBy("rk").collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(batch.getOrElse(p, Seq.empty) === single, s"probe $p")
    }
  }

  test("pq/ivfPq batch: one-ADC-scan probe-set paths match the per-probe operators") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-pqbatch").toString
    val e = emb.select("vec_id", "embedding")
    val probes = Seq(0L, 7L, 19L)
    def grouped(df: org.apache.spark.sql.DataFrame): Map[Long, Seq[(Long, Double)]] =
      df.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
        .groupBy(_._1).view
        .mapValues(_.sortBy(_._4).map(t => (t._2, t._3)).toSeq).toMap
    def single(df: org.apache.spark.sql.DataFrame): Seq[(Long, Double)] =
      df.orderBy("rk").collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSeq

    val pqBatch = grouped(Similarity.pqTopKIndexedBatch(spark, e, "vec_id",
      "embedding", s"$tmp/pq", probes, 10))
    probes.foreach { p =>
      assert(pqBatch(p) === single(Similarity.pqTopKIndexed(spark, e,
        "vec_id", "embedding", s"$tmp/pq", p, 10)), s"pq probe $p")
    }
    val ivfpqBatch = grouped(Similarity.ivfPqTopKIndexedBatch(spark, e,
      "vec_id", "embedding", s"$tmp/ivfpq", probes, 10, nProbe = 8))
    probes.foreach { p =>
      assert(ivfpqBatch(p) === single(Similarity.ivfPqTopKIndexed(spark, e,
        "vec_id", "embedding", s"$tmp/ivfpq", p, 10, nProbe = 8)),
        s"ivfpq probe $p")
    }
    // a probe id absent from the corpus fails with an actionable message
    val ex = intercept[IllegalArgumentException] {
      Similarity.pqTopKIndexedBatch(spark, e, "vec_id", "embedding",
        s"$tmp/pq", Seq(0L, 999999L), 10)
    }
    assert(ex.getMessage.contains("999999"))
  }

  test("quantizedTopKBatch matches per-probe quantizedTopK") {
    val probes = Seq(0L, 7L, 19L)
    val batch = Similarity.quantizedTopKBatch(emb, "vec_id", "embedding",
        probes, 10)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
      .groupBy(_._1).view
      .mapValues(_.sortBy(_._4).map(t => (t._2, t._3)).toSeq).toMap
    probes.foreach { p =>
      val single = Similarity.quantizedTopK(emb, "vec_id", "embedding", p, 10)
        .orderBy("rk").collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(batch.getOrElse(p, Seq.empty) === single, s"probe $p")
    }
  }

  test("quantizedTopKIndexedBatch: stored index bit-identical to in-memory; append-exact; bad probe fails") {
    val probes = Seq(0L, 7L, 19L)
    val tmp = java.nio.file.Files.createTempDirectory("graft-int8-").toString
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
      .sortBy(t => (t._1, t._4)).toSeq
    val mem = rows(Similarity.quantizedTopKBatch(emb, "vec_id", "embedding",
      probes, 10))
    val stored = rows(Similarity.quantizedTopKIndexedBatch(spark, emb,
      "vec_id", "embedding", s"$tmp/idx", probes, 10))
    assert(stored === mem, "stored int8 path must be bit-identical")
    assert(graft.io.IndexPaths.complete(spark, s"$tmp/idx"),
      "index must be a committed write")
    // append path: build on a prefix, fold the rest in — per-vector
    // max-abs scaling makes the append EXACT, so the incrementally
    // built index answers identically to the one-shot build
    val lo = emb.where(col("vec_id") < 300L)
    val hi = emb.where(col("vec_id") >= 300L)
    Similarity.writeQuantizedIndex(lo, "vec_id", "embedding", s"$tmp/idx2")
    Similarity.appendToQuantizedIndex(hi, s"$tmp/idx2", "vec_id", "embedding")
    Similarity.ensureQuantizedIndex(spark, emb, "vec_id", "embedding",
      s"$tmp/idx2") // memo only — already complete on disk
    val appended = rows(Similarity.quantizedTopKIndexedBatch(spark, emb,
      "vec_id", "embedding", s"$tmp/idx2", probes, 10))
    assert(appended === mem, "append-built index must equal one-shot build")
    // a typo'd probe id fails loudly on the indexed path too
    val ex = intercept[IllegalArgumentException] {
      Similarity.quantizedTopKIndexedBatch(spark, emb, "vec_id",
        "embedding", s"$tmp/idx", Seq(0L, 999999L), 10)
    }
    assert(ex.getMessage.contains("999999"))
  }

  test("semanticDecontaminate: planted eval copy flagged at ~1.0; clean rows not flagged; best eval_id reported") {
    val evalSet = emb.where(col("vec_id") % 20 === 0)
      .select("vec_id", "embedding")
    // plant an exact copy of eval vec 0 into the training side
    val evalVec0 = emb.where(col("vec_id") === 0L)
      .select("embedding").head().getSeq[Float](0)
    val train = emb.where(col("vec_id") % 20 =!= 0)
      .select("vec_id", "embedding")
      .unionByName(Seq((999999L, evalVec0)).toDF("vec_id", "embedding"))
    val flagged = Similarity.semanticDecontaminate(train, evalSet,
        "vec_id", "embedding", tau = 0.95)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(flagged.length === 1, s"only the planted copy at tau=0.95: ${flagged.toSeq}")
    val (id, evalId, qcos) = flagged.head
    assert(id === 999999L && evalId === 0L)
    assert(qcos > 0.999, s"exact copy must score ~1: $qcos")
  }

  test("semanticDecontaminateBlocked: planted-leakage recall parity with brute force; no cross join") {
    // plant exact copies of THREE eval vectors into the training side —
    // the blocked form must flag every one (an exact copy quantizes to
    // the same point, so its nearest centroid IS the corpus copy's
    // cluster; multi-probe covers the boundary case), matching the
    // brute-force twin on the planted set
    val evalSet = emb.where(col("vec_id") % 20 === 0)
      .select("vec_id", "embedding")
    val planted = Seq(0L, 20L, 40L)
    val copies = emb.where(col("vec_id").isin(planted: _*))
      .select((col("vec_id") + 999000L).as("vec_id"), col("embedding"))
    val train = emb.where(col("vec_id") % 20 =!= 0)
      .select("vec_id", "embedding")
      .unionByName(copies)
    val idxPath = java.nio.file.Files.createTempDirectory("decon").toString + "/km"
    Similarity.kmeansWriteIndex(train, "vec_id", "embedding", idxPath,
      k = Similarity.deriveK(train.count()), iters = 2)
    val blocked = Similarity.semanticDecontaminateBlocked(spark, train,
      evalSet, "vec_id", "embedding", tau = 0.95, idxPath, nProbe = 2)
    val brute = Similarity.semanticDecontaminate(train, evalSet,
      "vec_id", "embedding", tau = 0.95)
    val gotB = blocked.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val gotF = brute.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val want = planted.map(p => (p + 999000L, p)).toSet
    assert(gotF === want, s"brute force must flag exactly the planted copies: $gotF")
    assert(gotB === want, s"blocked form must match brute force on the planted set: $gotB")
    // candidate-bounded: the blocked plan joins on the cluster equi-key,
    // never a corpus x eval cross
    val p = blocked.queryExecution.executedPlan.toString
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"blocked decontamination must not plan a cross join:\n$p")
  }

  test("semanticDecontaminateBlocked: torn index fails loudly; post-build corpus rows still covered") {
    val evalSet = emb.where(col("vec_id") % 20 === 0)
      .select("vec_id", "embedding")
    val train = emb.where(col("vec_id") % 20 =!= 0)
      .select("vec_id", "embedding")
    val tmp = java.nio.file.Files.createTempDirectory("decon-guard").toString
    // 1. torn index (no _SUCCESS): must fail loudly, not silently pass
    //    leaked docs by inner-joining a partial assignment table
    val torn = s"$tmp/torn"
    Similarity.kmeansWriteIndex(train, "vec_id", "embedding", torn,
      k = 8, iters = 1)
    assert(new java.io.File(torn, "_SUCCESS").delete())
    val ex = intercept[IllegalArgumentException] {
      Similarity.semanticDecontaminateBlocked(spark, train, evalSet,
        "vec_id", "embedding", tau = 0.95, torn, nProbe = 2)
    }
    assert(ex.getMessage.contains("torn") || ex.getMessage.contains("absent"))
    // 2. corpus rows appended AFTER the index build (no stored
    //    assignment) classify against the centroids instead of being
    //    dropped: a leaked copy appended post-build must still flag
    val idx = s"$tmp/km"
    Similarity.kmeansWriteIndex(train, "vec_id", "embedding", idx,
      k = Similarity.deriveK(train.count()), iters = 2)
    val copy = emb.where(col("vec_id") === 0L)
      .select((col("vec_id") + 999000L).as("vec_id"), col("embedding"))
    val grown = train.unionByName(copy) // 999000 has no index row
    val flagged = Similarity.semanticDecontaminateBlocked(spark, grown,
        evalSet, "vec_id", "embedding", tau = 0.95, idx, nProbe = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(flagged === Set((999000L, 0L)),
      s"post-build leaked copy must be classified and flagged: $flagged")
  }

  test("annRecallReport: planted duplicate is recalled; multi-probe >= single-bucket") {
    // an identical copy of probe 0's vector shares its bucket, so BOTH
    // lsh paths must retrieve it and score a hit against exact top-k
    val probeVec = emb.where(col("vec_id") === 0L)
      .select("embedding").head().getSeq[Float](0)
    val planted = Seq((999999L, probeVec)).toDF("vec_id", "embedding")
    val rep = Similarity.annRecallReport(
        emb.select("vec_id", "embedding").unionByName(planted),
        "vec_id", "embedding", Seq(0L, 7L), k = 10)
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(rep.keySet === Set(0L, 7L))
    rep.values.foreach { r =>
      val (nEx, hitsL, recL) = (r.getLong(1), r.getLong(3), r.getDouble(4))
      val (hitsM, recM) = (r.getLong(6), r.getDouble(7))
      assert(nEx === 10)
      assert(recL === hitsL.toDouble / nEx)
      assert(recM === hitsM.toDouble / nEx)
      assert(recM >= recL, "multi-probe recall below single-bucket")
    }
    assert(rep(0L).getLong(3) >= 1, "planted dup missed by lsh")
  }

  test("native dot expressions match the composed zip_with/aggregate forms") {
    val rows = emb.limit(100).select(
      VectorFns.dotQ(col("embedding"), col("embedding")).as("nq"),
      VectorFns.dotQComposed(col("embedding"), col("embedding")).as("cq"),
      VectorFns.dot(col("embedding"), col("embedding")).as("nd"),
      VectorFns.dotComposed(col("embedding"), col("embedding")).as("cd"))
      .collect()
    rows.foreach { r =>
      assert(r.getLong(0) === r.getLong(1))
      assert(r.getDouble(2) === r.getDouble(3)) // same fold order → same bits
    }
  }

  test("dot products: length-mismatched arrays yield null (matches composed forms)") {
    val df = Seq((Seq(1f, 2f, 3f), Seq(1f, 2f))).toDF("a", "b")
    val r = df.select(
      VectorFns.dot(col("a"), col("b")).as("nd"),
      VectorFns.dotComposed(col("a"), col("b")).as("cd"),
      VectorFns.dotQ(col("a"), col("b")).as("nq"),
      VectorFns.dotQComposed(col("a"), col("b")).as("cq")).head()
    (0 until 4).foreach(i => assert(r.isNullAt(i), s"col $i must be null"))
  }

  test("withLshBucket: non-default dim works; mismatched vector fails loudly") {
    val ok = Seq((1L, Seq(1f, 2f, 3f)), (2L, Seq(-1f, 0f, 5f)))
      .toDF("vec_id", "embedding")
    val buckets = Similarity.withLshBucket(ok, "embedding")
      .select("lsh_bucket").collect().map(_.getLong(0))
    assert(buckets.length === 2)

    val mixed = Seq((1L, Seq(1f, 2f, 3f)), (2L, Seq(1f, 2f)))
      .toDF("vec_id", "embedding")
    val ex = intercept[Exception] {
      Similarity.withLshBucket(mixed, "embedding").collect()
    }
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e => Option(e.getMessage).toSeq ++ msgs(e.getCause))
    assert(msgs(ex).exists(_.contains("LSH plane dim")), s"got: ${msgs(ex)}")
  }

  test("knnJoinLsh: planted twins are mutual rank-1; per-doc contract holds; planted-blob recall") {
    // plant an exact copy of vec 3 — identical sign bits collide in
    // every band, so each copy MUST surface as the other's rank-1
    val v3 = emb.where(col("vec_id") === 3L).select("embedding")
      .head().getSeq[Float](0)
    val corpus = emb.select("vec_id", "embedding")
      .unionByName(Seq((888888L, v3)).toDF("vec_id", "embedding"))
    val knn = Similarity.knnJoinLsh(corpus, "vec_id", "embedding", k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
    val byDoc = knn.groupBy(_._1)
    assert(byDoc(3L).minBy(_._4)._2 === 888888L,
      "planted copy must be vec 3's rank-1 neighbor")
    assert(byDoc(888888L).minBy(_._4)._2 === 3L,
      "and vice versa")
    // per-doc contract: <= k rows, ranks contiguous from 1, cosine
    // non-increasing, ties to the lowest nn_id
    for ((id, rows) <- byDoc) {
      val sorted = rows.sortBy(_._4)
      assert(sorted.length <= 5 && sorted.map(_._4).toSeq === (1L to sorted.length))
      assert(sorted.map(_._3).toSeq === sorted.map(_._3).sortBy(-_).toSeq,
        s"doc $id: cosine must be non-increasing down the ranks")
    }
    // recall on a planted BLOB: four near-identical vectors (tiny
    // coordinate noise keeps all sign bits equal, so they collide in
    // every band) must each retrieve the other three at ranks 1-3 —
    // high-cosine neighbors are what LSH kNN promises to find; the
    // ~0.45-cosine background pairs of this synthetic space collide
    // only ~23% per the documented 1−(1−p^8)^8 trade and are NOT part
    // of the recall contract
    val blobIds = Seq(777001L, 777002L, 777003L, 777004L)
    val blob = blobIds.zipWithIndex.map { case (id, i) =>
      (id, v3.zipWithIndex.map { case (x, j) =>
        x + (if (j % 4 == i % 4) 1e-4f else 0f) })
    }
    val corpus2 = emb.select("vec_id", "embedding")
      .unionByName(blob.toDF("vec_id", "embedding"))
    val knn2 = Similarity.knnJoinLsh(corpus2, "vec_id", "embedding", k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(3)))
      .groupBy(_._1)
    for (id <- blobIds) {
      val top3 = knn2(id).sortBy(_._3).take(3).map(_._2).toSet
      // vec 3 itself is a 5th near-identical member; accept it in place
      // of a blob sibling
      assert(top3.subsetOf((blobIds.toSet - id) + 3L),
        s"blob member $id must retrieve its siblings first: $top3")
      assert(top3.intersect(blobIds.toSet - id).size >= 2,
        s"blob member $id: at least two siblings in the top-3: $top3")
    }
  }

  test("contrastivePairs: planted twin is the positive; triplet contract holds") {
    val v3 = emb.where(col("vec_id") === 3L).select("embedding")
      .head().getSeq[Float](0)
    val corpus = emb.select("vec_id", "embedding")
      .unionByName(Seq((555555L, v3)).toDF("vec_id", "embedding"))
    val got = Similarity.contrastivePairs(corpus, "vec_id", "embedding",
        nNeg = 3, nBuckets = 64)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val byAnchor = got.groupBy(_._1)
    // the planted copy's positive is vec 3 (identical sign bits -> it
    // collides in every band and scores cosine ~1)
    assert(byAnchor(555555L).head._2 === 3L,
      "exact copy must be the anchor's rank-1 positive")
    assert(byAnchor(3L).head._2 === 555555L)
    for ((a, rows) <- byAnchor) {
      assert(rows.length <= 3, s"anchor $a: at most nNeg negatives")
      assert(rows.map(_._3).distinct.length === rows.length,
        s"anchor $a: negative slots must be distinct")
      for ((anchor, pos, _, neg) <- rows)
        assert(neg != anchor && neg != pos,
          s"anchor $a: negative must differ from anchor and positive")
      assert(rows.map(_._2).distinct.length === 1,
        s"anchor $a: one positive per anchor (k = 1)")
    }
  }

  test("contrastivePairs: epoch salt redraws negatives, positives untouched") {
    val corpus = emb.select("vec_id", "embedding")
    def run(epoch: Long) = Similarity.contrastivePairs(corpus, "vec_id",
        "embedding", nNeg = 3, nBuckets = 64, epoch = epoch)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val e0 = run(0L)
    val e1 = run(1L)
    // positives are corpus geometry, not salt: identical per anchor
    assert(e0.map(r => r._1 -> r._2).toMap === e1.map(r => r._1 -> r._2).toMap)
    // the salt redraws negatives: some shared (anchor, slot) resolves
    // to a different representative across epochs
    val n0 = e0.map(r => (r._1, r._3) -> r._4).toMap
    val n1 = e1.map(r => (r._1, r._3) -> r._4).toMap
    val shared = n0.keySet.intersect(n1.keySet)
    assert(shared.nonEmpty)
    assert(shared.exists(k => n0(k) != n1(k)),
      "advancing the epoch must redraw at least one negative")
    // same epoch -> bit-identical triplets
    assert(run(1L).sortBy(r => (r._1, r._3)).toSeq ===
      e1.sortBy(r => (r._1, r._3)).toSeq)
  }

  test("knnWriteIndex: stored graph == ad-hoc join; positives = rank-1 at any k; indexed contrastive == ad-hoc") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-knn-idx-")
      .toString
    val path = s"$tmp/knn"
    val corpus = emb.select("vec_id", "embedding")
    Similarity.ensureKnnIndex(corpus, "vec_id", "embedding", path, k = 5)
    def edgeSet(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
      .toSet
    val stored = edgeSet(spark.read.parquet(path)
      .select(col("id"), col("nn_id"), col("cos_sim"), col("rk")))
    val adhoc = edgeSet(Similarity.knnJoinLsh(corpus, "vec_id",
      "embedding", k = 5))
    assert(stored === adhoc,
      "the materialized graph must be bit-identical to the ad-hoc join")
    // the k=5 index's rank-1 slice IS knnJoinLsh(k=1): the heap's rank
    // 1 is the same row at any k — the contract that lets one stored
    // graph serve both graph reads and contrastive positives
    val pos = Similarity.knnPositives(spark, path).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val k1 = Similarity.knnJoinLsh(corpus, "vec_id", "embedding", k = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(pos === k1)
    // contrastivePairs through the stored index == ad-hoc, per epoch
    for (e <- Seq(0L, 1L)) {
      def trip(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .toSet
      val viaIdx = trip(Similarity.contrastivePairs(corpus, "vec_id",
        "embedding", nNeg = 3, nBuckets = 64, epoch = e,
        indexPath = Some(path)))
      val ad = trip(Similarity.contrastivePairs(corpus, "vec_id",
        "embedding", nNeg = 3, nBuckets = 64, epoch = e))
      assert(viaIdx === ad,
        s"epoch $e: indexed triplets must equal the ad-hoc builder")
    }
    // torn buckets sibling (no _SUCCESS) reads as absent: ensure rebuilds
    assert(new java.io.File(Similarity.knnBucketsPath(path), "_SUCCESS")
      .delete())
    Similarity.ensureKnnIndex(corpus, "vec_id", "embedding", path, k = 5)
    assert(graft.io.IndexPaths.complete(spark,
      Similarity.knnBucketsPath(path)), "torn sibling must rebuild")
  }

  test("q_sql_contrastive is bit-identical to the Scala contrastive builder") {
    def rows(n: String) = graft.SparkEntry.queries(n)(spark, sf)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    val sqlText = rows("q_sql_contrastive")
    val scala = rows("q_contrastive_pairs")
    assert(sqlText === scala && sqlText.nonEmpty,
      "SQL-text triplets must equal the Scala builder's")
  }

  test("incrementalKnnEdges == new-side of the full join when arrival order is id order") {
    // corpus = the lower 80% of ids, batch = the upper 20%: batch ids
    // all FOLLOW corpus ids, so arrival ranks (stored + continuation)
    // coincide with the global id ranks and the incremental result
    // must be BIT-IDENTICAL to the new-side restriction of one full
    // knnJoinLsh over the union
    val ids = emb.select("vec_id").orderBy("vec_id")
      .collect().map(_.getLong(0))
    val cut = ids(ids.length * 4 / 5)
    val corpus = emb.where(col("vec_id") < cut).select("vec_id", "embedding")
    val batch = emb.where(col("vec_id") >= cut).select("vec_id", "embedding")
    val tmp = java.nio.file.Files.createTempDirectory("graft-knn-inc-")
      .toString
    val path = s"$tmp/knn"
    Similarity.knnWriteIndex(corpus, "vec_id", "embedding", path, k = 5)
    val inc = Similarity.incrementalKnnEdges(batch, corpus, path,
        "vec_id", "embedding", k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getLong(3))).toSet
    val full = Similarity.knnJoinLsh(
        corpus.unionByName(batch), "vec_id", "embedding", k = 5)
      .where(col("vec_id") >= cut)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getLong(3))).toSet
    assert(inc === full,
      "incremental edges must equal the new-side of the full join")
    // planted twin across the boundary: a batch copy of a corpus
    // vector must come back as its own rank-1 neighbor
    val v3 = emb.where(col("vec_id") === 3L).select("embedding")
      .head().getSeq[Float](0)
    val twin = Seq((999999L, v3)).toDF("vec_id", "embedding")
    val got = Similarity.incrementalKnnEdges(twin, corpus, path,
        "vec_id", "embedding", k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(3)))
    assert(got.exists(r => r._1 === 999999L && r._2 === 3L && r._3 === 1L),
      s"planted twin must find its corpus original at rank 1: ${got.toSeq}")
    graft.operators.Caches.release()
  }

  test("appendToKnnIndex: fold extends the graph; replay-idempotent; batch 2 sees batch 1") {
    val ids = emb.select("vec_id").orderBy("vec_id")
      .collect().map(_.getLong(0))
    val cut = ids(ids.length * 4 / 5)
    val corpus = emb.where(col("vec_id") < cut).select("vec_id", "embedding")
    val b1ids = ids.filter(_ >= cut).take(ids.count(_ >= cut) / 2).toSet
    val b1 = emb.where(col("vec_id").isin(b1ids.toSeq: _*))
      .select("vec_id", "embedding")
    val tmp = java.nio.file.Files.createTempDirectory("graft-knn-fold-")
      .toString
    val path = s"$tmp/knn"
    Similarity.knnWriteIndex(corpus, "vec_id", "embedding", path, k = 5)
    Similarity.appendToKnnIndex(b1, corpus, path, "vec_id", "embedding",
      k = 5)
    val after1 = spark.read.parquet(path)
    val edgeIds1 = after1.select("id").distinct()
      .collect().map(_.getLong(0)).toSet
    assert(b1ids.intersect(edgeIds1).nonEmpty,
      "folded batch must carry edges in the stored graph")
    val rows1 = after1.count()
    val buckets1 = spark.read.parquet(Similarity.knnBucketsPath(path)).count()
    // replay: an at-least-once re-delivery must append NOTHING
    Similarity.appendToKnnIndex(b1, corpus, path, "vec_id", "embedding",
      k = 5)
    assert(spark.read.parquet(path).count() === rows1,
      "edge replay must be idempotent")
    assert(spark.read.parquet(Similarity.knnBucketsPath(path)).count()
      === buckets1, "postings replay must be idempotent")
    // batch 2 contains an exact copy of a BATCH-1 vector: the ingest
    // loop's point — batch N+1 dedups/joins against batch N through
    // the stored postings, not just the seed corpus
    val b1probe = b1.orderBy("vec_id").limit(1)
      .select("embedding").head().getSeq[Float](0)
    val b1pid = b1.orderBy("vec_id").limit(1)
      .select("vec_id").head().getLong(0)
    val b2 = Seq((888777L, b1probe)).toDF("vec_id", "embedding")
    val corpusPlusB1 = corpus.unionByName(b1)
    val got = Similarity.incrementalKnnEdges(b2, corpusPlusB1, path,
        "vec_id", "embedding", k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(3)))
    assert(got.exists(r => r._1 === 888777L && r._2 === b1pid && r._3 === 1L),
      s"batch 2 must see batch 1 through the folded postings: ${got.toSeq}")
    graft.operators.Caches.release()
  }

  test("knn novelty alarm: replica batch quiet; orthogonal shift rebuilds == manual; baseline heals") {
    import spark.implicits._
    val baseDf = driftBase.toDF("vec_id", "embedding")
    val tmp = java.nio.file.Files.createTempDirectory("graft-knn-drift-")
      .toString
    val path = s"$tmp/knn"
    Similarity.knnWriteIndex(baseDf, "vec_id", "embedding", path, k = 3)
    // replicas of the seed (new ids, identical vectors): every band
    // bucket collides -> novelty 0 -> quiet
    val quiet = driftBase.map { case (i, v) => (i + 1000L, v) }
      .toDF("vec_id", "embedding")
    assert(Similarity.knnIndexNoveltyPpm(quiet, path, "vec_id",
      "embedding") === 0L)
    assert(!Similarity.rebuildKnnIndexIfDrifted(baseDf, quiet, path,
      "vec_id", "embedding", k = 3), "replica batch must not rebuild")
    // the orthogonal-subspace decoys flip sign patterns wholesale ->
    // fresh buckets -> the alarm fires and the in-place rebuild equals
    // a manual build over the grown corpus
    val decoys = driftDecoys.toDF("vec_id", "embedding")
    val novelty = Similarity.knnIndexNoveltyPpm(decoys, path, "vec_id",
      "embedding")
    assert(novelty > 500000L, s"orthogonal batch must read novel: $novelty")
    val grown = baseDf.unionByName(decoys)
    assert(Similarity.rebuildKnnIndexIfDrifted(grown, decoys, path,
      "vec_id", "embedding", k = 3), "shifted batch must rebuild")
    val manualPath = s"$tmp/manual"
    Similarity.knnWriteIndex(grown, "vec_id", "embedding", manualPath, k = 3)
    def edges(p: String) = spark.read.parquet(p).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
      .toSet
    assert(edges(path) === edges(manualPath),
      "in-loop rebuild must equal a manual rebuild over the same corpus")
    // baseline heal: a pre-baseline index (sibling torn) is healed in
    // place from the stored artifacts on the next check
    assert(new java.io.File(Similarity.knnBuildStatsPath(path),
      "_SUCCESS").delete())
    Similarity.rebuildKnnIndexIfDrifted(grown, quiet, path, "vec_id",
      "embedding", k = 3)
    assert(graft.io.IndexPaths.complete(spark,
      Similarity.knnBuildStatsPath(path)), "baseline sibling must heal")
    graft.operators.Caches.release()
  }

  test("nearDupPairsLsh: 100% recall on planted near-duplicates, candidates pruned") {
    // plant 5 exact duplicates of existing vectors under new ids
    val planted = emb.where(col("vec_id") < 5)
      .select((col("vec_id") + 100000L).as("vec_id"), col("embedding"), col("label"))
    val corpus = emb.unionByName(planted)
    val got = Similarity.nearDupPairsLsh(corpus, "vec_id", "embedding", threshold = 0.99)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // every planted pair found (identical vectors always share all band keys)
    (0L until 5L).foreach(i => assert(got.contains((i, i + 100000L))))
    // and the exact variant agrees at this threshold
    val exact = Similarity.nearDupPairsExact(corpus, "vec_id", "embedding", 0.99)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got.subsetOf(exact))
    assert(exact == got, "LSH must find all exact-threshold pairs here")
  }

  test("lshMultiProbeTopK: recall >= single-bucket LSH, scans only probe buckets") {
    val brute = Similarity.bruteForceTopK(spark, emb, "vec_id", "embedding", 0L, 10)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val single = Similarity.lshBucketTopK(spark, emb, "vec_id", "embedding", 0L, 10)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val multi = Similarity.lshMultiProbeTopK(spark, emb, "vec_id", "embedding", 0L, 10)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    // the single bucket is one of the probe buckets, so everything the
    // single-bucket search can rank is still a candidate here
    assert((brute intersect multi).size >= (brute intersect single).size,
      s"multi-probe recall ${(brute intersect multi).size} < single ${(brute intersect single).size}")
    assert(multi.size == 10)
  }

  test("ivfTopK: high recall vs brute force while scanning a fraction of lists") {
    val brute = Similarity.bruteForceTopK(spark, emb, "vec_id", "embedding", 0L, 10)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val ivf = Similarity.ivfTopK(spark, emb, "vec_id", "embedding", 0L, 10,
        nClusters = 16, nProbe = 8)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(ivf.nonEmpty)
    // probing half the lists must recover most of the true top-10
    assert((brute intersect ivf).size >= 5,
      s"recall too low: ${(brute intersect ivf).size}/10")
  }

  test("ivfWriteIndex + ivfQueryIndex: partition-pruned probe == in-memory IVF") {
    val dir = java.nio.file.Files.createTempDirectory("graft_ivf").toString
    val centroids = Similarity.ivfWriteIndex(emb, "vec_id", "embedding", dir, 16)
    val viaIndex = Similarity.ivfQueryIndex(spark, dir, centroids,
      "vec_id", "embedding", probeId = 0L, k = 10, nProbe = 8)
    val inMem = Similarity.ivfTopK(spark, emb, "vec_id", "embedding", 0L, 10,
      nClusters = 16, nProbe = 8)
    assert(viaIndex.collect().map(_.toString).toSeq ==
      inMem.collect().map(_.toString).toSeq)
    // the probe must PRUNE partitions, not filter post-scan
    val p = viaIndex.queryExecution.executedPlan.toString
    assert(p.contains("PartitionFilters") && p.contains("__cid"),
      s"__cid must be a partition filter:\n$p")
  }

  test("appendToIvfIndex closes the ANN ingest loop; centroids persist on disk") {
    import org.apache.spark.sql.functions.col
    val dir = java.nio.file.Files.createTempDirectory("graft_ivf_append").toString
    val first = emb.where(col("vec_id") % 2 === 0)
    val rest = emb.where(col("vec_id") % 2 =!= 0)
    val centroids = Similarity.ivfWriteIndex(first, "vec_id", "embedding", dir, 16)
    // the centroid matrix round-trips bit-exactly through the sibling
    // file — a fresh JVM can append/query without the build memo
    val loaded = Similarity.loadCentroids(spark, dir)
    assert(loaded.length == centroids.length &&
      loaded.zip(centroids).forall { case (a, b) => a == b })
    Similarity.appendToIvfIndex(rest, dir, "vec_id", "embedding")
    // the merged index holds every vector exactly once
    val idx = spark.read.parquet(dir)
    assert(idx.count() == emb.count())
    assert(idx.select("vec_id").distinct().count() == emb.count())
    // the appended half is reachable through the same directory-pruned
    // probe: recall vs brute force over the FULL corpus stays high, and
    // appended (odd-id) vectors appear in the result whenever the true
    // top-10 contains them
    val merged = Similarity.ivfQueryIndex(spark, dir, centroids,
      "vec_id", "embedding", probeId = 0L, k = 10, nProbe = 8)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(merged.size == 10)
    val brute = Similarity.bruteForceTopK(spark, emb, "vec_id", "embedding", 0L, 10)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert((brute intersect merged).size >= 5,
      s"recall too low over the appended index: ${(brute intersect merged).size}/10")
    val oddHits = brute.filter(_ % 2 != 0)
    assert(oddHits.isEmpty || (merged intersect oddHits).nonEmpty,
      "appended vectors must be reachable through the probe")
  }

  test("ivfTopKIndexed: builds the index once, repeat queries only probe") {
    val dir = java.nio.file.Files.createTempDirectory("graft_ivf_memo").toString
    val first = Similarity.ivfTopKIndexed(spark, emb, "vec_id", "embedding",
      dir, probeId = 0L, k = 10).collect().map(_.toString).toSeq
    // index files exist and the build is memoized: the second call must
    // not rewrite the directory (mtimes unchanged)
    val files = new java.io.File(dir).listFiles()
    assert(files != null && files.nonEmpty, "index directory must be written")
    val stamps = files.map(f => f.getName -> f.lastModified).toMap
    val second = Similarity.ivfTopKIndexed(spark, emb, "vec_id", "embedding",
      dir, probeId = 0L, k = 10).collect().map(_.toString).toSeq
    assert(first == second)
    val after = new java.io.File(dir).listFiles().map(f => f.getName -> f.lastModified).toMap
    assert(after == stamps, "second query must reuse the index, not rebuild it")
  }

  test("ivfTopKIndexed: torn centroid sibling (no _SUCCESS) forces a rebuild") {
    val dir = java.nio.file.Files.createTempDirectory("graft_ivf_torn").toString
    val first = Similarity.ivfTopKIndexed(spark, emb, "vec_id", "embedding",
      dir, probeId = 0L, k = 10).collect().map(_.toString).toSeq
    // kill the centroid write's commit marker — the state a build JVM
    // dying between the index write and the centroid write leaves behind
    val marker = new java.io.File(Similarity.centroidsPath(dir), "_SUCCESS")
    assert(marker.delete(), "test setup: centroid _SUCCESS must exist")
    val again = Similarity.ivfTopKIndexed(spark, emb, "vec_id", "embedding",
      dir, probeId = 0L, k = 10).collect().map(_.toString).toSeq
    assert(first == again, "rebuild over the same corpus must reproduce results")
    assert(marker.exists(), "rebuild must recommit the centroid sibling")
  }

  test("kmeansFixedPoint: deterministic; all assigned; planted blobs separate") {
    val (a1, c1) = Similarity.kmeansFixedPoint(emb, "vec_id", "embedding",
      k = 8, iters = 2)
    val (_, c2) = Similarity.kmeansFixedPoint(emb, "vec_id", "embedding",
      k = 8, iters = 2)
    assert(c1.map(_.toList).toList == c2.map(_.toList).toList)
    val rows = a1.collect()
    assert(rows.length == emb.count())
    assert(rows.map(_.getLong(0)).distinct.length == rows.length)
    assert(rows.forall(r => r.getLong(1) >= 0 && r.getLong(1) < 8))
    assert(rows.map(_.getLong(1)).distinct.length > 1,
      "corpus must not collapse into one cluster")

    // two tight planted blobs at ±1: k=2 must separate them exactly
    // (init seeds are vec 0 (+blob) and vec 1 (−blob))
    val blob = (0 until 20).map { i =>
      val base = if (i % 2 == 0) 1.0f else -1.0f
      (i.toLong, Seq.fill(64)(base + i / 1000.0f))
    }.toDF("vec_id", "embedding")
    val (pa, _) = Similarity.kmeansFixedPoint(blob, "vec_id", "embedding",
      k = 2, iters = 3)
    val parity = pa.collect().groupBy(_.getLong(1))
      .values.map(_.map(_.getLong(0) % 2).toSet).toSeq
    assert(parity.size == 2 && parity.forall(_.size == 1),
      s"blobs must separate cleanly: $parity")
  }

  test("kmeansWriteIndex round-trips centroids; appendToKmeansIndex classifies new batches") {
    val dir = java.nio.file.Files.createTempDirectory("graft_km_idx").toString + "/idx"
    val first = emb.where(col("vec_id") % 2 === 0)
    val rest = emb.where(col("vec_id") % 2 =!= 0)
    val cbs = Similarity.kmeansWriteIndex(first, "vec_id", "embedding", dir)
    val loaded = Similarity.loadKmeansCentroids(spark, dir)
    assert(loaded.length == cbs.length &&
      loaded.zip(cbs).forall { case (a, b) => a == b })
    Similarity.appendToKmeansIndex(rest, dir, "vec_id", "embedding")
    val idx = spark.read.parquet(dir)
    assert(idx.count() == emb.count())
    assert(idx.select("vec_id").distinct().count() == emb.count())
    // an appended row's assignment is the integer-L2 argmin against the
    // STORED centroids — recompute one independently
    val row = idx.where(col("vec_id") === 1L).head()
    val v = emb.where(col("vec_id") === 1L)
      .select("embedding").head().getSeq[Float](0)
    val qv = v.map(x => math.floor(x.toDouble * 1000.0).toLong)
    val dists = loaded.map(c =>
      c.zip(qv).map { case (a, b) => val d = a - b; d * d }.sum)
    val (bestD, bestC) = dists.zipWithIndex.min
    assert(row.getLong(1) == bestC && row.getLong(2) == bestD,
      s"appended assignment must be stored-centroid argmin: $row vs ($bestC, $bestD)")
  }

  test("guards fail loudly: kmeans with < k rows; PQ with indivisible dim") {
    val tiny = emb.limit(3)
    val e1 = intercept[IllegalArgumentException] {
      Similarity.kmeansFixedPoint(tiny, "vec_id", "embedding", k = 8)
    }
    assert(e1.getMessage.contains("seed"), e1.getMessage)
    val e2 = intercept[IllegalArgumentException] {
      Similarity.pqTrain(emb, "vec_id", "embedding", m = 7)
    }
    assert(e2.getMessage.contains("divisible"), e2.getMessage)
  }

  test("semDedupPairs: planted duplicate pairs within its cluster; pairs are exact-subset") {
    val probeVec = emb.where(col("vec_id") === 0L)
      .select(col("embedding")).head().getSeq[Float](0)
    // an exact duplicate always lands in the same cluster (identical
    // argmin), so SemDeDup must pair it despite the blocking
    val planted = Seq((999999L, probeVec)).toDF("vec_id", "embedding")
      .unionByName(emb.select("vec_id", "embedding"))
    val sem = Similarity.semDedupPairs(planted, "vec_id", "embedding",
        threshold = 0.40)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(3)))
    val dup = sem.find(p => p._1 == 0L && p._2 == 999999L)
    assert(dup.exists(_._3 > 0.99),
      s"planted duplicate must pair within its cluster, got $dup")
    // blocking only ever REMOVES pairs: every SemDeDup pair is an exact
    // near-dup pair at the same threshold
    val exact = Similarity.nearDupPairsExact(planted, "vec_id", "embedding",
        threshold = 0.40)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(sem.map(p => (p._1, p._2)).toSet.subsetOf(exact))
  }

  test("semDedup hot-cluster guard: skewed cluster pairs stay linear; keep decision connected") {
    // a dup-heavy SKEWED clustering — the expected case in a dedup
    // corpus: 201 near-identical vectors in one cluster, 11 in the
    // other. Unguarded, the hot cluster would generate C(201,2) =
    // 20100 pairs in ONE join key; the guard bounds it to
    // cap²/2 + overflow.
    val cap = 16
    val mk = (base: Float, i: Int) => Seq.fill(64)(base + i / 10000.0f)
    val rows =
      Seq((0L, mk(1f, 0)), (1L, mk(-1f, 1))) ++
      (2 to 201).map(i => (i.toLong, mk(1f, i))) ++
      (202 to 211).map(i => (i.toLong, mk(-1f, i)))
    val corpus = rows.toDF("vec_id", "embedding")
    val (assign, _) = Similarity.kmeansFixedPoint(corpus, "vec_id",
      "embedding", k = 2, iters = 3)
    val sizes = assign.groupBy("cluster").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sizes.values.toSeq.sorted == Seq(11L, 212L) ||
      sizes.values.toSeq.sorted == Seq(12L, 211L) ||
      sizes.values.max > 150, s"blobs must separate skewed: $sizes")
    val pairs = Similarity.semDedupPairsWithAssignments(corpus, assign,
      "vec_id", "embedding", threshold = 0.9, maxCluster = cap)
    val byCluster = pairs.groupBy("cluster").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // near-identical members: every generated candidate passes the
    // threshold, so the observed count IS the candidate count — pin it
    // to the guard's exact bound per cluster
    sizes.foreach { case (c, sz) =>
      val want =
        if (sz > cap) cap.toLong * (cap - 1) / 2 + (sz - cap)
        else sz * (sz - 1) / 2
      assert(byCluster.getOrElse(c, 0L) == want,
        s"cluster $c size $sz: got ${byCluster.get(c)}, want $want")
    }
    // the keep decision stays connected through the representative
    // star: exactly ONE keeper per cluster survives
    val keepers = Similarity.semDedupKeepers(assign, pairs, "vec_id")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(keepers.length == sizes.size,
      s"one keeper per cluster, got ${keepers.toSeq}")
    // a cap the corpus never reaches reproduces the unguarded
    // all-pairs semantics exactly
    val uncapped = Similarity.semDedupPairsWithAssignments(corpus, assign,
        "vec_id", "embedding", threshold = 0.9, maxCluster = 4096)
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val brute = corpus.join(assign, "vec_id").as("a")
      .join(corpus.join(assign, "vec_id").as("b"), Seq("cluster"))
      .where(col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id"), col("b.vec_id"),
        VectorFns.cosineQ(col("a.embedding"), col("b.embedding")).as("c"))
      .where(col("c") >= 0.9)
      .select("a.vec_id", "b.vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(uncapped == brute,
      s"uncapped guard must equal all-pairs: ${uncapped.size} vs ${brute.size}")
  }

  test("pqTrain/pqEncode: deterministic codebooks; codes are m ids in [0, k)") {
    val c1 = Similarity.pqTrain(emb, "vec_id", "embedding", m = 8, k = 16, iters = 2)
    val c2 = Similarity.pqTrain(emb, "vec_id", "embedding", m = 8, k = 16, iters = 2)
    assert(c1.map(_.map(_.toList).toList).toList ==
      c2.map(_.map(_.toList).toList).toList)
    assert(c1.length == 8 && c1.forall(_.length == 16) &&
      c1.forall(_.forall(_.length == 8)))
    val codes = Similarity.pqEncode(emb, "vec_id", "embedding", c1)
      .select("codes").collect().map(_.getSeq[Int](0))
    assert(codes.forall(cs => cs.length == 8 && cs.forall(c => c >= 0 && c < 16)))
  }

  test("pqTopKIndexed: planted duplicate retrieved at rank 1; recall vs brute force") {
    val dir = java.nio.file.Files.createTempDirectory("graft_pq").toString
    // plant an exact duplicate of the probe vector under a fresh id: it
    // must PQ-encode identically, dominate the ADC scan, survive the
    // shortlist, and exact-rescore to rank 1
    val probeVec = emb.where(col("vec_id") === 0L)
      .select(col("embedding")).head().getSeq[Float](0)
    val planted = Seq((999999L, probeVec)).toDF("vec_id", "embedding")
      .unionByName(emb.select("vec_id", "embedding"))
    val top = Similarity.pqTopKIndexed(spark, planted, "vec_id", "embedding",
      dir, probeId = 0L, k = 10).orderBy("rk").collect()
    assert(top.length == 10)
    assert(top.head.getLong(0) == 999999L && top.head.getDouble(1) > 0.99,
      s"planted duplicate must rank first, got ${top.head}")
    val brute = Similarity.bruteForceTopK(spark, planted, "vec_id", "embedding",
        0L, 10).select("vec_id").collect().map(_.getLong(0)).toSet
    val got = top.map(_.getLong(0)).toSet
    assert((brute intersect got).size >= 7,
      s"PQ recall too low: ${(brute intersect got).size}/10")
  }

  test("pqWriteIndex round-trips codebooks; appendToPqIndex closes the ingest loop") {
    val dir = java.nio.file.Files.createTempDirectory("graft_pq_append").toString
    val first = emb.where(col("vec_id") % 2 === 0)
    val rest = emb.where(col("vec_id") % 2 =!= 0)
    val cbs = Similarity.pqWriteIndex(first, "vec_id", "embedding", dir)
    val loaded = Similarity.loadPqCodebooks(spark, dir)
    assert(loaded.length == cbs.length &&
      loaded.zip(cbs).forall { case (a, b) =>
        a.zip(b).forall { case (x, y) => x == y } })
    Similarity.appendToPqIndex(rest, dir, "vec_id", "embedding")
    val idx = spark.read.parquet(dir)
    assert(idx.count() == emb.count())
    assert(idx.select("vec_id").distinct().count() == emb.count())
    // appended codes use the same codebooks: re-encoding the odd half
    // against the loaded codebooks reproduces the stored codes
    val stored = idx.where(col("vec_id") % 2 =!= 0)
      .select(col("vec_id"), array_join(transform(col("codes"),
        _.cast("string")), ",").as("cs"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val re = Similarity.pqEncode(rest, "vec_id", "embedding", loaded)
      .select(col("vec_id"), array_join(transform(col("codes"),
        _.cast("string")), ",").as("cs"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(stored == re)
  }

  test("ivfPqTopKIndexed: directory-pruned ADC probe; recall; codes-only scan") {
    val dir = java.nio.file.Files.createTempDirectory("graft_ivfpq").toString
    val top = Similarity.ivfPqTopKIndexed(spark, emb, "vec_id", "embedding",
      dir, probeId = 0L, k = 10, nProbe = 8)
    val got = top.collect()
    assert(got.length == 10)
    val brute = Similarity.bruteForceTopK(spark, emb, "vec_id", "embedding",
        0L, 10).select("vec_id").collect().map(_.getLong(0)).toSet
    val hits = (brute intersect got.map(_.getLong(0)).toSet).size
    assert(hits >= 7, s"IVF-PQ recall too low: $hits/10")
    // both pruning axes must show in the plan: __cid partition filter
    // on the index scan, and the index scan must read codes — never
    // the raw embedding column (that is the whole point of PQ)
    val p = top.queryExecution.executedPlan.toString
    assert(p.contains("PartitionFilters") && p.contains("__cid"),
      s"__cid must be a partition filter:\n$p")
    val indexScans = p.linesIterator.filter(l =>
      l.contains("FileScan parquet") && l.contains(dir)).toSeq
    assert(indexScans.nonEmpty, s"index scan missing:\n$p")
    assert(indexScans.forall(l => l.contains("codes") && !l.contains("embedding")),
      s"index scan must read codes, not embeddings:\n$indexScans")
  }

  test("ivfTrain: deterministic centroids, every vector assigned") {
    val c1 = Similarity.ivfTrain(emb, "vec_id", "embedding", k = 8, iters = 2)
    val c2 = Similarity.ivfTrain(emb, "vec_id", "embedding", k = 8, iters = 2)
    assert(c1.map(_.toList).toList == c2.map(_.toList).toList)
    assert(c1.length == 8 && c1.forall(_.length == 64))
  }

  test("labelCentroids: hand-computed fixed-point means per label and dimension") {
    val df = Seq(("a", Seq(1.0f, 2.0f)), ("a", Seq(3.0f, 5.0f)), ("b", Seq(0.5f, 0.5f)))
      .toDF("label", "embedding")
    val got = Similarity.labelCentroids(df, "label", "embedding")
      .collect().map(r => (r.getString(0), r.getLong(1)) -> (r.getDouble(2), r.getLong(3)))
      .toMap
    assert(got(("a", 0L)) === ((1000.0 + 3000.0) / 2, 2L))
    assert(got(("a", 1L)) === ((2000.0 + 5000.0) / 2, 2L))
    assert(got(("b", 0L)) === (500.0, 1L))
    assert(got(("b", 1L)) === (500.0, 1L))
  }

  test("lsh bucket ids are stable across invocations (deterministic planes)") {
    val b1 = Similarity.withLshBucket(emb, "embedding")
      .select("vec_id", "lsh_bucket").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val b2 = Similarity.withLshBucket(emb, "embedding")
      .select("vec_id", "lsh_bucket").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(b1 === b2)
    assert(b1.values.toSet.size > 1, "vectors should spread across buckets")
  }

  // ---- index-append drift fixtures: a 16-dim corpus whose energy sits
  // in the FIRST 8 components, and appended batches whose energy sits
  // in the LAST 8 — directionally orthogonal, so stale codebooks and
  // centroids (trained before the shift) describe the batch arbitrarily
  // badly while cosine/L2 ground truth stays unambiguous.
  private def driftVec(f: Int => Float): Seq[Float] = (0 until 16).map(f)
  private lazy val driftBase = (1L to 40L).map { i =>
    val b = (i % 4).toInt
    (i, driftVec(j => if (j < 8) 0.5f + 0.1f * b + 0.01f * ((i + j) % 5)
                      else 0.0f))
  }
  // 40 decoys, energy in components 8..11 (PQ subspace 2), LOW ids
  private lazy val driftDecoys = (100L to 139L).map { i =>
    (i, driftVec(j => if (j >= 8 && j < 12) 5.0f + 0.01f * ((i + j) % 3)
                      else 0.0f))
  }
  // the probe's true neighborhood, energy in components 12..15
  // (PQ subspace 3), HIGHEST ids in the corpus
  private lazy val driftNeighbors = (900L to 909L).map { i =>
    (i, driftVec(j => if (j >= 12) 5.0f + 0.01f * (i % 2 + j % 4)
                      else 0.0f))
  }
  private lazy val driftProbe =
    Seq((500L, driftVec(j => if (j >= 12) 5.2f else 0.0f)))

  test("PQ append drift: shifted batch zeroes recall; pq_err is the alarm; rebuild restores") {
    import spark.implicits._
    val baseDf = driftBase.toDF("vec_id", "embedding")
    val batchDf = (driftDecoys ++ driftProbe ++ driftNeighbors)
      .toDF("vec_id", "embedding")
    val all = baseDf.unionByName(batchDf)
    val dir = java.nio.file.Files.createTempDirectory("graft_pq_drift")
      .toString + "/idx"
    val stale = Similarity.pqWriteIndex(baseDf, "vec_id", "embedding", dir,
      m = 4, k = 8)
    Similarity.appendToPqIndex(batchDf, dir, "vec_id", "embedding")

    val brute = Similarity.bruteForceTopK(spark, all, "vec_id", "embedding",
        500L, 10).select("vec_id").collect().map(_.getLong(0)).toSet
    assert(brute == (900L to 909L).toSet, s"ground truth must be the " +
      s"planted neighborhood, got $brute")
    def recall(): Int = {
      val got = Similarity.pqTopKIndexed(spark, all, "vec_id", "embedding",
          dir, probeId = 500L, k = 10, m = 4, kCode = 8, shortlistFactor = 2)
        .select("vec_id").collect().map(_.getLong(0)).toSet
      (brute intersect got).size
    }
    // stale codebooks have only near-zero codewords in the shifted
    // subspaces: every appended row collapses to one code, ADC ties
    // break toward LOW ids, and the high-id true neighborhood can never
    // reach the shortlist — recall silently hits zero
    assert(recall() == 0, "shifted batch must degrade stale-codebook recall")
    // ... but the rebuild TRIGGER sees it without any ground truth:
    // the batch reconstructs an order of magnitude worse than the seed
    // corpus under the stale codebooks
    def meanErr(df: org.apache.spark.sql.DataFrame,
        cbs: Array[Array[Seq[Float]]]) =
      Similarity.pqQuantizationError(df, "vec_id", "embedding", cbs)
        .agg(avg("pq_err")).head().getDouble(0)
    val batchErr = meanErr(batchDf, stale)
    val baseErr = meanErr(baseDf, stale)
    assert(batchErr > 10 * (baseErr + 1e-9),
      s"drift alarm must fire: batch $batchErr vs base $baseErr")
    val fresh = Similarity.rebuildPqIndex(all, dir, "vec_id", "embedding",
      m = 4, k = 8)
    assert(meanErr(batchDf, fresh) < batchErr / 10,
      "retrained codebooks must reconstruct the batch again")
    assert(recall() == 10, "rebuild must restore full recall")
  }

  test("ingestPqStream checkDriftEvery: quiet batches append; planted shift rebuilds IN-LOOP and restores recall") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val tmp = java.nio.file.Files.createTempDirectory("graft-pq-loop-")
      .toString
    val idx = s"$tmp/idx"
    // on-distribution second batch: same generator family as the seed
    val onDist = (41L to 60L).map { i =>
      val b = (i % 4).toInt
      (i, driftVec(j => if (j < 8) 0.5f + 0.1f * b + 0.01f * ((i + j) % 5)
                        else 0.0f))
    }
    val shifted = driftDecoys ++ driftProbe ++ driftNeighbors
    val ms = MemoryStream[(Long, Seq[Float])](spark)
    val sq = Streams.ingestPqStream(
      ms.toDF().toDF("vec_id", "embedding"), idx, s"$tmp/corpus",
      s"$tmp/ckpt", m = 4, k = 8, checkDriftEvery = 1)
    // batch 0 builds the index (+ its build-time error baseline)
    ms.addData(driftBase: _*); sq.processAllAvailable()
    val cbsAfterBuild = Similarity.loadPqCodebooks(spark, idx)
    // batch 1 is on-distribution: the in-loop check stays quiet —
    // codebooks unchanged, batch folded by APPEND
    ms.addData(onDist: _*); sq.processAllAvailable()
    assert(Similarity.loadPqCodebooks(spark, idx).map(_.toSeq).toSeq ===
      cbsAfterBuild.map(_.toSeq).toSeq,
      "quiet batch must not retrain the codebooks")
    val idsAfterQuiet = spark.read.parquet(idx).select("vec_id")
      .as[Long].collect().toSet
    assert(idsAfterQuiet === (driftBase ++ onDist).map(_._1).toSet,
      "quiet batch must still fold into the index")
    // batch 2 is the planted shift: the alarm fires IN the loop and
    // retrains over the accumulated corpus — no operator in the arc
    ms.addData(shifted: _*); sq.processAllAvailable()
    sq.stop()
    assert(Similarity.loadPqCodebooks(spark, idx).map(_.toSeq).toSeq !==
      cbsAfterBuild.map(_.toSeq).toSeq,
      "shifted batch must retrain the codebooks in-loop")
    val all = (driftBase ++ onDist ++ shifted).toDF("vec_id", "embedding")
    val got = Similarity.pqTopKIndexed(spark, all, "vec_id", "embedding",
        idx, probeId = 500L, k = 10, m = 4, kCode = 8, shortlistFactor = 2)
      .select("vec_id").as[Long].collect().toSet
    assert(got === (900L to 909L).toSet,
      s"in-loop rebuild must restore full recall, got $got")
    // and the loop's rebuild is exactly what a manual rebuild produces
    // (deterministic train init), from the identical corpus
    val manual = Similarity.pqWriteIndex(
      spark.read.parquet(s"$tmp/corpus").select("vec_id", "embedding"),
      "vec_id", "embedding", s"$tmp/manual", m = 4, k = 8)
    assert(Similarity.loadPqCodebooks(spark, idx).map(_.toSeq).toSeq ===
      manual.map(_.toSeq).toSeq,
      "in-loop rebuild must equal a manual rebuild over the same corpus")
  }

  test("ingestKmeansStream checkDriftEvery: planted shift retrains IN-LOOP; assignment quality restored") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val tmp = java.nio.file.Files.createTempDirectory("graft-km-loop-")
      .toString
    val idx = s"$tmp/idx"
    val ms = MemoryStream[(Long, Seq[Float])](spark)
    val sq = Streams.ingestKmeansStream(
      ms.toDF().toDF("vec_id", "embedding"), idx, s"$tmp/corpus",
      s"$tmp/ckpt", k = 5, iters = 3, checkDriftEvery = 1)
    // batch 0 builds the clustering over the seed corpus
    ms.addData(driftBase: _*); sq.processAllAvailable()
    val staleMean = spark.read.parquet(idx)
      .agg(avg("dist_q")).head().getDouble(0)
    // what the stale centroids would say about the shifted batch —
    // the degradation the in-loop check prevents from being stored
    val staleCbs = Similarity.loadKmeansCentroids(spark, idx)
    // batch 1 is the shifted blob: alarm fires, retrain runs in-loop
    ms.addData(driftDecoys: _*); sq.processAllAvailable()
    sq.stop()
    val idxDf = spark.read.parquet(idx)
    assert(idxDf.select("vec_id").as[Long].collect().toSet ===
      (driftBase ++ driftDecoys).map(_._1).toSet,
      "every row classified exactly once")
    val batchMeanAfter = idxDf.where(col("vec_id") >= 100L)
      .agg(avg("dist_q")).head().getDouble(0)
    // under the stale centroids the decoys sat an order of magnitude
    // off; the in-loop retrain pulled a centroid to them
    assert(batchMeanAfter < 10 * (staleMean + 1),
      s"in-loop retrain must restore assignment quality: $batchMeanAfter")
    assert(Similarity.loadKmeansCentroids(spark, idx).map(_.toSeq).toSeq
      !== staleCbs.map(_.toSeq).toSeq, "centroids must have moved")
    // identical to the manual rebuild over the same corpus
    val manual = Similarity.rebuildKmeansIndex(
      spark.read.parquet(s"$tmp/corpus").select("vec_id", "embedding"),
      s"$tmp/manual", "vec_id", "embedding", k = 5, iters = 3)
    assert(Similarity.loadKmeansCentroids(spark, idx).map(_.toSeq).toSeq
      === manual.map(_.toSeq).toSeq,
      "in-loop rebuild must equal a manual rebuild over the same corpus")
  }

  test("ingestKnnStream: builds, folds batch N for batch N+1, planted shift rebuilds IN-LOOP") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val tmp = java.nio.file.Files.createTempDirectory("graft-knn-loop-")
      .toString
    val idx = s"$tmp/idx"
    val ms = MemoryStream[(Long, Seq[Float])](spark)
    val sq = Streams.ingestKnnStream(
      ms.toDF().toDF("vec_id", "embedding"), idx, s"$tmp/corpus",
      s"$tmp/ckpt", k = 3, checkDriftEvery = 1)
    // batch 0 builds all three artifacts over the seed
    ms.addData(driftBase: _*); sq.processAllAvailable()
    assert(graft.io.IndexPaths.complete(spark, idx) &&
      graft.io.IndexPaths.complete(spark, Similarity.knnBucketsPath(idx)) &&
      graft.io.IndexPaths.complete(spark, Similarity.knnBuildStatsPath(idx)))
    // batch 1: exact replicas of the seed under new ids — novelty 0,
    // the alarm stays quiet, the batch FOLDS and each replica's stored
    // rank-1 edge is its original (cosine exactly 1, unique)
    val replicas = driftBase.map { case (i, v) => (i + 1000L, v) }
    ms.addData(replicas: _*); sq.processAllAvailable()
    val edges1 = spark.read.parquet(idx)
      .where(col("rk") === 1L).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    driftBase.take(5).foreach { case (i, _) =>
      assert(edges1.get(i + 1000L) === Some(i),
        s"replica ${i + 1000L} must fold with its original as rank-1")
    }
    // batch 2: the orthogonal decoys — the novelty alarm fires and the
    // loop rebuilds over the ACCUMULATED corpus
    ms.addData(driftDecoys: _*); sq.processAllAvailable()
    sq.stop()
    val manual = s"$tmp/manual"
    Similarity.knnWriteIndex(
      spark.read.parquet(s"$tmp/corpus").select("vec_id", "embedding"),
      "vec_id", "embedding", manual, k = 3)
    def edgeSet(p: String) = spark.read.parquet(p).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
      .toSet
    assert(edgeSet(idx) === edgeSet(manual),
      "in-loop rebuild must equal a manual build over the accumulated corpus")
  }

  test("kmeans append drift: stored dist_q is the alarm; rebuild restores assignment quality") {
    import spark.implicits._
    val baseDf = driftBase.toDF("vec_id", "embedding")
    val batchDf = driftDecoys.toDF("vec_id", "embedding")
    val dir = java.nio.file.Files.createTempDirectory("graft_km_drift")
      .toString + "/idx"
    Similarity.kmeansWriteIndex(baseDf, "vec_id", "embedding", dir, k = 4)
    Similarity.appendToKmeansIndex(batchDf, dir, "vec_id", "embedding")
    // the trigger needs no extra scan: appended rows carry dist_q
    // against the stale centroids in the index itself
    val idx = spark.read.parquet(dir)
    def meanDist(pred: org.apache.spark.sql.Column) =
      idx.where(pred).agg(avg("dist_q")).head().getDouble(0)
    val baseMean = meanDist(col("vec_id") <= 40L)
    val batchMean = meanDist(col("vec_id") >= 100L)
    assert(batchMean > 10 * (baseMean + 1),
      s"drift alarm must fire: batch $batchMean vs base $baseMean")
    // retrain over the current corpus: the shifted blob pulls a
    // centroid to itself within the fixed-point iterations
    Similarity.rebuildKmeansIndex(
      baseDf.unionByName(batchDf), dir, "vec_id", "embedding", k = 5,
      iters = 3)
    val after = spark.read.parquet(dir)
      .where(col("vec_id") >= 100L).agg(avg("dist_q")).head().getDouble(0)
    assert(after < batchMean / 10,
      s"rebuild must restore assignment quality: $after vs $batchMean")
  }

  test("kmeans drift baseline is FIXED at build time: quiet appends cannot ratchet it; missing sibling heals") {
    import spark.implicits._
    val baseDf = driftBase.toDF("vec_id", "embedding")
    val dir = java.nio.file.Files.createTempDirectory("graft_km_base")
      .toString + "/idx"
    Similarity.kmeansWriteIndex(baseDf, "vec_id", "embedding", dir, k = 4)
    val statsPath = Similarity.kmeansBuildStatsPath(dir)
    val buildMean = spark.read.parquet(statsPath).head().getDouble(0)
    val liveMean0 = spark.read.parquet(dir)
      .agg(avg("dist_q")).head().getDouble(0)
    assert(buildMean === liveMean0,
      "the sibling must capture the build corpus's mean dist_q")
    // fold in a drifted batch WITHOUT checking (the ratchet scenario):
    // the live table's mean rises, the stored baseline must not
    Similarity.appendToKmeansIndex(driftDecoys.toDF("vec_id", "embedding"),
      dir, "vec_id", "embedding")
    val liveMean1 = spark.read.parquet(dir)
      .agg(avg("dist_q")).head().getDouble(0)
    assert(liveMean1 > buildMean,
      "precondition: the append inflated the live mean")
    assert(spark.read.parquet(statsPath).head().getDouble(0) === buildMean,
      "appends must not move the build-time baseline")
    // a same-magnitude second drifted batch still alarms against the
    // FIXED baseline (against the ratcheted live mean it might not)
    val again = driftDecoys.map { case (id, v) => (id + 1000L, v) }
      .toDF("vec_id", "embedding")
    assert(Similarity.rebuildKmeansIndexIfDrifted(
      baseDf, again, dir, "vec_id", "embedding", k = 4),
      "the fixed baseline must keep alarming after quiet-append inflation")
    // heal path: an index written without the sibling gets one on check
    val fs = new java.io.File(statsPath.stripPrefix("file:"))
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles()).getOrElse(Array.empty).foreach(rm); f.delete()
    }
    rm(fs)
    assert(!Similarity.rebuildKmeansIndexIfDrifted(
      baseDf, baseDf, dir, "vec_id", "embedding", k = 4),
      "the build corpus itself must read quiet")
    assert(graft.io.IndexPaths.complete(spark, statsPath),
      "a missing baseline sibling must be healed in place")
  }

  test("hammingTopKBatch: exact Hamming ranking vs a JVM reimplementation; halves fit 32 bits; binary recalls cosine neighbors") {
    val probeIds = Seq(0L, 7L, 19L, 42L)
    val got = Similarity.hammingTopKBatch(emb, "vec_id", "embedding",
        probeIds, k = 10)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // independent JVM reference: pack signs, rank by (hamming, id)
    val vecs = emb.select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    def pack(v: Array[Float]): (Long, Long) = {
      var b0 = 0L; var b1 = 0L
      for (i <- 0 until 32) {
        if (v(i) > 0f) b0 |= (1L << i)
        if (v(32 + i) > 0f) b1 |= (1L << i)
      }
      (b0, b1)
    }
    val packed = vecs.map { case (id, v) => (id, pack(v)) }
    packed.foreach { case (_, (b0, b1)) =>
      assert(b0 >= 0L && b0 < (1L << 32) && b1 >= 0L && b1 < (1L << 32),
        "each 32-dim half must stay positive and below 2^32")
    }
    for (q <- probeIds) {
      val (q0, q1) = packed.find(_._1 == q).get._2
      val want = packed.filter(_._1 != q).map { case (id, (b0, b1)) =>
        (id, (java.lang.Long.bitCount(b0 ^ q0) +
          java.lang.Long.bitCount(b1 ^ q1)).toLong) }
        .sortBy { case (id, h) => (h, id) }.take(10).toSeq
      val g = got.filter(_._1 == q).sortBy(_._2)
        .map(r => (r._3, r._4)).toSeq
      assert(g === want, s"probe $q")
    }
    // the 1-bit code is a real prefilter, not noise: across the probe
    // set it must recall a nontrivial share of the true cosine top-10
    // (measured 8/40 on this fixture; random 10-sets would share ~0.2)
    val exact = Similarity.bruteForceTopKBatch(emb, "vec_id", "embedding",
        probeIds, k = 10)
      .select(col("probe_id"), col("vec_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val hits = got.count(r => exact.contains((r._1, r._3)))
    assert(hits >= 5, s"binary recall collapsed: $hits/40 cosine hits")
  }

  test("hammingRerankTopK: shortlist+rerank recovers most of the cosine top-k the raw codes miss; scores match brute") {
    val probeIds = Seq(0L, 7L, 19L, 42L)
    val rerank = Similarity.hammingRerankTopK(emb, "vec_id", "embedding",
        probeIds, k = 10, shortlistFactor = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(rerank.length === 40)
    val exact = Similarity.bruteForceTopKBatch(emb, "vec_id", "embedding",
        probeIds, k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val exactSet = exact.map(r => (r._1, r._2)).toSet
    val exactScore = exact.map(r => ((r._1, r._2), r._3)).toMap
    val rerankHits = rerank.count(r => exactSet.contains((r._1, r._2)))
    // measured 34/40 on this fixture (vs 8/40 for raw Hamming ranks):
    // the 8x overscan + exact rerank recovers what 1-bit codes blur
    val rawHits = Similarity.hammingTopKBatch(emb, "vec_id", "embedding",
        probeIds, k = 10)
      .collect().count(r => exactSet.contains((r.getLong(0), r.getLong(2))))
    assert(rerankHits >= 30, s"rerank recall collapsed: $rerankHits/40")
    assert(rerankHits > rawHits,
      s"rerank ($rerankHits) must beat raw Hamming ranks ($rawHits)")
    // where rerank and brute agree on a neighbor, the quantized cosine
    // must be the SAME number (same expression, same inputs)
    rerank.foreach { case (p, v, s) =>
      exactScore.get((p, v)).foreach(es => assert(es === s)) }
  }

  test("stored sign index: indexed Hamming + rerank bit-identical to ad-hoc; append exact; torn build heals") {
    val probeIds = Seq(0L, 7L, 19L, 42L)
    val dir = java.nio.file.Files.createTempDirectory("graft_sign").toString
    val path = s"$dir/signidx"
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sorted.toSeq
    val adhoc = rows(Similarity.hammingTopKBatch(emb, "vec_id",
      "embedding", probeIds, k = 10))
    val stored = rows(Similarity.hammingTopKIndexedBatch(spark, emb,
      "vec_id", "embedding", path, probeIds, k = 10))
    assert(stored === adhoc, "stored codes must replay the ad-hoc ranks")
    def rrows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
      .sorted.toSeq
    val rrAdhoc = rrows(Similarity.hammingRerankTopK(emb, "vec_id",
      "embedding", probeIds, k = 10, shortlistFactor = 8))
    val rrStored = rrows(Similarity.hammingRerankTopKIndexed(spark, emb,
      "vec_id", "embedding", path, probeIds, k = 10, shortlistFactor = 8))
    assert(rrStored === rrAdhoc)
    // append is EXACT (per-vector sign, no corpus statistic): index
    // built over half the corpus + append of the other half == the
    // one-shot build, row for row
    val path2 = s"$dir/signidx_half"
    Similarity.writeSignIndex(emb.where(col("vec_id") % 2 === 0),
      "vec_id", "embedding", path2)
    Similarity.appendToSignIndex(emb.where(col("vec_id") % 2 === 1),
      path2, "vec_id", "embedding")
    val grown = rows(Similarity.hammingTopKIndexedBatch(spark, emb,
      "vec_id", "embedding", path2, probeIds, k = 10))
    assert(grown === adhoc)
    // torn build (no _SUCCESS) heals through ensure
    val path3 = s"$dir/signidx_torn"
    Similarity.writeSignIndex(emb, "vec_id", "embedding", path3)
    new java.io.File(path3, "_SUCCESS").delete()
    assert(rows(Similarity.hammingTopKIndexedBatch(spark, emb, "vec_id",
      "embedding", path3, probeIds, k = 10)) === adhoc)
    assert(graft.io.IndexPaths.complete(spark, path3))
  }

  test("signPack generalizes past dim 64: dim-128 parity with a JVM packer and planted-duplicate recall") {
    // a 128-dim corpus from the 64-dim fixture (self-concatenation
    // keeps the arithmetic honest: every half is exercised), plus a
    // planted exact duplicate of probe 0's vector
    val emb128 = emb.select(col("vec_id"),
      concat(col("embedding"), col("embedding")).as("embedding"))
    val dup = emb128.where(col("vec_id") === 0L)
      .select(lit(99999L).as("vec_id"), col("embedding"))
    val all = emb128.unionByName(dup)
    val got = Similarity.hammingTopKBatch(all, "vec_id", "embedding",
        Seq(0L), k = 3, dim = 128)
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(_._1).toSeq
    assert(got.head === (1L, 99999L, 0L),
      "the planted duplicate must rank first at Hamming 0")
    // dim-128 packing parity vs an independent JVM packer: 4 halves,
    // each positive and below 2^32, distances match exactly
    val vecs = all.select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    def pack(v: Array[Float]): Array[Long] =
      Array.tabulate(4) { h =>
        var b = 0L
        for (i <- 0 until 32) if (v(32 * h + i) > 0f) b |= (1L << i)
        b
      }
    val packed = vecs.map { case (id, v) => (id, pack(v)) }.toMap
    packed.values.foreach(_.foreach(b =>
      assert(b >= 0L && b < (1L << 32))))
    val q = packed(0L)
    val want = packed.toSeq.filter(_._1 != 0L)
      .map { case (id, b) =>
        (id, b.zip(q).map { case (x, y) =>
          java.lang.Long.bitCount(x ^ y).toLong }.sum) }
      .sortBy { case (id, h) => (h, id) }.take(3)
      .zipWithIndex.map { case ((id, h), i) => (i + 1L, id, h) }
    assert(got === want)
    // and the engine's dim-64 output is unchanged by the array
    // generalization: the existing hammingTopKBatch spec above pins
    // value parity; here pin the packed schema round-trips parquet
    val dir = java.nio.file.Files.createTempDirectory("graft_s128").toString
    Similarity.writeSignIndex(all, "vec_id", "embedding",
      s"$dir/idx", dim = 128)
    val viaIdx = Similarity.hammingTopKIndexedBatch(spark, all, "vec_id",
        "embedding", s"$dir/idx", Seq(0L), k = 3, dim = 128)
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(_._1).toSeq
    assert(viaIdx === got)
  }
}
