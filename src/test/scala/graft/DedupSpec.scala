package graft

import org.apache.spark.sql.functions._

import graft.operators.Dedup

/** Dedup operators against brute-force baselines on sf0.001 documents. */
class DedupSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = spark.read.parquet(s"$sf/documents.parquet")

  test("exactKeepers: one group per distinct text, counts sum to row count") {
    val k = Dedup.exactKeepers(docs, "doc_id", "text")
    val total = k.agg(sum("n_copies")).head().getLong(0)
    assert(total === docs.count())
    // synthetic corpus at this sf has no exact dups:
    assert(k.count() === docs.select("text").distinct().count())
  }

  test("exactKeepers finds injected duplicates") {
    val withDups = docs.select("doc_id", "text")
      .unionAll(docs.where(col("doc_id") < 5)
        .select((col("doc_id") + 10000).as("doc_id"), col("text")))
    val k = Dedup.exactKeepers(withDups, "doc_id", "text")
    assert(k.where(col("n_copies") === 2).count() === 5)
    // keeper is the smaller id
    assert(k.where(col("n_copies") === 2).agg(max("keep_id")).head().getLong(0) < 5)
  }

  test("dedupClusters: chains merge transitively, singletons pair up, keeper = min id") {
    // components: {1,2,3,4} (a chain — needs label propagation across
    // hops), {10,11}, {20,21,22} (a star)
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L),
      (20L, 21L), (20L, 22L)).toDF("doc_a", "doc_b")
    val got = Dedup.dedupClusters(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 20L -> 20L, 21L -> 20L, 22L -> 20L))
    // keepers are exactly the cluster minima
    assert(got.filter { case (d, c) => d == c }.keySet === Set(1L, 10L, 20L))
  }

  test("dedupClusters: reliable-checkpoint mode matches local mode") {
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L))
      .toDF("doc_a", "doc_b")
    val dir = java.nio.file.Files.createTempDirectory("graft_ckpt").toString
    val reliable = Dedup.dedupClusters(pairs, checkpointDir = Some(dir))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val local = Dedup.dedupClusters(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(reliable === local)
    // the reliable mode must actually write checkpoint files
    val wrote = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
      .filter(java.nio.file.Files.isRegularFile(_)).count()
    assert(wrote > 0, "reliable mode must persist checkpoints to the dir")
  }

  test("leakageSafeSplit: a near-dup cluster lands whole in one split; singletons = splitAssign") {
    val splits = Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)
    // clusters {1,2,3,4} and {10,11}; 50..80 are singletons
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L))
      .toDF("doc_a", "doc_b")
    val docs = ((1L to 4L) ++ Seq(10L, 11L) ++ (50L to 80L))
      .toDF("doc_id")
    val got = Dedup.leakageSafeSplit(docs, pairs, "doc_id", splits)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getString(2))))
      .toMap
    // whole-cluster assignment: every member carries the rep's split
    assert(Seq(1L, 2L, 3L, 4L).map(got(_)).distinct.size === 1)
    assert(got(1L)._1 === 1L)
    assert(Seq(10L, 11L).map(got(_)).distinct.size === 1)
    assert(got(10L)._1 === 10L)
    // singletons: rep = self, split identical to plain splitAssign
    val plain = graft.operators.Relational.splitAssign(
        (50L to 80L).toDF("doc_id"), col("doc_id"), splits)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    (50L to 80L).foreach { d =>
      assert(got(d)._1 === d)
      assert(got(d)._2 === plain(d), s"doc $d")
    }
  }

  test("incrementalDedupPairs: new batch vs index == full dedup restricted to new-side pairs") {
    // corpus: 3 distinct docs + a dup pair (1, 2); new batch: doc 100
    // duplicates corpus doc 1, docs 101/102 duplicate each other, 103 is novel
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again"),
      (2L, "the quick brown fox jumps over the lazy dog again and again"),
      (3L, "completely different text about weather patterns in the north"),
      (4L, "yet another unrelated document describing sorting algorithms"))
      .toDF("doc_id", "text")
    val fresh = Seq(
      (100L, "the quick brown fox jumps over the lazy dog again and again"),
      (101L, "shared novel content that appears twice in the new batch only"),
      (102L, "shared novel content that appears twice in the new batch only"),
      (103L, "a genuinely new document matching nothing else at all here"))
      .toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("graft_bandidx").toString
    Dedup.writeBandIndex(corpus, "doc_id", "text", dir)
    val got = Dedup.incrementalDedupPairs(fresh, corpus, dir, "doc_id", "text")
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // new-side pairs only: corpus pair (1,2) must NOT reappear
    assert(got === Set((1L, 100L), (2L, 100L), (101L, 102L)))
  }

  test("appendToBandIndex closes the ingest loop: batch 2 dedups against batch 1") {
    import org.apache.spark.sql.functions.{col, max => smax}
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again"),
      (2L, "completely different text about weather patterns in the north"))
      .toDF("doc_id", "text")
    val batch1 = Seq(
      (10L, "fresh boilerplate paragraph that later batches will repeat verbatim"),
      (11L, "one more unrelated piece of writing about compiler construction"))
      .toDF("doc_id", "text")
    val batch2 = Seq(
      (20L, "fresh boilerplate paragraph that later batches will repeat verbatim"),
      (21L, "the quick brown fox jumps over the lazy dog again and again"))
      .toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("graft_bandidx_append").toString
    Dedup.writeBandIndex(corpus, "doc_id", "text", dir)
    // ingest batch 1: dedup vs index (no hits expected), then admit
    val hits1 = Dedup.incrementalDedupPairs(batch1, corpus, dir, "doc_id", "text")
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(hits1.isEmpty, s"batch 1 plants no dups, got $hits1")
    Dedup.appendToBandIndex(batch1, dir, "doc_id", "text")
    // ingest batch 2: doc 20 duplicates BATCH-1 doc 10 (only findable
    // through the appended index) and doc 21 duplicates corpus doc 1
    val hits2 = Dedup.incrementalDedupPairs(batch2,
        corpus.unionByName(batch1), dir, "doc_id", "text")
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(hits2 === Set((10L, 20L), (1L, 21L)))
    // appended ranks extend each bucket's sequence: within every
    // (band, bucket) the ranks are exactly 1..n with no collisions
    val idx = spark.read.parquet(dir)
    val bad = idx.groupBy("band", "bucket")
      .agg(org.apache.spark.sql.functions.count(col("doc_id")).as("n"),
        org.apache.spark.sql.functions.countDistinct(col("__r")).as("d"),
        smax(col("__r")).as("m"))
      .where(col("n") =!= col("d") || col("m") =!= col("n"))
      .count()
    assert(bad == 0, "every bucket's ranks must stay a dense 1..n sequence")
  }

  test("appendToBandIndex replay is membership-idempotent: no duplicate rows, no cap-slot loss") {
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again"))
      .toDF("doc_id", "text")
    val batch = Seq(
      (10L, "fresh boilerplate paragraph that later batches will repeat verbatim"),
      (11L, "one more unrelated piece of writing about compiler construction"))
      .toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("graft_bandidx_replay")
      .toString
    Dedup.writeBandIndex(corpus, "doc_id", "text", dir)
    Dedup.appendToBandIndex(batch, dir, "doc_id", "text")
    val once = spark.read.parquet(dir).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getInt(3))).toSet
    // crash-replay re-delivers the same fold: the membership anti-join
    // must append NOTHING — same rows, same ranks, so a hot bucket's
    // __r <= cap slots are never consumed by duplicates
    Dedup.appendToBandIndex(batch, dir, "doc_id", "text")
    val twice = spark.read.parquet(dir).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getInt(3))).toSet
    assert(twice == once, "replayed fold must be a no-op on the index")
    assert(spark.read.parquet(dir).count() == once.size.toLong)
  }

  test("Caches: operator intermediates are tracked and released, results unaffected") {
    import graft.operators.Caches
    Caches.release() // clean slate (other suites may have tracked frames)
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again"),
      (2L, "the quick brown fox jumps over the lazy dog again and again"),
      (3L, "completely different text about weather patterns in the north"))
      .toDF("doc_id", "text")
    val pairs = Dedup.minhashDedupPairs(docs, "doc_id", "text")
    assert(pairs.count() == 1)
    assert(Caches.trackedCount > 0,
      "the candidate intermediate must be tracked while in use")
    Caches.release()
    assert(Caches.trackedCount == 0)
    // released frames recompute transparently on re-use
    assert(pairs.count() == 1)
  }

  test("Caches.checkpoint: lineage truncated, blocks tracked, release frees them") {
    import graft.operators.Caches
    Caches.release()
    val df = Seq((1L, "a"), (2L, "b")).toDF("id", "s")
    val cp = Caches.checkpoint(df)
    assert(cp.count() == 2)
    // the checkpoint RDD's blocks are tracked for release
    assert(Caches.trackedCount > 0,
      "checkpoint blocks must be tracked, not left to the ContextCleaner")
    val rdds = org.apache.spark.sql.graft.shim.leafRdds(cp)
    assert(rdds.nonEmpty, "a checkpointed frame plans as a LogicalRDD leaf")
    assert(rdds.forall(_.getStorageLevel.useMemory),
      "checkpoint blocks live in the block manager before release")
    Caches.release()
    assert(Caches.trackedCount == 0)
    assert(rdds.forall(_.getStorageLevel ==
      org.apache.spark.storage.StorageLevel.NONE),
      "release must unpersist the checkpoint blocks")
  }

  test("dedupClusters: empty pair list yields empty clustering") {
    val empty = Seq.empty[(Long, Long)].toDF("doc_a", "doc_b")
    assert(Dedup.dedupClusters(empty).count() === 0)
  }

  test("minhash-LSH pairs == brute-force n-gram Jaccard pairs at threshold") {
    val grams = Dedup.gramSets(docs, "doc_id", "text", 3)
    val a = grams.toDF("doc_a", "g")
    val b = grams.toDF("doc_b", "g")
    val allPairs = a.join(b, "g").where(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b").distinct()
    val brute = Dedup.jaccard(allPairs, grams).where(col("jaccard") >= 0.8)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Dedup.minhashDedupPairs(docs, "doc_id", "text", threshold = 0.8)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh === brute) // full recall at J>=0.8 on this corpus
    assert(brute.nonEmpty, "corpus should contain near-dups")
  }

  test("native MinHashSig aggregate == composed 64-min-columns signatures, bit-exact") {
    val grams = Dedup.gramSets(docs.limit(100), "doc_id", "text", 3)
    val composed = Dedup.minhashSignatures(grams, 64)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toList).toMap
    val native = Dedup.minhashSignaturesAgg(grams, 64)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toList).toMap
    assert(native == composed)
    assert(native.nonEmpty)
  }

  test("MinHashSigLong over combined token hashes == composed min-columns, bit-exact") {
    val gh = Dedup.gramHashes(docs, "doc_id", "text", 3)
    val native = Dedup.minhashSignaturesHashed(gh, 16)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toList).toMap
    val hashed = gh.select(
      (col("doc_id") +: (0 until 16).map(i =>
        xxhash64(lit(i), col("gh")).as(s"h$i"))): _*)
    val mins = (0 until 16).map(i => min(col(s"h$i")).as(s"m$i"))
    val composed = hashed.groupBy(col("doc_id")).agg(mins.head, mins.tail: _*)
      .select(col("doc_id"), array((0 until 16).map(i => col(s"m$i")): _*).as("sig"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toList).toMap
    assert(native == composed)
    assert(native.nonEmpty)
  }

  test("native SimHashAgg == composed 64-sum-columns simhash, bit-exact") {
    val native = Dedup.simhash(docs.limit(200), "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val composed = Dedup.simhashComposed(docs.limit(200), "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(native == composed)
    assert(native.nonEmpty)
  }

  test("simhash: identical texts get identical signatures; near-dups close") {
    val df = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy dog"),
      (3L, "the quick brown fox jumps over the lazy cat"),
      (4L, "completely different words entirely unrelated content here"))
      .toDF("doc_id", "text")
    val h = Dedup.simhash(df, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(h(1L) === h(2L))
    def hamming(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(hamming(h(1L), h(3L)) < hamming(h(1L), h(4L)))
  }

  test("simhashPairs finds hamming<=3 pairs via chunk join") {
    val df = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (3L, "one two three four five six seven eight nine ten"))
      .toDF("doc_id", "text")
    val pairs = Dedup.simhashPairs(Dedup.simhash(df, "doc_id", "text"))
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.contains((1L, 3L)))
  }

  test("rowSignatures (streamable per-row path) == aggregate signatures, bit-exact") {
    val slice = docs.limit(200)
    val agg = Dedup.minhashSignaturesHashed(
        Dedup.gramHashes(slice, "doc_id", "text", 3), 64)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toList).toMap
    val perRow = Dedup.rowSignatures(slice, "doc_id", "text", 3, 64)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toList).toMap
    assert(perRow == agg)
    assert(perRow.nonEmpty)
  }

  test("containmentPairs finds a short doc embedded in a long one (Jaccard misses it)") {
    val base = "alpha bravo charlie delta echo foxtrot golf hotel india juliet"
    val long = base + " kilo lima mike november oscar papa quebec romeo sierra" +
      " tango uniform victor whiskey xray yankee zulu aaa bbb ccc ddd eee fff"
    val df = Seq(
      (1L, base),
      (2L, long),
      (3L, "totally unrelated words about something else entirely happening"))
      .toDF("doc_id", "text")
    val got = Dedup.containmentPairs(df, "doc_id", "text", ngram = 3, threshold = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getDouble(2), r.getDouble(3), r.getDouble(4))).toMap
    assert(got.keySet === Set((1L, 2L)))
    val (ca, cb, j) = got((1L, 2L))
    assert(ca === 1.0, "every trigram of the short doc appears in the long one")
    assert(cb < 0.9 && j < 0.5, "the long side and Jaccard stay low")
    // a Jaccard-thresholded dedup never pairs them
    val jpairs = Dedup.minhashDedupPairs(df, "doc_id", "text",
      ngram = 3, numHashes = 64, bands = 16, threshold = 0.8)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(!jpairs.contains((1L, 2L)))
  }

  test("containmentPairs == brute-force containment on a corpus slice (prefix filter is exact)") {
    import org.apache.spark.sql.functions.{array_distinct, array_intersect, col, greatest, size}
    val slice = docs.limit(150)
    val got = Dedup.containmentPairs(slice, "doc_id", "text", ngram = 3, threshold = 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> (r.getDouble(2), r.getDouble(3)))
      .toMap
    val sets = slice.select(col("doc_id"),
        array_distinct(graft.functions.TextFns.wordNGrams(
          graft.functions.TextFns.letterTokens(col("text")), 3)).as("gs"))
      .where(size(col("gs")) > 0)
    val brute = sets.toDF("da", "ga").crossJoin(sets.toDF("db", "gb"))
      .where(col("da") < col("db"))
      .select(col("da"), col("db"),
        (size(array_intersect(col("ga"), col("gb"))).cast("double") /
          size(col("ga")).cast("double")).as("ca"),
        (size(array_intersect(col("ga"), col("gb"))).cast("double") /
          size(col("gb")).cast("double")).as("cb"))
      .where(greatest(col("ca"), col("cb")) >= 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> (r.getDouble(2), r.getDouble(3)))
      .toMap
    assert(got === brute)
    assert(brute.nonEmpty, "testdata plants near-dup pairs; the slice must contain some")
  }

  test("maxDf recall contract: boilerplate-only overlap missed, rare overlap kept at the boundary") {
    // maxDf = 2: a qualifying overlap carried EXCLUSIVELY by grams
    // with df > 2 must be traded away; an overlap carried by grams at
    // df = 2 exactly (the boundary) must be kept. Plant both:
    //  - the boilerplate blob: docs 1, 2, 11, 12, 13 share one
    //    identical template text, so every shared gram has df = 5 > 2
    //    — ALL C(5,2) = 10 pairs must vanish under the cap
    //  - the rare pair: docs 3 and 4 share text nobody else has, so
    //    every shared gram sits at df = 2 = maxDf — kept
    val boiler = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val rare = "omicron pi rho sigma tau upsilon phi chi psi omega"
    val df = Seq(
      (1L, boiler), (2L, boiler), (11L, boiler), (12L, boiler),
      (13L, boiler),
      (3L, rare), (4L, rare),
      (5L, "unrelated filler content about entirely different things"))
      .toDF("doc_id", "text")
    def pairsOf(maxDf: Option[Long]) =
      Dedup.containmentPairs(df, "doc_id", "text", ngram = 3,
        threshold = 0.8, maxDf = maxDf)
        .select("doc_a", "doc_b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val uncapped = pairsOf(None)
    val boilerIds = Seq(1L, 2L, 11L, 12L, 13L)
    val boilerPairs = (for {
      a <- boilerIds; b <- boilerIds if a < b
    } yield (a, b)).toSet
    assert(uncapped === boilerPairs + ((3L, 4L)),
      s"uncapped must find every planted pair: $uncapped")
    val capped = pairsOf(Some(2L))
    assert(capped === Set((3L, 4L)),
      s"cap must drop boilerplate-carried pairs, keep the df=2 boundary pair: $capped")

    // the SAME contract through the stored-postings path: corpus holds
    // the boilerplate blob + the rare seed; the batch re-quotes both.
    // Stored boilerplate grams (df = 3 in corpus) exceed the cap on
    // both candidate joins; the rare seed's grams (df = 1, <= cap)
    // still connect.
    val corpus = Seq((1L, boiler), (2L, boiler), (11L, boiler), (3L, rare))
      .toDF("doc_id", "text")
    val batch = Seq((100L, boiler), (101L, rare)).toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("graft_contidx_cap")
      .toString + "/idx"
    Dedup.writeContainmentIndex(corpus, "doc_id", "text", dir)
    val incUncapped = Dedup.incrementalContainmentPairs(batch, corpus, dir,
        "doc_id", "text", ngram = 3, threshold = 0.8)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(incUncapped === Set((1L, 100L), (2L, 100L), (11L, 100L),
      (3L, 101L)), s"uncapped incremental: $incUncapped")
    val incCapped = Dedup.incrementalContainmentPairs(batch, corpus, dir,
        "doc_id", "text", ngram = 3, threshold = 0.8, maxDf = Some(2L))
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(incCapped === Set((3L, 101L)),
      s"capped incremental must keep only the rare-gram pair: $incCapped")
  }

  test("incrementalContainmentPairs: batch finds containment both directions vs the indexed corpus") {
    val base = "alpha bravo charlie delta echo foxtrot golf hotel india juliet"
    val corpus = Seq(
      (1L, base + " kilo lima mike november oscar papa quebec romeo sierra" +
        " tango uniform victor whiskey xray yankee zulu aaa bbb ccc ddd eee fff"),
      (2L, "completely different text about weather patterns in the north region"),
      (3L, "short seed phrase used again later with more words appended"))
      .toDF("doc_id", "text")
    val batch = Seq(
      (100L, base), // contained in corpus doc 1 (batch-prefix direction)
      (101L, "short seed phrase used again later with more words appended" +
        " plus a very long tail of extra content one two three four five" +
        " six seven eight nine ten eleven twelve"), // contains corpus doc 3 (stored-prefix direction)
      (102L, "entirely novel content matching nothing in the corpus at all"),
      (103L, base)) // batch-internal dup of 100
      .toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("graft_contidx").toString + "/idx"
    Dedup.writeContainmentIndex(corpus, "doc_id", "text", dir)
    val got = Dedup.incrementalContainmentPairs(batch, corpus, dir,
        "doc_id", "text", ngram = 3, threshold = 0.9)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got === Set((1L, 100L), (1L, 103L), (3L, 101L), (100L, 103L)))
  }

  test("appendToContainmentIndex: batch 2 finds containment against admitted batch 1") {
    val corpus = Seq(
      (1L, "completely different text about weather patterns in the north region"))
      .toDF("doc_id", "text")
    val batch1 = Seq(
      (10L, "fresh boilerplate paragraph that later batches will quote verbatim"))
      .toDF("doc_id", "text")
    val batch2 = Seq(
      (20L, "fresh boilerplate paragraph that later batches will quote verbatim" +
        " followed by a long original commentary stretching well past the quote" +
        " one two three four five six seven eight nine ten"))
      .toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("graft_contidx_app").toString + "/idx"
    Dedup.writeContainmentIndex(corpus, "doc_id", "text", dir)
    val hits1 = Dedup.incrementalContainmentPairs(batch1, corpus, dir,
        "doc_id", "text", ngram = 3, threshold = 0.9)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(hits1.isEmpty, s"batch 1 plants nothing, got $hits1")
    Dedup.appendToContainmentIndex(batch1, dir, "doc_id", "text")
    // batch-2 doc 20 QUOTES batch-1 doc 10 wholesale: containment_10 = 1
    // but Jaccard is low — findable only through the appended postings
    val hits2 = Dedup.incrementalContainmentPairs(batch2,
        corpus.unionByName(batch1), dir, "doc_id", "text",
        ngram = 3, threshold = 0.9)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(hits2 === Set((10L, 20L)))
  }

  test("incrementalContainmentPairs == containmentPairs restricted to batch-side pairs") {
    val slice = docs.limit(200)
    val corpus = slice.where(col("doc_id") % 5 =!= 4)
    val fresh = slice.where(col("doc_id") % 5 === 4)
    val dir = java.nio.file.Files.createTempDirectory("graft_contidx_par").toString + "/idx"
    Dedup.writeContainmentIndex(corpus, "doc_id", "text", dir)
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1)) -> (r.getDouble(2), r.getDouble(3), r.getDouble(4))
    val inc = Dedup.incrementalContainmentPairs(fresh, corpus, dir,
      "doc_id", "text", ngram = 3, threshold = 0.8).collect().map(key).toMap
    val full = Dedup.containmentPairs(slice, "doc_id", "text", ngram = 3, threshold = 0.8)
      .where(col("doc_a") % 5 === 4 || col("doc_b") % 5 === 4)
      .collect().map(key).toMap
    assert(inc === full)
    assert(full.nonEmpty, "testdata plants near-dups across the split")
  }

  test("ensureBandIndex reuses a committed on-disk index; a torn dir rebuilds") {
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again"),
      (2L, "completely different text about weather patterns in the north"))
      .toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("graft_bandidx_ensure").toString
    def stamps() = new java.io.File(dir).listFiles()
      .map(f => f.getName -> f.lastModified).toMap
    Dedup.ensureBandIndex(corpus, "doc_id", "text", dir)
    assert(graft.io.IndexPaths.complete(spark, dir), "build must commit _SUCCESS")
    val built = stamps()
    // a second ensure over the same committed dir (as a fresh JVM
    // would make): the index must be reused, not rewritten
    Dedup.ensureBandIndex(corpus, "doc_id", "text", dir)
    assert(stamps() == built, "committed index must be reused across JVMs")
    // a torn write (killed build job — no _SUCCESS) must read as absent
    assert(new java.io.File(dir, "_SUCCESS").delete())
    Dedup.ensureBandIndex(corpus, "doc_id", "text", dir)
    assert(graft.io.IndexPaths.complete(spark, dir),
      "torn index dir must be rebuilt, restoring the commit marker")
  }

  test("compactAdmitted + compactBandIndex: one-dir layout, loop results unchanged") {
    val tA = "shared boilerplate paragraph that every ingest batch keeps repeating forever"
    val tB = "completely different text about weather patterns across the north atlantic"
    val tC = "one more unrelated piece of writing about compiler construction techniques"
    val tD = "a fourth essay concerning the history of suspension bridges in europe"
    val root = java.nio.file.Files.createTempDirectory("graft_admit_compact").toString
    val admitted = s"$root/admitted"
    val index = s"$root/bandidx"
    Dedup.ingestDedupBatch(Seq((1L, tA), (2L, tB)).toDF("doc_id", "text"),
      0L, index, admitted)
    Dedup.ingestDedupBatch(Seq((10L, tA), (11L, tC)).toDF("doc_id", "text"),
      1L, index, admitted) // 10 rejected vs 1
    Dedup.ingestDedupBatch(Seq((20L, tC), (21L, tD)).toDF("doc_id", "text"),
      2L, index, admitted) // 20 rejected vs 11

    def admittedRel() = spark.read.parquet(admitted)
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    def probePairs() = {
      val probe = Seq((30L, tB), (31L, tD)).toDF("doc_id", "text")
      val p = Dedup.incrementalDedupPairs(probe,
          spark.read.parquet(admitted).select("doc_id", "text"),
          index, "doc_id", "text")
        .select("doc_a", "doc_b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      graft.operators.Caches.release()
      p
    }
    val relBefore = admittedRel()
    assert(relBefore.map(_._1) == Set(1L, 2L, 11L, 21L))
    val pairsBefore = probePairs()
    assert(pairsBefore == Set((2L, 30L), (21L, 31L)))
    val idxBefore = spark.read.parquet(index).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getInt(3))).toSet

    // compaction folds all but the newest batch dir into batch=-1
    val folded = Dedup.compactAdmitted(spark, admitted, targetFiles = 2)
    assert(folded == Seq(0L, 1L))
    val dirs = new java.io.File(admitted).listFiles().filter(_.isDirectory)
      .map(_.getName).toSet
    assert(dirs == Set("batch=-1", "batch=2"), s"got $dirs")
    assert(new java.io.File(s"$admitted/batch=-1").listFiles()
      .count(_.getName.endsWith(".parquet")) <= 2)
    Dedup.compactBandIndex(spark, index, targetFiles = 2)
    assert(new java.io.File(index).listFiles()
      .count(_.getName.endsWith(".parquet")) <= 2)

    // same relation, same stored ranks, same incremental-dedup answers
    assert(admittedRel() == relBefore)
    assert(spark.read.parquet(index).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getInt(3)))
      .toSet == idxBefore, "compaction must preserve stored ranks exactly")
    assert(probePairs() == pairsBefore)

    // a second compaction re-folds the prior output with the next batch
    Dedup.ingestDedupBatch(Seq((40L, "entirely novel fifth document about " +
      "marine biology and deep sea exploration")).toDF("doc_id", "text"),
      3L, index, admitted)
    assert(Dedup.compactAdmitted(spark, admitted) == Seq(-1L, 2L))
    val dirs2 = new java.io.File(admitted).listFiles().filter(_.isDirectory)
      .map(_.getName).toSet
    assert(dirs2 == Set("batch=-1", "batch=3"), s"got $dirs2")
    assert(admittedRel().map(_._1) == relBefore.map(_._1) + 40L)
  }

  test("rebuildContainmentIndex: appended-index candidates shrink to fresh-build levels, pairs unchanged") {
    import graft.functions.TextFns
    // corpus A: every doc shares boilerplate phrase P (high GLOBAL df)
    val p = "all rights reserved no part of this document may be reproduced"
    val corpusA = (1L to 6L).map(i => (i,
      s"$p unique alpha content number $i " +
        s"about subject ${"xyzkw".charAt((i % 5).toInt)} matter " +
        s"item${i} thing${i} widget${i} gadget${i} token${i} extra${i}"))
      .toDF("doc_id", "text")
    // batch B: P appears ONCE in the batch, so batch-local df ranks its
    // grams RARE -> they land in B's stored prefix after an append
    val batchB = Seq(
      (100L, s"$p fresh beta payload completely new terms " +
        "quux corge grault garply waldo fred plugh"),
      (101L, "independent gamma text with no shared phrases at all " +
        "lorem brick stone metal glass paper cloth"))
      .toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("graft_cont_rebuild")
      .toString + "/idx"
    Dedup.writeContainmentIndex(corpusA, "doc_id", "text", dir)
    Dedup.appendToContainmentIndex(batchB, dir, "doc_id", "text")

    // probe batch C: contains P + junk — BELOW threshold vs everything,
    // so every candidate it generates is wasted work; plus one true
    // near-copy of doc 101 to pin recall through the rebuild
    val batchC = Seq(
      (200L, s"$p stray delta chatter nothing else matches here " +
        "zig zag foo bar baz qux mumble jumble tumble rumble bumble " +
        "crumble stumble grumble humble fumble"),
      (201L, "independent gamma text with no shared phrases at all " +
        "lorem brick stone metal glass paper cloth"))
      .toDF("doc_id", "text")
    val allDocs = corpusA.unionByName(batchB)

    // candidate volume through the STORED corpus-side prefixes (the
    // vsNew direction of incrementalContainmentPairs): stored prefix
    // rows x probe grams — replicated here from the documented layout
    def storedPrefixCandidates(threshold: Double): Long = {
      val post = spark.read.parquet(dir)
      def iMin(sz: org.apache.spark.sql.Column) = {
        val g = ceil(lit(threshold) * sz)
        when((g - 1).cast("double") / sz.cast("double") >= threshold, g - 1)
          .otherwise(g)
      }
      val cPrefix = post.where(col("__r") <= col("__sz") - iMin(col("__sz")) + 1)
      val probeGrams = batchC.select(col("doc_id").as("n_id"),
          explode(array_distinct(TextFns.wordNGrams(
            TextFns.letterTokens(col("text")), 3))).as("g"))
        .select(col("n_id"), xxhash64(col("g")).as("gh"))
      cPrefix.select(col("gh"), col("doc_id").as("c_id"))
        .join(probeGrams, Seq("gh"))
        .select("n_id", "c_id").distinct().count()
    }
    def pairs() = {
      val r = Dedup.incrementalContainmentPairs(batchC, allDocs, dir,
          "doc_id", "text", threshold = 0.8)
        .select("doc_a", "doc_b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      graft.operators.Caches.release()
      r
    }

    val candAppended = storedPrefixCandidates(0.8)
    val pairsBefore = pairs()
    assert(pairsBefore == Set((101L, 201L)), s"got $pairsBefore")
    // appended doc 100's prefix holds P's grams (batch-rare, globally
    // common) -> probe 200 generates candidates against it
    assert(candAppended > 0)

    Dedup.rebuildContainmentIndex(allDocs, dir, "doc_id", "text")
    val candRebuilt = storedPrefixCandidates(0.8)
    assert(candRebuilt < candAppended,
      s"global-df rebuild must shrink candidates: $candRebuilt vs $candAppended")
    // fresh-build reference: rebuilding IS the fresh build (same call),
    // so equality with a from-scratch index is by construction; what we
    // pin is parity of answers through the rebuilt index
    assert(pairs() == pairsBefore)
  }

  test("softDedupKeep: singletons always keep; cluster members keep by the exact md5/size cut") {
    import org.apache.spark.sql.functions.col
    def h16(id: Long): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8"))
      java.lang.Long.parseLong(d.take(2).map("%02x".format(_)).mkString, 16)
    }
    // a 64-copy cluster (ids 1000-1063), a 2-copy cluster, 3 singletons
    val docs = ((1000L to 1063L).map(i => (i, "big planted cluster text")) ++
      Seq((1L, "pair text here"), (2L, "pair text here"),
        (10L, "alpha solo"), (11L, "beta solo"), (12L, "gamma solo")))
      .toDF("doc_id", "text")
    val pairs = ((1000L to 1062L).map(i => (i, i + 1)) ++ Seq((1L, 2L)))
      .toDF("doc_a", "doc_b")
    val got = Dedup.softDedupKeep(docs, pairs, "doc_id")
      .select("doc_id", "cluster", "cl_size", "weight_q", "kept")
      .as[(Long, Long, Long, Long, Boolean)].collect()
      .map(r => r._1 -> r).toMap
    assert(got.size === 69)
    // singletons: own cluster, size 1, weight 65536, always kept
    for (id <- Seq(10L, 11L, 12L))
      assert(got(id) === ((id, id, 1L, 65536L, true)))
    // the pair: weight 32768, keep decided by each member's own hash
    for (id <- Seq(1L, 2L)) {
      val r = got(id)
      assert(r._2 === 1L && r._3 === 2L && r._4 === 32768L)
      assert(r._5 === (h16(id) < 32768L), s"doc $id")
    }
    // the big cluster: weight 1024 = 65536/64; exact per-member cut
    for (id <- 1000L to 1063L) {
      val r = got(id)
      assert(r._2 === 1000L && r._3 === 64L && r._4 === 1024L)
      assert(r._5 === (h16(id) < 1024L), s"doc $id")
    }
    // keepPerClusterQ=131072 doubles the expected keepers per cluster
    val twice = Dedup.softDedupKeep(docs, pairs, "doc_id",
        keepPerClusterQ = 131072L)
      .where(col("doc_id") >= 1000L)
      .select("weight_q").distinct().as[Long].collect().toSeq
    assert(twice === Seq(2048L))
  }

  test("winnowing: a shared (w+k-1)-word run guarantees a shared fingerprint; short docs yield none; hot fingerprints are guarded off") {
    // k=3, w=3: guarantee window = 5 words; full windows need >= 5 words
    val run = "p q r s t"
    val base = Seq(
      (1L, s"xa xb xc $run ya yb"),
      (2L, s"za zb $run zc zd ze"),
      (3L, "only four words here"))
    val docs1 = base.toDF("doc_id", "text")
    val fps = Dedup.winnowFingerprints(docs1, "doc_id", "text", k = 3, w = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    // the paper guarantee: docs 1 and 2 share the 5-word run -> >= 1
    // shared fingerprint
    val f1 = fps.filter(_._1 == 1L).map(_._2).toSet
    val f2 = fps.filter(_._1 == 2L).map(_._2).toSet
    assert((f1 & f2).nonEmpty, "shared run must yield a shared fingerprint")
    // a doc below w+k-1 words has no full window
    assert(!fps.exists(_._1 == 3L))
    // density: far fewer fingerprints than grams (expected ~2/(w+1))
    val nGrams1 = 8 + 8 // each 10-word doc has 8 trigrams
    assert(f1.size + f2.size < nGrams1)
    val pairs = Dedup.winnowPairs(docs1, "doc_id", "text", k = 3, w = 3,
        minShared = 1, maxDf = 50)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.toSeq == Seq((1L, 2L)))
    // hot-fingerprint guard: 60 docs all carrying the same run, with
    // otherwise-unique filler, exceed maxDf=50 -> the shared
    // fingerprint is boilerplate and must NOT produce 60*59/2 pairs
    val herd = (10L until 70L).map(i =>
      (i, s"u${i}a u${i}b u${i}c $run v${i}a v${i}b"))
    val docs2 = herd.toDF("doc_id", "text")
    val herdPairs = Dedup.winnowPairs(docs2, "doc_id", "text", k = 3,
      w = 3, minShared = 1, maxDf = 50).count()
    assert(herdPairs === 0L, "guarded boilerplate fingerprint leaked pairs")
    // and with the guard above the herd size, the clique comes back
    val unguarded = Dedup.winnowPairs(docs2, "doc_id", "text", k = 3,
      w = 3, minShared = 1, maxDf = 100).count()
    assert(unguarded === 60L * 59L / 2L)
  }

  test("incremental winnowing == full-corpus winnowing restricted to batch pairs; append replays idempotently; novelty alarm arc") {
    val spark0 = spark
    val corpus = docs.where(col("doc_id") % 5 =!= 0)
    val batch = docs.where(col("doc_id") % 5 === 0)
    val dir = java.nio.file.Files.createTempDirectory("graft_winnow").toString
    val idx = s"$dir/fps"
    Dedup.writeWinnowIndex(corpus, "doc_id", "text", idx)
    def pairsOf(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted.toSeq
    val inc = pairsOf(Dedup.incrementalWinnowPairs(batch, spark0, idx,
      "doc_id", "text", minShared = 2, maxDf = 50))
    graft.operators.Caches.release()
    val full = pairsOf(Dedup.winnowPairs(docs, "doc_id", "text",
        minShared = 2, maxDf = 50)
      .where(col("doc_a") % 5 === 0 || col("doc_b") % 5 === 0))
    graft.operators.Caches.release()
    assert(inc === full)
    // replay-idempotent append: folding the same batch twice leaves
    // the index at exactly one row per (doc_id, fp)
    Dedup.appendToWinnowIndex(batch, spark0, idx, "doc_id", "text")
    // at-least-once redelivery: the batch was already FOLDED IN above
    // (append committed, checkpoint commit lost) — the replayed screen
    // must equal the original run, not double-count the batch's own
    // stored rows into __df
    val replayed = pairsOf(Dedup.incrementalWinnowPairs(batch, spark0,
      idx, "doc_id", "text", minShared = 2, maxDf = 50))
    graft.operators.Caches.release()
    assert(replayed === inc,
      "screen must be idempotent under at-least-once redelivery")
    val once = spark0.read.parquet(idx).count()
    Dedup.appendToWinnowIndex(batch, spark0, idx, "doc_id", "text")
    assert(spark0.read.parquet(idx).count() === once)
    assert(once === Dedup.winnowFingerprints(docs, "doc_id", "text")
      .count())
    // alarm arc: a re-sent slice of the corpus reads quiet; a planted
    // template family (text unseen anywhere) trips the rebuild
    val quiet = Dedup.winnowIndexNoveltyPpm(batch, spark0, idx,
      "doc_id", "text")
    graft.operators.Caches.release()
    assert(quiet === 0L, s"re-ingested docs must read 0 novelty, got $quiet")
    val shifted = (0L until 20L).map(i =>
      (5000L + i, "qq ww ee rr tt yy uu ii oo pp aa ss dd ff gg"))
      .toDF("doc_id", "text")
    val rebuilt = Dedup.rebuildWinnowIndexIfDrifted(
      docs.select(col("doc_id"), col("text")).unionByName(shifted),
      shifted, spark0, idx, "doc_id", "text", maxNoveltyPpm = 100000L)
    graft.operators.Caches.release()
    assert(rebuilt, "a planted template family must trip the rebuild")
    // rebuilt index now covers the shifted family: quiet again
    val after = Dedup.winnowIndexNoveltyPpm(shifted, spark0, idx,
      "doc_id", "text")
    graft.operators.Caches.release()
    assert(after === 0L)
  }

  test("incremental winnowing replay does not double-count the batch into the maxDf guard") {
    // the at-least-once hazard in its sharpest form: a fingerprint
    // shared by exactly maxDf docs sits ON the guard boundary — if a
    // replayed batch's own stored rows are counted a second time,
    // __df crosses maxDf and the suspect pairs silently vanish
    val run = "r1 r2 r3 r4 r5"
    val corpus = Seq((1L, s"u1a u1b $run v1a"), (2L, s"u2a u2b $run v2a"))
      .toDF("doc_id", "text")
    val batch = Seq((3L, s"u3a u3b $run v3a")).toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("graft_wrp").toString
    val idx = s"$dir/fps"
    Dedup.writeWinnowIndex(corpus, "doc_id", "text", idx, k = 3, w = 3)
    // batch folded in BEFORE the screen replays (commit was lost)
    Dedup.appendToWinnowIndex(batch, spark, idx, "doc_id", "text",
      k = 3, w = 3)
    val pairs = Dedup.incrementalWinnowPairs(batch, spark, idx,
        "doc_id", "text", k = 3, w = 3, minShared = 1, maxDf = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    graft.operators.Caches.release()
    assert(pairs === Seq((1L, 3L), (2L, 3L)),
      "replayed batch rows must not inflate __df past the guard")
  }

  test("Caches.checkpoint routes through RELIABLE checkpoints when a checkpointDir is set (containmentPairs parity)") {
    import graft.operators.Caches
    val base = "alpha bravo charlie delta echo foxtrot golf hotel india juliet"
    val long = base + " kilo lima mike november oscar papa quebec romeo" +
      " sierra tango uniform victor whiskey xray yankee zulu aa bb cc dd"
    val df = Seq((1L, base), (2L, long),
      (3L, "totally unrelated words about something else entirely happening"))
      .toDF("doc_id", "text")
    val localPairs = Dedup.containmentPairs(df, "doc_id", "text",
        ngram = 3, threshold = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    Caches.release()
    val dir = java.nio.file.Files.createTempDirectory("graft_ckpt").toString
    spark.sparkContext.setCheckpointDir(dir)
    try {
      Caches.release()
      val before = Caches.trackedCount
      // reliable mode: identical results, and the truncations pin NO
      // executor blocks (nothing new tracked for release)
      val reliablePairs = Dedup.containmentPairs(df, "doc_id", "text",
          ngram = 3, threshold = 0.9)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(reliablePairs === localPairs)
      assert(Caches.trackedCount == before + 1, // the persisted `sets` only
        "reliable checkpoints must not add tracked executor blocks")
      // checkpoint files actually landed in the configured dir
      val wrote = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
        .filter(p => java.nio.file.Files.isRegularFile(p)).count()
      assert(wrote > 0, "reliable checkpoint must write files under the dir")
      // dedupClusters picks the same global switch up without its param
      val labels = Dedup.dedupClusters(
        Seq((1L, 2L), (2L, 3L)).toDF("doc_a", "doc_b"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(labels === Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
    } finally {
      spark.sparkContext.setCheckpointDir(null)
      Caches.release()
    }
  }
}
