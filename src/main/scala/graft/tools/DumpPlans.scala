package graft.tools

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** Regenerates PLANS.md: the EXECUTED physical plans of the headline
  * queries, committed as evidence for the scale claims in SCALE.md.
  * usage: runMain graft.tools.DumpPlans [sfDir]
  */
object DumpPlans {
  val headline: Seq[(String, String)] = Seq(
    "q1_pricing_summary" -> "scan→filter→partial agg→final agg; pushdown + pruning + whole-stage codegen",
    "q3_top_orders" -> "filtered dims broadcast; fact never shuffled for the join",
    "q5_nation_revenue" -> "star join: small dims broadcast, fact spine sort-merge",
    "q_topk_agg" -> "native bounded top-k aggregate: k-heap partial agg map-side",
    "q_sort_limit" -> "TakeOrderedAndProject — per-partition top-k, no global sort",
    "q_bloom_join" -> "might_contain prune BELOW the probe shuffle",
    "q_decontaminate" -> "eval grams broadcast; train grams unshuffled until matched",
    "q_asof_native" -> "custom AsOfJoinExec: one shuffle+sort per side, O(1) merge",
    "q_cms_heavy" -> "CMS estimate filter below the exact-count exchange",
    "q_window_ntile" -> "four window functions, one shared exchange",
    "q_scd2_join" -> "SCD2 via as-of: no BETWEEN join blow-up",
    "q_dedup_minhash" -> "hot-bucket guard as bounded bottom_k_longs aggregate: no rank window, core pairs row-local, star probe broadcast to overflow buckets only",
    "q_sql_dedup" -> "the same guard shape produced from pure SQL text (bounded aggregate, work capped — not just output)",
    "q_source_overlap_sketch" -> "KMV sketches: bounded distinct aggregate straight off the scan; no corpus distinct, no gram self-join",
    "q_containment" -> "prefix-filtered exact containment join: no rank window; scoring count above the broadcast candidate semi-join",
    "q_fuzzy_match" -> "composed (length-band, q-gram) block key; equi-join, thresholded levenshtein rescore",
    "q_exact_substring" -> "first-occurrence span ownership: vocabulary-keyed joins pinned to ShuffledHashJoin (the round-6 rule — a vocabulary relation is never broadcast), covered-position shuffle ∝ removed volume",
    "q_pagerank" -> "integer PageRank final round: co-partitioned rank⋈edge join + map-side partial SUM by dst; edge layout reused",
    "q_bm25" -> "BM25 retrieval: query terms broadcast into the postings pass, row-local integer scoring, per-query bounded top-k via the LONG-keyed heap aggregate (exact past 2^53) — no rank window, no sort-merge, corpus never shuffles for the match",
    "q_pagerank_redistribute" -> "dangling-redistribute PageRank final round: the round's dangling mass is a ONE-ROW broadcast (nested-loop against the scalar), added map-side to every node — never a per-node join against the dangling set",
    "q_sql_bm25" -> "the BM25 SQL twin: the registered top_k_by_long_score native aggregate in pure SQL text — same long bounded heap, no double cast, no window",
    "q_corpus_pipeline_v3" -> "five-stage curation composition with LINEAGE TRUNCATION at the keeper boundary: the dedup/split tail plans against Scan ExistingRDD leaves (localCheckpoint), not the re-optimized gopher→cap→scrub→mix tree",
    "q_hybrid_retrieval_indexed" -> "stored-index hybrid retrieval: one postings read + one int8 index scan (no documents/embeddings scan anywhere), RRF fusion and both top-k passes as long bounded heaps",
    "q_decontaminate_blocked" -> "cluster-blocked semantic decontamination: eval multi-probe centroid assignment (zero-shuffle, codebook literal), corpus meets eval on the cluster equi-key — no corpus×eval cross join",
    "q_knn_join" -> "per-document kNN join: banded-LSH candidates with the hot-bucket guard, directed scoring rides the band co-location, per-doc top-k as the bounded heap — never an all-pairs join or a per-doc window over the corpus",
    "q_sql_hybrid" -> "the whole hybrid composition from pure SQL text: three registered heap aggregates (long BM25, double cosine, long RRF), zero windows",
    "q_distill_quality" -> "in-engine model training: per-iteration margin scan with the weight vector as a codegen literal (zero shuffle), mislabeled fold as one token-bucket aggregation — only the dim-long weights reach the driver",
    "q_training_shards" -> "training-shard layout: tokenize-at-scan, ONE hash exchange on the epoch-stable shard key, per-shard spillable sort for the epoch permutation — the same physical work the shard writer does, no second shuffle for the rank",
    "q_contrastive_pairs" -> "contrastive triplets through the STORED kNN graph: positives are a pruned rank-1 index read (the banded-LSH pipeline no longer appears in the plan), negatives a broadcast join against the 64-row bucket-representative table",
    "q_incremental_knn" -> "incremental kNN join: band keys for the batch only, stored postings pruned by a broadcast semi-join on touched buckets, candidate corpus vectors fetched by id, per-batch-doc bounded heap — the corpus is never re-keyed",
    "q_sql_hybrid_indexed" -> "the production hybrid from pure SQL text: parquet-path reads of the stored postings + int8 index (zero corpus scans), three registered heap aggregates, zero windows",
    "q_dataset_card" -> "per-source dataset card: tokens/quality/content-hash in one map-side pass, duplicate detection as a 128-bit hash-keyed count, language rollup to a sources×langs relation — report-sized output, integer rates",
    "q_drop_attribution" -> "per-doc first-failure stage attribution over the v3 doc-dropping stages: scan-speed rule pass, bounded-heap cap (no window anywhere), cap-bounded scrub+mix tail, three doc_id hash joins back to the input",
    "q_card_incremental" -> "the dataset card assembled from the STORED additive partials: no documents scan in the plan — sources×batches stats/lang reads plus one hash-count aggregate for the corpus-wide dup rule",
    "q_quality_calibrated" -> "per-source quantile calibration: one scoring scan (persisted, two consumers), cumulative window over the BOUNDED (source, avg_q) histogram — never the corpus — and a broadcast decision join back",
    "q_corpus_pipeline_v4" -> "the round-10 selection stack composed: gopher scan, histogram calibration, soft dedup over the calibrated set (bounded-heap LSH guard), sqrt-temperature budget, curriculum shard layout — budget/layout tail plans against the checkpoint leaf",
    "q_sample_stratified" -> "per-stratum exact-n sampling as ONE bounded heap aggregate (negated 48-bit md5 prefix as the long score): map-side partial heaps ship <= n rows per stratum per map task — no rank window, no per-stratum scan, no retry loop",
    "q_memorization_risk" -> "singleton-gram memorization audit: gram occurrence count + MIN(doc) ownership in one map-side-combined pass (for cnt=1 the MIN is the owner — no join back to positions), owner rollup shuffles one long per singleton, doc-table-sized final join",
    "q_memorization_incremental" -> "the same audit off the STORED per-batch gram partials: no documents scan in the plan — counts sum across batches at read (retroactive risk), stats rollup is doc-table-sized",
    "q_topic_mix" -> "semantic-axis temperature mix: cluster assignments are a stored-index read (no embeddings scan, no re-cluster), per-cluster sqrt cuts broadcast back onto the token counts — the corpus never shuffles",
    "q_corpus_pipeline_v5" -> "the v5 release chain: gopher scan, eval-gram broadcast decontamination BEFORE calibration, histogram calibration, soft dedup, fertility-denominated language budget (integer cost, broadcast cuts), curriculum layout against the checkpoint leaf",
    "q_cms_heavy_indexed" -> "heavy hitters off the STORED Count-Min index: summed cell partials + candidate union only — no documents scan anywhere; the top-k over the bounded candidate set is a TakeOrderedAndProject, never a global sort",
    "q_dsir_indexed" -> "DSIR selection through the stored profile: ONE tokenize/gram scan (the ad-hoc form plans two — the profile subtree is replaced by a kilobyte partial read), ≤buckets-row weight table broadcast, top-n as the long bounded heap",
    "q_sql_dsir" -> "the DSIR selector from pure SQL text: same md5 bucket arithmetic, registered top_k_by_long_score — no window, bit-identical to the Column-API form",
    "q_winnow_pairs" -> "winnowing copy detection: tokens materialized BEFORE the n-gram lambda (inlining re-runs the tokenizer per element_at — the measured 4x lesson), per-DOC window minima (the document is the sort unit), maxDf anti-join guard, fingerprint equi-join",
    "q_winnow_incremental" -> "incremental winnowing: batch fingerprints only; the stored index enters through an fp-semi-join prune — the corpus is never re-fingerprinted; union-df guard, countDistinct pair scoring",
    "q_ann_hamming" -> "binary sign-code ANN: 64 dims packed to two 32-bit halves at scan, XOR+popcount distance in whole-stage codegen, per-probe top-k as the long bounded heap on negated distance — no window, nothing corpus-sized sorts",
    "q_ann_hamming_rerank" -> "Hamming shortlist + quantized-cosine rerank: the float column is reached ONLY through the shortlist id join (probes x 80 rows); both rank passes are bounded heaps",
    "q_corpus_targeted" -> "the targeted release composed: DSIR two-scan selection, winnowing restricted to the 100-doc selection (persisted — fingerprint+guard run once), md5 shard layout of the survivors; per-doc windows only, every join on the selection side broadcast-sized",
    "q_cdc_dedup" -> "content-defined chunking: per-position window-md5 cut predicate in codegen (embarrassingly parallel), per-DOC minLen run collapse (lag + running sum — the degenerate-repeated-pattern guard, partitioned by the blob), per-BLOB boundary aggregate, row-local chunk hashing — the distinct-chunk rollup is the only corpus-shaped shuffle",
    "q_cdc_incremental" -> "dedup-on-arrival: the batch chunks fresh; the stored chunk store enters ONLY through a batch-hash-pruned semi-join — the corpus is never re-chunked; novelty is a set anti-join, order-free",
    "q_cdc_dedup_fast" -> "the production CDC path: xxhash64 window predicate + chunk ids (one codegen'd 64-bit mix per position vs md5's digest + hex decode), same collapse/boundary/rollup shape as the md5 twin",
    "q_ann_hamming_indexed" -> "the binary rung through the STORED code table: NO embeddings scan anywhere in the plan (pinned) — the corpus streams past as the 32x-smaller (vec_id, bits) parquet; shared tail with the ad-hoc form, bounded heap on negated distance",
    "q_ann_hamming_rerank_indexed" -> "stored-shortlist Hamming + quantized-cosine rerank: codes from the index, the float column reached only through the (probes x 80)-row shortlist id join — the advertised cost model, now the executed plan",
    "q_dsir_external" -> "two-relation DSIR: corpus and target bucket profiles (≤buckets rows each, map-side combined) full-joined into the weight table, broadcast back onto one corpus gram scan, top-n as the long bounded heap",
    "q_corpus_pipeline_v6" -> "the media-aware release chain: v4's selection stack + per-doc CDC redundancy (hash-keyed count join, payload bytes never shuffle) as a keep predicate between soft dedup and the budget; budget/layout tail against the checkpoint leaf",
    "q_media_redundancy_indexed" -> "per-doc media redundancy off the STORED chunk manifest: no document payload scanned or chunked (pinned) — batch fact partials union at read, hash-keyed count + join back, doc rollup",
    "q_image_neardup" -> "image near-dup pairs: partition-batched PNG decode to 8-byte aHash codes (pixels never shuffle), 4x16-bit pigeonhole chunk equi-join with the hot-bucket cap, Hamming rescore on the cached code table — never all-pairs",
    "q_cdc_dedup_rolling" -> "rolling-hash CDC (buzhash): ONE streaming pass per blob inside the scan task (O(1) per byte at any window width — the substring twins pay O(w)), chunk ids hashed before any exchange, distinct rollup is the only corpus-shaped shuffle",
    "q_cdc_incremental_fast" -> "dedup-on-arrival on the xxhash64 production store: batch chunks fresh with the one-mix predicate, store probed via the batch-hash-pruned semi-join, order-free novelty anti-join",
    "q_audio_fingerprint" -> "perceptual audio fingerprint: row-local PCM16 window fan-out (no shuffle), per-DOC lead window over integer energies (the document is the sort unit), 60 energy-derivative sign bits packed by one bounded rollup",
    "q_stream_ingest_cdc" -> "the CDC ingest loop's audit read: batch-partitioned arrival audits (report-sized), each written from ONE persisted chunk table feeding both the novelty anti-join and the store fold",
    "q_corpus_pipeline_v7" -> "the multimodal-dedup release: v6's chain + image perceptual dedup between the media filter and the budget — codes from the stored index (no decode at query time), pairs restricted to survivors on both sides, label propagation against checkpoint leaves",
    "q_video_neardup" -> "video near-dup by frame-set containment: fixed 32-byte frames md5'd row-locally (payload bytes never reach an exchange), maxDf boilerplate-frame anti-join, shared-frame equi-join with per-pair counts, asymmetric containment vs the smaller frame set — the winnow/containment shuffle shape, never all-pairs",
    "q_video_neardup_indexed" -> "the same containment off the STORED frame table: no document payload framed or hashed anywhere in the plan (pinned) — the corpus enters as (doc_id, fh) parquet rows; df/size statistics computed at query time from the stored rows, so the shared containment tail is bit-identical to the ad-hoc form",
    "q_media_card" -> "the per-modality release card off the four stored artifacts: manifest hash-count rollup (modality-blind blob-store stance), three pair searches off stored codes/frames (image restricted to its modality at read), three label propagations against checkpoint leaves, one-row aggregates broadcast-assembled — no documents scan anywhere (pinned)")

  /** Plans not reachable through SparkEntry.queries (property-oracle
    * wrappers return literal rows; the interesting plan is the
    * operator underneath). */
  val custom: Seq[(String, String,
      (SparkSession, String) => org.apache.spark.sql.DataFrame)] = Seq(
    ("ivfpq_probe",
      "IVF-PQ probe: __cid PartitionFilters (directory pruning) over a codes-only ReadSchema (16x fewer bytes); ADC LUT literal in codegen; bounded shortlist then broadcast-semi-join exact rerank",
      (s, dir) => graft.operators.Similarity.ivfPqTopKIndexed(s,
        graft.queries.Q.t(s, dir, "embeddings"), "vec_id", "embedding",
        graft.io.IndexPaths.indexPath("ivfpq", s"$dir/embeddings.parquet",
          "c16m16k16"),
        probeId = 0L, k = 10, nProbe = 8)),
    ("kmeans_assign",
      "fixed-point k-means final assignment (the kmeansWriteIndex build step; q_kmeans itself reads the stored index): zero-shuffle scan, codebook as codegen literal — no join, no exchange before the result",
      (s, dir) => graft.operators.Similarity.kmeansFixedPoint(
        graft.queries.Q.t(s, dir, "embeddings"), "vec_id", "embedding",
        k = 8, iters = 2)._1),
    ("ann_batch_eval",
      "one-scan probe-set exact top-k (the q_ann_recall building block): probe rows broadcast into a nested-loop join, per-probe bounded TopKByScore partial-aggregated map-side — no probe-partitioned window, no per-probe scan",
      (s, dir) => graft.operators.Similarity.bruteForceTopKBatch(
        graft.queries.Q.t(s, dir, "embeddings"), "vec_id", "embedding",
        Seq(0L, 7L, 19L), 10)))

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.001"
    val spark = LocalSession(8)
    val sb = new StringBuilder
    sb.append("# PLANS — executed physical plans of the headline queries\n\n")
    sb.append(s"Regenerate with `sbt \"runMain graft.tools.DumpPlans\"` ($sfDir,\n")
    sb.append("AQE final plans after execution). Evidence for SCALE.md's claims.\n")
    val all = headline.map { case (name, why) =>
      (name, why, (s: SparkSession, d: String) =>
        graft.SparkEntry.queries(name)(s, d))
    } ++ custom
    all.foreach { case (name, why, fn) =>
      val df = fn(spark, sfDir)
      df.collect() // materialize so AQE settles on the final plan
      sb.append(s"\n## $name\n\n_${why}_\n\n```\n")
      sb.append(df.queryExecution.executedPlan.toString.take(6000))
      sb.append("```\n")
      spark.catalog.clearCache()
      graft.operators.Caches.release()
    }
    Files.writeString(Paths.get("PLANS.md"), sb.toString)
    println(s"wrote PLANS.md (${all.size} plans)")
    spark.stop()
  }
}
