package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode,
  StatefulProcessor, TTLConfig, TimeMode, TimerValues, ValueState}

/** Structured Streaming surface over the `events` stream.
  *
  * The reference is batch-only (SURVEY §2 Part B "Streaming: absent" —
  * its 2 s polling loops at mpMaster/master.go:91-107 are control-plane,
  * not data-plane), so these are engine-adds: the streaming shapes a
  * training-data pipeline needs, built on watermarks + windowed
  * aggregation + mapGroupsWithState. Every transform here is also
  * runnable in batch mode (same DataFrame code path), which is how the
  * oracle checks them: `session_window`/`window` are batch-evaluable, so
  * the batch result over the full events table equals the streaming
  * result after all data is processed (append mode, watermark passed).
  *
  * Scale notes: state store size is bounded by the watermark (late rows
  * beyond it are dropped and their state evicted); keys are
  * hash-partitioned so state shards across executors; there is exactly
  * one shuffle per stateful stage.
  */
object Streams {

  /** Tumbling-window event counts per event_type with a watermark.
    * Streaming: append-mode windowed agg; batch: plain window agg. */
  def windowedTypeCounts(events: DataFrame, windowDur: String = "1 hour",
      watermark: String = "10 minutes"): DataFrame = {
    val src =
      if (events.isStreaming) events.withWatermark("ts", watermark) else events
    src.groupBy(window(col("ts"), windowDur).as("w"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        round(sum(col("value").cast("decimal(14,6)")), 4).cast("double").as("sum_value"))
      .select(col("w.start").as("w_start"), col("w.end").as("w_end"),
        col("event_type"), col("n_events"), col("sum_value"))
  }

  /** Gap-based session windows per user via the native `session_window`
    * operator (merging windows in streaming; batch-evaluable too). */
  def sessionWindowStats(events: DataFrame, gap: String = "30 minutes",
      watermark: String = "10 minutes"): DataFrame = {
    val src =
      if (events.isStreaming) events.withWatermark("ts", watermark) else events
    src.groupBy(session_window(col("ts"), gap).as("sw"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), col("sw.start").as("s_start"),
        col("sw.end").as("s_end"), col("n_events"))
  }

  /** Streaming deduplication: distinct (user_id, event_type) pairs. In
    * streaming, `dropDuplicatesWithinWatermark` bounds state by the
    * watermark (a key's state is evicted once it can no longer recur);
    * in batch the same call degenerates to distinct-by-keys. Output is
    * projected to the keys so batch (arbitrary survivor row) and
    * streaming (first-seen survivor) agree exactly. */
  def dedupEvents(events: DataFrame, watermark: String = "10 minutes"): DataFrame = {
    val keys = Seq("user_id", "event_type")
    if (events.isStreaming)
      events.withWatermark("ts", watermark)
        .dropDuplicatesWithinWatermark(keys)
        .select(col("user_id"), col("event_type"))
    else
      events.select(col("user_id"), col("event_type")).distinct()
  }

  /** Stream-stream interval join: purchases within `windowMinutes`
    * after a click by the same user. In streaming both sides carry
    * watermarks and the time-range condition bounds the join state
    * (rows age out once the watermark passes click_ts + window); in
    * batch the identical plan is a plain range-condition equi-join on
    * user_id. One shuffle per side. */
  def clickPurchaseJoin(events: DataFrame, windowMinutes: Int = 30,
      watermark: String = "10 minutes", joinType: String = "inner"): DataFrame = {
    val src = if (events.isStreaming) events.withWatermark("ts", watermark)
              else events
    val clicks = src.where(col("event_type") === "click")
      .select(col("user_id"), col("ts").as("click_ts"),
        col("event_id").as("click_id"))
    val purchases = src.where(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("p_ts"),
        col("event_id").as("p_id"), col("value"))
    clicks.join(purchases,
      col("user_id") === col("p_user") &&
        col("p_ts") >= col("click_ts") &&
        col("p_ts") < col("click_ts") + expr(s"INTERVAL $windowMinutes MINUTES"),
      joinType)
      .select(col("user_id"), col("click_id"), col("p_id"), col("value"))
  }

  /** LEFT OUTER stream-stream join: every click, with its matching
    * purchase or NULLs. In streaming the unmatched side is emitted only
    * once the watermark proves no match can still arrive (click_ts +
    * window < watermark) — the state-bounded outer join; in batch the
    * identical plan is a plain left join. The inner variant is
    * [[clickPurchaseJoin]]. */
  def clickPurchaseLeftJoin(events: DataFrame, windowMinutes: Int = 30,
      watermark: String = "10 minutes"): DataFrame =
    clickPurchaseJoin(events, windowMinutes, watermark, "left_outer")

  /** Stream-static enrichment: events joined to a STATIC dimension
    * (user → market segment), then watermarked tumbling-window counts
    * per segment. The static side needs no watermark and holds no join
    * state — the planner broadcasts it into every micro-batch, so this
    * is the canonical "enrich the stream with reference data" shape;
    * state is only the windowed aggregate, evicted by the watermark.
    * In batch the identical plan is broadcast-join + group-by. */
  def enrichedSegmentCounts(events: DataFrame, dim: DataFrame,
      windowDur: String = "6 hours", watermark: String = "10 minutes"): DataFrame = {
    val src = if (events.isStreaming) events.withWatermark("ts", watermark)
              else events
    val seg = dim.select(col("c_custkey").as("user_id"), col("c_mktsegment"))
    src.join(broadcast(seg), Seq("user_id"))
      .groupBy(window(col("ts"), windowDur), col("c_mktsegment"))
      .agg(count(lit(1)).as("n_events"),
        sum(floor(col("value") * 1000).cast("long")).as("sum_q"))
      .select(col("window.start").as("w_start"), col("window.end").as("w_end"),
        col("c_mktsegment"), col("n_events"), col("sum_q"))
  }

  case class Ev(user_id: Long, ts: java.sql.Timestamp, event_type: String,
      value: Double)
  case class SessState(lastTsMicros: Long, sessions: Long, events: Long)
  case class UserSessions(user_id: Long, n_sessions: Long, n_events: Long)

  /** Custom stateful sessionization via flatMapGroupsWithState: per-user
    * running (session count, event count) with the same gap semantics as
    * [[graft.operators.Relational.sessionCounts]]. Demonstrates the
    * arbitrary-state API the reference's Reduce contract generalizes to.
    *
    * State is one tiny record per user and — because the output is a
    * CUMULATIVE total over the whole stream — it is intentionally kept
    * for the stream lifetime (NoTimeout): evicting an idle user would
    * reset their counts. Bounded-state sessionization with event-time
    * eviction is [[statefulSessionize]], which emits completed sessions
    * instead of running totals. The group iterator is buffered+sorted
    * per batch (groups are per-user, small); within-stream ordering
    * across batches must be by event time (no late data past a batch). */
  def statefulSessionCounts(events: Dataset[Ev], gapSeconds: Long)
      : Dataset[UserSessions] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[SessState, UserSessions](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (uid, it, state: GroupState[SessState]) =>
        val sorted = it.toSeq.sortBy(e => (e.ts.getTime, e.value))
        var st = state.getOption.getOrElse(SessState(Long.MinValue, 0L, 0L))
        sorted.foreach { e =>
          val tsMicros = e.ts.getTime * 1000L
          val newSession =
            st.lastTsMicros == Long.MinValue ||
              tsMicros - st.lastTsMicros > gapSeconds * 1000000L
          st = SessState(tsMicros,
            st.sessions + (if (newSession) 1L else 0L), st.events + 1L)
        }
        state.update(st)
        Iterator.single(UserSessions(uid, st.sessions, st.events))
      }
  }

  case class UserTotals(user_id: Long, n_events: Long, sum_q: Long)

  /** transformWithState processor (the arbitrary-state v2 API): per-user
    * running (event count, fixed-point value sum) in ONE typed
    * ValueState record. The v2 API gives composable named state
    * (value/list/map), TTL, and timers; state lives in the store
    * (RocksDB in streaming), not the group iterator. */
  class RunningTotalsProcessor extends StatefulProcessor[Long, Ev, UserTotals] {
    @transient private var totals: ValueState[(Long, Long)] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      totals = getHandle.getValueState[(Long, Long)]("totals",
        Encoders.product[(Long, Long)], TTLConfig.NONE)

    override def handleInputRows(key: Long, rows: Iterator[Ev],
        timers: TimerValues): Iterator[UserTotals] = {
      var (n, sq) = if (totals.exists()) totals.get() else (0L, 0L)
      rows.foreach { e =>
        n += 1L
        sq += math.floor(e.value * 1000.0).toLong
      }
      totals.update((n, sq))
      Iterator.single(UserTotals(key, n, sq))
    }
  }

  /** Per-user running totals via `transformWithState`. Update mode:
    * one row per user per batch; the final row per user equals the
    * batch groupBy aggregate (the oracle check). The operator requires
    * the RocksDB state store provider in BOTH batch and streaming —
    * set here so any session can run it. */
  def twsRunningTotals(events: Dataset[Ev]): Dataset[UserTotals] = {
    import events.sparkSession.implicits._
    events.sparkSession.conf.set(
      "spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    // batch execution looks the coordinator endpoint up but only
    // streaming queries create it — init explicitly for batch sessions
    org.apache.spark.sql.graft.shim.ensureStateStoreCoordinator(events.sparkSession)
    events.groupByKey(_.user_id)
      .transformWithState(new RunningTotalsProcessor,
        TimeMode.None(), OutputMode.Update())
  }

  case class EvV(user_id: Long, event_id: Long, value: Double)
  case class UserTopV(user_id: Long, n_seen: Long, rk: Long, vq: Long,
      event_id: Long)

  /** transformWithState processor using COMPOSABLE named state — a
    * bounded ListState (the current top-k (value, id) pairs) plus a
    * ValueState counter — the v2-API shape for "keep the best k per
    * key forever" (leaderboards, best-examples-per-class mining).
    * State is O(k) per key regardless of stream length; emissions
    * carry n_seen so downstream can identify each key's final rows. */
  class TopKValuesProcessor(k: Int) extends StatefulProcessor[Long, EvV, UserTopV] {
    @transient private var top: org.apache.spark.sql.streaming.ListState[(Long, Long)] = _
    @transient private var seen: ValueState[Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      top = getHandle.getListState[(Long, Long)]("top",
        Encoders.product[(Long, Long)], TTLConfig.NONE)
      seen = getHandle.getValueState[Long]("seen", Encoders.scalaLong, TTLConfig.NONE)
    }

    override def handleInputRows(key: Long, rows: Iterator[EvV],
        timers: TimerValues): Iterator[UserTopV] = {
      val buf = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
      top.get().foreach(buf += _)
      var n = if (seen.exists()) seen.get() else 0L
      rows.foreach { e =>
        buf += ((math.floor(e.value * 1000.0).toLong, e.event_id))
        n += 1L
      }
      // rank: value desc, event_id asc — deterministic under ties
      val kept = buf.sortBy(t => (-t._1, t._2)).take(k)
      top.put(kept.toArray)
      seen.update(n)
      kept.iterator.zipWithIndex.map { case ((vq, id), i) =>
        UserTopV(key, n, i + 1L, vq, id)
      }
    }
  }

  /** Per-user all-time top-k event values via `transformWithState`
    * (ListState + ValueState). Batch mode: one pass, final top-k —
    * equals the window row_number idiom (the oracle). */
  def twsTopKValues(events: Dataset[EvV], k: Int = 3): Dataset[UserTopV] = {
    import events.sparkSession.implicits._
    events.sparkSession.conf.set(
      "spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    org.apache.spark.sql.graft.shim.ensureStateStoreCoordinator(events.sparkSession)
    events.groupByKey(_.user_id)
      .transformWithState(new TopKValuesProcessor(k),
        TimeMode.None(), OutputMode.Update())
  }

  /** The one `foreachBatch` loop behind every stream sink here. Each
    * micro-batch first rolls forward an interrupted compaction swap on
    * every `recover` path ([[graft.io.Compaction.recover]]) — a crash
    * between a committed swap and its rename would otherwise let this
    * batch's corpus/index reads miss the data. The roll-forward is
    * UNCONDITIONAL (not gated on a stream's `compactEvery`): a stream
    * that previously ran WITH compaction and crashed mid-swap must
    * still heal when restarted with compaction off, and recover is a
    * cheap existence check when no swap is pending. Then
    * `body(batch, batchId)` runs. */
  private def batchLoop(in: DataFrame, checkpoint: String,
      recover: Seq[String] = Nil)(body: (DataFrame, Long) => Unit)
      : org.apache.spark.sql.streaming.StreamingQuery =
    in.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        recover.foreach(graft.io.Compaction.recover(batch.sparkSession, _))
        body(batch, id)
      }
      .outputMode("append")
      .start()

  /** foreachBatch sink with per-batch-directory overwrite: each micro
    * batch lands in `<path>/batch=<id>` with Overwrite mode, so a batch
    * REPLAYED after a failure/restart overwrites its own directory
    * instead of duplicating rows — the idempotent-sink pattern for
    * targets without transactional appends (plain parquet here; the
    * same shape drives MERGE upserts on transactional stores). */
  def foreachBatchParquetSink(df: DataFrame, path: String, checkpoint: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    batchLoop(df, checkpoint) { (batch, id) =>
      batch.write.mode("overwrite").parquet(s"$path/batch=$id")
    }

  /** The STREAMING form of the production ingest-dedup loop: each
    * micro-batch of arriving documents is deduped against everything
    * admitted before it ([[graft.operators.Dedup.ingestDedupBatch]] —
    * incremental pairs through the stored band index, first-keeper
    * admission), the keepers land in `<admittedRoot>/batch=<id>`, and
    * their signatures are folded into the index so the NEXT batch
    * dedups against them. This closes ingest → dedup-vs-index → admit
    * → index += batch as one running query.
    *
    * Differs from [[nearDupPairsStream]] in kind: that emits the PAIR
    * stream (observability); this maintains the admitted CORPUS and
    * its index (the curation decision), with per-batch-directory
    * overwrite + forced lineage giving an exactly-once admitted table
    * and an at-least-once index append (contract detailed on
    * [[graft.operators.Dedup.ingestDedupBatch]]). State lives entirely
    * ON DISK in the index — no state store, so there is nothing to
    * TTL: corpus growth is the product (an admitted corpus), not an
    * operational liability, and retention is a policy on the admitted
    * directory plus an offline index rebuild.
    *
    * `compactEvery` (0 = off) folds the accreted artifacts every N
    * batches IN the loop — [[graft.operators.Dedup.compactAdmitted]]
    * on the admitted corpus (newest batch dir kept out, so the replay
    * contract survives) and
    * [[graft.operators.Dedup.compactBandIndex]] on the index — so a
    * long-running ingest's file count tracks DATA, not batch history,
    * without an operator remembering to run maintenance. The swaps run
    * between batches (foreachBatch is serial — the loop is quiesced by
    * construction), and a torn swap from a crash is rolled forward
    * before the next batch reads. */
  def ingestDedupStream(docs: DataFrame, indexPath: String,
      admittedRoot: String, checkpoint: String, idCol: String = "doc_id",
      textCol: String = "text", ngram: Int = 3, numHashes: Int = 64,
      bands: Int = 16, threshold: Double = 0.8, maxBucket: Int = 64,
      compactEvery: Int = 0)
      : org.apache.spark.sql.streaming.StreamingQuery =
    batchLoop(docs, checkpoint,
        Seq(s"$admittedRoot/batch=-1", indexPath)) { (batch, id) =>
      val spark = batch.sparkSession
      graft.operators.Dedup.ingestDedupBatch(batch, id, indexPath,
        admittedRoot, idCol, textCol, ngram, numHashes, bands, threshold,
        maxBucket)
      if (compactEvery > 0 && (id + 1) % compactEvery == 0) {
        graft.operators.Dedup.compactAdmitted(spark, admittedRoot)
        graft.operators.Dedup.compactBandIndex(spark, indexPath)
      }
    }

  /** The streaming CONTAINMENT ingest loop —
    * [[ingestDedupStream]]'s admission driven by the asymmetric-overlap
    * join ([[graft.operators.Dedup.ingestContainmentBatch]]): each
    * micro-batch is matched against the admitted corpus through the
    * stored postings index (boilerplate/quotation duplicates the
    * Jaccard loop misses), keepers land in `<admittedRoot>/batch=<id>`,
    * and their postings fold into the index for the next batch.
    * Exactly-once admitted table, idempotent index fold (anti-joined on
    * stored doc_ids); state lives on disk in the index — nothing to
    * TTL. `compactEvery` (0 = off): every N batches, fold the admitted
    * batch dirs ([[graft.operators.Dedup.compactAdmitted]]) and both
    * index tables ([[graft.operators.Dedup.compactContainmentIndex]])
    * in the loop — same contract as [[ingestDedupStream]].
    * `checkDriftEvery` (0 = off): every N batches, total the
    * gram-frequency drift of the ARRIVING batch against the stored
    * postings BEFORE the batch folds in (check-before-fold, like
    * [[ingestKmeansStream]] — judging a batch against an index that
    * already contains it dilutes the measured drift by up to half for
    * corpus-sized batches) and REBUILD the index from the admitted
    * corpus iff it exceeds `maxDriftPpm`
    * ([[graft.operators.Dedup.rebuildContainmentIndexIfDrifted]]) —
    * the alarm that was previously an operator's job to watch now
    * closes its own loop, restoring global-df rank order before the
    * appended batch-local ranks degrade candidate selectivity. The
    * check is ∝ batch + gram vocabulary (skipped on the very first
    * batch — no stored index to drift against yet); the rebuild only
    * runs when the alarm fires, and its result is identical to a
    * manual [[graft.operators.Dedup.rebuildContainmentIndex]]. */
  def ingestContainmentStream(docs: DataFrame, indexPath: String,
      admittedRoot: String, checkpoint: String, idCol: String = "doc_id",
      textCol: String = "text", ngram: Int = 3, threshold: Double = 0.8,
      maxDf: Option[Long] = None, compactEvery: Int = 0,
      checkDriftEvery: Int = 0, maxDriftPpm: Long = 400000L,
      driftMinCount: Long = 5L)
      : org.apache.spark.sql.streaming.StreamingQuery =
    batchLoop(docs, checkpoint, Seq(s"$admittedRoot/batch=-1", indexPath,
        indexPath + ".gsets")) { (batch, id) =>
      val spark = batch.sparkSession
      // drift check BEFORE the fold (mirroring ingestKmeansStream's
      // check-before-fold): judging the batch against an index that
      // already contains it dilutes the measured drift by up to half
      // for corpus-sized batches, desensitizing the alarm
      if (checkDriftEvery > 0 && (id + 1) % checkDriftEvery == 0 &&
          !batch.isEmpty &&
          graft.io.IndexPaths.complete(spark, indexPath))
        graft.operators.Dedup.rebuildContainmentIndexIfDrifted(
          spark.read.parquet(admittedRoot)
            .select(col(idCol), col(textCol)),
          batch, indexPath, idCol, textCol, ngram, maxDriftPpm,
          driftMinCount)
      graft.operators.Dedup.ingestContainmentBatch(batch, id, indexPath,
        admittedRoot, idCol, textCol, ngram, threshold, maxDf)
      if (compactEvery > 0 && (id + 1) % compactEvery == 0) {
        graft.operators.Dedup.compactAdmitted(spark, admittedRoot)
        graft.operators.Dedup.compactContainmentIndex(spark, indexPath)
      }
      ()
    }

  /** The streaming EXACT-SUBSTRING scrub loop
    * ([[graft.operators.TextAnalysis.ingestSubstringScrubBatch]] under
    * foreachBatch): each arriving batch loses every span the corpus has
    * ever kept (first-ARRIVAL ownership — admitted text is immutable),
    * scrub results land per batch, novel grams fold into the ownership
    * index. Exactly-once results, idempotent fold (owner-compare replay
    * guard); disk-resident state, nothing to TTL. */
  def ingestSubstringScrubStream(docs: DataFrame, indexPath: String,
      admittedRoot: String, checkpoint: String, idCol: String = "doc_id",
      textCol: String = "text", n: Int = 5, compactEvery: Int = 0)
      : org.apache.spark.sql.streaming.StreamingQuery =
    batchLoop(docs, checkpoint,
        Seq(s"$admittedRoot/batch=-1", indexPath)) { (batch, id) =>
      val spark = batch.sparkSession
      graft.operators.TextAnalysis.ingestSubstringScrubBatch(batch, id,
        indexPath, admittedRoot, idCol, textCol, n)
      if (compactEvery > 0 && (id + 1) % compactEvery == 0) {
        graft.operators.Dedup.compactAdmitted(spark, admittedRoot)
        graft.operators.TextAnalysis.compactSubstringOwnerIndex(spark,
          indexPath)
      }
    }

  /** DRIFT-GATED streaming ingest
    * ([[graft.operators.TextAnalysis.driftGatedIngestBatch]] under
    * foreachBatch): each micro-batch is admitted or quarantined by its
    * term-distribution drift against a curated reference — the feed
    * guard in front of the dedup/curation loops. Deterministic
    * decision + per-batch overwrite → exactly-once on both roots. */
  def driftGatedIngestStream(docs: DataFrame, referenceDocs: DataFrame,
      admittedRoot: String, quarantineRoot: String, checkpoint: String,
      textCol: String = "text", maxDriftPpm: Long = 400000L,
      minCount: Long = 5L)
      : org.apache.spark.sql.streaming.StreamingQuery =
    batchLoop(docs, checkpoint) { (batch, id) =>
      graft.operators.TextAnalysis.driftGatedIngestBatch(batch, id,
        referenceDocs, admittedRoot, quarantineRoot, textCol,
        maxDriftPpm, minCount)
    }

  /** The drift gate composed in FRONT of the streaming dedup loop —
    * the full production ingest as ONE running query
    * ([[graft.operators.Dedup.gatedIngestDedupBatch]] under
    * foreachBatch): each micro-batch is admitted or quarantined by its
    * TV distance against the stored reference counts; admitted batches
    * run the index-backed dedup loop, quarantined ones land whole and
    * never touch the corpus or the index. Deterministic branch per
    * batch → each branch's exactly-once contract is inherited;
    * `compactEvery` folds the admitted/index artifacts as in
    * [[ingestDedupStream]]. */
  def gatedIngestDedupStream(docs: DataFrame,
      referenceCountsPath: String, quarantineRoot: String,
      indexPath: String, admittedRoot: String, checkpoint: String,
      idCol: String = "doc_id", textCol: String = "text",
      maxDriftPpm: Long = 400000L, minCount: Long = 5L, ngram: Int = 3,
      numHashes: Int = 64, bands: Int = 16, threshold: Double = 0.8,
      maxBucket: Int = 64, compactEvery: Int = 0)
      : org.apache.spark.sql.streaming.StreamingQuery =
    batchLoop(docs, checkpoint,
        Seq(s"$admittedRoot/batch=-1", indexPath)) { (batch, id) =>
      val spark = batch.sparkSession
      graft.operators.Dedup.gatedIngestDedupBatch(batch, id,
        referenceCountsPath, quarantineRoot, indexPath, admittedRoot,
        idCol, textCol, maxDriftPpm, minCount, ngram, numHashes,
        bands, threshold, maxBucket)
      if (compactEvery > 0 && (id + 1) % compactEvery == 0) {
        graft.operators.Dedup.compactAdmitted(spark, admittedRoot)
        graft.operators.Dedup.compactBandIndex(spark, indexPath)
      }
    }

  /** [[driftGatedIngestStream]] against a STORED reference-counts
    * table ([[graft.operators.TextAnalysis.writeReferenceCounts]] —
    * built once, offline): the production form, whose per-batch cost
    * is ∝ batch + vocabulary instead of re-scanning the reference
    * corpus every micro-batch. Decisions bit-identical to the
    * recompute form; same exactly-once contract on both roots. */
  def driftGatedIngestStreamStored(docs: DataFrame,
      referenceCountsPath: String, admittedRoot: String,
      quarantineRoot: String, checkpoint: String,
      textCol: String = "text", maxDriftPpm: Long = 400000L,
      minCount: Long = 5L)
      : org.apache.spark.sql.streaming.StreamingQuery =
    batchLoop(docs, checkpoint) { (batch, id) =>
      graft.operators.TextAnalysis.driftGatedIngestBatchStored(batch,
        id, referenceCountsPath, admittedRoot, quarantineRoot,
        textCol, maxDriftPpm, minCount)
    }

  /** Streaming ANN-index maintenance — the embedding-side counterpart
    * of [[ingestDedupStream]]: each micro-batch of arriving embeddings
    * is folded into the stored IVF index
    * ([[graft.operators.Similarity.appendToIvfIndex]] — assignment
    * against the EXISTING centroids, appended to their `__cid`
    * partitions), so directory-pruned probes see each batch as soon as
    * its append commits. The index must already exist (`ivfWriteIndex`,
    * the offline build); centroids never move on append (the standard
    * IVF ingest trade — rebuild offline when drift degrades balance).
    * Replay contract: at-least-once — a re-delivered batch appends
    * duplicate (id, vec) rows, which cost probe bytes and can seat the
    * same id twice in a top-k; sources that can replay should dedupe
    * results by id (or run compaction on the index). */
  def ingestIvfStream(emb: DataFrame, indexPath: String,
      checkpoint: String, idCol: String = "vec_id",
      vecCol: String = "embedding")
      : org.apache.spark.sql.streaming.StreamingQuery =
    batchLoop(emb, checkpoint) { (batch, _) =>
      if (!batch.isEmpty)
        graft.operators.Similarity.appendToIvfIndex(batch, indexPath,
          idCol, vecCol)
    }

  /** Streaming PQ-index maintenance with the alarm→rebuild arc CLOSED
    * IN the loop: each micro-batch of embeddings lands exactly-once in
    * `corpusRoot/batch=<id>` (the raw-vector corpus a rebuild retrains
    * from — the codes table alone cannot, it stores no floats), then
    * folds into the stored PQ index by encoding against the EXISTING
    * codebooks ([[graft.operators.Similarity.appendToPqIndex]], the
    * standard no-retrain append whose recall decays silently under
    * distribution shift). `checkDriftEvery` (0 = off): every N
    * batches, compare the batch's mean reconstruction error under the
    * current codebooks to the build-time baseline and RETRAIN over the
    * whole accumulated corpus iff it exceeds `driftThreshold`×
    * ([[graft.operators.Similarity.rebuildPqIndexIfDrifted]]) — the
    * long-running ingest no longer serves a degrading index until an
    * operator notices. A rebuild already covers the triggering batch
    * (it is in `corpusRoot` by then), so the append is skipped that
    * cycle. Replay contract: exactly-once — the per-batch dir
    * overwrites, and the fold anti-joins the stored ids so a
    * re-delivered batch cannot duplicate codes. First batch builds the
    * index. */
  def ingestPqStream(emb: DataFrame, indexPath: String,
      corpusRoot: String, checkpoint: String, idCol: String = "vec_id",
      vecCol: String = "embedding", m: Int = 16, k: Int = 16,
      checkDriftEvery: Int = 0, driftThreshold: Double = 2.0)
      : org.apache.spark.sql.streaming.StreamingQuery =
    batchLoop(emb, checkpoint) { (batch, id) =>
      val spark = batch.sparkSession
      if (!batch.isEmpty) try {
        val b = batch.select(col(idCol), col(vecCol))
        b.coalesce(4).write.mode("overwrite")
          .parquet(s"$corpusRoot/batch=$id")
        def corpus = spark.read.parquet(corpusRoot)
          .select(col(idCol), col(vecCol))
        if (!graft.io.IndexPaths.complete(spark, indexPath))
          graft.operators.Similarity.rebuildPqIndex(corpus, indexPath,
            idCol, vecCol, m, k)
        else {
          val rebuilt = checkDriftEvery > 0 &&
            (id + 1) % checkDriftEvery == 0 &&
            graft.operators.Similarity.rebuildPqIndexIfDrifted(corpus,
              b, indexPath, idCol, vecCol, m, k, driftThreshold)
          if (!rebuilt) {
            val fresh = b.join(
              spark.read.parquet(indexPath)
                .select(col(idCol).as("__stored")),
              col(idCol) === col("__stored"), "left_anti")
            if (!fresh.isEmpty)
              graft.operators.Similarity.appendToPqIndex(fresh,
                indexPath, idCol, vecCol)
          }
        }
        // drop every tracked intermediate so the NEXT batch's
        // corpus re-read cannot hit a stale cached plan (a cached
        // read of `corpusRoot` canonicalizes equal to a fresh one
        // and would serve the old file listing)
      } finally graft.operators.Caches.release()
      ()
    }

  /** Streaming int8-ANN-index maintenance — the trivial member of the
    * index-loop family: each micro-batch of embeddings lands
    * exactly-once in `corpusRoot/batch=<id>` and folds into the stored
    * (vec_id, qvec) table
    * ([[graft.operators.Similarity.appendToQuantizedIndex]]). No
    * drift check EXISTS to wire: int8 scaling is per-vector max-abs,
    * so appended rows are bit-identical to a full rebuild's — the
    * documented no-alarm index. Exactly-once via per-batch dir
    * overwrite + stored-id anti-join. First batch builds the index. */
  def ingestQuantizedStream(emb: DataFrame, indexPath: String,
      corpusRoot: String, checkpoint: String, idCol: String = "vec_id",
      vecCol: String = "embedding")
      : org.apache.spark.sql.streaming.StreamingQuery =
    batchLoop(emb, checkpoint) { (batch, id) =>
      val spark = batch.sparkSession
      if (!batch.isEmpty) try {
        val b = batch.select(col(idCol), col(vecCol))
        b.coalesce(4).write.mode("overwrite")
          .parquet(s"$corpusRoot/batch=$id")
        if (!graft.io.IndexPaths.complete(spark, indexPath))
          graft.operators.Similarity.writeQuantizedIndex(
            spark.read.parquet(corpusRoot).select(col(idCol), col(vecCol)),
            idCol, vecCol, indexPath)
        else {
          val fresh = b.join(
            spark.read.parquet(indexPath)
              .select(col("vec_id").as("__stored")),
            col(idCol) === col("__stored"), "left_anti")
          if (!fresh.isEmpty)
            graft.operators.Similarity.appendToQuantizedIndex(fresh,
              indexPath, idCol, vecCol)
        }
      } finally graft.operators.Caches.release()
      ()
    }

  /** Streaming sign-code-ANN-index maintenance — the binary sibling
    * of [[ingestQuantizedStream]] and the loop the sign rung's
    * lifecycle was missing: embedding micro-batches land exactly-once
    * in `corpusRoot/batch=<id>` and fold into the stored (vec_id,
    * bits) table ([[graft.operators.Similarity.ingestSignBatch]]) —
    * EXACT append (per-vector sign packing, no corpus-global
    * statistic), so no drift alarm exists to wire; replay-safe via
    * the stored-id anti-join. First batch builds from the accumulated
    * corpus. */
  def ingestSignStream(emb: DataFrame, indexPath: String,
      corpusRoot: String, checkpoint: String, idCol: String = "vec_id",
      vecCol: String = "embedding", dim: Int = 64)
      : org.apache.spark.sql.streaming.StreamingQuery =
    batchLoop(emb, checkpoint) { (batch, id) =>
      try graft.operators.Similarity.ingestSignBatch(batch, id,
        indexPath, corpusRoot, idCol, vecCol, dim)
      finally graft.operators.Caches.release()
      ()
    }

  /** Streaming perceptual-code-index maintenance — one loop serving
    * BOTH single-long code families (image aHash, audio fingerprint):
    * (doc_id, code) micro-batches land exactly-once in
    * `corpusRoot/batch=<id>` and fold exact-append into the stored
    * code table ([[graft.operators.Multimodal.ingestCodeBatch]] — no
    * corpus-global statistic, no alarm to wire, the sign/int8
    * contract); replay-safe via the stored-id anti-join. */
  def ingestCodeStream(codes: DataFrame, indexPath: String,
      corpusRoot: String, checkpoint: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    batchLoop(codes, checkpoint) { (batch, id) =>
      try graft.operators.Multimodal.ingestCodeBatch(batch, id,
        indexPath, corpusRoot)
      finally graft.operators.Caches.release()
      ()
    }

  /** Streaming frame-index maintenance — the video modality's loop
    * (image/audio codes stream through [[ingestCodeStream]]): media
    * micro-batches are framed/hashed once, land exactly-once in
    * `corpusRoot/batch=<id>` as (doc_id, fh) rows, and fold
    * exact-append into the stored frame table
    * ([[graft.operators.Multimodal.ingestFrameBatch]] — per-doc
    * facts only, the df/size statistics live at query time, so no
    * drift alarm exists to wire); replay-safe via the per-doc
    * anti-join. */
  def ingestFrameStream(media: DataFrame, indexPath: String,
      corpusRoot: String, checkpoint: String, frameSize: Int = 32)
      : org.apache.spark.sql.streaming.StreamingQuery =
    batchLoop(media, checkpoint) { (batch, id) =>
      try graft.operators.Multimodal.ingestFrameBatch(batch, id,
        indexPath, corpusRoot, frameSize)
      finally graft.operators.Caches.release()
      ()
    }

  /** Streaming chunk-MANIFEST maintenance — the loop behind the
    * media-redundancy audit's stored form: each media micro-batch's
    * FULL chunk table (doc_id, media_type, h, n_bytes — facts, so
    * partials are trivially additive) lands as an idempotent
    * per-batch overwrite at `manifestPath/batch=<id>`
    * ([[graft.operators.Multimodal.appendToChunkIndex]]); reads sum
    * hash counts across batches, so redundancy is RETROACTIVE — a doc
    * whose chunk is repeated by a later batch starts pricing as
    * redundant the moment that batch lands. `compactEvery` (0 = off)
    * folds the accreted batch dirs through the crash-safe
    * folded-manifest protocol
    * ([[graft.operators.Multimodal.compactChunkIndex]] — identity
    * fold, newest `keepLast` dirs kept out); the unconditional
    * recover heals a torn swap before the next batch reads. */
  def ingestChunkStream(media: DataFrame, manifestPath: String,
      checkpoint: String, w: Int = 4, modulus: Int = 64,
      minLen: Int = 16, family: String = "md5", compactEvery: Int = 0,
      keepLast: Int = 1)
      : org.apache.spark.sql.streaming.StreamingQuery =
    batchLoop(media, checkpoint,
        Seq(s"$manifestPath/batch=-1")) { (batch, id) =>
      val spark = batch.sparkSession
      if (!batch.isEmpty)
        graft.operators.Multimodal.appendToChunkIndex(batch,
          manifestPath, id, w, modulus, minLen, family = family)
      if (compactEvery > 0 && (id + 1) % compactEvery == 0)
        graft.operators.Multimodal.compactChunkIndex(spark,
          manifestPath, keepLast = keepLast)
      ()
    }

  /** The streaming CDC dedup-on-arrival loop — the chunk store's
    * missing driver: each media micro-batch is chunked once, its
    * arrival AUDIT (total vs novel chunks/bytes, saved ppm — what a
    * chunk-addressed blob store would actually write) lands
    * first-delivery-wins in `auditRoot/batch=<id>`, and the novel
    * hashes fold membership-idempotently into the store
    * ([[graft.operators.Multimodal.ingestCdcBatch]] — the replay
    * contract lives there). State is the on-disk store; nothing to
    * TTL. `compactEvery` (0 = off) rewrites the store's accreted
    * append files to a bounded count every N batches through the
    * crash-safe swap ([[graft.io.Compaction.compactDir]] — rows are
    * distinct-hash facts, so an identity rewrite preserves the read);
    * the unconditional recover heals a torn swap before the next
    * batch probes. The `family` knob selects the chunker hash
    * ("md5" | "xx" | "buz") and MUST be content-addressed into `indexPath`
    * ([[graft.operators.Multimodal.cdcParams]]). */
  def ingestCdcStream(media: DataFrame, indexPath: String,
      auditRoot: String, checkpoint: String, w: Int = 4,
      modulus: Int = 64, minLen: Int = 16, family: String = "md5",
      compactEvery: Int = 0)
      : org.apache.spark.sql.streaming.StreamingQuery =
    batchLoop(media, checkpoint, Seq(indexPath)) { (batch, id) =>
      val spark = batch.sparkSession
      graft.operators.Multimodal.ingestCdcBatch(batch, id, indexPath,
        auditRoot, w, modulus, minLen, family)
      if (compactEvery > 0 && (id + 1) % compactEvery == 0)
        graft.io.Compaction.compactDir(spark, indexPath, targetFiles = 8)
      ()
    }

  /** Streaming BM25-index maintenance — the REBUILD-ONLY member of the
    * index-loop family: document batches land exactly-once in
    * `corpusRoot/batch=<id>`, and because the BM25 index stores
    * corpus-global df/avgdl it is NEVER appended to
    * ([[graft.operators.Retrieval.writeBm25Index]] scaladoc — folding
    * a batch without rescoring would serve stale df to every query).
    * Instead the loop composes the TV-drift alarm with the rebuild on
    * the `checkDriftEvery` cadence
    * ([[graft.operators.Retrieval.refreshBm25IndexIfDrifted]]): an
    * on-distribution stream leaves the index alone (queries see a
    * slightly stale but well-served corpus until the next rebuild
    * cadence an operator chooses), a shifted stream triggers the full
    * rebuild from the accumulated corpus. `rebuildEvery` (0 = off)
    * additionally forces an unconditional rebuild every N batches —
    * the freshness knob for corpora that grow without shifting. */
  def ingestBm25Stream(docs: DataFrame, indexPath: String,
      corpusRoot: String, checkpoint: String, idCol: String = "doc_id",
      textCol: String = "text", checkDriftEvery: Int = 0,
      maxDriftPpm: Long = 400000L, driftMinCount: Long = 5L,
      rebuildEvery: Int = 0)
      : org.apache.spark.sql.streaming.StreamingQuery =
    batchLoop(docs, checkpoint) { (batch, id) =>
      val spark = batch.sparkSession
      if (!batch.isEmpty) try {
        val b = batch.select(col(idCol), col(textCol))
        b.coalesce(4).write.mode("overwrite")
          .parquet(s"$corpusRoot/batch=$id")
        def corpus = spark.read.parquet(corpusRoot)
          .select(col(idCol), col(textCol))
        if (!graft.io.IndexPaths.complete(spark, indexPath))
          graft.operators.Retrieval.writeBm25Index(corpus, idCol,
            textCol, indexPath, coalesceTo = 8)
        else if (rebuildEvery > 0 && (id + 1) % rebuildEvery == 0)
          graft.operators.Retrieval.writeBm25Index(corpus, idCol,
            textCol, indexPath, coalesceTo = 8)
        else if (checkDriftEvery > 0 &&
            (id + 1) % checkDriftEvery == 0)
          graft.operators.Retrieval.refreshBm25IndexIfDrifted(spark,
            corpus, idCol, textCol, indexPath, b, textCol,
            maxDriftPpm, driftMinCount)
      } finally graft.operators.Caches.release()
      ()
    }

  /** Streaming kNN-GRAPH maintenance — the ingest loop for the stored
    * kNN index ([[graft.operators.Similarity.knnWriteIndex]]): each
    * batch lands exactly-once in `corpusRoot/batch=<id>`, the first
    * batch builds the index, and every later batch kNN-joins against
    * the stored band postings and folds its edges + band keys in
    * ([[graft.operators.Similarity.appendToKnnIndex]] — batch N+1's
    * neighbors include batch N, the corpus is never re-keyed). On the
    * `checkDriftEvery` cadence the batch's bucket NOVELTY against the
    * build-time baseline decides an in-loop full rebuild
    * ([[graft.operators.Similarity.rebuildKnnIndexIfDrifted]] —
    * checked BEFORE the fold, so the judged batch cannot occupy the
    * buckets it is measured against), which also heals the documented
    * one-sided staleness of corpus edges. Exactly-once: per-batch dir
    * overwrite; the append is replay-idempotent on both artifacts. */
  def ingestKnnStream(emb: DataFrame, indexPath: String,
      corpusRoot: String, checkpoint: String, idCol: String = "vec_id",
      vecCol: String = "embedding", k: Int = 5, nPlanes: Int = 8,
      nBands: Int = 8, dim: Int = 0, maxBucket: Int = 64,
      checkDriftEvery: Int = 0, driftThreshold: Double = 4.0)
      : org.apache.spark.sql.streaming.StreamingQuery =
    batchLoop(emb, checkpoint) { (batch, id) =>
      val spark = batch.sparkSession
      if (!batch.isEmpty) try {
        val b = batch.select(col(idCol), col(vecCol))
        b.coalesce(4).write.mode("overwrite")
          .parquet(s"$corpusRoot/batch=$id")
        // one accumulated-corpus read serves both the rebuild and the
        // append's candidate-vector fetch: the fetch semi-joins on
        // STORED ids, so the current batch's own rows filter out
        def corpus = spark.read.parquet(corpusRoot)
          .select(col(idCol), col(vecCol))
        if (!(graft.io.IndexPaths.complete(spark, indexPath) &&
            graft.io.IndexPaths.complete(spark,
              graft.operators.Similarity.knnBucketsPath(indexPath)) &&
            graft.io.IndexPaths.complete(spark,
              graft.operators.Similarity.knnBuildStatsPath(indexPath))))
          graft.operators.Similarity.rebuildKnnIndex(corpus, idCol,
            vecCol, indexPath, k, nPlanes, nBands, dim, maxBucket)
        else {
          val rebuilt = checkDriftEvery > 0 &&
            (id + 1) % checkDriftEvery == 0 &&
            graft.operators.Similarity.rebuildKnnIndexIfDrifted(
              corpus, b, indexPath, idCol, vecCol, k, nPlanes, nBands,
              dim, maxBucket, driftThreshold)
          if (!rebuilt) {
            // replay guard at the loop level too: only ids absent
            // from the edge table fold (appendToKnnIndex re-guards)
            val fresh = b.join(
              spark.read.parquet(indexPath)
                .select(col("id").as("__stored")),
              col(idCol) === col("__stored"), "left_anti")
            if (!fresh.isEmpty)
              graft.operators.Similarity.appendToKnnIndex(fresh,
                corpus, indexPath, idCol, vecCol, k, nPlanes,
                nBands, dim, maxBucket)
          }
        }
      } finally graft.operators.Caches.release()
      ()
    }

  /** The streaming DATASET-CARD maintenance loop — the governance
    * artifact kept current BY the ingest instead of recomputed from
    * the corpus per release: each arriving batch folds its additive
    * card partials into the stored card index
    * ([[graft.operators.TextAnalysis.appendToCardIndex]] — per-batch
    * dir overwrite, so an at-least-once replay double-counts nothing)
    * and the current card is one
    * [[graft.operators.TextAnalysis.cardFromIndex]] read away at any
    * moment, bit-identical to the batch [[graft.operators.TextAnalysis
    * .datasetCard]] over everything ingested (spec-pinned). Work per
    * batch ∝ batch; the corpus text is never re-read. `compactEvery`
    * (0 = off) folds the accreted batch dirs every N batches
    * ([[graft.operators.TextAnalysis.compactCardIndex]] — newest dir
    * kept out, preserving the replay contract), so a long-running
    * ingest's index file count tracks distinct content, not batch
    * history. */
  def ingestCardStream(docs: DataFrame, cardPath: String,
      checkpoint: String, idCol: String = "doc_id",
      textCol: String = "text", sourceCol: String = "source",
      compactEvery: Int = 0, calibrationPath: Option[String] = None)
      : org.apache.spark.sql.streaming.StreamingQuery =
    batchLoop(docs, checkpoint, Seq("stats", "langs", "hashes")
        .map(sub => s"$cardPath/$sub/batch=-1")) { (batch, id) =>
      val spark = batch.sparkSession
      if (!batch.isEmpty) {
        graft.operators.TextAnalysis.appendToCardIndex(batch, idCol,
          textCol, sourceCol, cardPath, id)
        // one loop can maintain BOTH governance artifacts: the score
        // histogram folds alongside the card partials, so release
        // thresholds (calibrationThresholds) are always current
        calibrationPath.foreach(p =>
          graft.operators.TextAnalysis.appendToCalibrationIndex(batch,
            idCol, textCol, sourceCol, p, id))
      }
      if (compactEvery > 0 && (id + 1) % compactEvery == 0)
        graft.operators.TextAnalysis.compactCardIndex(spark, cardPath)
      ()
    }

  /** Streaming MEMORIZATION-index maintenance — [[ingestCardStream]]'s
    * shape for the singleton-gram audit: each batch folds its gram
    * partials in ([[graft.operators.TextAnalysis
    * .appendToMemorizationIndex]]; per-batch-overwrite replay
    * idempotency), torn compaction swaps heal before the fold, and on
    * the `compactEvery` cadence the batch dirs collapse through the
    * same associative aggregate the read applies. No drift alarm by
    * design: like the int8 ANN append, the fold is EXACT — the index
    * IS the corpus's gram counts, there is no model to go stale. */
  def ingestMemorizationStream(docs: DataFrame, memPath: String,
      checkpoint: String, idCol: String = "doc_id",
      textCol: String = "text", n: Int = 4, compactEvery: Int = 0)
      : org.apache.spark.sql.streaming.StreamingQuery =
    batchLoop(docs, checkpoint, Seq("grams", "stats")
        .map(sub => s"$memPath/$sub/batch=-1")) { (batch, id) =>
      val spark = batch.sparkSession
      if (!batch.isEmpty)
        graft.operators.TextAnalysis.appendToMemorizationIndex(batch,
          idCol, textCol, memPath, id, n)
      if (compactEvery > 0 && (id + 1) % compactEvery == 0)
        graft.operators.TextAnalysis.compactMemorizationIndex(spark,
          memPath)
      ()
    }

  /** Streaming kmeans-index maintenance — [[ingestPqStream]]'s shape
    * for the clustering index: batches land exactly-once in
    * `corpusRoot/batch=<id>`, classify against the stored centroids
    * ([[graft.operators.Similarity.appendToKmeansIndex]]), and on the
    * `checkDriftEvery` cadence the batch's mean `dist_q` against the
    * stored table's mean decides an in-loop retrain
    * ([[graft.operators.Similarity.rebuildKmeansIndexIfDrifted]] —
    * checked BEFORE the fold, so the baseline is not polluted by the
    * batch being judged). Exactly-once: per-batch dir overwrite +
    * stored-id anti-join on the fold. First batch builds the index. */
  def ingestKmeansStream(emb: DataFrame, indexPath: String,
      corpusRoot: String, checkpoint: String, idCol: String = "vec_id",
      vecCol: String = "embedding", k: Int = 8, iters: Int = 2,
      checkDriftEvery: Int = 0, driftThreshold: Double = 2.0)
      : org.apache.spark.sql.streaming.StreamingQuery =
    batchLoop(emb, checkpoint) { (batch, id) =>
      val spark = batch.sparkSession
      if (!batch.isEmpty) try {
        val b = batch.select(col(idCol), col(vecCol))
        b.coalesce(4).write.mode("overwrite")
          .parquet(s"$corpusRoot/batch=$id")
        def corpus = spark.read.parquet(corpusRoot)
          .select(col(idCol), col(vecCol))
        if (!graft.io.IndexPaths.complete(spark, indexPath))
          graft.operators.Similarity.rebuildKmeansIndex(corpus,
            indexPath, idCol, vecCol, k, iters)
        else {
          val rebuilt = checkDriftEvery > 0 &&
            (id + 1) % checkDriftEvery == 0 &&
            graft.operators.Similarity.rebuildKmeansIndexIfDrifted(
              corpus, b, indexPath, idCol, vecCol, k, iters,
              driftThreshold)
          if (!rebuilt) {
            val fresh = b.join(
              spark.read.parquet(indexPath)
                .select(col(idCol).as("__stored")),
              col(idCol) === col("__stored"), "left_anti")
            if (!fresh.isEmpty)
              graft.operators.Similarity.appendToKmeansIndex(fresh,
                indexPath, idCol, vecCol)
          }
        }
        // release per batch — cf. ingestPqStream (stale cached
        // corpus-read plans; kmeansFixedPoint tracks its persist)
      } finally graft.operators.Caches.release()
      ()
    }

  /** The streaming MODEL-maintenance loop — the lifecycle twin of
    * [[ingestKmeansStream]] for the distilled quality model
    * ([[graft.operators.TextAnalysis.distillQualityModel]]): each
    * arriving batch folds into the accumulated corpus (per-batch dir
    * overwrite — exactly-once under replay); the FIRST batch trains
    * and commits the model + its training-time term counts; after
    * that, every `checkDriftEvery` batches the batch's term drift
    * against the STORED training counts is totaled (work ∝ batch +
    * vocabulary — the training corpus is never re-read for the check,
    * and the baseline is fixed at train time so quiet folds cannot
    * ratchet it) and the model is re-distilled over the whole
    * accumulated corpus iff the alarm fires
    * ([[graft.operators.TextAnalysis.rebuildQualityModelIfDrifted]]) —
    * scan-speed inference ([[graft.operators.TextAnalysis
    * .scoreHashedWeights]]) keeps serving the committed table
    * throughout. */
  def ingestModelStream(docs: DataFrame, modelPath: String,
      corpusRoot: String, checkpoint: String, idCol: String = "doc_id",
      textCol: String = "text", dim: Int = 512, iters: Int = 2,
      checkDriftEvery: Int = 0, maxDriftPpm: Long = 400000L,
      driftMinCount: Long = 5L)
      : org.apache.spark.sql.streaming.StreamingQuery =
    batchLoop(docs, checkpoint) { (batch, id) =>
      val spark = batch.sparkSession
      if (!batch.isEmpty) try {
        val b = batch.select(col(idCol), col(textCol))
        b.coalesce(4).write.mode("overwrite")
          .parquet(s"$corpusRoot/batch=$id")
        def corpus = spark.read.parquet(corpusRoot)
          .select(col(idCol), col(textCol))
        if (!graft.io.IndexPaths.complete(spark, modelPath)) {
          val c = corpus
          graft.operators.TextAnalysis.writeQualityModel(
            graft.operators.TextAnalysis.distillQualityModel(c, idCol,
              textCol, dim, iters),
            modelPath, c, textCol)
        } else if (checkDriftEvery > 0 && (id + 1) % checkDriftEvery == 0)
          graft.operators.TextAnalysis.rebuildQualityModelIfDrifted(
            corpus, b, modelPath, idCol, textCol, dim, iters,
            maxDriftPpm, driftMinCount)
      } finally graft.operators.Caches.release()
      ()
    }

  case class OpenSession(startMicros: Long, lastMicros: Long, events: Long)
  case class ClosedSession(user_id: Long, s_start: java.sql.Timestamp,
      s_end: java.sql.Timestamp, n_events: Long)

  /** java.sql.Timestamp <-> microseconds, lossless — getTime alone is
    * millis and would truncate the micros the events table carries. */
  private def tsMicros(t: java.sql.Timestamp): Long =
    Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000L
  private def microsTs(us: Long): java.sql.Timestamp = {
    val t = new java.sql.Timestamp(Math.floorDiv(us, 1000000L) * 1000L)
    t.setNanos((Math.floorMod(us, 1000000L) * 1000L).toInt)
    t
  }

  /** Bounded-state sessionization: emits each COMPLETED session
    * (user_id, start, end=last event ts, n_events) once its gap closes.
    * Strict `> gapSeconds` gap semantics, matching
    * [[graft.operators.Relational.sessionCounts]].
    *
    * Streaming: state per user is only the OPEN session (3 longs);
    * `EventTimeTimeout` + `setTimeoutTimestamp(last + gap)` evicts an
    * idle user once the watermark passes their session close, emitting
    * the final session — so state size is bounded by active users, the
    * 100 TB-stream requirement. Batch: one pass per user emits every
    * session including the last (the state a converged stream would
    * have emitted after its watermark passed). */
  def statefulSessionize(events: Dataset[Ev], gapSeconds: Long,
      watermark: String = "10 minutes"): Dataset[ClosedSession] = {
    import events.sparkSession.implicits._
    val streaming = events.isStreaming
    val src = if (streaming) events.withWatermark("ts", watermark) else events
    val timeoutConf =
      if (streaming) GroupStateTimeout.EventTimeTimeout
      else GroupStateTimeout.NoTimeout
    src.groupByKey(_.user_id)
      .flatMapGroupsWithState[OpenSession, ClosedSession](
        OutputMode.Append, timeoutConf) {
        (uid, it, state: GroupState[OpenSession]) =>
        def close(s: OpenSession) = ClosedSession(uid,
          microsTs(s.startMicros), microsTs(s.lastMicros), s.events)
        if (state.hasTimedOut) {
          // idle past gap + watermark: the open session can never grow
          val out = state.getOption.map(close).toList
          state.remove()
          out.iterator
        } else {
          val sorted = it.toSeq.sortBy(e => (tsMicros(e.ts), e.value))
          var open = state.getOption
          val closed = List.newBuilder[ClosedSession]
          sorted.foreach { e =>
            val t = tsMicros(e.ts)
            open match {
              case Some(s) if t - s.lastMicros <= gapSeconds * 1000000L =>
                open = Some(OpenSession(s.startMicros, t, s.events + 1L))
              case Some(s) =>
                closed += close(s)
                open = Some(OpenSession(t, t, 1L))
              case None =>
                open = Some(OpenSession(t, t, 1L))
            }
          }
          open match {
            case Some(s) if streaming =>
              state.update(s)
              // fire once the watermark passes the session close (timeout
              // API is millis-granular; round up so it never fires early)
              state.setTimeoutTimestamp(math.max(
                Math.floorDiv(s.lastMicros + 999L, 1000L) + gapSeconds * 1000L,
                state.getCurrentWatermarkMs + 1L))
            case Some(s) =>
              closed += close(s) // batch: all data seen, session complete
              state.remove()
            case None => state.remove()
          }
          closed.result().iterator
        }
      }
  }

  /** The v2-API (transformWithState) form of [[statefulSessionize]]:
    * ValueState holds the open session; an EVENT-TIME TIMER registered
    * at (last event + gap, millis-rounded-up) fires once the watermark
    * passes a session's close, emitting the final session and clearing
    * state — registerTimer/handleExpiredTimer replacing the v1
    * EventTimeTimeout. Stale timers are deleted on every update, so
    * exactly one timer is live per open session. Streaming-only
    * (TimeMode.EventTime requires a watermark); batch semantics are
    * covered by [[statefulSessionize]]. */
  class TimerSessionizeProcessor(gapSeconds: Long)
      extends StatefulProcessor[Long, Ev, ClosedSession] {
    @transient private var open: ValueState[OpenSession] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      open = getHandle.getValueState[OpenSession]("open",
        Encoders.product[OpenSession], TTLConfig.NONE)

    private def close(uid: Long, s: OpenSession) = ClosedSession(uid,
      microsTs(s.startMicros), microsTs(s.lastMicros), s.events)

    override def handleInputRows(uid: Long, rows: Iterator[Ev],
        timers: TimerValues): Iterator[ClosedSession] = {
      val sorted = rows.toSeq.sortBy(e => (tsMicros(e.ts), e.value))
      var cur = if (open.exists()) Some(open.get()) else None
      val closed = List.newBuilder[ClosedSession]
      sorted.foreach { e =>
        val t = tsMicros(e.ts)
        cur match {
          case Some(s) if t - s.lastMicros <= gapSeconds * 1000000L =>
            cur = Some(OpenSession(s.startMicros, t, s.events + 1L))
          case Some(s) =>
            closed += close(uid, s)
            cur = Some(OpenSession(t, t, 1L))
          case None =>
            cur = Some(OpenSession(t, t, 1L))
        }
      }
      cur.foreach { s =>
        open.update(s)
        getHandle.listTimers().foreach(getHandle.deleteTimer)
        // timer API is millis-granular: round UP so it never fires early
        getHandle.registerTimer(
          Math.floorDiv(s.lastMicros + 999L, 1000L) + gapSeconds * 1000L)
      }
      closed.result().iterator
    }

    override def handleExpiredTimer(uid: Long, timers: TimerValues,
        expired: org.apache.spark.sql.streaming.ExpiredTimerInfo)
        : Iterator[ClosedSession] = {
      if (open.exists()) {
        val s = open.get()
        open.clear()
        Iterator.single(close(uid, s))
      } else Iterator.empty
    }
  }

  case class TypeCount(user_id: Long, event_type: String, cnt: Long)

  /** transformWithState with MAP-typed state — the third v2 state
    * shape: per-user MapState[event_type → running count]. Map entries
    * are point-readable/writable in the store (no full-map
    * deserialization per row, unlike a ValueState[Map] — the reason
    * MapState exists); emissions carry the full current map, so the
    * last emission per user is the converged per-type histogram. */
  class TypeCountsProcessor extends StatefulProcessor[Long, Ev, TypeCount] {
    @transient private var counts: org.apache.spark.sql.streaming.MapState[String, Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      counts = getHandle.getMapState[String, Long]("counts",
        Encoders.STRING, Encoders.scalaLong, TTLConfig.NONE)

    override def handleInputRows(uid: Long, rows: Iterator[Ev],
        timers: TimerValues): Iterator[TypeCount] = {
      rows.foreach { e =>
        val prev = if (counts.containsKey(e.event_type))
          counts.getValue(e.event_type) else 0L
        counts.updateValue(e.event_type, prev + 1L)
      }
      counts.iterator().map { case (t, c) => TypeCount(uid, t, c) }
        .toSeq.iterator
    }
  }

  /** Per-(user, event_type) running counts via `transformWithState`
    * MapState. Batch: one pass per key == the groupBy aggregate. */
  def twsTypeCounts(events: Dataset[Ev]): Dataset[TypeCount] = {
    import events.sparkSession.implicits._
    events.sparkSession.conf.set(
      "spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    org.apache.spark.sql.graft.shim.ensureStateStoreCoordinator(events.sparkSession)
    events.groupByKey(_.user_id)
      .transformWithState(new TypeCountsProcessor,
        TimeMode.None(), OutputMode.Update())
  }

  /** Timer-driven sessionization via `transformWithState`
    * (TimeMode.EventTime + named timers on RocksDB state). */
  def twsSessionizeTimers(events: Dataset[Ev], gapSeconds: Long,
      watermark: String = "10 minutes"): Dataset[ClosedSession] = {
    import events.sparkSession.implicits._
    events.sparkSession.conf.set(
      "spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    org.apache.spark.sql.graft.shim.ensureStateStoreCoordinator(events.sparkSession)
    events.withWatermark("ts", watermark)
      .groupByKey(_.user_id)
      .transformWithState(new TimerSessionizeProcessor(gapSeconds),
        TimeMode.EventTime(), OutputMode.Append())
  }

  case class BandDoc(band: Int, bucket: Long, doc_id: Long)
  case class CandPair(doc_a: Long, doc_b: Long)

  /** Stateful LSH candidate generation for STREAMING near-dup
    * detection: keyed by (band, bucket), the state is the bucket's
    * first `cap` member doc ids (a bounded ListState — the hot-bucket
    * guard of `Dedup.cappedBucketPairs`, here enforced by construction:
    * state physically cannot exceed `cap` ids per bucket). Each arriving
    * doc emits
    *  - a pair against EVERY stored member while the bucket is below
    *    the cap (exhaustive where small), or
    *  - one representative-star pair against the bucket's first member
    *    once the cap is reached — linear in cluster size, so a
    *    million-copy boilerplate page streaming in costs 10⁶ emitted
    *    candidates, never 10¹² pairs.
    * Rows within one invocation are processed in doc_id order, so a
    * single-batch (= batch-mode) run reproduces `cappedBucketPairs`'s
    * rank semantics exactly.
    *
    * State lifecycle: per-bucket state is bounded at `cap` ids by
    * construction, but the NUMBER of (band, bucket) keys grows with
    * every distinct document ever seen — unbounded on a continuous
    * ingest. `ttl` bounds it: a bucket idle (not written) for longer
    * than the TTL is evicted from the store, so live state ∝ documents
    * seen within the dedup horizon, not ever. RECALL CONTRACT: a
    * duplicate arriving after its bucket expired pairs with nothing —
    * it is admitted as novel and SEEDS the bucket again (the standard
    * windowed-dedup trade; every write refreshes the bucket's TTL, so
    * steadily-recurring boilerplate never expires). */
  class NearDupCandidatesProcessor(cap: Int,
      ttl: Option[java.time.Duration] = None)
      extends StatefulProcessor[(Int, Long), BandDoc, CandPair] {
    @transient private var members: org.apache.spark.sql.streaming.ListState[Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      members = getHandle.getListState[Long]("members",
        Encoders.scalaLong, ttl.map(TTLConfig.apply).getOrElse(TTLConfig.NONE))

    override def handleInputRows(key: (Int, Long), rows: Iterator[BandDoc],
        timers: TimerValues): Iterator[CandPair] = {
      val mem = scala.collection.mutable.ArrayBuffer.empty[Long]
      members.get().foreach(mem += _)
      val out = scala.collection.mutable.ArrayBuffer.empty[CandPair]
      for (d <- rows.map(_.doc_id).toArray.sorted) {
        if (mem.length < cap) {
          mem.foreach(a => out += CandPair(math.min(a, d), math.max(a, d)))
          mem += d
        } else {
          // over-full bucket = near-dup cluster; star edge to the
          // representative keeps it connected for downstream clustering
          out += CandPair(math.min(mem.head, d), math.max(mem.head, d))
        }
      }
      members.put(mem.toArray)
      out.iterator
    }
  }

  /** Streaming near-dup detection — the ONLINE counterpart of
    * `Dedup.incrementalDedupPairs`: documents stream in, and each is
    * checked against everything seen before it without ever recomputing
    * old signatures.
    *
    * Pipeline (all stages stream-legal):
    *  1. per-row MinHash signatures (`Dedup.rowSignatures` — a
    *     row-local generator, bit-identical to the batch aggregate path)
    *     and band buckets: zero shuffle, scan speed;
    *  2. one stateful shuffle on (band, bucket): bounded ListState per
    *     bucket emits capped candidate pairs
    *     ([[NearDupCandidatesProcessor]]);
    *  3. exact-Jaccard verification of candidates against the static
    *     corpus table — candidate ids are a broadcast semi-join filter,
    *     so only candidate docs are re-tokenized (batch mode inline;
    *     streaming runs it per micro-batch in `foreachBatch`, see
    *     StreamingSpec).
    * Returns (doc_a, doc_b, jaccard), doc_a < doc_b, jaccard >=
    * threshold. In batch mode the result equals
    * `Dedup.minhashDedupPairs` with the same parameters (signature
    * parity + identical cap semantics). */
  def nearDupPairsStream(docs: DataFrame, corpus: DataFrame,
      ngram: Int = 3, numHashes: Int = 64, bands: Int = 16,
      threshold: Double = 0.8, cap: Int = 64,
      stateTtl: Option[java.time.Duration] = None,
      unboundedStateOk: Boolean = false): DataFrame = {
    val cands = nearDupCandidatesStream(docs, ngram, numHashes, bands, cap,
      stateTtl, unboundedStateOk)
    verifyNearDupCandidates(cands.toDF(), corpus, ngram, threshold)
  }

  /** Stages 1–2 of [[nearDupPairsStream]]: per-row signatures → band
    * explode → stateful capped candidate emission. Works on a streaming
    * OR batch `docs` frame.
    *
    * `stateTtl` (REQUIRED on streaming inputs unless `unboundedStateOk`
    * is set — the require below makes unbounded state an explicit
    * choice): evict buckets idle
    * longer than the dedup horizon — see [[NearDupCandidatesProcessor]]
    * for the recall contract. TTL state requires processing-time
    * semantics, so the processor runs in `TimeMode.ProcessingTime` when
    * a TTL is set. Operational note: in ProcessingTime mode
    * `shouldRunAnotherBatch` is always true, so with the default
    * unbounded trigger the engine schedules no-data micro-batches
    * back-to-back (each replanning the signature expressions) purely to
    * advance TTL cleanup. Run TTL'd queries with a trigger interval
    * (`Trigger.ProcessingTime("30 seconds")` or similar); expiry itself
    * is enforced on state read either way. */
  def nearDupCandidatesStream(docs: DataFrame, ngram: Int = 3,
      numHashes: Int = 64, bands: Int = 16, cap: Int = 64,
      stateTtl: Option[java.time.Duration] = None,
      unboundedStateOk: Boolean = false): Dataset[CandPair] = {
    // Unbounded state on a CONTINUOUS stream must be a loud choice,
    // not a default you discover in production: every distinct
    // (band, bucket) key ever seen stays in RocksDB forever without a
    // TTL (state ∝ distinct docs, the r4 finding). Batch frames are
    // exempt — their state dies with the single batch. The disk-backed
    // ingest loops ([[ingestDedupStream]]/[[ingestIvfStream]]) are a
    // different contract: their growth IS the product (an admitted
    // corpus / a probed index), bounded by retention policy, not TTL.
    require(!docs.isStreaming || stateTtl.isDefined || unboundedStateOk,
      "streaming input with stateTtl=None grows (band,bucket) state " +
        "without bound; pass stateTtl=Some(dedupHorizon) (recommended — " +
        "see the recall/reseed contract on NearDupCandidatesProcessor) " +
        "or unboundedStateOk=true to accept unbounded state explicitly")
    val s = docs.sparkSession
    import s.implicits._
    s.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    org.apache.spark.sql.graft.shim.ensureStateStoreCoordinator(s)
    val sigs = graft.operators.Dedup.rowSignatures(
      docs, "doc_id", "text", ngram, numHashes)
    graft.operators.Dedup.lshBandBuckets(sigs, bands, numHashes / bands)
      .as[BandDoc]
      .groupByKey(r => (r.band, r.bucket))
      .transformWithState(new NearDupCandidatesProcessor(cap, stateTtl),
        if (stateTtl.isDefined) TimeMode.ProcessingTime() else TimeMode.None(),
        OutputMode.Append())
  }

  /** Stage 3 of [[nearDupPairsStream]]: exact-Jaccard rescore of a
    * (batch) candidate-pair frame against the corpus, candidate-only
    * tokenization. */
  def verifyNearDupCandidates(cands: DataFrame, corpus: DataFrame,
      ngram: Int = 3, threshold: Double = 0.8): DataFrame = {
    import graft.operators.Dedup
    // no distinct: the rescore's per-pair aggregation collapses
    // multi-band duplicates (see Dedup.jaccardRescore)
    val pairs = graft.operators.Caches.persist(
      cands.select(col("doc_a"), col("doc_b")))
    Dedup.jaccardRescore(pairs, corpus, "doc_id", "text", ngram)
      .where(col("jaccard") >= threshold)
  }

  /** The streaming COPY-DETECTION maintenance loop — winnowing's
    * ingest shape: each arriving batch (1) lands in the accumulated
    * corpus root (exactly-once per-batch dir), (2) is screened against
    * the stored fingerprint index ([[graft.operators.Dedup
    * .incrementalWinnowPairs]] — suspects to `suspectsRoot/batch=id`),
    * and (3) folds its own fingerprints in via the replay-idempotent
    * [[graft.operators.Dedup.appendToWinnowIndex]], so batch N+1
    * screens against batch N with the corpus never re-fingerprinted.
    * Every `checkDriftEvery` batches the fingerprint-novelty alarm
    * runs FIRST ([[graft.operators.Dedup.rebuildWinnowIndexIfDrifted]])
    * — a template-family shift rebuilds the index from the accumulated
    * corpus instead of folding blind. */
  def ingestWinnowStream(docs: DataFrame, indexPath: String,
      corpusRoot: String, suspectsRoot: String, checkpoint: String,
      idCol: String = "doc_id", textCol: String = "text", k: Int = 5,
      w: Int = 4, minShared: Int = 2, maxDf: Int = 50,
      checkDriftEvery: Int = 0, driftThresholdPpm: Long = 500000L)
      : org.apache.spark.sql.streaming.StreamingQuery =
    batchLoop(docs, checkpoint) { (batch, id) =>
      val spark = batch.sparkSession
      if (!batch.isEmpty) try {
        val b = batch.select(col(idCol), col(textCol))
        b.coalesce(4).write.mode("overwrite")
          .parquet(s"$corpusRoot/batch=$id")
        def corpus = spark.read.parquet(corpusRoot)
        if (!graft.io.IndexPaths.complete(spark, indexPath))
          graft.operators.Dedup.writeWinnowIndex(corpus, idCol,
            textCol, indexPath, k, w, coalesceTo = 4)
        else {
          graft.operators.Dedup.incrementalWinnowPairs(b, spark,
              indexPath, idCol, textCol, k, w, minShared, maxDf)
            .coalesce(1).write.mode("overwrite")
            .parquet(s"$suspectsRoot/batch=$id")
          // the alarm wrapper folds the batch itself on the quiet
          // path, so exactly one of the two calls runs per batch
          if (checkDriftEvery > 0 && (id + 1) % checkDriftEvery == 0)
            graft.operators.Dedup.rebuildWinnowIndexIfDrifted(
              corpus, b, spark, indexPath, idCol, textCol,
              driftThresholdPpm, k, w)
          else
            graft.operators.Dedup.appendToWinnowIndex(b, spark,
              indexPath, idCol, textCol, k, w)
        }
      } finally graft.operators.Caches.release()
      ()
    }

  /** Streaming COUNT-MIN maintenance — [[ingestCardStream]]'s shape
    * for the frequency sketch: each batch folds its additive cell
    * partial + local candidate list in ([[graft.operators.Sketches
    * .appendToCmsIndex]]; per-batch-overwrite replay idempotency),
    * torn compaction swaps heal before the fold, and on the
    * `compactEvery` cadence the batch dirs collapse through the same
    * sum/union the read applies. No drift alarm by design: the fold
    * is EXACT — the summed sketch IS the union corpus's sketch, there
    * is no model to go stale (the memorization-loop stance). */
  def ingestCmsStream(docs: DataFrame, cmsPath: String,
      checkpoint: String, textCol: String = "text", depth: Int = 4,
      width: Int = 256, candidates: Int = 24, compactEvery: Int = 0)
      : org.apache.spark.sql.streaming.StreamingQuery =
    batchLoop(docs, checkpoint, Seq("cells", "cand")
        .map(sub => s"$cmsPath/$sub/batch=-1")) { (batch, id) =>
      val spark = batch.sparkSession
      if (!batch.isEmpty)
        graft.operators.Sketches.appendToCmsIndex(
          batch.select(explode(graft.functions.TextFns
            .letterTokens(col(textCol))).as("term")),
          col("term"), cmsPath, id, depth, width, candidates)
      if (compactEvery > 0 && (id + 1) % compactEvery == 0)
        graft.operators.Sketches.compactCmsIndex(spark, cmsPath)
      ()
    }

  /** Streaming DSIR-PROFILE maintenance — the importance weight table
    * kept current BY the ingest: each batch folds its additive
    * (bucket, raw, tgt) partial in, so
    * [[graft.operators.TextAnalysis.importanceSelectFromIndex]] always
    * prices new selections against the full ingested corpus with no
    * profile recompute. Exact additive fold — no drift alarm by
    * design (the card/memorization stance); a CHANGED target
    * definition is a new index path, not drift. */
  def ingestImportanceStream(docs: DataFrame, impPath: String,
      checkpoint: String, targetPred: Column, idCol: String = "doc_id",
      textCol: String = "text", buckets: Int = 4096,
      compactEvery: Int = 0)
      : org.apache.spark.sql.streaming.StreamingQuery =
    batchLoop(docs, checkpoint,
        Seq(s"$impPath/prof/batch=-1")) { (batch, id) =>
      val spark = batch.sparkSession
      if (!batch.isEmpty)
        graft.operators.TextAnalysis.appendToImportanceIndex(batch,
          idCol, textCol, targetPred, impPath, id, buckets)
      if (compactEvery > 0 && (id + 1) % compactEvery == 0)
        graft.operators.TextAnalysis.compactImportanceIndex(spark,
          impPath)
      ()
    }
}
