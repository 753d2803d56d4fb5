package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Relational operators beyond plain built-ins: as-of join, sessionize,
  * top-k per group, range/band join. Each is a shuffle-minimal
  * composition of Catalyst operators (no driver-side loops, no UDFs),
  * chosen so the plan survives a 100× scale-up.
  */
object Relational {

  /** Backward as-of join: for each left row, attach the latest right row
    * with the same `key` and `right.ts <= left.ts` (ties: right wins —
    * a right row at exactly left.ts is visible).
    *
    * Implemented as union + running `last(_, ignoreNulls)` window — ONE
    * shuffle on (key), no row explosion, no range self-join blow-up.
    * This is the scale-safe plan: a naive `l JOIN r ON key AND r.ts<=l.ts`
    * is O(|l|·|r|) per key; this is O((|l|+|r|) log) via sort within
    * partitions.
    *
    * All carried columns are bundled into ONE struct before the window
    * `last`, so every carried value comes from the same, truly-latest
    * right row — including genuinely-null carried fields (a per-column
    * `last(_, ignoreNulls)` would instead skip nulls and mix values from
    * different right rows). Matches [[asOfNative]] row semantics exactly.
    *
    * @param leftCols  left columns to keep (must exist in `left`)
    * @param carryCols right columns to carry onto matched left rows
    */
  def asOfBackward(left: DataFrame, right: DataFrame, key: String, ts: String,
      leftCols: Seq[String], carryCols: Seq[String]): DataFrame = {
    import org.apache.spark.sql.types.{StructField, StructType}
    val rSchema = right.schema
    val lSchema = left.schema
    val carryType = StructType(carryCols.map(c =>
      StructField(c, rSchema(c).dataType, nullable = true)))
    val lPart = left.select(
      (Seq(col(key), col(ts), lit(1).as("__side")) ++
        leftCols.map(col) :+
        lit(null).cast(carryType).as("__carry")): _*)
    val rPart = right.select(
      (Seq(col(key), col(ts), lit(0).as("__side")) ++
        leftCols.map(c => lit(null).cast(lSchema(c).dataType).as(c)) :+
        struct(carryCols.map(col): _*).as("__carry")): _*)
    val w = Window.partitionBy(key).orderBy(col(ts).asc, col("__side").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val carried = last(col("__carry"), ignoreNulls = true).over(w)
    lPart.unionByName(rPart)
      .select((Seq(col(key), col(ts), col("__side")) ++ leftCols.map(col) ++
        carryCols.map(c => carried.getField(c).as(c))): _*)
      .where(col("__side") === 1)
      .drop("__side")
  }

  /** FORWARD as-of join: for each left row, the EARLIEST right row with
    * the same `key` and `right.ts >= left.ts` (a right row at exactly
    * left.ts matches). The mirror of [[asOfBackward]]: same one-shuffle
    * union, but the carry window looks ahead (`first` over
    * [current, unbounded following]) and right rows sort AFTER left at
    * equal ts so they stay inside the frame. */
  def asOfForward(left: DataFrame, right: DataFrame, key: String, ts: String,
      leftCols: Seq[String], carryCols: Seq[String]): DataFrame = {
    import org.apache.spark.sql.types.{StructField, StructType}
    val rSchema = right.schema
    val lSchema = left.schema
    val carryType = StructType(carryCols.map(c =>
      StructField(c, rSchema(c).dataType, nullable = true)))
    val lPart = left.select(
      (Seq(col(key), col(ts), lit(0).as("__side")) ++
        leftCols.map(col) :+
        lit(null).cast(carryType).as("__carry")): _*)
    val rPart = right.select(
      (Seq(col(key), col(ts), lit(1).as("__side")) ++
        leftCols.map(c => lit(null).cast(lSchema(c).dataType).as(c)) :+
        struct(carryCols.map(col): _*).as("__carry")): _*)
    val w = Window.partitionBy(key).orderBy(col(ts).asc, col("__side").asc)
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val carried = first(col("__carry"), ignoreNulls = true).over(w)
    lPart.unionByName(rPart)
      .select((Seq(col(key), col(ts), col("__side")) ++ leftCols.map(col) ++
        carryCols.map(c => carried.getField(c).as(c))): _*)
      .where(col("__side") === 0)
      .drop("__side")
  }

  /** Backward as-of join on the NATIVE operator
    * ([[graft.plans.AsOfJoinPlan]] → [[graft.plans.AsOfJoinExec]]):
    * same semantics as [[asOfBackward]], but executed by a dedicated
    * sort-merge pass (one buffered right row per partition, O(1)
    * memory) instead of the union+window composition. Keys must be
    * integral, ts integral/timestamp. */
  def asOfNative(left: DataFrame, right: DataFrame, key: String, ts: String,
      carryCols: Seq[String]): DataFrame = {
    import org.apache.spark.sql.graft.shim
    val spark = left.sparkSession
    graft.plans.AsOfJoin.ensureRegistered(spark)
    // fresh-alias the right side: when both sides derive from the same
    // relation (self as-of), left and right would share exprIds and the
    // custom node is not covered by DeduplicateRelations — Catalyst
    // would mis-prune the ambiguous right child
    val sfx = "__asof_r"
    val rFresh = right.select(right.columns.map(c => col(c).as(c + sfx))
      .toIndexedSeq: _*)
    val lPlan = shim.planOf(left)
    val rPlan = shim.planOf(rFresh)
    def attr(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan,
        n: String) = p.output.find(_.name == n)
      .getOrElse(throw new IllegalArgumentException(s"no column $n"))
    val joined = shim.ofRows(spark, graft.plans.AsOfJoinPlan(lPlan, rPlan,
      attr(lPlan, key), attr(lPlan, ts),
      attr(rPlan, key + sfx), attr(rPlan, ts + sfx),
      carryCols.map(c => attr(rPlan, c + sfx))))
    joined.select(left.columns.map(col).toIndexedSeq ++
      carryCols.map(c => col(c + sfx).as(c)): _*)
  }

  /** Gap-based sessionization: a new session starts when the gap to the
    * previous event of the same key exceeds `gapSeconds`. Returns one row
    * per key: number of sessions and events. One shuffle on key. */
  def sessionCounts(events: DataFrame, key: String, ts: String, tieBreak: String,
      gapSeconds: Long): DataFrame = {
    val w = Window.partitionBy(key).orderBy(col(ts).asc, col(tieBreak).asc)
    val prev = lag(col(ts), 1).over(w)
    events
      .withColumn("__new_session",
        when(prev.isNull ||
          (unix_micros(col(ts)) - unix_micros(prev)) > gapSeconds * 1000000L, 1L)
          .otherwise(0L))
      .groupBy(col(key))
      .agg(sum(col("__new_session")).as("n_sessions"), count(lit(1)).as("n_events"))
  }

  /** Top-k rows per group with a deterministic total order (caller must
    * include a unique tie-break in `order`). Window row_number + filter —
    * the standard shuffle-once plan; no global sort. */
  def topKPerGroup(df: DataFrame, part: Seq[Column], order: Seq[Column], k: Int): DataFrame =
    df.withColumn("rk", row_number().over(Window.partitionBy(part: _*).orderBy(order: _*)))
      .where(col("rk") <= k)

  /** Band (range) join of a fact column into a tiny set of [lo, hi)
    * buckets. The band table is broadcast — no shuffle of the fact side,
    * which is the only plan that survives when the fact table is 100 TB. */
  def bandJoin(fact: DataFrame, factCol: String, bands: DataFrame): DataFrame =
    fact.join(broadcast(bands),
      col(factCol) >= col("lo") && col(factCol) < col("hi"), "inner")

  /** Deterministic content-hash sampling: keep rows whose md5(key) hex
    * prefix is below the 4-hex-digit cut for `fraction` (resolution
    * 1/65536). No RNG, no seed plumbing: the same row set is selected
    * on every engine, every run, every partitioning — which makes
    * samples reproducible AND oracle-checkable. At scale it is a pure
    * map-side filter (no shuffle, no sort, unlike ORDER BY rand());
    * stratification is free because the hash is independent of any
    * grouping column. */
  def deterministicSample(df: DataFrame, key: Column, fraction: Double): DataFrame = {
    require(fraction >= 0.0 && fraction <= 1.0, "fraction in [0,1]")
    // round can hit 65536 for fraction in [65535.5/65536, 1.0), which
    // would format as 5 hex chars and break the 4-char prefix compare —
    // a full-width cut means keep-all, so short-circuit it instead
    val c = math.round(fraction * 65536).toInt
    if (c >= 65536) df
    else df.where(substring(md5(key.cast("string")), 1, 4) < lit(f"$c%04x"))
  }

  /** Deterministic train/val/test split assignment — the n-way
    * generalization of [[deterministicSample]]: each row's split is a
    * pure function of its key's md5, so the assignment is reproducible
    * across runs, engines, and scale-ups, needs no shuffle, and any
    * subset can be re-derived independently (filter, don't store).
    * Fractions are quantized to 1/65536 like the sampler; the last
    * split absorbs the remainder. */
  def splitAssign(df: DataFrame, key: Column,
      splits: Seq[(String, Double)]): DataFrame = {
    require(splits.size >= 2, "need at least two splits")
    require(math.abs(splits.map(_._2).sum - 1.0) < 1e-9,
      "split fractions must sum to 1")
    val h = substring(md5(key.cast("string")), 1, 4)
    val cuts = splits.init.scanLeft(0.0)(_ + _._2).tail
      .map(f => f"${math.min(math.round(f * 65536).toInt, 65535)}%04x")
    val assigned = splits.init.zip(cuts).foldRight(
        lit(splits.last._1)) { case (((name, _), cut), rest) =>
      when(h < lit(cut), lit(name)).otherwise(rest)
    }
    df.withColumn("split", assigned)
  }

  /** Deterministic WEIGHTED Bernoulli sampling: keep each row with its
    * own probability `cut/65536` (cut an integral column in [0, 65536]),
    * decided by the row key's md5 — the quality-weighted corpus
    * subsampling move (keep high-quality docs with high probability,
    * boilerplate rarely) with [[deterministicSample]]'s guarantees:
    * pure map-side, reproducible at any partitioning, no RNG state.
    * Rows with cut >= 65536 are always kept, cut <= 0 never. */
  def weightedSample(df: DataFrame, key: Column, cut: Column): DataFrame = {
    val cutHex = lower(lpad(hex(least(greatest(cut, lit(0L)), lit(65536L))),
      5, "0"))
    df.where(lpad(substring(md5(key.cast("string")), 1, 4), 5, "0") < cutHex)
  }

  /** Deterministic EXACT-COUNT uniform sample: the `n` rows with the
    * globally smallest 48-bit md5-of-key prefixes (key tie-break) —
    * "exactly 50k eval docs", where the rate-based
    * [[deterministicSample]] only promises the count in expectation.
    *
    * Scale shape — two scans, never a global sort of the input:
    *  1. a hash-threshold filter keeps an expected `overscan·n`
    *     candidate rows (pure map-side, like the rate sampler): at
    *     100 TB and n = 50k it discards 99.99+% of rows before
    *     anything moves;
    *  2. an exact top-n by (hash, key) over the surviving sliver —
    *     a sort of ~overscan·n rows, not of the corpus.
    * If the threshold under-collects (hash-thinned tail; probability
    * falls exponentially in `overscan`), the cut widens 8× and
    * rescans until it holds ≥ n — the final trim makes the result
    * identical whichever cut admitted it, so the sample is the same
    * on every run, partitioning, and engine.
    *
    * `knownTotal`: callers that already hold the corpus row count (a
    * pipeline that just counted it, a manifest, a catalog statistic)
    * pass it to skip the sizing scan — one full (column-less) pass
    * saved per call. The count only SIZES the initial cut, so a stale
    * value cannot break correctness: too small merely widens the
    * first filter (more sliver rows), too large under-collects and
    * the retry loop recovers — the returned sample is identical
    * either way (cut-independence; spec-pinned). */
  def sampleExactN(df: DataFrame, key: Column, n: Int,
      overscan: Double = 4.0, knownTotal: Option[Long] = None): DataFrame = {
    require(n >= 0, "n must be non-negative")
    require(overscan > 0.0, "overscan must be positive")
    if (n == 0) return df.limit(0)
    val h = conv(substring(md5(key.cast("string")), 1, 12), 16, 10)
      .cast("long")
    val total = knownTotal.getOrElse(df.count())
    require(total >= 0, "knownTotal must be non-negative")
    // the whole-corpus shortcut is only safe on a count WE took: a
    // stale knownTotal below the true count would return too many
    // rows here, where the sized-cut path below self-corrects
    if (knownTotal.isEmpty && n >= total) return df
    val max48 = 1L << 48
    var cut =
      if (n >= total) max48
      else math.min(max48.toDouble,
        math.ceil(max48.toDouble * overscan * n / total)).toLong
    var cand = df.where(h < lit(cut))
    while (cut < max48 && cand.count() < n) {
      cut = math.min(max48, cut * 8) // cut <= 2^48, no overflow
      cand = df.where(h < lit(cut))
    }
    cand.orderBy(h.asc, key.asc).limit(n)
  }

  /** Per-stratum EXACT-count uniform sample: for every distinct value
    * of `stratum`, the min(n, |stratum|) rows with the smallest 48-bit
    * md5-of-key prefixes (key tie-break) — "exactly 10k eval docs PER
    * LANGUAGE", the n-way generalization of [[sampleExactN]]. The
    * selection within each stratum is the identical (hash ASC, key
    * ASC) order, so a stratum's sample never changes when other strata
    * grow, and a stratified sample of one stratum equals
    * [[sampleExactN]] over that stratum alone.
    *
    * Scale shape — better than [[sampleExactN]] run per stratum (which
    * would scan once per stratum) and radically better than the rank-
    * window idiom (full shuffle + sort of every row): ONE pass through
    * a k-bounded heap aggregate
    * ([[graft.functions.expr.TopKByLongScore]] with the negated hash
    * as the score), so each map task ships ≤ n rows PER STRATUM it
    * saw, and the reducer merges heaps. No retry loop is needed — the
    * heap is exact by construction, where [[sampleExactN]]'s threshold
    * scan must widen on under-collection. The trade: the heap carries
    * only a LONG key, so callers re-attach payload columns by joining
    * the (strata·n)-row result back on the key (broadcast-sized for
    * any real n).
    *
    * Returns one row per pick: (stratum, rk, <key name>) with rk the
    * 1-based rank in sample order. `key` must cast losslessly to long.
    */
  def sampleStratifiedN(df: DataFrame, stratum: Column, key: Column,
      n: Int, keyName: String = "key"): DataFrame = {
    import org.apache.spark.sql.graft.shim
    require(n > 0, "n must be positive")
    val h = conv(substring(md5(key.cast("string")), 1, 12), 16, 10)
      .cast("long")
    val agg = shim.column(graft.functions.expr.TopKByLongScore(
        shim.expression(negate(h)), shim.expression(key.cast("long")), n)
      .toAggregateExpression())
    df.groupBy(stratum.as("stratum")).agg(agg.as("__picks"))
      .select(col("stratum"), posexplode(col("__picks")).as(Seq("i", "e")))
      .select(col("stratum"), (col("i") + 1).cast("long").as("rk"),
        col("e.id").as(keyName))
  }

  /** Per-group winsorization: clip `valueCol` to its group's exact
    * interpolated [pLo, pHi] percentiles — outlier damping before
    * statistics or training. Two passes: the per-group bounds table is
    * GROUPS-sized (tiny), so it broadcasts back onto the fact rows and
    * the clip itself is map-side — one aggregation shuffle, zero fact
    * shuffle. Appends `<valueCol>_w` (clipped value). */
  def winsorize(df: DataFrame, groupCol: String, valueCol: String,
      pLo: Double, pHi: Double): DataFrame = {
    require(0 <= pLo && pLo <= pHi && pHi <= 1, "0 <= pLo <= pHi <= 1")
    val bounds = df.groupBy(col(groupCol))
      .agg(expr(s"percentile($valueCol, ${pLo}d)").as("__lo"),
        expr(s"percentile($valueCol, ${pHi}d)").as("__hi"))
    df.join(broadcast(bounds), groupCol)
      .withColumn(s"${valueCol}_w",
        least(greatest(col(valueCol), col("__lo")), col("__hi")))
      .drop("__lo", "__hi")
  }

  /** All overlapping interval pairs via a bucket grid — the inequality
    * join `a.start <= b.end AND b.start <= a.end` turned into an
    * EQUI-join so it hash-partitions: each interval explodes to the
    * grid buckets it touches, candidates meet inside a bucket, and a
    * pair is owned by exactly ONE bucket (the one containing the later
    * start) so no distinct pass is needed. Work is O(sum of interval
    * spans / bucket) + O(true pairs), never O(n²); `bucket` trades
    * explode fan-out against per-bucket candidate count and should be
    * on the order of the typical interval length.
    *
    * Input columns: (id, start, end) as NON-NEGATIVE longs (DIV
    * bucketing), end inclusive. Returns (id_a, id_b, overlap) with
    * id_a < id_b. Self-overlap excluded. */
  def intervalOverlapPairs(iv: DataFrame, bucket: Long): DataFrame = {
    require(bucket >= 1)
    def grid(side: String) =
      iv.select(col("id").as(s"id_$side"), col("start").as(s"s_$side"),
          col("end").as(s"e_$side"))
        .withColumn("bk", explode(sequence(
          expr(s"s_$side DIV $bucket"), expr(s"e_$side DIV $bucket"))))
    grid("a").join(grid("b"), Seq("bk"))
      .where(col("id_a") < col("id_b") &&
        col("s_a") <= col("e_b") && col("s_b") <= col("e_a") &&
        col("bk") === expr(s"GREATEST(s_a, s_b) DIV $bucket"))
      .select(col("id_a"), col("id_b"),
        (least(col("e_a"), col("e_b")) -
          greatest(col("s_a"), col("s_b")) + lit(1L)).as("overlap"))
  }

  /** Skew-resistant equi-join: salt the skewed (fact) side's key into
    * `salts` sub-keys and replicate the other side once per salt, so a
    * hot key spreads over `salts` reducers instead of melting one.
    * AQE's skew-join handles sort-merge skew adaptively; this is the
    * explicit form for when the build side is replicable (dimension
    * tables) or AQE is unavailable (e.g. inside cached subtrees).
    *
    * `right` is shuffled `salts`× (it is the smaller side); `left` is
    * shuffled once. Inner join on (key, salt). */
  def saltedJoin(left: DataFrame, right: DataFrame, key: String,
      salts: Int = 8): DataFrame = {
    val salted = left.withColumn("__salt",
      pmod(xxhash64(monotonically_increasing_id()), lit(salts)).cast("int"))
    val replicated = right.withColumn("__salt",
      explode(sequence(lit(0), lit(salts - 1))))
    salted.join(replicated, Seq(key, "__salt")).drop("__salt")
  }

  /** Inner equi-join on the same-named `keys` whose only join key is
    * one long, `xxhash64` of the keys; each key's own equality is then
    * checked on the hash matches. A broadcast hash relation keyed on a
    * single long is sized to its rows, but one keyed on a string, or on
    * several columns that do not pack into 64 bits, holds a whole memory
    * page (32 MiB at a 3 GB heap) until the ContextCleaner frees it,
    * however few rows it has. The check is written
    * `array_contains(array(r), l)`: the same truth value as `l = r`,
    * nulls included, but not an equality the planner lifts into the
    * join keys. Returns `left`'s columns, then `right`'s other columns;
    * broadcast a side by passing it through `broadcast`. */
  def hashKeyedJoin(left: DataFrame, right: DataFrame, keys: Seq[String]): DataFrame = {
    val r = right.select(right.columns.toIndexedSeq.map(c =>
        if (keys.contains(c)) col(c).as(s"__rk_$c") else col(c)): _*)
      .withColumn("__rh", xxhash64(keys.map(k => col(s"__rk_$k")): _*))
    left.join(r, xxhash64(keys.map(left(_)): _*) === r("__rh") &&
        keys.map(k => array_contains(array(r(s"__rk_$k")), left(k))).reduce(_ && _))
      .drop(("__rh" +: keys.map(k => s"__rk_$k")): _*)
  }

  /** MERGE / upsert (SCD type 1): apply `source` changes to `target` by
    * `key` — matched rows take the source's values for `updateCols`,
    * unmatched source rows are inserted (missing target-only columns
    * null), unmatched target rows pass through.
    *
    * This is the batch CDC-apply shape: ONE full-outer shuffle join on
    * the key (both sides hash-partitioned; AQE handles a skewed key),
    * then a coalesce projection — semantically `MERGE WHEN MATCHED THEN
    * UPDATE WHEN NOT MATCHED THEN INSERT`. `source` must be
    * key-unique (one change per key — pre-compact multi-change batches
    * with a latest-wins window, as the CDC query does). */
  def mergeUpsert(target: DataFrame, source: DataFrame, key: String,
      updateCols: Seq[String]): DataFrame = {
    val t = target.columns.foldLeft(target)((d, c) =>
      if (c == key) d else d.withColumnRenamed(c, s"__t_$c"))
    val s = updateCols.foldLeft(source.select((key +: updateCols).map(col): _*))(
      (d, c) => d.withColumnRenamed(c, s"__s_$c"))
    val joined = t.join(s, Seq(key), "full_outer")
    val out = target.columns.map { c =>
      if (c == key) col(key)
      else if (updateCols.contains(c))
        coalesce(col(s"__s_$c"), col(s"__t_$c")).as(c)
      else col(s"__t_$c").as(c)
    }
    joined.select(out.toIndexedSeq: _*)
  }

  /** Semi join with a Bloom-filter runtime pre-filter: build a Bloom
    * filter over the build side's join keys (Spark's own
    * `BloomFilterAggregate` sketch — the machinery behind
    * `spark.sql.optimizer.runtime.bloomFilter.enabled`), broadcast its
    * bytes as a literal, and pre-filter the probe side with
    * `might_contain` BEFORE its shuffle; a normal left-semi join then
    * removes the Bloom's false positives, so the result is EXACTLY the
    * plain semi join.
    *
    * This is the explicit form of a runtime filter for when the
    * optimizer can't inject one (non-obvious build side, cached
    * subtrees, or a probe side far more expensive than its scan). At
    * 100 TB the win is shuffling only the ~matching fraction of the
    * probe side: the filter costs one codegen'd hash per row, and the
    * sketch is a few MB for tens of millions of keys (n·log(1/fpp)
    * bits). */
  def bloomSemiJoin(probe: DataFrame, probeKey: String, build: DataFrame,
      buildKey: String, expectedKeys: Long = 1000000L): DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    import org.apache.spark.sql.graft.shim
    val bloomBytes = build
      .select(shim.column(new BloomFilterAggregate(
          shim.expression(xxhash64(col(buildKey))), expectedKeys)
        .toAggregateExpression()).as("bf"))
      .head().getAs[Array[Byte]](0)
    probe
      .where(shim.column(new BloomFilterMightContain(
        shim.expression(lit(bloomBytes)),
        shim.expression(xxhash64(col(probeKey))))))
      .join(build.select(col(buildKey).as(probeKey)), Seq(probeKey), "left_semi")
  }
}
