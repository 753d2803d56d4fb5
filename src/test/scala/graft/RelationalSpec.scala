package graft

import java.sql.Timestamp

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.Relational

class RelationalSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  test("asOfBackward: latest right row at-or-before each left row, per key") {
    val trades = Seq(
      (1L, ts("2024-01-01 10:00:00"), 100L),
      (1L, ts("2024-01-01 12:00:00"), 101L),
      (2L, ts("2024-01-01 09:00:00"), 200L))
      .toDF("k", "ts", "trade_id")
    val quotes = Seq(
      (1L, ts("2024-01-01 09:30:00"), 900L),
      (1L, ts("2024-01-01 11:00:00"), 901L),
      (1L, ts("2024-01-01 12:00:00"), 902L), // tie: visible to 12:00 trade
      (2L, ts("2024-01-01 09:30:00"), 903L)) // after the only k=2 trade
      .toDF("k", "ts", "quote_id")
    val got = Relational.asOfBackward(trades, quotes, "k", "ts",
      leftCols = Seq("trade_id"), carryCols = Seq("quote_id"))
      .select("trade_id", "quote_id")
      .collect().map(r => r.getLong(0) -> (if (r.isNullAt(1)) -1L else r.getLong(1))).toMap
    assert(got === Map(100L -> 900L, 101L -> 902L, 200L -> -1L))
  }

  test("asOfBackward: null carried values come from the truly-latest right row") {
    // the latest matching right row carries a NULL value; a per-column
    // last(_, ignoreNulls) would skip it and resurrect the older row's
    // value — the struct carry must preserve the null (and keep all
    // carried columns from the same right row)
    val left = Seq((1L, ts("2024-01-01 12:00:00"), 100L)).toDF("k", "ts", "lid")
    val right = Seq(
      (1L, ts("2024-01-01 10:00:00"), Option(7L), Option("old")),
      (1L, ts("2024-01-01 11:00:00"), Option.empty[Long], Option("new")))
      .toDF("k", "ts", "rid", "tag")
    val got = Relational.asOfBackward(left, right, "k", "ts",
      leftCols = Seq("lid"), carryCols = Seq("rid", "tag")).collect()
    assert(got.length === 1)
    val r = got.head
    assert(r.isNullAt(r.fieldIndex("rid")), "null from latest row preserved")
    assert(r.getString(r.fieldIndex("tag")) === "new")

    // native operator must agree on the same input
    val native = Relational.asOfNative(left, right, "k", "ts",
      carryCols = Seq("rid", "tag")).collect()
    assert(native.length === 1)
    val n = native.head
    assert(n.isNullAt(n.fieldIndex("rid")) === r.isNullAt(r.fieldIndex("rid")))
    assert(n.getString(n.fieldIndex("tag")) === "new")
  }

  test("sessionCounts: gap splits sessions, per key") {
    val ev = Seq(
      (1L, ts("2024-01-01 10:00:00"), 1L),
      (1L, ts("2024-01-01 10:10:00"), 2L), // same session (10 min)
      (1L, ts("2024-01-01 11:30:00"), 3L), // new session (80 min gap)
      (2L, ts("2024-01-01 10:00:00"), 4L))
      .toDF("user_id", "ts", "event_id")
    val got = Relational.sessionCounts(ev, "user_id", "ts", "event_id", 1800)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got === Map(1L -> (2L, 3L), 2L -> (1L, 1L)))
  }

  test("topKPerGroup: exactly k per group with deterministic ties") {
    val df = (1 to 100).map(i => (i % 5, i)).toDF("g", "v")
    val top = Relational.topKPerGroup(df, Seq(col("g")), Seq(col("v").desc), 3)
    assert(top.count() === 15)
    val g0 = top.where(col("g") === 0).select("v").collect().map(_.getInt(0)).toSet
    assert(g0 === Set(100, 95, 90))
  }

  test("bandJoin assigns facts to [lo,hi) buckets via broadcast") {
    val bands = Seq((0, 0.0, 50.0), (1, 50.0, 100.0)).toDF("band_id", "lo", "hi")
    val facts = Seq(10.0, 49.999, 50.0, 99.0).toDF("x")
    val got = Relational.bandJoin(facts, "x", bands)
      .groupBy("band_id").count().collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(got === Map(0 -> 2, 1 -> 2))
  }

  test("TopKByScore aggregate == window row_number top-k (ties, small groups)") {
    import org.apache.spark.sql.graft.shim
    // group 1: ties on score (id breaks them); group 2: fewer rows than k
    val df = Seq((1L, 5.0, 10L), (1L, 5.0, 11L), (1L, 7.0, 12L), (1L, 3.0, 13L),
      (2L, 1.0, 20L)).toDF("g", "score", "id")
    val agg = shim.column(graft.functions.expr.TopKByScore(
        shim.expression(col("score")), shim.expression(col("id")), 3)
      .toAggregateExpression())
    val native = df.groupBy(col("g")).agg(agg.as("top"))
      .select(col("g"), posexplode(col("top")).as(Seq("i", "e")))
      .select(col("g"), (col("i") + 1).as("rk"), col("e.score"), col("e.id"))
      .collect().map(_.toString).sorted.toSeq
    val w = Window.partitionBy(col("g")).orderBy(col("score").desc, col("id").asc)
    val windowed = df.withColumn("rk", row_number().over(w)).where(col("rk") <= 3)
      .select(col("g"), col("rk").cast("int"), col("score"), col("id"))
      .collect().map(_.toString).sorted.toSeq
    assert(native == windowed)
    // and on real data, against the inventory's window variant
    val orders = graft.queries.Q.t(spark, sf, "orders")
    val nat2 = SparkEntry.queries("q_topk_agg")(spark, sf)
      .collect().map(_.toString).sorted.toSeq
    val w2 = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
    val win2 = orders.withColumn("rk", row_number().over(w2).cast("long"))
      .where(col("rk") <= 3)
      .select(col("o_custkey"), col("rk"), col("o_totalprice"), col("o_orderkey"))
      .collect().map(_.toString).sorted.toSeq
    assert(nat2 == win2)
  }

  test("TopKBuf heap == sort-based reference on randomized inputs (fuzz)") {
    // deterministic LCG fuzz (no scalacheck in the offline cache)
    var seed = 0x2545F4914F6CDD1DL
    def next(): Long = { seed = seed * 6364136223846793005L + 1442695040888963407L; seed }
    for (trial <- 1 to 200) {
      val n = (math.abs(next()) % 40).toInt
      val k = 1 + (math.abs(next()) % 6).toInt
      // small score space forces ties; id space forces tie-breaks
      val items = Array.fill(n)((math.abs(next()) % 5).toDouble, math.abs(next()) % 20)
      val buf = new graft.functions.expr.TopKBuf(k)
      items.foreach { case (s, i) => buf.offer(s, i) }
      val want = items.sortWith((a, b) => a._1 > b._1 || (a._1 == b._1 && a._2 < b._2))
        .take(k).toSeq
      assert(buf.sortedBestFirst.toSeq == want, s"trial $trial n=$n k=$k")
    }
  }

  test("TopKBuf merge (partial aggregation) == single-pass result") {
    var seed = 42L
    def next(): Long = { seed = seed * 6364136223846793005L + 1442695040888963407L; seed }
    for (trial <- 1 to 50) {
      val items = Array.fill(30)((math.abs(next()) % 7).toDouble, math.abs(next()) % 50)
      val (a, b) = items.splitAt(15)
      val whole = new graft.functions.expr.TopKBuf(4)
      items.foreach { case (s, i) => whole.offer(s, i) }
      val pa = new graft.functions.expr.TopKBuf(4)
      a.foreach { case (s, i) => pa.offer(s, i) }
      val pb = new graft.functions.expr.TopKBuf(4)
      b.foreach { case (s, i) => pb.offer(s, i) }
      pa.absorb(pb)
      assert(pa.sortedBestFirst.toSeq == whole.sortedBestFirst.toSeq, s"trial $trial")
    }
  }

  test("deterministicSample: reproducible, near-target fraction, composable strata") {
    val orders = graft.queries.Q.t(spark, sf, "orders")
    val s1 = Relational.deterministicSample(orders, col("o_orderkey"), 0.25)
    val s2 = Relational.deterministicSample(orders, col("o_orderkey"), 0.25)
    val ids1 = s1.select("o_orderkey").collect().map(_.getLong(0)).toSet
    assert(ids1 === s2.select("o_orderkey").collect().map(_.getLong(0)).toSet)
    val frac = ids1.size.toDouble / orders.count()
    assert(math.abs(frac - 0.25) < 0.05, s"fraction $frac far from 0.25")
    // a smaller fraction selects a subset of the larger one (nested samples)
    val ids3 = Relational.deterministicSample(orders, col("o_orderkey"), 0.1)
      .select("o_orderkey").collect().map(_.getLong(0)).toSet
    assert(ids3.subsetOf(ids1))
    assert(Relational.deterministicSample(orders, col("o_orderkey"), 1.0).count()
      === orders.count())
  }

  test("driver contract: every query runs on sf0.001 and has a sane schema") {
    val skipEmpty = Set("q_simhash_pairs") // legitimately may be empty
    SparkEntry.queries.foreach { case (name, fn) =>
      val df = fn(spark, sf)
      assert(df.columns.nonEmpty, s"$name has columns")
      val n = df.count()
      if (!skipEmpty.contains(name)) assert(n > 0, s"$name returns rows")
    }
  }

  test("approx_percentile within 5% of exact percentile per group") {
    val li = graft.queries.Q.t(spark, sf, "lineitem")
    val both = li.groupBy(col("l_returnflag"))
      .agg(expr("approx_percentile(l_quantity, 0.9, 1000)").as("apx"),
        expr("percentile(l_quantity, 0.9)").as("exact"))
      .collect()
    both.foreach { r =>
      val apx = r.getDouble(1)
      val exact = r.getDouble(2)
      assert(math.abs(apx - exact) / exact < 0.05, s"apx=$apx exact=$exact")
    }
  }

  test("approx_count_distinct within 5% of exact per group") {
    import org.apache.spark.sql.functions._
    val li = graft.queries.Q.t(spark, sf, "lineitem")
    val both = li.groupBy(col("l_returnflag"))
      .agg(approx_count_distinct(col("l_partkey")).as("apx"),
        countDistinct(col("l_partkey")).as("exact"))
      .collect()
    both.foreach { r =>
      val (apx, exact) = (r.getLong(1).toDouble, r.getLong(2).toDouble)
      assert(math.abs(apx - exact) / exact < 0.05, s"apx=$apx exact=$exact")
    }
  }

  test("saltedJoin equals plain join result") {
    import org.apache.spark.sql.functions._
    val li = graft.queries.Q.t(spark, sf, "lineitem")
      .select(col("l_partkey"), col("l_quantity"))
    val p = graft.queries.Q.t(spark, sf, "part")
      .select(col("p_partkey").as("l_partkey"), col("p_brand"))
    val salted = graft.operators.Relational.saltedJoin(li, p, "l_partkey", 8)
      .groupBy("p_brand").count()
    val plain = li.join(p, "l_partkey").groupBy("p_brand").count()
    assert(salted.collect().map(r => (r.getString(0), r.getLong(1))).sorted.toSeq ==
      plain.collect().map(r => (r.getString(0), r.getLong(1))).sorted.toSeq)
  }

  test("hashKeyedJoin == join on the keys, nulls included, on one long join key") {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    import org.apache.spark.sql.types.LongType
    val l = Seq((Some(1), Some("a"), 10L), (Some(1), Some("b"), 11L),
        (None, Some("a"), 12L), (Some(2), None, 13L), (Some(2), Some("c"), 14L),
        (Some(3), Some("c"), 15L))
      .toDF("k1", "k2", "x")
    val r = Seq((Some(1), Some("a"), "p"), (Some(1), Some("a"), "q"),
        (None, Some("a"), "n"), (Some(2), None, "m"), (Some(3), Some("c"), "z"),
        (Some(3), Some("d"), "w"))
      .toDF("k1", "k2", "y")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("k1", "k2", "x", "y").collect().map(_.toString).toSeq.sorted
    for ((keys, rk) <- Seq(Seq("k1", "k2") -> r, Seq("k2") -> r.drop("k1"))) {
      val got = Relational.hashKeyedJoin(l, broadcast(rk), keys)
      assert(rows(got) === rows(l.join(rk, keys)), keys)
      assert(got.columns.toSeq === l.columns.toSeq :+ "y")
      object H extends AdaptiveSparkPlanHelper
      val joins = H.collect(got.queryExecution.executedPlan) {
        case j: BroadcastHashJoinExec => j }
      assert(joins.map(_.leftKeys.map(_.dataType)) === Seq(Seq(LongType)), keys)
    }
  }

  test("native as-of join == composed union+window as-of join") {
    import org.apache.spark.sql.functions._
    val ev = graft.queries.Q.events(spark, sf)
    val purchases = ev.where(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), col("event_id").as("purchase_id"))
    val signups = ev.where(col("event_type") === "signup")
      .select(col("user_id"), col("ts"), col("event_id").as("signup_id"))
    val composed = graft.operators.Relational.asOfBackward(
        purchases, signups, "user_id", "ts",
        leftCols = Seq("purchase_id"), carryCols = Seq("signup_id"))
      .select("purchase_id", "user_id", "signup_id")
      .collect().map(_.toString).sorted
    val native = graft.operators.Relational.asOfNative(
        purchases, signups, "user_id", "ts", carryCols = Seq("signup_id"))
      .select("purchase_id", "user_id", "signup_id")
      .collect().map(_.toString).sorted
    assert(native.toSeq == composed.toSeq)
    assert(native.nonEmpty)
  }

  test("native as-of join edge semantics: tie visible, pre-first null, key isolation") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val left = Seq((1L, 5L, 100L), (1L, 10L, 101L), (1L, 20L, 102L),
      (2L, 10L, 200L)).toDF("k", "t", "lid")
    val right = Seq((1L, 10L, 7L), (1L, 15L, 8L), (3L, 1L, 9L))
      .toDF("k", "t", "rid")
    val out = graft.operators.Relational
      .asOfNative(left, right, "k", "t", Seq("rid"))
      .collect().map(r => r.getLong(2) -> Option(r.getAs[Any]("rid"))).toMap
    assert(out(100L).isEmpty, "before first right row")
    assert(out(101L).contains(7L), "equal ts visible")
    assert(out(102L).contains(8L), "latest of key 1")
    assert(out(200L).isEmpty, "key 2 has no right rows (no leak from key 1)")
  }

  test("oracleSql keys are a subset of queries keys") {
    val qs = SparkEntry.queries.keySet
    val orphans = SparkEntry.oracleSql.keySet.diff(qs)
    assert(orphans.isEmpty, s"oracle without query: $orphans")
  }

  test("entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("intervalOverlapPairs matches brute force on random intervals, any bucket") {
    import graft.operators.Relational
    val rnd = new scala.util.Random(7)
    val ivs = (0L until 120L).map(i =>
      (i, rnd.nextInt(500).toLong)).map { case (i, s) =>
      (i, s, s + rnd.nextInt(40).toLong) }
    val df = ivs.toDF("id", "start", "end")
    val want = (for {
      (a, sa, ea) <- ivs; (b, sb, eb) <- ivs
      if a < b && sa <= eb && sb <= ea
    } yield (a, b, math.min(ea, eb) - math.max(sa, sb) + 1)).toSet
    for (bucket <- Seq(1L, 7L, 32L, 1000L)) {
      val got = Relational.intervalOverlapPairs(df, bucket)
        .as[(Long, Long, Long)].collect().toSet
      assert(got === want, s"bucket=$bucket")
    }
  }

  test("asOfForward: earliest right at/after left; equal ts matches; none -> null") {
    import graft.operators.Relational
    val left = Seq((1L, 10L, "l10"), (1L, 20L, "l20"), (2L, 5L, "l5"))
      .toDF("k", "t", "lid")
    val right = Seq((1L, 10L, "r10"), (1L, 15L, "r15"), (1L, 3L, "r3"))
      .toDF("k", "t", "rid")
    val got = Relational.asOfForward(left, right, "k", "t",
        Seq("lid"), Seq("rid"))
      .select("lid", "rid").as[(String, String)].collect().toMap
    // l10: r10 (equal ts, not r15); l20: nothing after -> null; l5: no key-2 rows
    assert(got === Map("l10" -> "r10", "l20" -> null, "l5" -> null))
  }

  test("weightedSample: cut 65536 keeps all, 0 keeps none, monotone in cut") {
    import graft.operators.Relational
    val df = spark.range(0, 2000).toDF("id")
    def n(cut: Long): Long =
      Relational.weightedSample(df, col("id"), lit(cut)).count()
    assert(n(65536L) === 2000L)
    assert(n(0L) === 0L)
    val quarter = n(16384L)
    val half = n(32768L)
    assert(quarter > 350 && quarter < 650, s"~25% expected: $quarter")
    assert(half > 850 && half < 1150, s"~50% expected: $half")
    // monotone: the quarter sample is a subset of the half sample
    val qs = Relational.weightedSample(df, col("id"), lit(16384L))
      .as[Long].collect().toSet
    val hs = Relational.weightedSample(df, col("id"), lit(32768L))
      .as[Long].collect().toSet
    assert(qs.subsetOf(hs))
  }

  test("winsorize clips to the exact interpolated percentiles per group") {
    import graft.operators.Relational
    val df = (1 to 100).map(i => ("g", i.toDouble)) // p05=5.95, p95=95.05
      .toDF("grp", "v")
    val w = Relational.winsorize(df, "grp", "v", 0.05, 0.95)
      .select("v", "v_w").as[(Double, Double)].collect().toMap
    assert(w(1.0) === 5.95 && w(5.0) === 5.95)
    assert(w(50.0) === 50.0)
    assert(w(96.0) === 95.05 && w(100.0) === 95.05)
  }

  test("sampleExactN: exact count, equals the full-sort reference, " +
      "partitioning-invariant") {
    val df = spark.range(0, 2000).toDF("id")
    val h = conv(substring(md5(col("id").cast("string")), 1, 12), 16, 10)
      .cast("long")
    val want = df.orderBy(h.asc, col("id").asc).limit(137)
      .select("id").as[Long].collect().toSet
    val got = Relational.sampleExactN(df, col("id"), 137)
      .select("id").as[Long].collect().toSet
    assert(got.size === 137 && got === want)
    // same sample from any physical layout
    val again = Relational.sampleExactN(df.repartition(7), col("id"), 137)
      .select("id").as[Long].collect().toSet
    assert(again === got)
  }

  test("sampleExactN: degenerate n, and the widening loop on a too-" +
      "tight initial cut") {
    val df = spark.range(0, 100).toDF("id")
    assert(Relational.sampleExactN(df, col("id"), 0).count() === 0L)
    assert(Relational.sampleExactN(df, col("id"), 100).count() === 100L)
    assert(Relational.sampleExactN(df, col("id"), 500).count() === 100L)
    // overscan 0.05 admits an expected 2.5 candidates for n=50: the
    // cut MUST widen (possibly several 8x rounds) and still land on
    // the identical exact sample
    val tight = Relational.sampleExactN(df, col("id"), 50, overscan = 0.05)
      .select("id").as[Long].collect().toSet
    val easy = Relational.sampleExactN(df, col("id"), 50)
      .select("id").as[Long].collect().toSet
    assert(tight.size === 50 && tight === easy)
  }

  test("sampleExactN knownTotal: skips the sizing scan; stale counts in either direction self-correct") {
    val df = spark.range(0, 2000).toDF("id")
    val want = Relational.sampleExactN(df, col("id"), 137)
      .select("id").as[Long].collect().toSet
    // exact known total: identical sample, one fewer scan
    val exact = Relational.sampleExactN(df, col("id"), 137,
        knownTotal = Some(2000L))
      .select("id").as[Long].collect().toSet
    assert(exact === want)
    // stale-LOW (corpus grew since the count): the undersized total
    // inflates the first cut — more sliver rows, same trimmed sample
    val low = Relational.sampleExactN(df, col("id"), 137,
        knownTotal = Some(300L))
      .select("id").as[Long].collect().toSet
    assert(low === want)
    // stale-low with n >= knownTotal but n < true total: the
    // whole-corpus shortcut must NOT fire on a caller-supplied count —
    // the widened-cut path returns exactly n, not everything
    val lowN = Relational.sampleExactN(df, col("id"), 500,
        knownTotal = Some(300L))
      .select("id").as[Long].collect().toSet
    assert(lowN.size === 500)
    assert(lowN === Relational.sampleExactN(df, col("id"), 500)
      .select("id").as[Long].collect().toSet)
    // stale-HIGH (rows deleted since the count): the oversized total
    // starves the first cut; the widening retry recovers the same set
    val high = Relational.sampleExactN(df, col("id"), 137,
        knownTotal = Some(2000000L))
      .select("id").as[Long].collect().toSet
    assert(high === want)
  }

  test("sampleExactN: hash-thin corpus (emptied bottom hash range) drives the widening retry to the same sample") {
    // keep only rows whose 48-bit key hash lands in the TOP half of
    // the range: the initial cut (overscan·n/total of the range) holds
    // zero rows by construction, so the 8x widening loop MUST fire —
    // and cut-independence still lands on the identical trimmed sample
    val h = conv(substring(md5(col("id").cast("string")), 1, 12), 16, 10)
      .cast("long")
    val thin = spark.range(0, 4000).toDF("id")
      .where(h >= lit((1L << 48) / 2)).persist()
    val total = thin.count()
    assert(total > 100L, s"thin corpus too small: $total")
    val got = Relational.sampleExactN(thin, col("id"), 25)
      .select("id").as[Long].collect().toSet
    val want = thin.orderBy(h.asc, col("id").asc).limit(25)
      .select("id").as[Long].collect().toSet
    assert(got.size === 25 && got === want)
    // the initial cut really was empty: no surviving row hashes below
    // ceil(max48 * 4 * 25 / total)
    val cut0 = math.ceil((1L << 48).toDouble * 4 * 25 / total).toLong
    assert(thin.where(h < lit(cut0)).count() === 0L,
      "precondition: the sized first cut must under-collect")
    thin.unpersist()
  }

  test("sampleStratifiedN: per-stratum picks equal sampleExactN over " +
      "that stratum alone; short strata return everything; " +
      "partitioning-invariant") {
    val df = spark.range(0, 3000).toDF("id")
      .withColumn("grp",
        when(col("id") % 10 === 0, lit("a"))          // 300 rows
          .when(col("id") % 10 < 4, lit("b"))          // 900 rows
          .when(col("id") < 50, lit("tiny"))           // < n rows
          .otherwise(lit("c")))
    val got = Relational.sampleStratifiedN(df, col("grp"), col("id"),
        40, keyName = "id")
      .select("stratum", "rk", "id")
      .as[(String, Long, Long)].collect()
    val byStratum = got.groupBy(_._1)
    // exact n where the stratum is big enough, everything where not
    val tinyTotal = df.where(col("grp") === "tiny").count()
    assert(tinyTotal < 40)
    assert(byStratum("a").length === 40)
    assert(byStratum("b").length === 40)
    assert(byStratum("c").length === 40)
    assert(byStratum("tiny").length === tinyTotal.toInt)
    // stratum slice == sampleExactN over the filtered stratum, in the
    // identical (hash ASC, key ASC) order
    for (g <- Seq("a", "b")) {
      val want = Relational.sampleExactN(
          df.where(col("grp") === g), col("id"), 40)
        .select("id").as[Long].collect()
      val slice = byStratum(g).sortBy(_._2).map(_._3)
      assert(slice.toSeq === want.toSeq, s"stratum $g")
    }
    // short stratum: sampleExactN's whole-corpus shortcut returns the
    // rows unsorted, the heap returns them rank-ordered — same SET
    assert(byStratum("tiny").map(_._3).toSet ===
      Relational.sampleExactN(df.where(col("grp") === "tiny"),
        col("id"), 40).select("id").as[Long].collect().toSet)
    // same picks from any physical layout (heap merge is order-free)
    val again = Relational.sampleStratifiedN(df.repartition(13),
        col("grp"), col("id"), 40, keyName = "id")
      .select("stratum", "rk", "id")
      .as[(String, Long, Long)].collect()
    assert(again.sortBy(r => (r._1, r._2)).toSeq ===
      got.sortBy(r => (r._1, r._2)).toSeq)
  }
}
