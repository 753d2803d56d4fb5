package graft

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.graft.{shim, TestBus}

import graft.tools.Probe

/** `graft.tools.Probe`'s loop on the shared session. */
class ProbeSpec extends SparkSpec {
  private val two = Seq("q1_pricing_summary", "q3_top_orders")

  test("two queries at n=2: one cold and two timed runs each, rows == count(), listener removed") {
    val report = Probe.probe(spark, sf, two, rounds = 2)
    assert(report.failed.isEmpty)
    assert(report.queries.map(_._1) === two)
    for ((q, Probe.Samples(cold, runs)) <- report.queries) {
      assert(runs.size === 2, q)
      val rows = SparkEntry.queries(q)(spark, sf).count()
      for (r <- cold +: runs) {
        assert(r.actionJobs >= 1, q)
        assert(r.rows === rows, q)
        assert(r.buildS >= 0 && r.actionS > 0, q)
      }
    }
    val json = report.json
    assert(json.startsWith("{") && json.endsWith("}") && !json.contains("\n"))
    for (k <- two :+ "median_total_s" :+ "min_total_s") assert(json.contains(s"\"$k\""), k)
    assert(!TestBus.listeners(spark).exists(_.getClass.getName.startsWith("graft.tools.Probe")))
  }

  test("--plans writes the formatted plan, and --n 0 runs no action") {
    val dir = Files.createTempDirectory("graft_probe")
    val report = Probe.probe(spark, sf, two.take(1), rounds = 0,
      plans = Some(dir -> "t"))
    assert(report.queries.isEmpty && report.failed.isEmpty)
    val plan = Files.readString(dir.resolve("q1_pricing_summary_t.txt"))
    assert(plan.startsWith("// q1_pricing_summary (t) — sf="))
    assert(plan.contains("== Physical Plan =="))
  }

  test("an unknown query is rejected by name before any query runs") {
    val jobs = new AtomicInteger()
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    shim.drainListeners(spark)
    spark.sparkContext.addSparkListener(l)
    try {
      val e = intercept[IllegalArgumentException](
        Probe.probe(spark, sf, two :+ "q_no_such_query", rounds = 1))
      assert(e.getMessage.contains("q_no_such_query"))
      shim.drainListeners(spark)
      assert(jobs.get === 0)
    } finally spark.sparkContext.removeSparkListener(l)
  }
}
