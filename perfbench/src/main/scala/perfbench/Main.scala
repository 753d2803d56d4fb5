package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.operators.Caches

/** One benchmark run: `--workload <name> --seed <n> --seconds <s>
  * --trace <0|1> --work <dir>`. Prints one JSON object as the last line
  * of standard output; progress and Spark's log go to standard error.
  *
  * A run is: start Spark, generate the inputs from the seed, set up
  * `SetupReps` times (write the inputs, build what the workload stores),
  * run a fixed number of warm-up rounds, then a fixed number of timed
  * rounds, set by `--seconds`. Every operation's output is checked,
  * warm-up included. */
object Main {

  /** Spark's local cores. Two of the machine's four processors, so that
    * the thread that plans the jobs, the JIT compiler and the collector
    * do not queue behind task threads: on a shared host with CPU steal,
    * `local[4]` made a `mapreduce` job wait for its most-stolen
    * processor (see perfbench/README.md, Pinned settings). */
  val Cores = 2

  /** Set-ups per run; `setup_s` takes the median. */
  val SetupReps = 3

  /** Warm-up rounds per workload, read off the per-round time curves in
    * perfbench/README.md, where the choice is explained. */
  val WarmupRounds: Map[String, Int] =
    Map("mapreduce" -> 10, "index_serve" -> 4)

  /** Seconds one timed round takes at the reference medians in
    * perfbench/README.md. A run times `--seconds` / this many rounds: a
    * count that does not depend on the program's speed. With a time budget
    * instead, a faster program would get more and later (warmer) rounds,
    * and its median would read faster than the program is. */
  val RoundSeconds: Map[String, Double] =
    Map("mapreduce" -> 0.9, "index_serve" -> 5.5)

  def main(args: Array[String]): Unit = {
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val opt = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val workload = opt("workload")
    require(Workload.names.contains(workload), s"unknown workload $workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    val work = new java.io.File(opt("work")).getAbsoluteFile
    val warmup = WarmupRounds(workload)
    val timedRounds = math.max(1, math.round(seconds / RoundSeconds(workload)).toInt)
    val cores = math.min(Cores, Runtime.getRuntime.availableProcessors)

    val input = Future(Workload.generate(workload, seed))(ExecutionContext.global)
    val spark = session(work, cores)
    val sparkUpS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    System.err.println(f"perfbench: Spark up at $sparkUpS%.1f s")
    try {
      var w: Workload = null
      val trace = new Trace(spark, traced, cores, () => w.indexRoots)
      w = Workload(workload, Await.result(input, Duration.Inf), spark,
        new java.io.File(work, "data").getPath, trace)
      val setupReps = (0 until SetupReps).map { n =>
        val t0 = System.nanoTime()
        w.setup(n)
        val s = (System.nanoTime() - t0) / 1e9
        System.err.println(f"perfbench: set-up $n took $s%.2f s")
        s
      }
      // Spark's start once, plus the median set-up
      val setupS = sparkUpS + setupReps.sorted.apply(SetupReps / 2)
      val errors = mutable.ArrayBuffer.empty[String]
      val stats = new Stats
      def runRound(r: Int, timed: Boolean): Unit = {
        val ops = w.round(r)
        for ((op, i) <- ops.zipWithIndex) {
          if (timed) trace.begin()
          val gc0 = gcMs()
          val t0 = System.nanoTime()
          val res = try Right(op.run()) catch { case e: Throwable => Left(e) }
          val dt = (System.nanoTime() - t0) / 1e9
          if (timed) trace.end(dt)
          res match {
            case Right(out) =>
              if (timed) {
                stats.ok(op.kind, dt, (gcMs() - gc0) / 1e3)
                if (traced) stats.indexFiles = math.max(stats.indexFiles,
                  w.indexRoots.map(Workload.dataFiles(_).length).sum.toLong)
                // live heap: a full collection right after a round's last
                // op, before its intermediates are released, on timed
                // rounds 1, 2, 4, 8, ...
                if (i == ops.length - 1 && Integer.bitCount(r - warmup + 1) == 1)
                  stats.heap(liveHeapMb())
              }
              errors ++= op.check(out)
            case Left(e) =>
              System.err.println(s"perfbench: ${op.kind} FAILED: $e")
              if (timed) stats.fail() else throw e
          }
          Caches.release()
          spark.catalog.clearCache()
          System.err.println(f"perfbench: round $r%3d ${op.kind}%-7s ${dt * 1e3}%9.1f ms" +
            (if (timed) "" else " (warm-up)"))
        }
      }
      (0 until warmup).foreach(runRound(_, timed = false))
      (warmup until warmup + timedRounds).foreach(runRound(_, timed = true))
      errors ++= w.finish()
      errors.distinct.foreach(e => System.err.println(s"perfbench: CHECK FAILED: $e"))
      System.err.println(f"perfbench: $timedRounds timed rounds, op_median_ms ${stats.medianMs}%.1f")

      val metrics: Seq[(String, Double, String)] =
        if (!traced) Seq(
          ("setup_s", setupS, "s"),
          ("op_median_ms", stats.medianMs, "ms"),
          ("live_heap_peak_mb", stats.heapPeakMb, "MB"),
          ("stored_bytes_per_input_byte", w.storedRatio, "ratio"))
        else {
          val t = trace.perRound(timedRounds)
          PerLayer.map { case (k, unit) =>
            val v = k match {
              case "io.index_files" => stats.indexFiles.toDouble
              case "jvm.gc_s" => stats.gcS / timedRounds
              case "serve.search_median_ms" => stats.medianMs("search")
              case "serve.ann_median_ms" => stats.medianMs("ann")
              case "serve.lookup_median_ms" => stats.medianMs("lookup")
              case "serve.query_p90_ms" => stats.p90Ms(Set("search", "ann", "lookup"))
              case _ => t.getOrElse(k, 0.0)
            }
            (k, v, unit)
          }
        }
      val body = metrics.map { case (k, v, u) =>
        s""""$k": {"value": ${if (v.isNaN || v.isInfinite) 0.0 else v}, "unit": "$u"}"""
      }.mkString(", ")
      println(s"""{"correct": ${errors.isEmpty}, "attempted": ${stats.attempted}, """ +
        s""""failed": ${stats.failed}, "metrics": {$body}}""")
    } finally spark.stop()
  }

  /** Per-layer metrics of the traced run, with their units. */
  val PerLayer: Seq[(String, String)] =
    Trace.Layers.flatMap(l => Seq(s"$l.call_s" -> "s", s"$l.jobs" -> "count",
      s"$l.task_cpu_s" -> "s", s"$l.shuffle_write_mb" -> "MB")) ++ Seq(
      "spark.action_s" -> "s", "spark.jobs_per_op" -> "count",
      "spark.tasks_per_op" -> "count", "spark.task_cpu_s" -> "s",
      "spark.task_run_s" -> "s", "spark.idle_core_s" -> "s",
      "spark.shuffle_write_mb" -> "MB", "spark.shuffle_read_mb" -> "MB",
      "spark.spill_mb" -> "MB", "spark.exchanges_per_op" -> "count",
      "caches.persisted_mb" -> "MB",
      "io.index_read_mb" -> "MB", "io.index_files" -> "count", "io.written_mb" -> "MB",
      "io.index_build_s" -> "s", "io.index_build_jobs" -> "count",
      "io.index_written_mb" -> "MB",
      "jvm.gc_s" -> "s",
      "serve.search_median_ms" -> "ms", "serve.ann_median_ms" -> "ms",
      "serve.lookup_median_ms" -> "ms", "serve.query_p90_ms" -> "ms")

  /** Spark pinned by the benchmark: `cores` local cores, as many shuffle
    * partitions, adaptive execution on, all scratch space under `work`. */
  def session(work: java.io.File, cores: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new java.io.File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new java.io.File(work, "warehouse").getPath)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  /** Heap in use right after a full collection, in MB. */
  private def liveHeapMb(): Double = {
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1e6
  }

  /** Timings and counts of the timed operations. */
  final class Stats {
    private val times = mutable.ArrayBuffer.empty[(String, Double)] // op kind, seconds
    var gcS = 0.0
    private var heapMax = 0.0
    var failed = 0
    var indexFiles = 0L
    def attempted: Int = times.length + failed
    def ok(kind: String, s: Double, gc: Double): Unit = {
      times += ((kind, s)); gcS += gc
    }
    def fail(): Unit = failed += 1
    def heap(mb: Double): Unit = heapMax = math.max(heapMax, mb)
    /** Linear-interpolation quantile (the median of two values is their
      * mean). */
    private def quantile(xs: Seq[Double], p: Double): Double = {
      val s = xs.sorted
      if (s.isEmpty) 0.0
      else {
        val pos = p * (s.length - 1)
        val lo = pos.toInt
        s(lo) + (pos - lo) * (s(math.min(lo + 1, s.length - 1)) - s(lo))
      }
    }
    /** Median time of a round: the sum over the round's operations (one
      * of each kind) of each kind's median. */
    def medianMs: Double = times.map(_._1).distinct.map(medianMs).sum
    def medianMs(kind: String): Double =
      quantile(times.filter(_._1 == kind).map(_._2 * 1e3).toSeq, 0.5)
    def p90Ms(kinds: Set[String]): Double =
      quantile(times.filter(t => kinds(t._1)).map(_._2 * 1e3).toSeq, 0.9)
    def heapPeakMb: Double = heapMax
  }
}
