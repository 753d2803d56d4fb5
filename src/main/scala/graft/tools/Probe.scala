package graft.tools

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.FormattedMode
import org.apache.spark.sql.functions.{col, count, lit, max, xxhash64}
import org.apache.spark.sql.graft.shim

import graft.SparkEntry
import graft.operators.Caches

/** Times inventory queries with Bench's method and splits every run into
  * plan building (the query function, which may run eager jobs such as
  * checkpoints and index builds) and the action.
  *
  * After Bench's JVM warm-up, one cold round runs every query once, then
  * `--n` rounds run them interleaved (A, B, A, B), so a CPU-steal window
  * lands on one sample of many queries instead of every sample of one.
  * Cached and checkpointed intermediates are released after each run.
  * Each run records the seconds of both phases and the Spark jobs each
  * started. The action is `count()`, or with `--consume` a hash over
  * every output column: `count()` lets Catalyst prune subtrees that do
  * not change the row count, such as a left join onto an aggregate.
  *
  * Prints one line per run and, last, one JSON line: cold, median and
  * min per query, the summed medians and minima of the run totals, and
  * the failed queries. `--plans outDir tag` writes each query's
  * formatted plan, built in the cold round before its action, to
  * `outDir/<q>_<tag>.txt`; with `--n 0` Probe only writes the plans.
  *
  * usage: runMain graft.tools.Probe <q…> --sf dir [--n rounds] [--consume] [--plans outDir tag]
  * (on local[SPARK_GRAFT_CPUS], 32 by default as in Bench)
  */
object Probe {

  /** One run of one query: the seconds and Spark jobs of plan building
    * and of the action, and the rows the action saw. */
  final case class Run(buildS: Double, actionS: Double,
      buildJobs: Long, actionJobs: Long, rows: Long) {
    def totalS: Double = buildS + actionS
  }

  /** A query's cold run and its timed runs, one per round. */
  final case class Samples(cold: Run, runs: Seq[Run])

  /** `queries` holds, in the order named, the queries whose every run
    * succeeded; a query that failed is only named in `failed`. */
  final case class Report(sfDir: String, rounds: Int, consume: Boolean,
      queries: Seq[(String, Samples)], failed: Seq[String]) {

    def json: String = {
      def median(xs: Seq[Double]): Double = xs.sorted.apply(xs.length / 2)
      def stat(runs: Seq[Run], pick: Seq[Double] => Double): String = {
        def s(f: Run => Double) = pick(runs.map(f))
        f"""{"build_s":${s(_.buildS)}%.3f,"action_s":${s(_.actionS)}%.3f,""" +
          f""""total_s":${s(_.totalS)}%.3f,"build_jobs":${s(_.buildJobs.toDouble)}%.0f,""" +
          f""""action_jobs":${s(_.actionJobs.toDouble)}%.0f}"""
      }
      val perQuery = queries.map { case (q, Samples(cold, runs)) =>
        s""""$q":{"rows":${cold.rows},"cold":${stat(Seq(cold), _.head)},""" +
          s""""median":${stat(runs, median)},"min":${stat(runs, _.min)}}"""
      }.mkString("{", ",", "}")
      val medianTotal = queries.map(q => median(q._2.runs.map(_.totalS))).sum
      val minTotal = queries.map(_._2.runs.map(_.totalS).min).sum
      f"""{"sf":"$sfDir","rounds":$rounds,"consume":$consume,""" +
        f""""median_total_s":$medianTotal%.3f,"min_total_s":$minTotal%.3f,""" +
        s""""queries":$perQuery,"failed":${failed.map("\"" + _ + "\"").mkString("[", ",", "]")}}"""
    }
  }

  /** Probes `names` on `spark`. With `rounds == 0` it only builds each
    * query and writes its plan to `plans`, which must then be given.
    * Every name is checked against the inventory before anything runs.
    * The job-counting listener is removed before this returns. */
  def probe(spark: SparkSession, sfDir: String, names: Seq[String],
      rounds: Int, consume: Boolean = false,
      plans: Option[(Path, String)] = None): Report = {
    val inventory = SparkEntry.queries
    val unknown = names.filterNot(inventory.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
    require(names.nonEmpty && rounds >= 0 && (rounds > 0 || plans.nonEmpty),
      "name at least one query, and give --plans when --n is 0")
    val jobs = new AtomicLong(0L)
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    /** `body`'s result, its seconds and the jobs it started. */
    def phase[T](body: => T): (T, Double, Long) = {
      val j0 = jobs.get()
      val t0 = System.nanoTime()
      val out = body
      val dt = (System.nanoTime() - t0) / 1e9
      shim.drainListeners(spark) // listener events arrive asynchronously
      (out, dt, jobs.get() - j0)
    }
    def act(df: DataFrame): Long =
      if (consume) df.select(count(lit(1)),
        max(xxhash64(df.columns.map(col).toIndexedSeq: _*))).head().getLong(0)
      else df.count()
    val failed = scala.collection.mutable.LinkedHashSet.empty[String]
    /** Runs `name` once; round 0 is the cold round, which also writes
      * the plan. None when the run has no action or failed. */
    def once(name: String, round: Int): Option[Run] = {
      spark.sparkContext.setJobDescription(s"probe: $name r$round")
      val t0 = System.nanoTime()
      try {
        val (df, buildS, buildJobs) = phase(inventory(name)(spark, sfDir))
        for ((outDir, tag) <- plans if round == 0) {
          val plan = df.queryExecution.explainString(FormattedMode)
          val dt = (System.nanoTime() - t0) / 1e9
          Files.createDirectories(outDir)
          Files.write(outDir.resolve(s"${name}_$tag.txt"),
            (f"// $name ($tag) — sf=$sfDir, build+explain $dt%.2f s%n" + plan)
              .getBytes("UTF-8"))
        }
        if (rounds == 0) None
        else {
          val (rows, actionS, actionJobs) = phase(act(df))
          println(f"[probe] r$round $name%-34s build $buildS%7.3f s $buildJobs%4d jobs" +
            f"  action $actionS%7.3f s $actionJobs%4d jobs  rows=$rows")
          Some(Run(buildS, actionS, buildJobs, actionJobs, rows))
        }
      } catch {
        case t: Throwable =>
          failed += name
          System.err.println(s"probe: $name FAILED: ${t.getClass.getName}: ${t.getMessage}")
          None
      } finally {
        spark.catalog.clearCache()
        Caches.release()
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      // Bench's warm-up: JIT, codegen and the parquet reader are not
      // charged to whichever query runs first
      spark.range(1 << 20).selectExpr("sum(id * 2)").collect()
      spark.read.parquet(s"$sfDir/region.parquet").count()
      val cold = names.flatMap(n => once(n, 0).map(n -> _)).toMap
      val runs = (1 to rounds).flatMap(r =>
        names.filterNot(failed).flatMap(n => once(n, r).map(n -> _)))
      val samples = names.filterNot(failed).filter(cold.contains).map(n =>
        n -> Samples(cold(n), runs.collect { case (`n`, run) => run }))
      Report(sfDir, rounds, consume, samples, failed.toSeq)
    } finally {
      spark.sparkContext.setJobDescription(null)
      spark.sparkContext.removeSparkListener(listener)
    }
  }

  private val usage =
    "usage: Probe <q…> --sf dir [--n rounds] [--consume] [--plans outDir tag]"

  def main(args: Array[String]): Unit = {
    case class Opts(names: Seq[String] = Nil, sfDir: String = "", rounds: Int = 3,
        consume: Boolean = false, plans: Option[(Path, String)] = None)
    @annotation.tailrec
    def parse(rest: List[String], o: Opts): Opts = rest match {
      case Nil => o
      case "--sf" :: dir :: t => parse(t, o.copy(sfDir = dir))
      case "--n" :: n :: t => parse(t, o.copy(rounds = n.toInt))
      case "--consume" :: t => parse(t, o.copy(consume = true))
      case "--plans" :: dir :: tag :: t => parse(t, o.copy(plans = Some(Paths.get(dir) -> tag)))
      case q :: t if !q.startsWith("--") => parse(t, o.copy(names = o.names :+ q))
      case _ => throw new IllegalArgumentException(usage)
    }
    val o = parse(args.toList, Opts())
    require(o.sfDir.nonEmpty, usage)
    val spark = LocalSession(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    try println(probe(spark, o.sfDir, o.names, o.rounds, o.consume, o.plans).json)
    finally spark.stop()
  }
}
