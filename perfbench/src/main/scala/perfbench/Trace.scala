package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{CommandResultExec, FileSourceScanLike, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.util.QueryExecutionListener

/** Per-layer accounting for the traced run.
  *
  * The benchmark wraps each public call into the program in a span named
  * after the program's module (`engine`, `textanalysis`, `dedup`,
  * `retrieval`, `similarity`). A Spark job belongs to the span whose time
  * window holds the job's start; with one client thread the windows do
  * not overlap, so this is exact even for jobs an operator starts on its
  * own thread pools. Jobs outside every span belong to the action the
  * benchmark runs to force the operation. Job groups and descriptions
  * are not used: operators set their own, and pooled threads inherit
  * stale ones.
  *
  * With tracing off, `span` only runs its body and no listener is
  * registered. */
final class Trace(spark: SparkSession, val on: Boolean, cores: Int,
    indexRoots: () => Seq[String]) {

  import Trace._

  private final class Job(val startMs: Long) {
    var tasks = 0L; var cpuNs = 0L; var runMs = 0L
    var shuffleW = 0L; var shuffleR = 0L; var spill = 0L; var written = 0L
  }

  // listener state, written on the listener thread and read after a drain
  private val jobs = mutable.ArrayBuffer.empty[Job]
  private val stageJob = mutable.HashMap.empty[Int, Job]
  private var exchanges = 0L
  private val seen = java.util.Collections.newSetFromMap(
    new java.util.IdentityHashMap[SparkPlan, java.lang.Boolean]())
  private var indexRead = 0L
  // cached RDD blocks (persisted frames and local checkpoints): bytes
  // held now, per block, and the most held since the op began
  private val blocks = mutable.HashMap.empty[String, Long]
  private var held = 0L
  private var peak = 0L

  private val lock = new Object
  private val spans = mutable.ArrayBuffer.empty[(String, Long, Long, Long)] // layer, t0 ms, t1 ms, ns
  private val totals = mutable.LinkedHashMap.empty[String, Double].withDefaultValue(0.0)
  private val built = mutable.LinkedHashMap.empty[String, Double].withDefaultValue(0.0)
  private var builds = 0

  if (on) {
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = lock.synchronized {
        val j = new Job(e.time)
        jobs += j
        e.stageIds.foreach(stageJob(_) = j)
      }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock.synchronized {
        for (j <- stageJob.get(e.stageId); m <- Option(e.taskMetrics)) {
          j.tasks += 1
          j.cpuNs += m.executorCpuTime
          j.runMs += m.executorRunTime
          j.shuffleW += m.shuffleWriteMetrics.bytesWritten
          j.shuffleR += m.shuffleReadMetrics.totalBytesRead
          j.spill += m.diskBytesSpilled
          j.written += m.outputMetrics.bytesWritten
        }
      }
      override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = lock.synchronized {
        val info = e.blockUpdatedInfo
        if (info.blockId.isRDD) {
          val bytes = if (info.storageLevel.isValid) info.memSize + info.diskSize else 0L
          held += bytes - blocks.getOrElse(info.blockId.name, 0L)
          if (bytes > 0) blocks(info.blockId.name) = bytes else blocks.remove(info.blockId.name)
          peak = math.max(peak, held)
        }
      }
    })
    spark.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = lock.synchronized {
        // a cached relation's plan shows up under every query reading it:
        // count each node once per operation
        val nodes = planNodes(qe.executedPlan).filter(seen.add)
        exchanges += nodes.count(_.isInstanceOf[Exchange])
        val roots = indexRoots().map(r => new java.io.File(r).getAbsolutePath)
        indexRead += nodes.collect {
          case s: FileSourceScanLike if s.relation.location.rootPaths.exists(p =>
              roots.exists(r => p.toUri.getPath.startsWith(r))) =>
            s.metrics.get("filesSize").map(_.value).getOrElse(0L)
        }.sum
      }
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    })
  }

  private def drain(): Unit = org.apache.spark.perfbench.Bus.drain(spark.sparkContext)

  /** Run one public call of `layer` inside a span. */
  def span[A](layer: String)(body: => A): A =
    if (!on) body
    else {
      val (t0, n0) = (System.currentTimeMillis(), System.nanoTime())
      try body
      finally spans += ((layer, t0, System.currentTimeMillis(), System.nanoTime() - n0))
    }

  /** Set-up work that writes the stored indexes: its wall time, its jobs
    * and the bytes they wrote, reported per set-up, not per round. */
  def build[A](body: => A): A =
    if (!on) body
    else {
      begin()
      val t0 = System.nanoTime()
      try body
      finally {
        val s = (System.nanoTime() - t0) / 1e9
        drain()
        lock.synchronized {
          builds += 1
          built("io.index_build_s") += s
          built("io.index_build_jobs") += jobs.length
          built("io.index_written_mb") += jobs.map(_.written).sum / 1e6
        }
      }
    }

  /** Start of a timed operation. */
  def begin(): Unit = if (on) {
    drain()
    lock.synchronized {
      jobs.clear(); exchanges = 0; indexRead = 0; seen.clear()
      peak = held
    }
    spans.clear()
  }

  /** End of a timed operation that took `wallS` seconds. */
  def end(wallS: Double): Unit = if (on) {
    drain()
    lock.synchronized {
      def add(k: String, v: Double): Unit = totals(k) += v
      val inSpan = jobs.map { j =>
        j -> spans.filter(s => s._2 <= j.startMs && j.startMs <= s._3)
          .sortBy(-_._2).headOption.map(_._1)
      }
      for (l <- Layers) {
        val js = inSpan.collect { case (j, Some(`l`)) => j }
        add(s"$l.call_s", spans.filter(_._1 == l).map(_._4).sum / 1e9)
        add(s"$l.jobs", js.length)
        add(s"$l.task_cpu_s", js.map(_.cpuNs).sum / 1e9)
        add(s"$l.shuffle_write_mb", js.map(_.shuffleW).sum / 1e6)
      }
      val runS = jobs.map(_.runMs).sum / 1e3
      add("spark.action_s", wallS - spans.map(_._4).sum / 1e9)
      add("spark.jobs_per_op", jobs.length)
      add("spark.tasks_per_op", jobs.map(_.tasks).sum)
      add("spark.task_cpu_s", jobs.map(_.cpuNs).sum / 1e9)
      add("spark.task_run_s", runS)
      add("spark.idle_core_s", wallS * cores - runS)
      add("spark.shuffle_write_mb", jobs.map(_.shuffleW).sum / 1e6)
      add("spark.shuffle_read_mb", jobs.map(_.shuffleR).sum / 1e6)
      add("spark.spill_mb", jobs.map(_.spill).sum / 1e6)
      add("spark.exchanges_per_op", exchanges)
      add("caches.persisted_mb", peak / 1e6)
      add("io.index_read_mb", indexRead / 1e6)
      add("io.written_mb", jobs.map(_.written).sum / 1e6)
    }
  }

  /** Everything recorded by `end`, divided by `rounds`, and what `build`
    * recorded, divided by the number of builds. */
  def perRound(rounds: Int): Map[String, Double] =
    totals.map { case (k, v) => k -> v / rounds }.toMap ++
      built.map { case (k, v) => k -> v / math.max(1, builds) }
}

object Trace {
  /** The program's operator modules, in the order they are reported. */
  val Layers: Seq[String] = Seq("engine", "textanalysis", "dedup", "retrieval", "similarity")

  /** Every node of an executed plan: the final plan of each adaptive
    * query, the plans inside its query stages, subqueries, the plan under
    * a command and the plan that fills a cached relation. Reused
    * exchanges are leaves, so they do not count as exchanges. */
  def planNodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => planNodes(a.executedPlan)
    case s: QueryStageExec => planNodes(s.plan)
    case c: CommandResultExec => planNodes(c.commandPhysicalPlan)
    case i: InMemoryTableScanExec => i +: planNodes(i.relation.cachedPlan)
    case o => o +: (o.children ++ o.subqueries).flatMap(planNodes)
  }
}
