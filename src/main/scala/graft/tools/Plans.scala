package graft.tools

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** Optimization evidence: dumps `.explain("formatted")` for a list of
  * queries into <outDir>/<query>_<tag>.txt (tag = "before" / "after"),
  * one JVM for the whole batch so the dump is cheap.
  *
  * usage: runMain graft.tools.Plans <outDir> <tag> <q1> <q2> ... [--sf <dir>]
  * (e.g. outDir `plans/r12`)
  */
object Plans {
  def main(args: Array[String]): Unit = {
    val outDir = Paths.get(args(0))
    val tag = args(1)
    val sfIdx = args.indexOf("--sf")
    val sfDir = if (sfIdx >= 0) args(sfIdx + 1) else "/root/testdata/sf0.1"
    val names =
      (if (sfIdx >= 0) args.slice(2, sfIdx) else args.drop(2)).toSeq
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    Files.createDirectories(outDir)
    for (name <- names) {
      spark.sparkContext.setJobDescription(s"plans: $name")
      val t0 = System.nanoTime()
      try {
        val df = graft.SparkEntry.queries(name)(spark, sfDir)
        val plan = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        val dt = (System.nanoTime() - t0) / 1e9
        Files.write(outDir.resolve(s"${name}_$tag.txt"),
          (f"// $name ($tag) — sf=$sfDir, build+explain $dt%.2f s%n" + plan)
            .getBytes("UTF-8"))
        println(f"dumped $name%-32s build+explain $dt%6.2f s")
      } catch {
        case t: Throwable =>
          println(s"FAILED $name: ${t.getClass.getName}: ${t.getMessage}")
      } finally {
        spark.catalog.clearCache()
        graft.operators.Caches.release()
      }
    }
    spark.stop()
  }
}
