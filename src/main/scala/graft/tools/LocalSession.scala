package graft.tools

import org.apache.spark.sql.SparkSession

/** The SparkSession the tool mains run on: `local[cpus]` with as many
  * shuffle partitions, AQE on, UTC session time, no UI, WARN logging. */
object LocalSession {
  def apply(cpus: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
