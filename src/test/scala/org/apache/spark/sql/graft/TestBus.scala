package org.apache.spark.sql.graft

/** Test access to the SparkContext's listener bus, which is private to
  * Spark. */
object TestBus {
  /** The listeners registered on `spark`'s context. */
  def listeners(spark: org.apache.spark.sql.SparkSession): Seq[AnyRef] = {
    import scala.jdk.CollectionConverters._
    spark.sparkContext.listenerBus.listeners.asScala.toSeq
  }
}
