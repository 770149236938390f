package org.apache.spark.sql

/** A session's `sessionUUID`, which Spark keeps `private[sql]`. Static
  * per-session state in graft is keyed on it, so that no static
  * collection pins a `SparkSession` object for the life of the JVM.
  */
object GraftSessionKey {
  def of(spark: SparkSession): String =
    spark.asInstanceOf[classic.SparkSession].sessionUUID
}
