package graft

import org.apache.spark.sql.SparkSession

/** Local smoke driver for the flagship `SparkEntry.entry` contract
  * (mirrors the round driver's t1 check: rows > 0 on sf0.001). */
object Smoke {
  def main(args: Array[String]): Unit = {
    val builder = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    Tables.requiredConfs.foreach { case (k, v) => builder.config(k, v) }
    val spark = builder.getOrCreate()
    graft.functions.GraftFunctions.register(spark)
    spark.sparkContext.setLogLevel("WARN")
    val df = SparkEntry.entry(spark)
    df.printSchema()
    df.show(5, truncate = false)
    println(s"[smoke] entry rows = ${df.count()}")
    spark.stop()
  }
}
