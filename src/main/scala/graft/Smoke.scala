package graft

/** Local smoke driver for the flagship `SparkEntry.entry` contract
  * (mirrors the round driver's t1 check: rows > 0 on sf0.001). */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.local(4)
    val df = SparkEntry.entry(spark)
    df.printSchema()
    df.show(5, truncate = false)
    println(s"[smoke] entry rows = ${df.count()}")
    spark.stop()
  }
}
