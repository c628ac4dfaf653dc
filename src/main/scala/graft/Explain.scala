package graft

import org.apache.spark.sql.SparkSession

/** Plan inspector: prints the formatted physical plan and wall time for
  * one registered query. Usage:
  *   runMain graft.Explain <queryName> [sfDir] [mode]
  * mode: formatted (default) | extended | cost | codegen | time-only
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val mode = if (args.length > 2) args(2) else "formatted"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val builder = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    Tables.requiredConfs.foreach { case (k, v) => builder.config(k, v) }
    val spark = builder.getOrCreate()
    graft.functions.GraftFunctions.register(spark)
    spark.sparkContext.setLogLevel("WARN")
    val df = SparkEntry.queries(name)(spark, sfDir)
    if (mode != "time-only") df.explain(mode)
    val t0 = System.nanoTime()
    val n = df.count()
    println(f"[explain] $name: $n rows in ${(System.nanoTime() - t0) / 1e9}%.2f s")
    spark.stop()
  }
}
