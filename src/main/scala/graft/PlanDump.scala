package graft

/** Batch plan dumper for the optimization-round deliverables: writes
  * `plans/<tag>/<query>_<suffix>.txt` with the `explain("formatted")`
  * output of each named query, all in ONE session (one JVM per query is
  * what this exists to avoid); `graft.Prof <query> <sfDir> 1` times one.
  * Usage:
  *   runMain graft.PlanDump <tag> <suffix> <q1,q2,...> [sfDir]
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val tag = args(0)
    val suffix = args(1)
    val names = args(2).split(',').filter(_.nonEmpty)
    val sfDir = if (args.length > 3) args(3) else "/root/testdata/sf0.1"
    val spark = GraftSession.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt)
    val outDir = java.nio.file.Paths.get("plans", tag)
    java.nio.file.Files.createDirectories(outDir)
    names.foreach { name =>
      val plan =
        try {
          val df = SparkEntry.queries(name)(spark, sfDir)
          df.queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode)
        } catch { case e: Throwable => s"ERROR building $name: $e" }
      java.nio.file.Files.write(outDir.resolve(s"${name}_$suffix.txt"),
        plan.getBytes("UTF-8"))
      println(s"[plandump] wrote ${name}_$suffix.txt (${plan.length} chars)")
    }
    spark.stop()
  }
}
