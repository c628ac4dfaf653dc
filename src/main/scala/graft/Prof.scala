package graft

/** Throwaway profiling harness: times one query N times in a session
  * configured exactly like Bench, optionally after the warm-up loop.
  * Usage: runMain graft.Prof <query> [sfDir] [reps] [warmupAll] [warmupDir]
  *
  * The warm-up pass runs every registered query against `warmupDir`
  * (default [[Bench.WarmupDir]], the cheap sf — codegen/memo warm-up, not
  * a timing pass); pass an explicit dir to warm indexes at the profiled
  * SF instead.
  */
object Prof {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val reps = if (args.length > 2) args(2).toInt else 3
    val warmupAll = args.length > 3 && args(3) == "true"
    val warmupDir = if (args.length > 4) args(4) else Bench.WarmupDir
    val spark = GraftSession.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt)
    if (warmupAll) {
      if (!new java.io.File(warmupDir).isDirectory)
        println(s"[prof] WARNING: warm-up dir $warmupDir missing — warm-up is a no-op")
      val t0 = System.nanoTime()
      SparkEntry.queries.foreach { case (_, fn) =>
        try { fn(spark, warmupDir).count() }
        catch { case _: Throwable => () }
      }
      println(f"[prof] warmup-all took ${(System.nanoTime() - t0) / 1e9}%.1f s")
      Tables.clearMemo(spark)
    }
    // optional per-stage breakdown: SPARK_GRAFT_PROF_STAGES=1 prints
    // each stage's wall span, task count and task-time sum — the
    // local-mode stand-in for the UI's stage table (guide §7.1)
    if (sys.env.get("SPARK_GRAFT_PROF_STAGES").contains("1"))
      spark.sparkContext.addSparkListener(
        new org.apache.spark.scheduler.SparkListener {
          override def onStageCompleted(
              sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
            val si = sc.stageInfo
            val wall = for {
              s <- si.submissionTime; c <- si.completionTime
            } yield (c - s) / 1000.0
            println(f"[prof-stage] id=${si.stageId}%4d tasks=${si.numTasks}%4d " +
              f"wall=${wall.getOrElse(-1.0)}%7.3f s " +
              f"taskSum=${si.taskMetrics.executorRunTime / 1000.0}%7.3f s " +
              f"shufW=${si.taskMetrics.shuffleWriteMetrics.bytesWritten}%9d " +
              f"name=${si.name.takeWhile(_ != '\n').take(60)}")
          }
        })
    // comma-separated names profile back-to-back in ONE session (r19:
    // ten single-query JVMs per A/B round was the slow part of measuring)
    name.split(',').filter(_.nonEmpty).foreach { q =>
      (1 to reps).foreach { i =>
        val t0 = System.nanoTime()
        val n = SparkEntry.queries(q)(spark, sfDir).count()
        println(f"[prof] $q rep $i: $n rows in ${(System.nanoTime() - t0) / 1e9}%.2f s")
      }
    }
    spark.stop()
  }
}
