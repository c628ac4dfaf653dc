package perfbench

/** How much work `count()` leaves out: median wall time of `count()`,
  * of a full drain into the `noop` sink and of `collect()`, for the
  * named registry queries, after two warm-up calls each.
  *   perfbench.DrainProbe <dataDir> q07_sale_detail_wide,q193_scd2_compact [reps] */
object DrainProbe {
  def main(args: Array[String]): Unit = {
    val reps = args.lift(2).map(_.toInt).getOrElse(5)
    val work = java.nio.file.Files.createTempDirectory(java.nio.file.Paths.get("."), "probe").toString
    val a = Main.Args("drain_probe", 0L, 0, trace = false, args(0), work, "")
    val spark = Main.session(a)
    def median(xs: Seq[Double]) = xs.sorted.apply(xs.length / 2)
    def time(f: => Unit): Double = { val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9 }
    for (name <- args(1).split(',')) {
      val fn = graft.SparkEntry.queries(name)
      def df = fn(spark, a.data)
      for (_ <- 0 until 2) { df.count(); df.write.format("noop").mode("overwrite").save() }
      val count = median(Seq.fill(reps)(time(df.count())))
      val noop = median(Seq.fill(reps)(time(df.write.format("noop").mode("overwrite").save())))
      val collect = median(Seq.fill(reps)(time(df.collect())))
      println(Json(Map("query" -> name, "count_s" -> count, "noop_drain_s" -> noop,
        "collect_s" -> collect, "reps" -> reps, "cpus" -> a.cpus)))
    }
    spark.stop()
  }
}
