package graft

import org.apache.spark.sql.SparkSession

/** The one way the engine builds a session: every entry point and the
  * test suite start here, so no two of them can plan the same query
  * differently. Functions and plan rules are installed once, up front;
  * Structured Streaming runs each query (and hands each `foreachBatch`
  * body a batch) on a clone of this session, and the clone inherits both,
  * so operators never re-register. */
object GraftSession {

  /** `local[cpus]` with `cpus` shuffle partitions, UTC session time, no
    * UI, [[Tables.requiredConfs]], the graft functions and the GroupTopK
    * strategy and rewrite rule; log level WARN.
    *
    * The required confs include the session's `file:` filesystem
    * ([[graft.io.NioLocalFileSystem]], [[graft.io.NioLocalFs]]): the stock
    * one forks `chmod` and `readlink` for every checkpoint, state and
    * sink file it creates or renames: 28 ms per FileContext create +
    * rename, against 0.8 ms in process. */
  def local(cpus: Int): SparkSession = {
    val builder = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    Tables.requiredConfs.foreach { case (k, v) => builder.config(k, v) }
    val spark = builder.getOrCreate()
    graft.functions.GraftFunctions.register(spark)
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
