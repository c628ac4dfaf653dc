package graft

import java.util.concurrent.atomic.AtomicReference

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** `GraftSession.local` is the one session factory: the suite's shared
  * session comes from it, so these tests pin what every entry point
  * gets — the graft functions, the GroupTopK rewrite, the required confs
  * — including on the cloned session a streaming batch runs on. */
class GraftSessionSpec extends SparkSpec {
  import spark.implicits._

  /** Top-1 `v` per `g` through the declarative rank filter. */
  private def topPerGroup(df: DataFrame): DataFrame =
    df.withColumn("rk", row_number().over(Window.partitionBy("g").orderBy(col("v").desc)))
      .filter(col("rk") <= 1)

  private def hasGroupTopK(df: DataFrame): Boolean =
    df.queryExecution.optimizedPlan.collect { case g: plans.GroupTopKPlan => g }.nonEmpty

  test("graft functions resolve in SQL and DESCRIBE FUNCTION shows their usage") {
    val row = spark.sql(
      """SELECT graft_dot(array(1.0d, 2.0d), array(3.0d, 4.0d)) AS d,
        |       graft_simhash64('spark table row').bits AS sh,
        |       graft_text_stats('the cat').n_tokens AS nt""".stripMargin)
      .collect().head
    assert(row.getDouble(0) === 11.0)
    assert(row.getString(1).length === 64)
    assert(row.getLong(2) === 2L)
    val described = spark.sql("DESCRIBE FUNCTION graft_dot").collect().map(_.getString(0))
    assert(described.contains(
      "Usage: graft_dot(a, b) - sequential-left-fold dot product of two double arrays"),
      described.mkString("\n"))
  }

  test("a row_number() <= k filter plans as GroupTopKPlan with the right rows") {
    val df = topPerGroup(Seq(("a", 1L), ("a", 2L), ("b", 3L)).toDF("g", "v"))
    assert(hasGroupTopK(df), df.queryExecution.optimizedPlan.treeString)
    assert(df.collect().map(r => (r.getString(0), r.getLong(1))).toSet ===
      Set(("a", 2L), ("b", 3L)))
  }

  test("a streaming batch's cloned session inherits the functions and the rewrite") {
    implicit val sq = spark.sqlContext
    val input = MemoryStream[(String, Long, String)]
    input.addData(("a", 1L, "the cat sat"), ("a", 2L, "a dog"), ("b", 3L, "birds sing"))
    val batchSession = new AtomicReference[SparkSession]
    val planned = new AtomicReference[Boolean]
    val rows = new AtomicReference[Set[(String, Long, Long)]]
    val q = input.toDF().toDF("g", "v", "text").writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        batchSession.set(batch.sparkSession)
        val top = topPerGroup(batch.withColumn("nt", expr("graft_text_stats(text).n_tokens")))
        planned.set(hasGroupTopK(top))
        rows.set(top.collect().map(r => (r.getString(0), r.getLong(1), r.getAs[Long]("nt"))).toSet)
      }.start()
    try q.processAllAvailable() finally q.stop()
    assert(batchSession.get ne spark, "the batch must run on a clone of the defining session")
    assert(planned.get, "the clone must carry the RankLimitToGroupTopK rewrite")
    assert(rows.get === Set(("a", 2L, 2L), ("b", 3L, 2L)))
  }

  test("every required conf and the UTC session time zone are set") {
    Tables.requiredConfs.foreach { case (k, v) => assert(spark.conf.get(k) === v, k) }
    assert(spark.conf.get("spark.sql.session.timeZone") === "UTC")
    assert(spark.conf.get("spark.sql.shuffle.partitions") === "4")
  }

  test("only the factory builds sessions or registers; only registration installs the rule") {
    val root = new java.io.File("src/main/scala")
    assert(root.isDirectory, s"run from the project root (cwd ${new java.io.File(".").getAbsolutePath})")
    def files(d: java.io.File): Seq[java.io.File] = d.listFiles.toSeq.flatMap { f =>
      if (f.isDirectory) files(f) else if (f.getName.endsWith(".scala")) Seq(f) else Nil
    }
    def callSites(needle: String): Map[String, Int] = files(root).flatMap { f =>
      val n = java.util.regex.Pattern.quote(needle).r
        .findAllIn(new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")).size
      if (n > 0) Some(root.toPath.relativize(f.toPath).toString -> n) else None
    }.toMap
    assert(callSites("SparkSession.builder") === Map("graft/GraftSession.scala" -> 1))
    assert(callSites("GraftFunctions.register(") === Map("graft/GraftSession.scala" -> 1))
    assert(callSites("GroupTopK.install(") === Map("graft/functions/expressions.scala" -> 1))
    // the plan rules are assigned in one place: GroupTopK.install
    assert(callSites("extraOptimizations =") === Map("graft/plans/GroupTopK.scala" -> 1))
    assert(callSites("extraStrategies =") === Map("graft/plans/GroupTopK.scala" -> 1))
  }
}
