package perfbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.types.StructType

/** One drained result: the collected rows (or a rendered endpoint
  * response), and an order-independent fingerprint used to check that
  * every later call of the same request returned the same answer. */
final case class Result(rows: Array[Row], schema: StructType, json: String, fp: Long)

object Result {
  def ofRows(rows: Array[Row], schema: StructType): Result = {
    var h = rows.length.toLong
    rows.foreach(r => h += r.hashCode.toLong * 0x9E3779B97F4A7C15L)
    Result(rows, schema, null, h)
  }
  def ofJson(json: String): Result = Result(null, null, json, json.hashCode.toLong)
}

/** Calls into the engine, each wrapped in the spans of the layers it
  * crosses and in its own Spark job group. */
object Calls {
  /** Registry query: build the DataFrame (`ops`), plan it (`planning`),
    * then drain it fully with `collect` (`exec`), which reuses the plan. */
  def query(spark: SparkSession, trace: Trace, req: String, name: String,
            dir: String): (Result, DataFrame) = {
    val fn = graft.SparkEntry.queries(name)
    val df = trace.span(name, "ops", req)(fn(spark, dir))
    trace.span("executedPlan", "planning", req)(df.queryExecution.executedPlan)
    val rows = trace.span("collect", "exec", req)(df.collect())
    (Result.ofRows(rows, df.schema), df)
  }

  def withGroup[T](spark: SparkSession, group: String)(body: => T): T = {
    val sc = spark.sparkContext
    sc.setJobGroup(group, group, interruptOnCancel = false)
    try body finally sc.clearJobGroup()
  }

  /** Parquet paths a built DataFrame reads, from its analyzed plan. */
  def tablePaths(df: DataFrame): Seq[String] =
    df.queryExecution.analyzed.collect {
      case LogicalRelation(r: HadoopFsRelation, _, _, _, _) => r.location.rootPaths.map(_.toString)
    }.flatten.distinct

  /** Time the engine's parquet loader (`graft.Tables.table`) on each
    * table a request read: the `Tables` share of that request's build,
    * measured by calling the loader again outside the request. */
  def tablesProbe(spark: SparkSession, df: DataFrame): Double = {
    val files = tablePaths(df).map(p => new java.io.File(p.stripPrefix("file:")))
    val t0 = Trace.now()
    files.foreach(f => graft.Tables.table(spark, f.getParent, f.getName.stripSuffix(".parquet")))
    Trace.secs(Trace.now() - t0)
  }

  /** Write a collected result as parquet for the oracle comparison. */
  def dump(spark: SparkSession, r: Result, path: String): Unit =
    if (r.rows != null) {
      spark.createDataFrame(java.util.Arrays.asList(r.rows: _*), r.schema)
        .coalesce(1).write.mode("overwrite").parquet(path)
    } else java.nio.file.Files.writeString(java.nio.file.Paths.get(path + ".json"), r.json)
}
