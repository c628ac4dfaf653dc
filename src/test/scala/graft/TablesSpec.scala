package graft

import org.apache.spark.sql.functions._

/** The loaders resolve each table's schema once per session: repeat
  * calls start no Spark job, yet still build fresh relations, and a
  * regenerated file is re-inferred. `clearMemo` drops every memo. */
class TablesSpec extends SparkSpec {
  private def tempDir(): String =
    java.nio.file.Files.createTempDirectory("graft_tables").toString

  test("a repeat load of the same file starts no Spark job") {
    val dir = tempDir()
    spark.range(100).toDF("user_id").write.parquet(s"$dir/t.parquet")
    assert(jobsStartedBy(Tables.table(spark, dir, "t")) >= 1)
    assert(jobsStartedBy(Tables.table(spark, dir, "t")) === 0)
    assert(Tables.table(spark, dir, "t").count() === 100L)
  }

  test("two events loads self-join on fresh attribute ids") {
    val dir = tempDir()
    spark.range(60).select((col("id") % 7).as("user_id"), timestamp_seconds(col("id")).as("ts"))
      .write.parquet(s"$dir/events.parquet")
    val a = Tables.events(spark, dir)
    val b = Tables.events(spark, dir)
    val joined = a.join(b, a("user_id") === b("user_id"))
      .select(a("user_id"), a("ts").as("ts_a"), b("ts").as("ts_b"))
    // the same pairs as two schema-inferring reads, and as many as the
    // per-user counts predict (a shared attribute id would collapse the
    // condition to true and return the cross product)
    val plainA = Tables.normalizeEventTs(spark.read.parquet(s"$dir/events.parquet"))
    val plainB = Tables.normalizeEventTs(spark.read.parquet(s"$dir/events.parquet"))
    val plain = plainA.join(plainB, plainA("user_id") === plainB("user_id"))
      .select(plainA("user_id"), plainA("ts").as("ts_a"), plainB("ts").as("ts_b"))
    val pairs = a.groupBy("user_id").count()
      .agg(sum(col("count") * col("count"))).head().getLong(0)
    assert(joined.count() === pairs)
    assert(joined.count() < a.count() * a.count())
    assert(joined.exceptAll(plain).isEmpty && plain.exceptAll(joined).isEmpty)
  }

  test("overwriting a table with a new schema is seen by the next load") {
    val dir = tempDir()
    val path = s"$dir/t.parquet"
    spark.range(10).toDF("id").write.parquet(path)
    assert(Tables.table(spark, dir, "t").columns.toSeq === Seq("id"))
    spark.range(5).select(col("id").cast("string").as("name"), lit(7).as("score"))
      .write.mode("overwrite").parquet(path)
    val t = Tables.table(spark, dir, "t")
    assert(t.schema.fieldNames.toSeq === Seq("name", "score"))
    assert(t.schema("score").dataType === org.apache.spark.sql.types.IntegerType)
    assert(t.collect().map(_.getString(0)).sorted.toSeq === (0 until 5).map(_.toString))
  }

  test("clearMemo drains every SessionMemo, not only the Tables ones") {
    // a session of its own, so the shared session's memos stay warm
    val s = spark.newSession()
    val m = new SessionMemo[Int]
    var builds = 0
    def get(): Int = m.get(s, "k") { builds += 1; builds }
    assert(get() === 1 && get() === 1)
    Tables.clearMemo(s)
    assert(get() === 2)
  }
}
