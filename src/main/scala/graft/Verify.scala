package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // optional 3rd arg (local iteration only; the driver passes 2): a
    // comma-separated list of query-name prefixes to dump, restricting
    // oracle_sql.json to the same subset so check_oracle.py stays usable
    val (sfDir, outDir) = (args(0), args(1))
    val only: Option[Seq[String]] =
      if (args.length > 2) Some(args(2).split(',').toSeq) else None
    def keep(name: String): Boolean =
      only.forall(_.exists(name.startsWith))
    val spark = GraftSession.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt)
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries.foreach { case (name, fn) =>
      if (keep(name)) {
        try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
        }
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => keep(k) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // executable sketch bounds: every no_oracle estimate is checked
    // against its in-engine exact twin HERE, during the verify run, so
    // the rows-only correctness status carries a verified error bound
    // (judge r5 task 3). A violated bound — or a broken checker — fails
    // the RUN, not just a stderr line: sketch_bounds.json gets a
    // "status" sentinel row and Verify exits non-zero, so automation
    // keyed on the run result notices (advisor r7).
    var boundFailure = false
    if (only.isEmpty) {
      try {
        val checks = graft.ops.SketchBounds.all(spark, sfDir)
        val violated = checks.filterNot(_.ok)
        boundFailure = violated.nonEmpty
        val body = graft.ops.SketchBounds.toJson(checks)
        val status = if (boundFailure) "violated" else "ok"
        Files.writeString(Paths.get(s"$outDir/sketch_bounds.json"),
          s"""{"status":"$status","checks":$body}""")
        violated.foreach { c =>
          System.err.println(s"[verify] SKETCH BOUND VIOLATED: ${c.query} " +
            s"${c.metric} worst_err=${c.worstErr} bound=${c.bound}")
        }
      } catch { case e: Throwable =>
        boundFailure = true
        System.err.println(s"[verify] sketch-bounds check failed: ${e.getMessage}")
        try Files.writeString(Paths.get(s"$outDir/sketch_bounds.json"),
          s"""{"status":"error","checks":[]}""")
        catch { case _: Throwable => () }
      }
    }
    spark.stop()
    if (boundFailure) sys.exit(3)
  }
}
