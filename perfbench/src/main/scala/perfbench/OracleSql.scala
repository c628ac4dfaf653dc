package perfbench

/** Prints, as one JSON object for `perfbench/oracle.py`, what the oracle
  * must cover: the registry's DuckDB oracle SQL of every query the
  * workloads time (`PublisherMix.Queries`) and the endpoint parameter
  * domains (`PublisherMix.Days`, `Keywords`, `Pages`).
  *   perfbench.OracleSql */
object OracleSql {
  def main(args: Array[String]): Unit = {
    import PublisherMix._
    println(Json(Map(
      "queries" -> Queries.map(n => n -> graft.SparkEntry.oracleSql.get(n)).toMap,
      "days" -> Days, "keywords" -> Keywords, "pages" -> Pages)))
  }
}
