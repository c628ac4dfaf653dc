package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** GMV (gross merchandise volume) pipeline — the batch analog of the
  * reference's order-ingest job and its Phoenix rollup queries.
  *
  * Reference semantics reproduced (citations into /root/reference/):
  *  - derive `create_date` / `create_hour` from the order timestamp:
  *    gmall-realtime/src/main/scala/com/atguigu/app/GmvApp.scala:33-34
  *  - GMV day total `SUM(total_amount) WHERE create_date = ?`:
  *    gmall-publisher/src/main/resources/mapper/OrderMapper.xml:4-8
  *  - GMV by hour `SUM GROUP BY create_hour` with a double cast:
  *    gmall-publisher/src/main/resources/mapper/OrderMapper.xml:10-16
  *
  * Determinism note: money sums go through DECIMAL(18,2) and only then to
  * double, so the result is independent of partial-aggregation order — the
  * plan stays a 2-phase hash aggregate (map-side partial sum), which is the
  * shape that scales to 100 TB, and the oracle hash still matches exactly.
  */
object Gmv {
  /** A fixed, data-covered order date used by the point-lookup queries. */
  val Day = "1998-03-15"

  private def withCreateDate(orders: DataFrame): DataFrame =
    orders.withColumn("create_date", date_format(col("o_orderdate"), "yyyy-MM-dd"))

  /** The GMV aggregate: `gmv` (decimal-exact sum as double) and
    * `order_cnt`, shared by the per-day and single-day queries and the
    * /realtime-total endpoint. */
  private def gmvAgg: Seq[org.apache.spark.sql.Column] = Seq(
    sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("gmv"),
    count(lit(1)).as("order_cnt"))

  /** GMV + order count per day over the whole orders table (A5/A6 analog).
    * Aggregation key is low-cardinality (~2400 days), so partial aggregation
    * collapses virtually all rows map-side before the shuffle. */
  def gmvByDate(spark: SparkSession, dir: String): DataFrame =
    withCreateDate(Tables.orders(spark, dir))
      .groupBy("create_date")
      .agg(gmvAgg.head, gmvAgg.tail: _*)
      .orderBy("create_date")

  /** Single-day GMV total (F3 + A5): `WHERE create_date = ?` then SUM.
    * The date predicate is pushed to the parquet scan. One row, whose
    * `gmv` is null when no order falls on [[Day]]. */
  def gmvTotalDay(spark: SparkSession, dir: String): DataFrame =
    withCreateDate(Tables.orders(spark, dir)
        .filter(Dau.dayRange(col("o_orderdate"), Day)))
      .agg(gmvAgg.head, gmvAgg.tail: _*)
      .withColumn("create_date", lit(Day))

  /** Hourly revenue for one day of the events stream (A6 analog — the
    * orders table is date-grained, so the hour axis comes from `events`). */
  def revenueByHour(spark: SparkSession, dir: String, day: String = Dau.Day): DataFrame =
    Tables.events(spark, dir)
      .filter(Dau.dayRange(col("ts"), day))
      .filter(col("event_type") === "purchase")
      .groupBy(date_format(col("ts"), "HH").as("create_hour"))
      .agg(
        sum(col("value").cast("decimal(18,2)")).cast("double").as("revenue"),
        count(lit(1)).as("purchase_cnt"))
      .orderBy("create_hour")
}
