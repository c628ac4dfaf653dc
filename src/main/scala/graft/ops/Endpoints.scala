package graft.ops

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** The reference publisher's composite REST endpoints assembled from the
  * registered queries — full response-shape parity (FIXTURES.md §2):
  *  - /realtime-total → [{id,name,value}] (Controller.java:35-74)
  *  - /realtime-hours → {yesterday: {HH: n}, today: {HH: n}}
  *    (Controller.java:76-100)
  *  - /sale_detail → {total, stat, detail} (Controller.java:102-107,
  *    PublisherServiceImpl.java:81-192)
  * Returned as small case classes (the JSON layer is presentation, not
  * engine, so the shapes are typed rather than stringified).
  *
  * Each endpoint runs ONE Spark action: it collects a single DataFrame
  * whose independent parts (per-user activity and GMV, page rows, hit
  * count and stat blocks) are branches of one union, so adaptive query
  * execution plans them once and runs their query stages side by side.
  * On small inputs the fixed cost of each action (planning, job and
  * stage scheduling, the range-sampling job of a global sort), not the
  * scans, sets an endpoint's time. Small results are sorted after the
  * collect rather than by a global sort.
  *
  * The GMV card reads the fixed [[Gmv.Day]], not the requested day: the
  * orders are dated TPC-H style (1992-1998), so no order falls on an
  * event day. */
object Endpoints {

  case class TotalCard(id: String, name: String, value: String)
  case class HourPair(hour: String, today: Long, yesterday: Long)
  case class StatOption(name: String, value: Double)
  case class Stat(title: String, options: Seq[StatOption])
  case class SaleDetailResponse(total: Long, stat: Seq[Stat], detail: Seq[String])

  /** The non-null value of column `c` across the rows of a union whose
    * branches each fill their own columns. */
  private def valueOf(rows: Seq[Row], c: String): Any =
    rows.map(_.getAs[Any](c)).find(_ != null)
      .getOrElse(throw new IllegalStateException(s"no row carries $c"))

  /** /realtime-total: DAU + new-mids + GMV cards.
    *
    * DAU and new devices come from one per-user aggregate over the
    * events before the end of `day`: a user is active if any event falls
    * on `day`, and new if active with no earlier event. A null
    * `user_id` is one user, and it is always new when active (the
    * `LEFT ANTI` join of [[Dau.newUsers]] never matches a null key). */
  def realtimeTotal(spark: SparkSession, dir: String,
                    day: String = Dau.Day): TotalCardSet = {
    val users = graft.Tables.events(spark, dir)
      .filter(col("ts") < to_timestamp(date_add(to_date(lit(day)), 1)))
      .groupBy("user_id")
      .agg(max(Dau.dayRange(col("ts"), day)).as("active"), min(col("ts")).as("first_ts"))
    val dauNew = users.agg(
      count_if(col("active")).as("dau"),
      count_if(col("active") &&
        (col("user_id").isNull || col("first_ts") >= to_timestamp(lit(day)))).as("new_mid"))
    val gmv = Gmv.gmvTotalDay(spark, dir).select(coalesce(col("gmv"), lit(0.0)).as("gmv"))
    val rows = dauNew.unionByName(gmv, allowMissingColumns = true).collect().toSeq
    TotalCardSet(Seq(
      TotalCard("dau", "新增日活", valueOf(rows, "dau").toString),
      TotalCard("new_mid", "新增设备", valueOf(rows, "new_mid").toString),
      TotalCard("order_amount", "新增交易额", valueOf(rows, "gmv").toString)))
  }
  case class TotalCardSet(cards: Seq[TotalCard])

  /** /realtime-hours for `day` against the day before it
    * (Controller.java:79, `plusDays(-1)`). */
  def realtimeHours(spark: SparkSession, dir: String,
                    day: String = Dau.Day): Seq[HourPair] =
    realtimeHours(spark, dir, day, java.time.LocalDate.parse(day).minusDays(1).toString)

  /** /realtime-hours: paired today/yesterday hour map from one scan; the
    * 24 or fewer hours are sorted after the collect. */
  def realtimeHours(spark: SparkSession, dir: String,
                    day: String, prev: String): Seq[HourPair] =
    Publisher.hourPairs(spark, dir, day, prev).collect().toSeq
      .map(r => HourPair(r.getString(0), r.getLong(1), r.getLong(2)))
      .sortBy(_.hour)

  /** /sale_detail: keyword-filtered details + total + age/gender-style
    * stat blocks with the reference's complement-rounded percentages.
    * The page rows, the hit count and both stat blocks (one customer
    * aggregate) are the branches of one union. */
  def saleDetail(spark: SparkSession, dir: String,
                 keyword: String = "small widget",
                 page: Int = 1, pageSize: Int = 10): SaleDetailResponse = {
    val hits = Publisher.keywordHits(spark, dir, keyword)
    val parts: Seq[DataFrame] = Seq(
      Publisher.hitsPage(hits, page, pageSize).select("p_partkey", "p_name"),
      hits.agg(count(lit(1)).as("total")),
      Publisher.customerRatios(spark, dir,
        Publisher.BalanceBands, Publisher.segmentBlock("BUILDING")))
    val rows = parts.reduce(_.unionByName(_, allowMissingColumns = true)).collect().toSeq
    val detail = rows.filter(r => !r.isNullAt(r.fieldIndex("p_partkey")))
      .sortBy(_.getAs[Long]("p_partkey")).map(_.getAs[String]("p_name"))
    def ratio(n: String) = StatOption(n, valueOf(rows, s"${n}_ratio").asInstanceOf[Double])
    SaleDetailResponse(
      total = valueOf(rows, "total").asInstanceOf[Long],
      stat = Seq(
        Stat("用户等级占比", Seq(ratio("low"), ratio("mid"), ratio("high"))),
        Stat("用户性别占比", Seq(ratio("seg"), ratio("rest")))),
      detail = detail)
  }
}
