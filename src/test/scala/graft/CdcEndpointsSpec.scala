package graft

import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._
import graft.ops.{Dau, Endpoints, Gmv, Publisher}
import graft.ops.Endpoints._
import graft.sources.Cdc

/** CDC routing (S2) + publisher endpoints (§3.3): response shapes, and
  * values pinned to the responses the registry queries build one action
  * at a time. */
class CdcEndpointsSpec extends SparkSpec {
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  /** /realtime-total from the registry queries: q03's DAU row, q31's
    * row count and q01's GMV row, each its own action. */
  private def totalReference(dir: String, day: String): Seq[TotalCard] = {
    val dau = Dau.dauByDay(spark, dir).filter(col("log_date") === day)
      .select("dau").collect().headOption.map(_.getLong(0)).getOrElse(0L)
    val newUsers = Dau.newUsers(spark, dir, day).count()
    val gmv = Gmv.gmvByDate(spark, dir).filter(col("create_date") === Gmv.Day)
      .select("gmv").collect().headOption.map(_.getDouble(0)).getOrElse(0.0)
    Seq(TotalCard("dau", "新增日活", dau.toString),
      TotalCard("new_mid", "新增设备", newUsers.toString),
      TotalCard("order_amount", "新增交易额", gmv.toString))
  }

  /** /realtime-hours from q13, ordered by its global sort. */
  private def hoursReference(dir: String, day: String, prev: String): Seq[HourPair] =
    Publisher.todayVsYesterday(spark, dir, day, prev).collect().toSeq
      .map(r => HourPair(r.getString(0), r.getLong(1), r.getLong(2)))

  /** /sale_detail from the hit count, q09's page, q11 and q12. */
  private def saleDetailReference(dir: String, keyword: String,
                                  page: Int, pageSize: Int): SaleDetailResponse = {
    val total = graft.Tables.part(spark, dir)
      .filter(Publisher.keywordPredicate(col("p_name"), keyword)).count()
    val detail = Publisher.keywordSearch(spark, dir, keyword, page, pageSize)
      .select("p_name").collect().toSeq.map(_.getString(0))
    val band = Publisher.balanceBandRatio(spark, dir).collect().head
    val seg = Publisher.segmentRatio(spark, dir).collect().head
    SaleDetailResponse(total, Seq(
      Stat("用户等级占比", Seq(StatOption("low", band.getDouble(0)),
        StatOption("mid", band.getDouble(1)), StatOption("high", band.getDouble(2)))),
      Stat("用户性别占比", Seq(StatOption("seg", seg.getDouble(0)),
        StatOption("rest", seg.getDouble(1))))), detail)
  }

  private def dayBefore(day: String) = java.time.LocalDate.parse(day).minusDays(1).toString

  /** Every day sf0.001's events cover (2024-01-01..30), plus the day
    * before and the day after them. */
  private val eventDays: Seq[String] =
    Iterator.iterate(java.time.LocalDate.parse("2023-12-31"))(_.plusDays(1))
      .take(32).map(_.toString).toSeq

  test("CDC router fans (table, op) to typed frames with the reference's rules") {
    val changelog = Seq(
      ("order_info", "INSERT", """{"id":"1","total_amount":9.5}"""),
      ("order_info", "UPDATE", """{"id":"1","total_amount":11.0}"""), // dropped (orders: INSERT only)
      ("order_detail", "INSERT", """{"id":"d1","order_id":"1","sku_name":"widget"}"""),
      ("user_info", "INSERT", """{"id":"u1","gender":"M"}"""),
      ("user_info", "UPDATE", """{"id":"u1","gender":"F"}"""), // kept (users: INSERT ∪ UPDATE)
      ("other_table", "INSERT", """{"id":"x"}"""))
      .toDF("table", "op", "data")
    val routes = Cdc.referenceRoutes(
      orderSchema = StructType(Seq(StructField("id", StringType), StructField("total_amount", DoubleType))),
      detailSchema = StructType(Seq(StructField("id", StringType), StructField("order_id", StringType), StructField("sku_name", StringType))),
      userSchema = StructType(Seq(StructField("id", StringType), StructField("gender", StringType))))
    val out = Cdc.route(changelog, routes)
    assert(out("orders").collect().map(_.getString(0)).toSeq === Seq("1"))
    assert(out("orders").collect().head.getDouble(1) === 9.5)
    assert(out("details").collect().map(_.getString(2)).toSeq === Seq("widget"))
    assert(out("users").collect().map(_.getString(1)).sorted.toSeq === Seq("F", "M"))
  }

  test("toWire serializes rows to one JSON value column (P2)") {
    val df = Seq(("u1", "F")).toDF("id", "gender")
    val wire = Cdc.toWire(df).collect().head.getString(0)
    assert(wire === """{"id":"u1","gender":"F"}""")
  }

  test("endpoint shapes assemble from registered queries on sf0.001") {
    val dir = "/root/testdata/sf0.001"
    val cards = graft.ops.Endpoints.realtimeTotal(spark, dir)
    assert(cards.cards.map(_.id) === Seq("dau", "new_mid", "order_amount"))
    assert(cards.cards.head.value.toLong > 0)
    val hours = graft.ops.Endpoints.realtimeHours(spark, dir)
    assert(hours.nonEmpty && hours.forall(h => h.today + h.yesterday > 0))
    val sd = graft.ops.Endpoints.saleDetail(spark, dir)
    assert(sd.total >= sd.detail.size)
    val ratios = sd.stat.head.options.map(_.value)
    assert(math.round(ratios.sum * 10) === 1000L)
  }

  test("realtimeTotal equals the registry-built cards on every sf0.001 event day") {
    eventDays.foreach { day =>
      assert(Endpoints.realtimeTotal(spark, sf, day).cards === totalReference(sf, day), day)
    }
  }

  test("realtimeHours equals q13 on every sf0.001 event day; prev defaults to the day before") {
    eventDays.foreach { day =>
      val prev = dayBefore(day)
      assert(Endpoints.realtimeHours(spark, sf, day, prev) === hoursReference(sf, day, prev), day)
    }
    assert(Endpoints.realtimeHours(spark, sf, "2024-01-03") ===
      Endpoints.realtimeHours(spark, sf, "2024-01-03", "2024-01-02"))
    assert(Endpoints.realtimeHours(spark, sf, "2024-01-03") !==
      Endpoints.realtimeHours(spark, sf, "2024-01-03", Dau.PrevDay))
  }

  test("saleDetail equals the registry-built response on every page up to one past the last hit") {
    val cases = Seq(("gear", 10), ("red gear", 4), ("small widget", 10),
      ("purple elephant", 10), ("!? --", 10))
    val totals = cases.map { case (kw, size) =>
      val total = saleDetailReference(sf, kw, 1, size).total
      (1 to (total + size - 1).toInt / size + 1).foreach { page =>
        assert(Endpoints.saleDetail(spark, sf, kw, page, size) ===
          saleDetailReference(sf, kw, page, size), s"$kw page $page")
      }
      kw -> total
    }.toMap
    // the cases span several pages, no hit, and no alphanumeric token
    assert(totals("gear") > 20 && totals("purple elephant") === 0 && totals("!? --") === 0)
  }

  test("endpoints over events with null user_id and null ts rows equal the registry-built responses") {
    val dir = java.nio.file.Files.createTempDirectory("graft_endpoint_nulls")
    java.nio.file.Files.copy(java.nio.file.Paths.get(s"$sf/orders.parquet"), dir.resolve("orders.parquet"))
    def ts(s: String) = Option(s).map(t => java.sql.Timestamp.from(java.time.Instant.parse(t))).orNull
    val uid: Option[Long] = None
    Seq(
      (1L, ts("2024-01-05T10:00:00Z"), Some(1L)),
      (2L, ts("2024-01-04T09:00:00Z"), Some(2L)),
      (3L, ts("2024-01-05T11:30:00Z"), Some(2L)),
      (4L, ts("2024-01-03T08:00:00Z"), uid),
      (5L, ts("2024-01-05T12:00:00Z"), uid),
      (6L, ts(null), Some(3L)),
      (7L, ts(null), uid),
      (8L, ts("2024-01-06T01:00:00Z"), Some(4L)))
      .toDF("event_id", "ts", "user_id")
      .withColumn("event_type", org.apache.spark.sql.functions.lit("view"))
      .withColumn("value", org.apache.spark.sql.functions.lit(1.0))
      .withColumn("props", org.apache.spark.sql.functions.lit("{}"))
      .coalesce(1).write.parquet(dir.resolve("events.parquet").toString)
    val d = dir.toString
    Seq("2024-01-03", "2024-01-04", "2024-01-05", "2024-01-06").foreach { day =>
      assert(Endpoints.realtimeTotal(spark, d, day).cards === totalReference(d, day), day)
      assert(Endpoints.realtimeHours(spark, d, day, dayBefore(day)) ===
        hoursReference(d, day, dayBefore(day)), day)
    }
    // a null user is one user, and new whenever active: the anti-join
    // against earlier users never matches a null key
    assert(Endpoints.realtimeTotal(spark, d, "2024-01-05").cards.take(2).map(_.value) ===
      Seq("3", "2"))
  }

  test("each endpoint call runs exactly one SQL execution") {
    def once(call: => Any): Int = { call; sqlExecutionsStartedBy(call) }
    assert(once(Endpoints.realtimeTotal(spark, sf, "2024-01-05")) === 1)
    assert(once(Endpoints.realtimeHours(spark, sf, "2024-01-05")) === 1)
    assert(once(Endpoints.saleDetail(spark, sf, "red gear", 2, 4)) === 1)
  }
}
