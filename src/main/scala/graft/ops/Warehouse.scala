package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Classic warehouse analytics over the full star schema — the
  * multi-join report shapes (TPC-H Q3/Q5 style) that exercise join
  * ordering, broadcast selection, and decimal-exact money arithmetic
  * end-to-end. The reference's publisher never joins more than one
  * dimension at a time (PublisherServiceImpl aggregates one index per
  * REST call); these queries are the natural next step a warehouse user
  * asks of the same tables, and they pin the engine's join planning at
  * scale.
  *
  * Scale design: only FIXED-cardinality frames are broadcast-hinted
  * (nation 25 rows, region 5 rows, 1-row stat frames). Linearly-scaling
  * dimensions (customer, supplier, part) are deliberately UNHINTED —
  * AQE broadcasts them while they measure small and falls back to
  * shuffle joins when they don't, so the same plan survives 100× (the
  * q52 / LSH-verify rule). The fact scan stays partition-parallel with
  * filters pushed to parquet. Revenue math is SUM(DECIMAL × DECIMAL) — exact,
  * aggregation-order independent — cast to double only at the end
  * (the q83-verified pattern). */
object Warehouse {

  private def revenue: org.apache.spark.sql.Column =
    sum(col("l_extendedprice").cast("decimal(18,2)")
      * (lit(1).cast("decimal(18,2)") - col("l_discount").cast("decimal(18,2)")))

  /** TPC-H Q3 shape: top-10 unshipped BUILDING-segment orders by
    * outstanding revenue — orders placed before the cutoff whose items
    * shipped after it. Dims unhinted (AQE broadcasts while small); the top-k is
    * a TakeOrdered over the per-order aggregate, never a global sort. */
  def revenueTopOrders(spark: SparkSession, dir: String,
                       cutoff: String = "1998-01-01", k: Int = 10): DataFrame = {
    val cust = Tables.customer(spark, dir)
      .filter(col("c_mktsegment") === "BUILDING")
      .select("c_custkey")
    val ord = Tables.orders(spark, dir)
      .filter(col("o_orderdate") < lit(cutoff).cast("timestamp"))
      .select("o_orderkey", "o_custkey", "o_orderdate")
    val li = Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") > lit(cutoff).cast("timestamp"))
      .select("l_orderkey", "l_extendedprice", "l_discount")
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(cust, col("o_custkey") === col("c_custkey"))
      .groupBy(col("l_orderkey"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("order_date"))
      .agg(revenue.cast("double").as("revenue"))
      .orderBy(col("revenue").desc, col("l_orderkey").asc)
      .limit(k)
  }

  /** TPC-H Q5 shape: revenue by nation where the CUSTOMER and the
    * SUPPLIER sit in the same ASIA nation, for 1997 orders — the 6-way
    * join (region → nation → customer → orders → lineitem → supplier)
    * with the co-nationality predicate. Nation/region hinted, customer/
    * supplier left to AQE; the
    * only shuffles are the two fact-side equi-joins and the final
    * |nations|-row aggregate. */
  def localSupplierVolume(spark: SparkSession, dir: String,
                          region: String = "ASIA",
                          yearStart: String = "1997-01-01",
                          yearEnd: String = "1998-01-01"): DataFrame = {
    val asiaNations = Tables.nation(spark, dir)
      .join(broadcast(Tables.region(spark, dir).filter(col("r_name") === region)),
        col("n_regionkey") === col("r_regionkey"))
      .select("n_nationkey", "n_name")
    val cust = Tables.customer(spark, dir)
      .join(broadcast(asiaNations), col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey"), col("c_nationkey"), col("n_name"))
    val supp = Tables.supplier(spark, dir)
      .select(col("s_suppkey"), col("s_nationkey"))
    val ord = Tables.orders(spark, dir)
      .filter(col("o_orderdate") >= lit(yearStart).cast("timestamp")
        && col("o_orderdate") < lit(yearEnd).cast("timestamp"))
      .select("o_orderkey", "o_custkey")
    Tables.lineitem(spark, dir)
      .select("l_orderkey", "l_suppkey", "l_extendedprice", "l_discount")
      .join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(cust, col("o_custkey") === col("c_custkey"))
      .join(supp, col("l_suppkey") === col("s_suppkey")
        && col("c_nationkey") === col("s_nationkey"))
      .groupBy(col("n_name").as("nation"))
      .agg(revenue.cast("double").as("revenue"), count(lit(1)).as("n_items"))
      .orderBy("nation")
  }

  /** Revenue impact by discount band (integer percent): how much gross
    * revenue each discount level touches and what it costs — the
    * pricing-analytics readout. One partial-agg pass; bands are exact
    * integer keys (floor(x·100 + 0.5), the shared rounding idiom). */
  def discountImpact(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .groupBy(expr("cast(floor(l_discount * 100.0d + 0.5d) as bigint)").as("discount_pct"))
      .agg(
        count(lit(1)).as("n_items"),
        sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double").as("gross"),
        sum(col("l_extendedprice").cast("decimal(18,2)")
          * col("l_discount").cast("decimal(18,2)")).cast("double").as("discount_cost"))
      .orderBy("discount_pct")

  /** Order-to-ship latency stats per return flag: exact lerp percentiles
    * and extrema of datediff(ship, order) in days. Fulfilment-SLO
    * profiling. The HEADLINE name runs the scale-safe histogram plan
    * ([[shipLagStatsScalable]]) — the day-lag domain is a few hundred
    * distinct values, so the percentile shuffle is tiny regardless of
    * fact-row count. The buffering `percentile` form survives as
    * [[shipLagStatsBuffering]], pinned equal by CoreOpsSpec. */
  def shipLagStats(spark: SparkSession, dir: String): DataFrame =
    shipLagStatsScalable(spark, dir)

  /** The buffering exact form (spec-only cross-check — see
    * [[shipLagStats]]): Spark's exact `percentile` buffers every group
    * value in executor memory, an OOM against ~6B-row groups at 100 TB. */
  def shipLagStatsBuffering(spark: SparkSession, dir: String): DataFrame =
    shipLagRows(spark, dir)
      .groupBy("l_returnflag")
      .agg(
        count(lit(1)).as("n"),
        expr("percentile(lag_days, 0.5d)").as("p50_days"),
        expr("percentile(lag_days, 0.95d)").as("p95_days"),
        min(col("lag_days")).as("min_days"),
        max(col("lag_days")).as("max_days"))
      .orderBy("l_returnflag")

  /** The fact-scale join feeding every ship-lag variant: (flag, lag). */
  private[graft] def shipLagRows(spark: SparkSession, dir: String): DataFrame = {
    val ord = Tables.orders(spark, dir).select("o_orderkey", "o_orderdate")
    Tables.lineitem(spark, dir)
      .select("l_orderkey", "l_returnflag", "l_shipdate")
      .join(ord, col("l_orderkey") === col("o_orderkey"))
      .select(col("l_returnflag"),
        datediff(to_date(col("l_shipdate")), to_date(col("o_orderdate")))
          .cast("long").as("lag_days"))
  }

  /** [[shipLagStats]] via the scale path: exact lerp percentiles computed
    * from a (flag, lag) HISTOGRAM ([[Percentiles.fromHistogram]]) — the
    * shuffle carries one row per distinct day lag per flag (a few hundred
    * rows) instead of buffering ~6B lag values per group in executor
    * memory the way Spark's exact `percentile` does. Same output schema
    * and values as [[shipLagStats]]; its oracle SQL mirrors the lerp
    * arithmetic op-for-op so the hash matches by construction. */
  def shipLagStatsScalable(spark: SparkSession, dir: String): DataFrame = {
    val hist = shipLagRows(spark, dir)
      .groupBy(col("l_returnflag"), col("lag_days").cast("double").as("v"))
      .agg(count(lit(1)).as("cnt"))
    Percentiles.fromHistogram(hist, "l_returnflag",
        Seq("p50_days" -> 0.5, "p95_days" -> 0.95))
      .select(col("l_returnflag"), col("n"),
        col("p50_days"), col("p95_days"),
        col("vmin").cast("long").as("min_days"),
        col("vmax").cast("long").as("max_days"))
      .orderBy("l_returnflag")
  }

  /** Sketch twin of [[shipLagStats]] (mirrors q44's pattern): single-pass
    * approx_percentile, bounded memory per group regardless of the value
    * domain. Rows-only check — sketch layouts are engine-specific. */
  def shipLagStatsApprox(spark: SparkSession, dir: String): DataFrame =
    shipLagRows(spark, dir)
      .groupBy("l_returnflag")
      .agg(
        count(lit(1)).as("n"),
        expr("approx_percentile(lag_days, 0.5d, 1000)").as("p50_approx"),
        expr("approx_percentile(lag_days, 0.95d, 1000)").as("p95_approx"),
        min(col("lag_days")).as("min_days"),
        max(col("lag_days")).as("max_days"))
      .orderBy("l_returnflag")

  /** TPC-H Q8 shape: one nation's share of STANDARD-part revenue sold to
    * ASIA customers, per order year — the market-share report. Five dims
    * joined as dims (part filter, customer∈region, supplier→nation —
    * nation/region hinted, linear dims left to AQE); the fact
    * scan shuffles only for the two fact-side equi-joins and a
    * |years|-row aggregate. Share = focal/total where both operands are
    * exact DECIMAL sums cast to double, so the division is a single
    * correctly-rounded op in both engines (the q83/q115 pattern). */
  def marketShare(spark: SparkSession, dir: String,
                  region: String = "ASIA", ptype: String = "STANDARD",
                  focalNation: String = "NATION_5"): DataFrame = {
    val asiaNations = Tables.nation(spark, dir)
      .join(broadcast(Tables.region(spark, dir).filter(col("r_name") === region)),
        col("n_regionkey") === col("r_regionkey"))
      .select("n_nationkey")
    val cust = Tables.customer(spark, dir)
      .join(broadcast(asiaNations), col("c_nationkey") === col("n_nationkey"))
      .select("c_custkey")
    val prt = Tables.part(spark, dir)
      .filter(col("p_type") === ptype)
      .select("p_partkey")
    val supp = Tables.supplier(spark, dir)
      .join(broadcast(Tables.nation(spark, dir)
        .select(col("n_nationkey").as("sn_key"), col("n_name").as("supp_nation"))),
        col("s_nationkey") === col("sn_key"))
      .select("s_suppkey", "supp_nation")
    val ord = Tables.orders(spark, dir).select("o_orderkey", "o_custkey", "o_orderdate")
    val rev = col("l_extendedprice").cast("decimal(18,2)") *
      (lit(1).cast("decimal(18,2)") - col("l_discount").cast("decimal(18,2)"))
    Tables.lineitem(spark, dir)
      .select("l_orderkey", "l_partkey", "l_suppkey", "l_extendedprice", "l_discount")
      .join(prt, col("l_partkey") === col("p_partkey"))
      .join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(cust, col("o_custkey") === col("c_custkey"))
      .join(supp, col("l_suppkey") === col("s_suppkey"))
      .groupBy(year(col("o_orderdate")).cast("long").as("o_year"))
      .agg(
        sum(rev).cast("double").as("total_rev"),
        sum(when(col("supp_nation") === focalNation, rev)).cast("double").as("focal_rev"))
      .select(col("o_year"), col("total_rev"),
        coalesce(col("focal_rev"), lit(0.0)).as("focal_rev"),
        (coalesce(col("focal_rev"), lit(0.0)) / col("total_rev")).as("mkt_share"))
      .orderBy("o_year")
  }

  /** TPC-H Q14 shape: promo revenue share by ship month — what fraction
    * of each month's revenue came from PROMO-type parts. One part-dim
    * dim (part), one fact scan, a |months|-row aggregate; the share is
    * again a single division of two exact decimal sums. */
  def promoShare(spark: SparkSession, dir: String,
                 yearStart: String = "1997-01-01",
                 yearEnd: String = "1998-01-01"): DataFrame = {
    val prt = Tables.part(spark, dir).select("p_partkey", "p_type")
    val rev = col("l_extendedprice").cast("decimal(18,2)") *
      (lit(1).cast("decimal(18,2)") - col("l_discount").cast("decimal(18,2)"))
    Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") >= lit(yearStart).cast("timestamp")
        && col("l_shipdate") < lit(yearEnd).cast("timestamp"))
      .select("l_partkey", "l_shipdate", "l_extendedprice", "l_discount")
      .join(prt, col("l_partkey") === col("p_partkey"))
      .groupBy(date_format(col("l_shipdate"), "yyyy-MM").as("ship_month"))
      .agg(
        sum(rev).cast("double").as("total_rev"),
        sum(when(col("p_type") === "PROMO", rev)).cast("double").as("promo_rev"))
      .select(col("ship_month"), col("total_rev"),
        coalesce(col("promo_rev"), lit(0.0)).as("promo_rev"),
        (lit(100.0) * coalesce(col("promo_rev"), lit(0.0)) / col("total_rev"))
          .as("promo_pct"))
      .orderBy("ship_month")
  }

  /** TPC-H Q10 shape: top-k customers by revenue on RETURNED items for
    * one quarter — the returned-item report a support team works from.
    * Nation broadcast, customer unhinted; per-customer aggregate then a
    * TakeOrdered top-k, never a global sort. */
  def returnedRevenue(spark: SparkSession, dir: String,
                      quarterStart: String = "1997-01-01",
                      quarterEnd: String = "1997-04-01", k: Int = 20): DataFrame = {
    val cust = Tables.customer(spark, dir)
      .join(broadcast(Tables.nation(spark, dir)),
        col("c_nationkey") === col("n_nationkey"))
      .select("c_custkey", "c_name", "n_name")
    val ord = Tables.orders(spark, dir)
      .filter(col("o_orderdate") >= lit(quarterStart).cast("timestamp")
        && col("o_orderdate") < lit(quarterEnd).cast("timestamp"))
      .select("o_orderkey", "o_custkey")
    Tables.lineitem(spark, dir)
      .filter(col("l_returnflag") === "R")
      .select("l_orderkey", "l_extendedprice", "l_discount")
      .join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(cust, col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_custkey"), col("c_name"), col("n_name").as("nation"))
      .agg(revenue.cast("double").as("revenue"), count(lit(1)).as("n_items"))
      .orderBy(col("revenue").desc, col("c_custkey").asc)
      .limit(k)
  }

  /** TPC-H Q18 shape: large-volume orders — orders whose total line
    * quantity exceeds a threshold, with the buyer attached. The HAVING
    * on an aggregate runs as ONE two-phase hash aggregate on
    * `l_orderkey` (partial map-side combine, no fact re-scan — the
    * qualifying sum travels with the key, so the classic Q18 second
    * lineitem join is unnecessary); the surviving frame is tiny and AQE
    * joins it to orders; customer joins as an unhinted dim.
    * Quantities are integer-valued, so the sum is exact in any engine.
    *
    * Reference anchor: the per-order totals of OrderInfo
    * (gmall-realtime/src/main/scala/com/atguigu/bean/OrderInfo.scala) —
    * the same rollup pushed to warehouse scale with a HAVING gate. */
  def largeVolumeOrders(spark: SparkSession, dir: String,
                        minQty: Long = 250, k: Int = 20): DataFrame = {
    val bigOrders = Tables.lineitem(spark, dir)
      .select("l_orderkey", "l_quantity")
      .groupBy("l_orderkey")
      .agg(sum(col("l_quantity")).cast("long").as("sum_qty"))
      .filter(col("sum_qty") > minQty)
    val cust = Tables.customer(spark, dir).select("c_custkey", "c_name")
    Tables.orders(spark, dir)
      .select("o_orderkey", "o_custkey", "o_orderdate", "o_totalprice")
      .join(bigOrders, col("o_orderkey") === col("l_orderkey"))
      .join(cust, col("o_custkey") === col("c_custkey"))
      .select(col("c_custkey"), col("c_name"), col("o_orderkey"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("order_date"),
        col("o_totalprice"), col("sum_qty"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      .limit(k)
  }

  /** TPC-H Q17 shape: revenue locked in small-quantity line items — per
    * brand, the (weekly-averaged) revenue of lines whose quantity is
    * under 20% of that part's own average order quantity. The per-part
    * average is a pre-aggregate joined BACK onto the fact: both sides
    * key on `l_partkey`, so the join reuses the aggregate's shuffle
    * rather than adding one, and no group buffers values.
    *
    * Determinism: the threshold `qty < 0.2 · avg(qty)` is evaluated by
    * integer cross-multiplication (`5·qty·cnt < sum_qty` — quantities
    * are integer-valued, sums exact), so neither engine rounds a ratio
    * at the filter boundary; revenue is a DECIMAL(18,2) sum cast to
    * double only for the final ÷7. */
  def smallQtyRevenue(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
      .select(col("l_partkey"), col("l_quantity").cast("long").as("qty"),
        col("l_extendedprice"))
    val perPart = li.groupBy("l_partkey")
      .agg(sum(col("qty")).as("sum_qty"), count(lit(1)).as("cnt"))
      .withColumnRenamed("l_partkey", "pk")
    val brands = Tables.part(spark, dir).select("p_partkey", "p_brand")
    li.join(perPart, col("l_partkey") === col("pk"))
      .filter(lit(5L) * col("qty") * col("cnt") < col("sum_qty"))
      .join(brands, col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand"))
      .agg(
        (sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double") / lit(7.0))
          .as("avg_weekly_rev"),
        count(lit(1)).as("n_small"))
      .orderBy("p_brand")
  }

  /** TPC-H Q22 shape: dormant high-balance customers — accounts above
    * the average positive balance with NO order after a cutoff, rolled
    * up per nation. Two scale patterns the rest of the suite doesn't
    * pin: a scalar aggregate broadcast back as a threshold (one-row
    * cross join, never a self-join) and a LEFT ANTI join against the
    * date-filtered fact (the filter pushes to the parquet scan, so the
    * anti side is the small recent slice, not order history).
    *
    * Determinism: the threshold compare is decimal cross-multiplied —
    * `bal · n_pos > sum_pos` with both sides exact DECIMAL — so no
    * engine computes (or rounds) the average itself. */
  def dormantHighBalance(spark: SparkSession, dir: String,
                         cutoff: String = "2000-01-01"): DataFrame = {
    val cust = Tables.customer(spark, dir)
      .select(col("c_custkey"), col("c_nationkey"),
        col("c_acctbal").cast("decimal(18,2)").as("bal"))
    val posStats = cust.filter(col("bal") > 0)
      .agg(sum(col("bal")).as("sum_pos"), count(lit(1)).as("n_pos"))
    val recent = Tables.orders(spark, dir)
      .filter(col("o_orderdate") >= lit(cutoff).cast("timestamp"))
      .select("o_custkey")
    val nations = Tables.nation(spark, dir).select("n_nationkey", "n_name")
    cust
      .crossJoin(broadcast(posStats)) // 1-row threshold frame
      .filter(col("bal") * col("n_pos") > col("sum_pos"))
      .join(recent, col("c_custkey") === col("o_custkey"), "left_anti")
      .join(broadcast(nations), col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name").as("nation"))
      .agg(count(lit(1)).as("n_cust"),
        sum(col("bal")).cast("double").as("total_bal"))
      .orderBy("nation")
  }

  /** TPC-H Q15 shape: the top revenue supplier(s) for a quarter —
    * max-of-aggregate with TIES PRESERVED, the report shape TakeOrdered
    * top-k cannot express (k=1 would drop co-winners). The per-supplier
    * aggregate is one two-phase hash agg; its 1-row max broadcasts back
    * as an equality filter, and the equality is DECIMAL-exact so a tie
    * is a true tie in both engines, not a double coincidence. */
  def topSupplierQuarter(spark: SparkSession, dir: String,
                         quarterStart: String = "1997-01-01",
                         quarterEnd: String = "1997-04-01"): DataFrame = {
    val perSupp = Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") >= lit(quarterStart).cast("timestamp")
        && col("l_shipdate") < lit(quarterEnd).cast("timestamp"))
      .select("l_suppkey", "l_extendedprice", "l_discount")
      .groupBy("l_suppkey")
      .agg(revenue.as("rev_dec"))
    topSupplierCore(perSupp, Tables.supplier(spark, dir).select("s_suppkey", "s_name"))
  }

  /** [[topSupplierQuarter]]'s winner selection over any
    * (l_suppkey, rev_dec) aggregate — split out so the tie-preservation
    * contract can be pinned on planted equal-revenue suppliers. */
  private[graft] def topSupplierCore(perSupp: DataFrame, supp: DataFrame): DataFrame = {
    val mx = perSupp.agg(max(col("rev_dec")).as("max_rev"))
    perSupp
      .crossJoin(broadcast(mx)) // 1-row max frame
      .filter(col("rev_dec") === col("max_rev"))
      .join(supp, col("l_suppkey") === col("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"),
        col("rev_dec").cast("double").as("total_rev"))
      .orderBy("s_suppkey")
  }

  /** TPC-H Q4 shape: order count by priority for a quarter, counting
    * only orders with at least one LATE line (shipped > `lateDays` after
    * the order date — the testdata has no commit/receipt dates, so
    * ship-lag is the lateness signal). The EXISTS is a LEFT SEMI join:
    * the fact side never duplicates an order no matter how many late
    * lines it has, and the lateness predicate rides the join condition.
    * One shuffle on orderkey + a |priorities|-row aggregate. */
  def orderPriorityLate(spark: SparkSession, dir: String,
                        qStart: String = "1997-01-01",
                        qEnd: String = "1997-04-01",
                        lateDays: Int = 60): DataFrame = {
    val ord = Tables.orders(spark, dir)
      .filter(col("o_orderdate") >= lit(qStart).cast("timestamp")
        && col("o_orderdate") < lit(qEnd).cast("timestamp"))
      .select("o_orderkey", "o_orderpriority", "o_orderdate")
    val li = Tables.lineitem(spark, dir).select("l_orderkey", "l_shipdate")
    ord.join(li,
        col("o_orderkey") === col("l_orderkey")
          && col("l_shipdate") > col("o_orderdate") + expr(s"INTERVAL $lateDays DAYS"),
        "left_semi")
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("order_count"))
      .orderBy("o_orderpriority")
  }

  /** TPC-H Q7 shape: shipping volume between two nations by direction
    * and ship year — customer in one, supplier in the other, both
    * directions reported. Nation hinted, customer/supplier unhinted; the
    * year comes from
    * the SHIP date (the fact column), so the revenue groups are
    * (supp_nation, cust_nation, year) — a bounded domain. */
  def nationTradeVolume(spark: SparkSession, dir: String,
                        nationA: String = "NATION_3",
                        nationB: String = "NATION_7",
                        yearStart: String = "1996-01-01",
                        yearEnd: String = "1998-01-01"): DataFrame = {
    val nat = Tables.nation(spark, dir).select("n_nationkey", "n_name")
    val sup = Tables.supplier(spark, dir).select("s_suppkey", "s_nationkey")
      .join(broadcast(nat), col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("n_name").as("supp_nation"))
    val cus = Tables.customer(spark, dir).select("c_custkey", "c_nationkey")
      .join(broadcast(nat), col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey"), col("n_name").as("cust_nation"))
    Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") >= lit(yearStart).cast("timestamp")
        && col("l_shipdate") < lit(yearEnd).cast("timestamp"))
      .select("l_orderkey", "l_suppkey", "l_shipdate", "l_extendedprice", "l_discount")
      .join(Tables.orders(spark, dir).select("o_orderkey", "o_custkey"),
        col("l_orderkey") === col("o_orderkey"))
      .join(cus, col("o_custkey") === col("c_custkey"))
      .join(sup, col("l_suppkey") === col("s_suppkey"))
      .filter((col("supp_nation") === nationA && col("cust_nation") === nationB)
        || (col("supp_nation") === nationB && col("cust_nation") === nationA))
      .groupBy(col("supp_nation"), col("cust_nation"),
        year(col("l_shipdate")).cast("bigint").as("ship_year"))
      .agg(revenue.cast("double").as("volume"))
      .orderBy("supp_nation", "cust_nation", "ship_year")
  }

  /** TPC-H Q9 shape: margin vs retail by supplier nation and order
    * year for a part-name family. The testdata has no `partsupp`
    * supply cost, so the profit term is re-expressed against the part's
    * retail price: margin = Σ(extprice·(1−disc) − retailprice·qty),
    * every term DECIMAL-exact before the final double cast. Part filter
    * prunes the probe side early; linear dims unhinted. */
  def productMargin(spark: SparkSession, dir: String,
                    nameToken: String = "widget"): DataFrame = {
    val prt = Tables.part(spark, dir)
      .filter(col("p_name").contains(nameToken))
      .select("p_partkey", "p_retailprice")
    val sup = Tables.supplier(spark, dir).select("s_suppkey", "s_nationkey")
      .join(broadcast(Tables.nation(spark, dir).select("n_nationkey", "n_name")),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("n_name").as("nation"))
    val margin = sum(
      col("l_extendedprice").cast("decimal(18,2)")
        * (lit(1).cast("decimal(18,2)") - col("l_discount").cast("decimal(18,2)"))
        - col("p_retailprice").cast("decimal(18,2)") * col("l_quantity").cast("decimal(18,2)"))
    Tables.lineitem(spark, dir)
      .select("l_orderkey", "l_partkey", "l_suppkey",
        "l_quantity", "l_extendedprice", "l_discount")
      .join(prt, col("l_partkey") === col("p_partkey"))
      .join(sup, col("l_suppkey") === col("s_suppkey"))
      .join(Tables.orders(spark, dir).select("o_orderkey", "o_orderdate"),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("nation"), year(col("o_orderdate")).cast("bigint").as("o_year"))
      .agg(margin.cast("double").as("margin"))
      .orderBy("nation", "o_year")
  }

  /** TPC-H Q13 shape: the distribution of orders-per-customer — a LEFT
    * join so zero-order customers are counted, excluding one priority
    * class. Two bounded aggregates: per-customer counts (shuffle on
    * custkey), then a |distinct count|-row histogram. The deterministic
    * tie order (custdist desc, c_count desc) is total because c_count
    * is the group key. */
  def custOrderDistribution(spark: SparkSession, dir: String,
                            excludePriority: String = "1-URGENT"): DataFrame = {
    val ord = Tables.orders(spark, dir)
      .filter(col("o_orderpriority") =!= excludePriority)
      .select("o_orderkey", "o_custkey")
    Tables.customer(spark, dir).select("c_custkey")
      .join(ord, col("c_custkey") === col("o_custkey"), "left")
      .groupBy("c_custkey")
      .agg(count(col("o_orderkey")).as("c_count"))
      .groupBy("c_count")
      .agg(count(lit(1)).as("custdist"))
      .orderBy(col("custdist").desc, col("c_count").desc)
  }

  /** TPC-H Q19 shape: revenue under a disjunction of brand × size ×
    * quantity band predicates — the classic test that an OR-of-ANDs
    * still prunes (each disjunct references the part side and
    * the fact side; Catalyst pushes the common `l_quantity <= 36` and
    * the brand IN-list into the scans). One scalar DECIMAL-exact sum. */
  def brandBandRevenue(spark: SparkSession, dir: String): DataFrame = {
    val prt = Tables.part(spark, dir).select("p_partkey", "p_brand", "p_size")
    val li = Tables.lineitem(spark, dir)
      .select("l_partkey", "l_quantity", "l_extendedprice", "l_discount")
    val disj =
      (col("p_brand") === "Brand#12" && col("p_size").between(1, 5)
        && col("l_quantity").between(1, 11)) ||
      (col("p_brand") === "Brand#23" && col("p_size").between(1, 10)
        && col("l_quantity").between(10, 20)) ||
      (col("p_brand") === "Brand#3" && col("p_size").between(1, 15)
        && col("l_quantity").between(20, 36))
    li.join(prt, col("l_partkey") === col("p_partkey"))
      .filter(disj)
      .agg(revenue.cast("double").as("revenue"),
        count(lit(1)).as("n_lines"))
  }

  /** TPC-H Q16 shape: supplier breadth per (brand, type, size) — how
    * many DISTINCT suppliers ship each part profile, excluding one brand
    * and any supplier with a negative account balance (the NOT IN,
    * planned as a LEFT ANTI join, broadcast when AQE measures it small).
    * Supplier identity comes
    * from lineitem (the testdata has no partsupp). The fact rows are
    * first collapsed to DISTINCT (partkey, suppkey) pairs — a narrow
    * two-long shuffle whose output is the BOUNDED pair domain (the
    * partsupp relation Q16 actually reads, ~|part|×suppliers-per-part,
    * independent of fact-row count) — so the string-keyed
    * countDistinct shuffle and the part join see the pair domain, not
    * the raw fact table: at 100 TB that is the difference between
    * shuffling 6B rows twice and once-narrow + once-bounded. */
  def partSupplierBreadth(spark: SparkSession, dir: String,
                          excludeBrand: String = "Brand#5",
                          k: Int = 40): DataFrame = {
    val badSupp = Tables.supplier(spark, dir)
      .filter(col("s_acctbal") < 0).select("s_suppkey")
    val prt = Tables.part(spark, dir)
      .filter(col("p_brand") =!= excludeBrand)
      .select("p_partkey", "p_brand", "p_type", "p_size")
    Tables.lineitem(spark, dir).select("l_partkey", "l_suppkey")
      .distinct()
      .join(badSupp, col("l_suppkey") === col("s_suppkey"), "left_anti")
      .join(prt, col("l_partkey") === col("p_partkey"))
      .groupBy("p_brand", "p_type", "p_size")
      .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
      .orderBy(col("supplier_cnt").desc, col("p_brand").asc,
        col("p_type").asc, col("p_size").asc)
      .limit(k)
  }

  /** TPC-H Q21 shape: suppliers who were the SOLE late shipper on a
    * multi-supplier finished order (late = shipped > `lateDays` after
    * the order date — the ship-lag lateness signal again). The classic
    * EXISTS / NOT EXISTS pair collapses into ONE aggregate per order:
    * count distinct suppliers, count distinct LATE suppliers, and keep
    * orders where the late set is exactly {s} while other suppliers
    * exist — no second or third self-join of the fact table, which is
    * the whole 100×-scale point. Supplier nation filters the survivors
    * (a tiny frame) at the end. */
  def soleLateSupplier(spark: SparkSession, dir: String,
                       nation: String = "NATION_3",
                       lateDays: Int = 60, k: Int = 20): DataFrame = {
    val ord = Tables.orders(spark, dir)
      .filter(col("o_orderstatus") === "F")
      .select("o_orderkey", "o_orderdate")
    // Opt r19 (guide §2.3): the two countDistincts over the same fact
    // frame planned as an Expand — every joined fact row tripled before
    // the first exchange. Collapsing to the DISTINCT (order, supplier)
    // pair domain first (one narrow partial-agged shuffle — the q149
    // discipline) makes both "distinct supplier" counts plain counts
    // over pair rows: supp_cnt = non-null suppliers per order,
    // late_supp_cnt/late_supp read the pair's ANY-late flag (a supplier
    // is late iff any of its lines is late — max over the pair's lines,
    // exactly what countDistinct(when(late, s)) measured).
    val perOrder = Tables.lineitem(spark, dir)
      .select("l_orderkey", "l_suppkey", "l_shipdate")
      .join(ord, col("l_orderkey") === col("o_orderkey"))
      .withColumn("late",
        col("l_shipdate") > col("o_orderdate") + expr(s"INTERVAL $lateDays DAYS"))
      .groupBy("l_orderkey", "l_suppkey")
      .agg(max(col("late")).as("late_any"))
      .groupBy("l_orderkey")
      .agg(count(col("l_suppkey")).as("supp_cnt"),
        count(when(col("late_any"), col("l_suppkey"))).as("late_supp_cnt"),
        max(when(col("late_any"), col("l_suppkey"))).as("late_supp"))
      .filter(col("supp_cnt") > 1 && col("late_supp_cnt") === 1)
    val sup = Tables.supplier(spark, dir).select("s_suppkey", "s_name", "s_nationkey")
      .join(broadcast(Tables.nation(spark, dir)
          .filter(col("n_name") === nation).select("n_nationkey")),
        col("s_nationkey") === col("n_nationkey"))
      .select("s_suppkey", "s_name")
    perOrder.groupBy("late_supp")
      .agg(count(lit(1)).as("numwait"))
      .join(sup, col("late_supp") === col("s_suppkey"))
      .select(col("s_name"), col("numwait"))
      .orderBy(col("numwait").desc, col("s_name").asc)
      .limit(k)
  }

  /** TPC-H Q2 shape: for each part of a given type/size band, the
    * supplier offering the LOWEST observed unit price — the classic
    * correlated-min scalar subquery, decorrelated into two hash
    * aggregates. The testdata has no partsupp table, so "offer price"
    * is the minimum `l_extendedprice / l_quantity` the supplier ever
    * shipped that part at (per-row division — exact and
    * order-independent, unlike an average).
    *
    * Scale: the part filter prunes the fact join's build side before
    * any shuffle; the per-(part, supplier) and per-part minima are both
    * partial-agg hash aggregates; the argmin is `min(struct(price,
    * suppkey))` — lexicographic struct-min with the suppkey tiebreak
    * riding IN the aggregate, so no window sort over the fact table
    * ever happens (contrast the naive row_number plan, which sorts
    * every group). */
  def minCostSupplier(spark: SparkSession, dir: String,
                      ptype: String = "PROMO", maxSize: Int = 15): DataFrame = {
    val part = Tables.part(spark, dir)
      .filter(col("p_type") === ptype && col("p_size") <= maxSize)
      .select("p_partkey", "p_name", "p_brand")
    val best = Tables.lineitem(spark, dir)
      .select(col("l_partkey"), col("l_suppkey"),
        (col("l_extendedprice") / col("l_quantity")).as("unit_price"))
      .join(part.select("p_partkey"), col("l_partkey") === col("p_partkey"))
      .groupBy("l_partkey", "l_suppkey")
      .agg(min(col("unit_price")).as("supp_unit"))
      .groupBy("l_partkey")
      .agg(min(struct(col("supp_unit"), col("l_suppkey"))).as("best"))
      .select(col("l_partkey"),
        col("best.supp_unit").as("min_unit_price"),
        col("best.l_suppkey").as("best_suppkey"))
    best
      .join(part, col("l_partkey") === col("p_partkey"))
      .join(Tables.supplier(spark, dir).select("s_suppkey", "s_name"),
        col("best_suppkey") === col("s_suppkey"))
      .select(col("p_partkey"), col("p_name"), col("p_brand"),
        col("s_name"), col("min_unit_price"))
      .orderBy(col("p_partkey").asc)
  }

  /** TPC-H Q11 shape: parts whose revenue exceeds a FRACTION of the
    * whole corpus's revenue — a per-group aggregate compared against a
    * global scalar. The scalar rides as a broadcast 1-row cross join
    * (never a collected driver value baked into the plan, so the same
    * plan object re-executes correctly after data changes), and all
    * money math stays decimal until the final cast, so the
    * group-vs-global comparison is exact and aggregation-order
    * independent. Scale: one fact aggregation feeds BOTH sides (the
    * per-part frame re-aggregates to the global total), so the fact
    * table is scanned once.
    *
    * The threshold is RELATIVE — `slackPct`% above the mean part value
    * — not an absolute corpus fraction: TPC-H Q11's `0.0001/SF` constant
    * encodes the same intent (a fixed fraction goes degenerate as the
    * group count grows), and a mean-relative cut keeps the right tail
    * at every scale. Boundary determinism: both engines compute the
    * IDENTICAL exact decimal (tot, val) and long (cnt), so the
    * double-cast comparison sees bit-identical operands. */
  def importantParts(spark: SparkSession, dir: String,
                     slackPct: Int = 10): DataFrame = {
    // keyed on the table FINGERPRINT (path, mtime, size), not the path:
    // a same-JVM testdata regeneration must invalidate the cached frame
    // (the r7 stale-cache failure class)
    val liFp = Tables.pathFingerprint(spark, s"$dir/lineitem.parquet")
    val perPart = Tables.memoCache(spark, s"q169/perpart/${liFp._1}/${liFp._2}/${liFp._3}") {
      Tables.lineitem(spark, dir)
        .select("l_partkey", "l_extendedprice", "l_discount")
        .groupBy("l_partkey")
        .agg(revenue.as("val_dec"))
    }
    val total = perPart.agg(sum(col("val_dec")).as("tot"),
      count(lit(1)).as("n_parts"))
    perPart.crossJoin(broadcast(total))
      .filter(col("val_dec").cast("double") * col("n_parts") * lit(100L) >
        col("tot").cast("double") * lit(100L + slackPct))
      .select(col("l_partkey"),
        col("val_dec").cast("double").as("part_value"))
      .orderBy(col("part_value").desc, col("l_partkey").asc)
  }

  /** TPC-H Q19 shape: revenue under an OR of brand × size × quantity
    * conjunctions — the disjunctive-predicate pushdown test. The
    * part-side implications of the disjunction (brand ∈ {…} AND size ≤
    * max) are factored out and applied BEFORE the join, so the build
    * side shrinks at the scan instead of carrying every part into the
    * join just to discard it; the full row-coupled disjunction then
    * runs post-join. Catalyst cannot do this factoring itself (the
    * predicate mixes columns from both sides), which is why the
    * operator does it explicitly — the difference at 100 TB is joining
    * against 3 brands instead of all of them. */
  def disjunctiveRevenue(spark: SparkSession, dir: String): DataFrame = {
    val brands = Seq("Brand#12", "Brand#23", "Brand#34")
    val part = Tables.part(spark, dir)
      .filter(col("p_brand").isin(brands: _*) && col("p_size").between(1, 15))
      .select("p_partkey", "p_brand", "p_size")
    val li = Tables.lineitem(spark, dir)
      .select("l_partkey", "l_quantity", "l_extendedprice", "l_discount")
    val c1 = col("p_brand") === "Brand#12" && col("p_size").between(1, 5) &&
      col("l_quantity").between(1, 11)
    val c2 = col("p_brand") === "Brand#23" && col("p_size").between(1, 10) &&
      col("l_quantity").between(10, 20)
    val c3 = col("p_brand") === "Brand#34" && col("p_size").between(1, 15) &&
      col("l_quantity").between(20, 30)
    li.join(part, col("l_partkey") === col("p_partkey"))
      .filter(c1 || c2 || c3)
      .agg(coalesce(revenue.cast("double"), lit(0.0)).as("revenue"))
  }

  /** TPC-H Q20 shape: suppliers who shipped a BULK quantity (>
    * `minQty` units in `year`) of at least one part of the target type
    * — the nested semi-join: an aggregate-with-HAVING inner query whose
    * survivors semi-join the supplier dimension. No partsupp/availqty
    * in the testdata, so the "half the stock" predicate becomes an
    * relative threshold: a (supplier, part) pair qualifies when it
    * shipped more than `mult`× the AVERAGE pair quantity — Q20's
    * "more than half the stock" intent, scale-stable where an absolute
    * cut goes all-or-nothing as row counts grow. Boundary determinism:
    * l_quantity is integer-valued, so every sum is exact in double;
    * the comparison is pure-BIGINT cross-multiplication (qty·n_pairs >
    * mult·total), no float at the edge. Scale: the fact scan prunes on
    * the year filter + the (broadcastable-while-small, AQE-owned) part
    * semi-join before the (suppkey, partkey) aggregate; the final LEFT
    * SEMI against supplier dedups without a distinct. */
  def bulkPartSuppliers(spark: SparkSession, dir: String,
                        ptype: String = "ECONOMY", year: Int = 1997,
                        mult: Int = 2): DataFrame = {
    val parts = Tables.part(spark, dir)
      .filter(col("p_type") === ptype).select("p_partkey")
    // fingerprint-keyed for the same same-JVM-regeneration reason as
    // q169 — on BOTH inputs the cached frame derives from
    val liFp = Tables.pathFingerprint(spark, s"$dir/lineitem.parquet")
    val pFp = Tables.pathFingerprint(spark, s"$dir/part.parquet")
    val pairQty = Tables.memoCache(spark,
      s"q171/pairqty/$ptype/$year/${liFp._1}/${liFp._2}/${liFp._3}/${pFp._2}/${pFp._3}") {
      Tables.lineitem(spark, dir)
        .filter(org.apache.spark.sql.functions.year(col("l_shipdate")) === year)
        .select("l_partkey", "l_suppkey", "l_quantity")
        .join(parts, col("l_partkey") === col("p_partkey"), "left_semi")
        .groupBy("l_suppkey", "l_partkey")
        .agg(sum(col("l_quantity")).cast("long").as("qty"))
    }
    val stat = pairQty.agg(sum(col("qty")).as("tot_qty"),
      count(lit(1)).as("n_pairs"))
    val qualifying = pairQty.crossJoin(broadcast(stat))
      .filter(col("qty") * col("n_pairs") > lit(mult.toLong) * col("tot_qty"))
      .select("l_suppkey")
    Tables.supplier(spark, dir).select("s_suppkey", "s_name")
      .join(qualifying, col("s_suppkey") === col("l_suppkey"), "left_semi")
      .orderBy(col("s_suppkey").asc)
  }

  /** TPC-H Q1 proper: the pricing summary report — the canonical
    * scan-heavy single-pass aggregate (8 aggregates over the filtered
    * fact, grouped on a 6-value domain). This is THE whole-stage-codegen
    * benchmark shape: one parquet scan with the date filter pushed down,
    * one partial+final hash agg over a tiny key domain; no join, no
    * sort but the 6-row display ORDER BY.
    *
    * Determinism: every money sum is DECIMAL (exact, order-free) and
    * every average is (exact decimal sum) cast double ÷ (exact count) —
    * a single IEEE division over bit-identical operands in both engines.
    * Plain `avg(double)` would be aggregation-order dependent (0.05 is
    * not representable); that's why no raw double ever enters a sum. */
  def pricingSummary(spark: SparkSession, dir: String,
                     cutoff: String = "1998-09-01"): DataFrame = {
    def dec(c: String) = col(c).cast("decimal(18,2)")
    val charge = sum(dec("l_extendedprice")
      * (lit(1).cast("decimal(18,2)") - dec("l_discount"))
      * (lit(1).cast("decimal(18,2)") + dec("l_tax")))
    Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") <= lit(cutoff).cast("timestamp"))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        sum(col("l_quantity")).cast("double").as("sum_qty"),
        sum(dec("l_extendedprice")).cast("double").as("sum_base_price"),
        revenue.cast("double").as("sum_disc_price"),
        charge.cast("double").as("sum_charge"),
        (sum(col("l_quantity")) / count(lit(1))).as("avg_qty"),
        (sum(dec("l_extendedprice")).cast("double") / count(lit(1))).as("avg_price"),
        (sum(dec("l_discount")).cast("double") / count(lit(1))).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy("l_returnflag", "l_linestatus")
  }
}
