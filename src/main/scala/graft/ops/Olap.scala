package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** OLAP extensions over the publisher's flat GROUP BYs: hierarchical
  * rollup, pivot (crosstab), and window-frame analytics — the aggregate
  * shapes a dashboard layer issues against the same tables
  * (reference analog: the dw-chart dashboards aggregate the publisher's
  * REST results client-side, e.g.
  * dw-chart/src/main/java/com/demo/controller/IndexController.java:23-208;
  * here they are first-class engine operators).
  *
  * Scale design: rollup/pivot are single hash aggregates (rollup adds one
  * grouping-set expansion pre-shuffle, pivot folds into conditional
  * aggregates — neither adds a join or an extra shuffle); the moving
  * average partitions its window by user so WindowExec parallelizes per
  * key group (no global single-partition sort).
  */
object Olap {

  /** q213 — ratio-to-parent hierarchy report: per (region, nation),
    * the nation's order revenue, its region's total, and the nation's
    * integer-micro share of its parent — the classic BI "percent of
    * parent" drilldown (the share complement of q46's rollup, which
    * totals levels without relating child to parent). Exact DECIMAL
    * cent sums; the share is one micro-rounded division.
    *
    * Scale: one fact aggregate by (region, nation) — a bounded
    * dimension domain — then a window over the same tiny domain for
    * the parent totals; the dims broadcast onto the fact scan. */
  def ratioToParent(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byNation = Tables.orders(spark, dir)
      .join(Tables.customer(spark, dir), col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.nation(spark, dir)), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(spark, dir)), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name").as("region"), col("n_name").as("nation"))
      .agg(sum(expr("CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)")).as("nation_cents"))
    byNation
      .withColumn("region_cents",
        sum(col("nation_cents")).over(Window.partitionBy("region")))
      .withColumn("share_micro",
        expr("CAST(FLOOR(1000000.0 * nation_cents / region_cents + 0.5) AS BIGINT)"))
      .orderBy("region", "nation")
  }

  /** q217 — per-segment revenue trend via closed-form OLS: regress
    * daily revenue (integer cents) on the epoch day, per market
    * segment. Slope, intercept-free normalization (means), and r² all
    * derive from five EXACT BIGINT sums (n, Σx, Σy, Σxy, Σx², Σy²) —
    * the single-pass sufficient statistics of simple regression — so
    * the only doubles are the final closed-form divisions, written
    * identically in both engines and micro-rounded. (Σxy with
    * epoch-day x ≈ 10⁴ stays within BIGINT to ~1000× this SF; past
    * that, shift x to days-since-window-start — same slope, smaller
    * products.)
    *
    * Scale: one fact aggregate to (segment, day) — bounded domain —
    * then one 5-sum aggregate per segment. No window, no sort. */
  def segmentTrend(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables.orders(spark, dir)
      .join(Tables.customer(spark, dir), col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment").as("segment"),
        datediff(col("o_orderdate").cast("date"), lit("1970-01-01").cast("date"))
          .cast("long").as("x"))
      .agg(sum(expr("CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)")).as("y"))
    daily.groupBy("segment")
      .agg(count(lit(1)).as("n_days"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("y") * col("y")).as("syy"))
      .select(col("segment"), col("n_days"),
        expr("""CAST(FLOOR(1000000.0
               |  * (CAST(n_days AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
               |  / (CAST(n_days AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
               |  + 0.5) AS BIGINT)""".stripMargin.replace("\n", "")).as("slope_micro"),
        expr("""CAST(FLOOR(1000000.0
               |  * (CAST(n_days AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
               |  * (CAST(n_days AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
               |  / ((CAST(n_days AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
               |     * (CAST(n_days AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
               |  + 0.5) AS BIGINT)""".stripMargin.replace("\n", "")).as("r2_micro"),
        expr("sy div n_days").as("mean_daily_cents"))
      .orderBy("segment")
  }

  /** q234 — matched-basket Laspeyres price index: for every month, the
    * base-month-quantity-weighted price level of the parts traded in
    * BOTH months, relative to the base month (1995-01) — the inflation
    * series of the catalog (the matched-model variant: parts missing
    * from either side drop from that month's basket, the standard
    * answer to assortment churn). Unit prices are micro-rounded
    * RATIONALS (Σ extendedprice cents / Σ quantity per (month, part)),
    * the index numerator/denominator are exact BIGINT
    * price-micro × base-quantity products, and the final ratio is one
    * micro division.
    *
    * Scale: one (month, part) partial-agg pass; the base month is a
    * part-keyed join (AQE); per-month sums close it.
    *
    * Opt r19 (guide §2.3/§6): the month group key is the INTEGER
    * y·100+m — `date_format`'s per-input-row DateTimeFormatter walk
    * was the single hottest expression in the partial-agg stage
    * (measured: 1.24 s task time on the (month, part) pass at sf0.1,
    * string keys in the hash table); the "yyyy-MM" string is now
    * formatted once per FINAL row (≤ #months). The base leg filters a
    * HALF-OPEN shipdate range pushed into the parquet scan (the F3
    * discipline) instead of re-aggregating the whole fact table and
    * filtering on the derived month — PushedFilters carries the range,
    * so at 100 TB the base scan prunes to one month's row groups. */
  def priceIndex(spark: SparkSession, dir: String,
                 baseMonth: String = "1995-01"): DataFrame = {
    val ym = (year(col("l_shipdate")) * 100 + month(col("l_shipdate"))).as("ym")
    val monthly = Tables.lineitem(spark, dir)
      .groupBy(ym, col("l_partkey"))
      .agg(sum(expr("CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT)")).as("cents"),
        sum(col("l_quantity").cast("long")).as("qty"))
      .withColumn("price_micro",
        expr("CAST(FLOOR(1000000.0 * cents / qty + 0.5) AS BIGINT)"))
    val (by, bm) = (baseMonth.take(4).toInt, baseMonth.drop(5).toInt)
    val baseLo = java.time.LocalDate.of(by, bm, 1)
    val baseHi = baseLo.plusMonths(1)
    val base = Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") >= lit(baseLo.toString).cast("timestamp") &&
        col("l_shipdate") < lit(baseHi.toString).cast("timestamp"))
      .groupBy(col("l_partkey"))
      .agg(sum(expr("CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT)")).as("cents0"),
        sum(col("l_quantity").cast("long")).as("q0"))
      .select(col("l_partkey"), col("q0"),
        expr("CAST(FLOOR(1000000.0 * cents0 / q0 + 0.5) AS BIGINT)").as("p0_micro"))
    monthly.join(base, "l_partkey")
      .groupBy("ym")
      // decimal accumulation (r18 overflow audit): price_micro·q0 is
      // ~1e11-1e12 per part and the Laspeyres numerator sums it over
      // EVERY matched part — a long accumulator wraps at ~1e7 parts,
      // far inside a 100 TB catalog; the index ratio itself is tiny
      .agg(count(lit(1)).as("n_matched"),
        sum(col("price_micro").cast("decimal(38,0)") * col("q0")).as("num"),
        sum(col("p0_micro").cast("decimal(38,0)") * col("q0")).as("den"))
      // the "yyyy-MM" string exists only HERE, over ≤ #months rows
      .select(format_string("%04d-%02d", expr("ym div 100"), expr("ym % 100"))
          .as("month"), col("n_matched"),
        expr("CAST(FLOOR(1000000.0 * num / den + 0.5) AS BIGINT)").as("index_micro"))
      .orderBy("month")
  }

  /** Revenue rollup over the nation → segment hierarchy (GROUPING SETS):
    * (nation, segment), (nation), () — NULL group keys surfaced as 'ALL'
    * (unambiguous: dimension values never contain literal 'ALL'). */
  def revenueRollup(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.orders(spark, dir)
      .join(Tables.customer(spark, dir),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.nation(spark, dir)),
        col("c_nationkey") === col("n_nationkey"))
      .select(col("n_name"), col("c_mktsegment"), col("o_totalprice"))
    // toDF() re-aliases the rollup output with fresh attribute ids — the
    // grouping columns otherwise carry duplicate lineage through the
    // Expand node and the analyzer's ambiguous-self-join check rejects
    // any later unqualified reference to them
    base.rollup(col("n_name"), col("c_mktsegment"))
      .agg(sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("gmv"),
        count(lit(1)).as("order_cnt"))
      .toDF("g_nation", "g_segment", "gmv", "order_cnt")
      .select(
        coalesce(col("g_nation"), lit("ALL")).as("nation"),
        coalesce(col("g_segment"), lit("ALL")).as("segment"),
        col("gmv"), col("order_cnt"))
      .orderBy("nation", "segment")
  }

  /** Full CUBE over the same two dimensions as [[revenueRollup]] — adds
    * the (segment-only) grouping set the rollup hierarchy omits, i.e.
    * every marginal a dashboard can slice. Same single-hash-aggregate
    * shape: the Expand node emits 4 grouping-set rows per input row
    * before the one shuffle; no joins, no second pass. */
  def revenueCube(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.orders(spark, dir)
      .join(Tables.customer(spark, dir),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.nation(spark, dir)),
        col("c_nationkey") === col("n_nationkey"))
      .select(col("n_name"), col("c_mktsegment"), col("o_totalprice"))
    // toDF() re-aliases for the same ambiguous-self-join reason as rollup
    base.cube(col("n_name"), col("c_mktsegment"))
      .agg(sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("gmv"),
        count(lit(1)).as("order_cnt"))
      .toDF("g_nation", "g_segment", "gmv", "order_cnt")
      .select(
        coalesce(col("g_nation"), lit("ALL")).as("nation"),
        coalesce(col("g_segment"), lit("ALL")).as("segment"),
        col("gmv"), col("order_cnt"))
      .orderBy("nation", "segment")
  }

  /** TPC-H market segments — the fixed pivot column domain (explicit list
    * so the pivot plans as one aggregate instead of a distinct-scan). */
  val Segments: Seq[String] =
    Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")

  /** Customer-count crosstab: nation × market segment, one column per
    * segment. Explicit pivot values keep this a single-pass conditional
    * aggregate (Spark otherwise prepends a distinct job to discover the
    * domain — an extra scan at 100 TB). */
  def segmentPivot(spark: SparkSession, dir: String): DataFrame =
    Tables.customer(spark, dir)
      .join(broadcast(Tables.nation(spark, dir)),
        col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name").as("nation"))
      .pivot("c_mktsegment", Segments)
      .agg(count(lit(1)))
      .select(col("nation") +: Segments.map(s =>
        coalesce(col(s), lit(0L)).as(s.toLowerCase(java.util.Locale.ROOT))): _*)
      .orderBy("nation")

  /** Decile banding via ntile over a total order (balance, key) — the
    * ranked-bucketing aggregate of a dashboard layer. The global window
    * is a single ordered pass here; at scale the same statistic comes
    * from approx_percentile boundaries + a bucket join (no global sort)
    * — both paths expressed, this one exact. Averages go through
    * DECIMAL(18,2) so the value is aggregation-order independent. */
  def balanceDeciles(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.orderBy(col("c_acctbal").asc, col("c_custkey").asc)
    Tables.customer(spark, dir)
      .select(col("c_custkey"), col("c_acctbal"))
      .withColumn("decile", ntile(10).over(w).cast("long"))
      .groupBy("decile")
      .agg(count(lit(1)).as("n"),
        min(col("c_acctbal")).as("bal_min"),
        max(col("c_acctbal")).as("bal_max"),
        (sum(col("c_acctbal").cast("decimal(18,2)")).cast("double") / count(lit(1)))
          .as("bal_avg"))
      .orderBy("decile")
  }

  /** Per-nation spend distribution: percent_rank + cume_dist over each
    * customer's total spend — rank analytics partition-parallel by
    * nation (no global sort). Both measures are single exact divisions
    * ((rank−1)/(n−1), rows≤current/n), bit-identical across engines. */
  def spendDistribution(spark: SparkSession, dir: String): DataFrame = {
    val spend = Tables.orders(spark, dir)
      .groupBy(col("o_custkey").as("user_id"))
      .agg(sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("spend"))
    val withNation = spend
      .join(Tables.customer(spark, dir)
        .select(col("c_custkey").as("user_id"), col("c_nationkey")), Seq("user_id"))
      .join(broadcast(Tables.nation(spark, dir)),
        col("c_nationkey") === col("n_nationkey"))
    val w = Window.partitionBy("n_name").orderBy(col("spend").asc, col("user_id").asc)
    withNation
      .select(col("n_name").as("nation"), col("user_id"), col("spend"),
        percent_rank().over(w).as("pr"),
        cume_dist().over(w).as("cd"))
      .orderBy("nation", "user_id")
  }

  /** Per-user daily activity with a trailing 7-row moving average and a
    * day-over-day delta — the window-frame (ROWS BETWEEN) and lag/lead
    * surface. The frame is over *present* days (no gap fill), and the
    * average is emitted as one division sum/count so the value is
    * bit-identical across engines regardless of frame content. */
  def dailyMovingAvg(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(spark, dir)
      .groupBy(col("user_id"), date_format(col("ts"), "yyyy-MM-dd").as("log_date"))
      .agg(count(lit(1)).as("ct"))
    val ordered = Window.partitionBy("user_id").orderBy("log_date")
    val trailing7 = ordered.rowsBetween(-6, Window.currentRow)
    daily
      .withColumn("ma7",
        sum(col("ct")).over(trailing7).cast("double") / count(lit(1)).over(trailing7))
      .withColumn("delta", (col("ct") - lag(col("ct"), 1).over(ordered)).cast("long"))
      .orderBy("user_id", "log_date")
  }

  /** Month-over-month GMV growth: one hash aggregate to ~tens-of-rows of
    * monthly totals (decimal-exact), then a lag window over that TINY
    * frame — the global-order window runs on the aggregate, never the
    * fact table, so the single-partition sort it implies is O(months).
    * Growth is rounded half-up to one decimal via the same
    * floor(x·1000+0.5)/10 the publisher ratio math uses (X6). */
  def monthlyGrowth(spark: SparkSession, dir: String): DataFrame = {
    val monthly = Tables.orders(spark, dir)
      .groupBy(date_format(col("o_orderdate"), "yyyy-MM").as("month"))
      .agg(sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("gmv"),
        count(lit(1)).as("order_cnt"))
    val w = Window.orderBy("month")
    monthly
      .withColumn("prev", lag(col("gmv"), 1).over(w))
      .withColumn("growth_pct",
        floor((col("gmv") - col("prev")) / col("prev") * 1000 + 0.5) / 10)
      .drop("prev")
      .orderBy("month")
  }

  /** Fixed-width histogram of order totals — the data-profiling shape.
    * Bin assignment is a narrow projection (floor division), so the whole
    * query is one partially-aggregated groupBy on a small integer key. */
  def priceHistogram(spark: SparkSession, dir: String,
                     binWidth: Int = 50000): DataFrame =
    Tables.orders(spark, dir)
      .groupBy(floor(col("o_totalprice") / binWidth).cast("long").as("bin"))
      .agg(count(lit(1)).as("n"))
      .select(col("bin"),
        (col("bin") * binWidth).cast("double").as("bin_lo"), col("n"))
      .orderBy("bin")

  /** Per-returnflag correlation + least-squares fit of price on quantity,
    * computed from EXACT sufficient statistics: the five sums are
    * accumulated in decimal (associative ⇒ partition-order independent,
    * partial-aggregated map-side — one pass, one small shuffle), cast to
    * double once, and only then combined with IEEE arithmetic, so the
    * result is bit-identical on any cluster layout and to the oracle.
    * The same five sums would drive covariance, R², and stddev — this is
    * the one-pass pattern for ALL second-moment stats at 100 TB. */
  def qtyPriceCorr(spark: SparkSession, dir: String): DataFrame = {
    val x = col("l_quantity").cast("decimal(18,2)")
    val y = col("l_extendedprice").cast("decimal(18,2)")
    val s = Tables.lineitem(spark, dir)
      .groupBy(col("l_returnflag"))
      .agg(
        count(lit(1)).as("n"),
        sum(x).cast("double").as("sx"), sum(y).cast("double").as("sy"),
        sum(x * x).cast("double").as("sxx"),
        sum(x * y).cast("double").as("sxy"),
        sum(y * y).cast("double").as("syy"))
    val n = col("n").cast("double")
    val cov = n * col("sxy") - col("sx") * col("sy")
    val varx = n * col("sxx") - col("sx") * col("sx")
    val vary = n * col("syy") - col("sy") * col("sy")
    val slope = cov / varx
    // round(…, 9): the exact decimal sums cast to double can differ from
    // the oracle's cast by one ulp (Java's BigDecimal→double is correctly
    // rounded; DuckDB's decimal→double need not be), and that ulp
    // propagates through the divisions — 9 decimals is far below any
    // statistical meaning and far above the ulp noise
    s.select(col("l_returnflag"), col("n"),
        round(cov / (sqrt(varx) * sqrt(vary)), 9).as("corr_qty_price"),
        round(slope, 9).as("slope"),
        round((col("sy") - slope * col("sx")) / n, 9).as("intercept"))
      .orderBy("l_returnflag")
  }

  /** Z-score anomaly detection over daily purchase revenue: flag days
    * whose GMV sits more than [[AnomalyZ]] standard deviations from the
    * all-days mean. Mean/variance come from exact decimal sums over the
    * (already tiny) daily aggregate, broadcast back as a 1-row frame —
    * two hash aggregates, no window, no sort until the final tiny
    * orderBy. */
  val AnomalyZ = 1.5
  def gmvAnomalies(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(spark, dir)
      .filter(col("event_type") === "purchase")
      .groupBy(date_format(col("ts"), "yyyy-MM-dd").as("d"))
      .agg(sum(col("value").cast("decimal(18,2)")).cast("double").as("gmv"))
    val g = col("gmv").cast("decimal(18,2)")
    val stats = daily.agg(
      count(lit(1)).cast("double").as("n"),
      sum(g).cast("double").as("s1"),
      sum(g * g).cast("double").as("s2"))
    val mean = col("s1") / col("n")
    val std = sqrt(col("s2") / col("n") - mean * mean)
    daily.crossJoin(broadcast(stats))
      .withColumn("z", (col("gmv") - mean) / std)
      .filter(abs(col("z")) > AnomalyZ)
      .select(col("d"), col("gmv"), col("z"))
      .orderBy("d")
  }

  /** Revenue concentration (Pareto): the minimum number of customers
    * whose combined spend covers 50 / 80 / 90 % of total GMV.
    *
    * The cumulative sum needs a TOTAL order over customers, and a naive
    * `Window.orderBy` with no partition key drags every row into one
    * partition — the classic scale killer. Instead this runs the
    * textbook distributed prefix sum: range-repartition by (spend desc,
    * custkey) so partition i holds ranks strictly before partition i+1,
    * compute per-partition subtotals (a ≤#partitions-row frame), prefix
    * those subtotals with a window over that tiny frame, broadcast the
    * offsets back, and finish with a window PARTITIONED by partition id
    * — every stage parallel, the only serial step is over ≤#partitions
    * rows. Spend and cumulative sums stay decimal end-to-end (exact,
    * associative), so the distributed cumsum equals the oracle's
    * single-threaded one bit-for-bit. */
  def revenueConcentration(spark: SparkSession, dir: String): DataFrame = {
    val parts = spark.sessionState.conf.numShufflePartitions
    val spend = Tables.orders(spark, dir)
      .groupBy(col("o_custkey"))
      .agg(sum(col("o_totalprice").cast("decimal(18,2)")).as("spend"))
    val sorted = spend
      .repartitionByRange(parts, col("spend").desc, col("o_custkey").asc)
      .sortWithinPartitions(col("spend").desc, col("o_custkey").asc)
      .withColumn("pid", spark_partition_id())
    val partTotals = sorted.groupBy(col("pid"))
      .agg(sum(col("spend")).as("part_sum"), count(lit(1)).as("part_cnt"))
    val offsetW = Window.orderBy("pid")
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = partTotals.select(col("pid"),
      coalesce(sum(col("part_sum")).over(offsetW), lit(0).cast("decimal(18,2)"))
        .as("off_sum"),
      coalesce(sum(col("part_cnt")).over(offsetW), lit(0L)).as("off_cnt"))
    val inPartW = Window.partitionBy("pid")
      .orderBy(col("spend").desc, col("o_custkey").asc)
    val cum = sorted.join(broadcast(offsets), Seq("pid"))
      .withColumn("cum", col("off_sum") + sum(col("spend"))
        .over(inPartW.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("rk", col("off_cnt") + row_number().over(inPartW))
    // grand totals from the ≤#partitions-row subtotal frame — NOT a
    // third scan+aggregate over the fact table
    val totals = partTotals.agg(sum(col("part_sum")).as("total"),
      sum(col("part_cnt")).as("n_cust"))
    val thresholds = spark.range(1).select(
      explode(array(lit(50), lit(80), lit(90))).as("threshold"))
    cum.crossJoin(broadcast(totals)).crossJoin(broadcast(thresholds))
      .filter(col("cum") * 100 >= col("total") * col("threshold"))
      .groupBy(col("threshold"))
      .agg(min(col("rk")).as("customers_needed"),
        max(col("n_cust")).as("n_cust"))
      .select(col("threshold"), col("customers_needed"),
        (floor(col("customers_needed") * 1000.0 / col("n_cust") + 0.5) / 10)
          .as("customer_share_pct"))
      .orderBy("threshold")
  }

  /** Robust-statistics twin of [[gmvAnomalies]]: flags days whose daily
    * GMV deviates from the MEDIAN by more than `k` × MAD (median absolute
    * deviation). Unlike the z-score, one monster day cannot drag the
    * center/spread and mask itself — the estimator has a 50% breakdown
    * point.
    *
    * Two exact-`percentile` aggregates over the ALREADY-AGGREGATED daily
    * frame (≤ |days| rows — trivially broadcastable), never over raw
    * events; the daily rollup itself is the only big-table pass. The lerp
    * percentile definition is the engine/oracle contract proven by q43;
    * deviations are single IEEE subtracts of decimal-exact doubles, so
    * the whole chain hash-matches DuckDB bit-for-bit. */
  val MadK = 2.0
  def gmvMadOutliers(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(spark, dir)
      .filter(col("event_type") === "purchase")
      .groupBy(date_format(col("ts"), "yyyy-MM-dd").as("d"))
      .agg(sum(col("value").cast("decimal(18,2)")).cast("double").as("gmv"))
    val med = daily.agg(expr("percentile(gmv, 0.5d)").as("med"))
    val dev = daily.crossJoin(broadcast(med))
      .withColumn("adev", abs(col("gmv") - col("med")))
    val mad = dev.agg(expr("percentile(adev, 0.5d)").as("mad"))
    dev.crossJoin(broadcast(mad))
      .filter(col("adev") > lit(MadK) * col("mad"))
      .select(col("d"), col("gmv"), col("med"), col("adev"), col("mad"))
      .orderBy("d")
  }

  /** Time-weighted average event value per user (TWAP shape): each
    * event's value is weighted by how long it was "current" — the
    * microseconds until the user's next event; the user's last event
    * carries no weight (no successor). The standard fix for duration-
    * biased means over irregular event streams (pricing, telemetry,
    * engagement scoring).
    *
    * The lead window partitions by user (parallel per-key sorts, ties
    * broken by event_id); the weighted sum stays EXACT end-to-end — the
    * value in integer CENTS × BIGINT microseconds accumulated as a
    * BIGINT (≲1e17 « 2^63 for a month-long stream), so aggregation order
    * can't perturb the result. A decimal accumulator would be exact too,
    * but DuckDB's DECIMAL(38)→DOUBLE cast is not correctly rounded
    * (observed 1-ulp drift vs Spark); BIGINT→DOUBLE is IEEE-exact
    * conversion in both engines, and the average is then one division
    * and one multiply — each a single deterministic IEEE op. */
  def twapPerUser(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts").asc, col("event_id").asc)
    Tables.events(spark, dir)
      .select(col("user_id"), col("ts"), col("event_id"),
        (col("value").cast("decimal(18,2)") * 100).cast("long").as("cents"))
      .withColumn("next_ts", lead(col("ts"), 1).over(w))
      .filter(col("next_ts").isNotNull)
      .withColumn("dt_us", unix_micros(col("next_ts")) - unix_micros(col("ts")))
      .groupBy("user_id")
      .agg(
        sum(col("cents") * col("dt_us")).as("wsum_cents"),
        sum(col("dt_us")).as("dt_total"),
        count(lit(1)).as("n_intervals"))
      .select(col("user_id"),
        (col("wsum_cents").cast("double") /
          (col("dt_total").cast("double") * lit(100.0))).as("twap"),
        col("dt_total"), col("n_intervals"))
      .orderBy("user_id")
  }

  /** Time-series gap-fill: hourly error counts joined against a COMPLETE
    * hour spine derived from the stream's own min/max bounds — missing
    * hours appear as explicit zero rows with an `is_gap` flag instead of
    * silently vanishing (the resample/"densify" step every downstream
    * rate calculation and charting layer needs; at sf0.001 ~3/4 of the
    * spine is gaps, at sf0.1 none is — both correct).
    *
    * The spine is generated from the 1-row bounds aggregate via
    * `sequence` + explode (≤ |hours| rows — never a driver loop), then
    * left-joined to the hourly aggregate; the fact table is scanned
    * once. */
  def gapFillHourly(spark: SparkSession, dir: String,
                    eventType: String = "error"): DataFrame =
    gapFillCore(Tables.events(spark, dir), eventType)

  /** Inter-arrival-time histogram in order-of-magnitude buckets: per
    * event type, how many gaps between a user's consecutive events fall
    * at each decimal magnitude (bucket = digit count of the gap in
    * seconds; sub-second gaps are bucket 0). Magnitude via STRING LENGTH
    * of the integer gap — an exact integer operation, deliberately not
    * `floor(log10(x))` whose libm rounding is engine-specific (the same
    * determinism rule as q52's rational idf).
    *
    * One per-user lag window (parallel per-key sorts) + one hash
    * aggregate over ≤ |types|·20 buckets. */
  def interarrivalHistogram(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id", "event_type")
      .orderBy(col("ts").asc, col("event_id").asc)
    Tables.events(spark, dir)
      .select(col("user_id"), col("event_type"), col("ts"), col("event_id"))
      .withColumn("prev_us", lag(unix_micros(col("ts")), 1).over(w))
      .filter(col("prev_us").isNotNull)
      .withColumn("gap_s", expr("(unix_micros(ts) - prev_us) div 1000000L"))
      .groupBy(col("event_type"),
        when(col("gap_s") <= 0, lit(0L))
          .otherwise(length(col("gap_s").cast("string")).cast("long"))
          .as("magnitude"))
      .agg(count(lit(1)).as("n_gaps"), max(col("gap_s")).as("max_gap_s"))
      .orderBy("event_type", "magnitude")
  }

  private[graft] def gapFillCore(events: DataFrame, eventType: String): DataFrame = {
    val hourly = events
      .filter(col("event_type") === eventType)
      .groupBy(date_trunc("hour", col("ts")).as("h"))
      .agg(count(lit(1)).as("n_events"))
    val spine = events
      .agg(date_trunc("hour", min(col("ts"))).as("lo"),
        date_trunc("hour", max(col("ts"))).as("hi"))
      .select(explode(expr("sequence(lo, hi, interval 1 hour)")).as("h"))
    spine.join(hourly, Seq("h"), "left")
      .select(
        date_format(col("h"), "yyyy-MM-dd HH").as("hour"),
        coalesce(col("n_events"), lit(0L)).as("n_events"),
        col("n_events").isNull.as("is_gap"))
      .orderBy("hour")
  }

  /** Equi-depth (quantile-bucketed) histogram of order totals — the
    * profiling complement of the fixed-width [[priceHistogram]]: bucket
    * boundaries are the exact deciles, so every bucket holds ~10% of the
    * rows regardless of the value distribution (skew-proof bin sizing).
    *
    * Scale design: one tiny percentile aggregate (9 boundary doubles)
    * broadcast over a second scan that buckets rows with an in-row fold —
    * a 1-row cross join, not a sort. The exact `percentile` pass is the
    * verifiable contract; at 100 TB swap it for `approx_percentile`
    * (mergeable KLL sketch, same plan shape) as with q43/q44. Boundary
    * assignment is `x > q_i` (strict), so a row equal to a boundary stays
    * in the lower bucket — pinned by the oracle. */
  def equiDepthHistogram(spark: SparkSession, dir: String): DataFrame = {
    val orders = Tables.orders(spark, dir)
    // the 9 boundaries land as FLAT columns and the bucket is a chain of
    // scalar comparisons — all whole-stage-codegen; the aggregate(...)
    // HOF formulation was measured 7× slower warm and ~20 s slower cold
    // (interpreted lambda per row)
    val qs = orders.agg(
      expr("percentile(o_totalprice, array(0.1d,0.2d,0.3d,0.4d,0.5d,0.6d,0.7d,0.8d,0.9d))")
        .as("qs"))
      .select((1 to 9).map(i => col("qs").getItem(i - 1).as(s"q$i")): _*)
    val bucket = (1 to 9)
      .map(i => when(col("o_totalprice") > col(s"q$i"), 1L).otherwise(0L))
      .reduce(_ + _) + lit(1L)
    orders.crossJoin(broadcast(qs))
      .select(bucket.as("bucket"), col("o_totalprice"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n"),
        min(col("o_totalprice")).as("lo"),
        max(col("o_totalprice")).as("hi"))
      .orderBy("bucket")
  }

  /** Gini coefficient of customer spend per nation — revenue-inequality
    * profiling via the rank formula G = (2·Σi·xᵢ − (n+1)·Σxᵢ)/(n·Σxᵢ)
    * over spend sorted ascending (i = 1-based rank).
    *
    * Scale design: the rank window partitions by nation, so the sort is
    * per-nation-parallel (never global); all accumulation is exact
    * integer cents (rank·cents products fit BIGINT far past this scale —
    * ~5e8-cent spends × 1e6-row nations ≈ 5e17 < 2⁶³), and the single
    * final division is the only floating-point op (BIGINT→DOUBLE is
    * correctly rounded in both engines, unlike DECIMAL(38)→DOUBLE in
    * DuckDB — the q92 finding). */
  def spendGini(spark: SparkSession, dir: String): DataFrame = {
    val spend = Tables.orders(spark, dir)
      .groupBy(col("o_custkey").as("user_id"))
      .agg((sum(col("o_totalprice").cast("decimal(18,2)")) * 100)
        .cast("long").as("cents"))
    val withNation = spend
      .join(Tables.customer(spark, dir), col("user_id") === col("c_custkey"))
      .join(broadcast(Tables.nation(spark, dir)), col("c_nationkey") === col("n_nationkey"))
      .select(col("n_name").as("nation"), col("user_id"), col("cents"))
    val w = Window.partitionBy("nation").orderBy(col("cents").asc, col("user_id").asc)
    withNation
      .withColumn("rk", row_number().over(w).cast("long"))
      .groupBy("nation")
      .agg(count(lit(1)).as("n_customers"),
        sum(col("rk") * col("cents")).as("s1"),
        sum(col("cents")).as("s0"),
        max(col("cents")).as("max_cents"))
      // loud overflow guard: s1 ≤ max_cents·n·(n+1)/2 must fit BIGINT
      // (non-ANSI Spark would wrap silently while the DuckDB oracle sums
      // in HUGEINT — silent divergence). Bound checked in double with
      // margin (9.0e18 < 2⁶³); throws instead of corrupting the Gini.
      .filter(expr(
        """assert_true(cast(max_cents as double) * n_customers * (n_customers + 1) / 2 < 9.0e18,
          |'spendGini: rank-sum would overflow BIGINT cents; switch s1 to decimal(38,0)') is null""".stripMargin))
      .select(col("nation"), col("n_customers"),
        ((lit(2L) * col("s1") - (col("n_customers") + lit(1L)) * col("s0")).cast("double")
          / (col("n_customers") * col("s0")).cast("double")).as("gini"))
      .orderBy("nation")
  }

  /** Day-of-week seasonality per event type: counts and the within-type
    * share for each weekday (0 = Sunday, matching strftime('%w')). The
    * traffic-shape profile behind capacity planning and anomaly
    * baselines. One partial-agg pass over the stream; the share divides
    * by a broadcast per-type total (single IEEE division). */
  def dowSeasonality(spark: SparkSession, dir: String): DataFrame = {
    val cells = Tables.events(spark, dir)
      .groupBy(col("event_type"),
        (dayofweek(col("ts")) - 1).cast("long").as("dow"))
      .agg(count(lit(1)).as("ct"))
    val totals = cells.groupBy("event_type").agg(sum(col("ct")).as("total"))
    cells.join(broadcast(totals), "event_type")
      .select(col("event_type"), col("dow"), col("ct"),
        (col("ct").cast("double") / col("total").cast("double")).as("share"))
      .orderBy("event_type", "dow")
  }

  /** Top price LEVELS per return flag via dense_rank — the tie-aware
    * sibling of the row_number top-k (q42/q63): equal prices share a rank
    * and all rows at a kept level are reported (as a count), so the
    * result is value-complete rather than row-capped.
    *
    * Scale design: the per-(flag, price) pre-aggregate collapses the fact
    * table BEFORE the rank window (partial map-side combine), so the sort
    * ranks distinct price levels, not raw rows. */
  def topPriceLevels(spark: SparkSession, dir: String, k: Int = 3): DataFrame = {
    val levels = Tables.lineitem(spark, dir)
      .groupBy(col("l_returnflag"), col("l_extendedprice").as("price"))
      .agg(count(lit(1)).as("n_at_price"))
    val w = Window.partitionBy("l_returnflag").orderBy(col("price").desc)
    levels
      .withColumn("rk", dense_rank().over(w).cast("long"))
      .filter(col("rk") <= k)
      .select(col("l_returnflag"), col("rk"), col("price"), col("n_at_price"))
      .orderBy("l_returnflag", "rk")
  }

  /** q194: trailing-30-day customer revenue via a RANGE window frame —
    * the time-based frame (`rangeBetween` over a day-number ordering)
    * the ROWS-frame movers (q50) cannot express: each order sums every
    * order of the SAME customer in its trailing 30 calendar days,
    * however many rows that is, including none. Day numbers are exact
    * integers (epoch days), revenue sums go through DECIMAL, and
    * same-day orders correctly see each other inside the frame (RANGE
    * semantics: peers share the frame — the rows-frame approximation
    * would order-dependently split them).
    *
    * Scale: partitioned by customer — per-key ordered pass, parallel
    * across the key domain, no global sort; the frame bound is O(orders
    * per customer per month) state per key. */
  def trailingRevenue(spark: SparkSession, dir: String,
                      days: Int = 30): DataFrame = {
    val w = Window.partitionBy("o_custkey")
      .orderBy(col("day"))
      .rangeBetween(-(days - 1).toLong, 0L)
    Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_custkey"),
        datediff(col("o_orderdate"), lit("1970-01-01").cast("date"))
          .cast("long").as("day"),
        col("o_totalprice").cast("decimal(18,2)").as("price"))
      .withColumn("trail_rev", sum(col("price")).over(w).cast("double"))
      .withColumn("trail_n", count(lit(1)).over(w))
      .select(col("o_orderkey"), col("o_custkey"), col("day"),
        col("trail_rev"), col("trail_n"))
      .orderBy("o_orderkey")
  }
}
