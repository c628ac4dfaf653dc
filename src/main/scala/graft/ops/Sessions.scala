package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Event sessionization + the literal per-batch full-outer join.
  *
  * Sessions extend the reference's event-analytics surface with the
  * standard gap-based session operator (Spark `session_window`, which
  * also runs incrementally under Structured Streaming with a watermark —
  * the T2/T3 machinery generalized to data-driven windows). A new
  * session starts when the gap to the previous event is ≥ the gap
  * parameter (matching Spark's merge rule: windows [ts, ts+gap) merge
  * only on strict overlap).
  *
  * `fullOuterOrders` is SURVEY §2.5 J1 verbatim — the reference's
  * per-batch `fullOuterJoin` (SaleDetailApp.scala:50-51) as a batch
  * relational op, unmatched sides surviving with nulls. */
object Sessions {

  /** Per-user sessions with a 30-minute inactivity gap. Output window
    * end is last-event-ts + gap (Spark session_window semantics). */
  def userSessions(spark: SparkSession, dir: String,
                   gap: String = "30 minutes"): DataFrame =
    Tables.events(spark, dir)
      .groupBy(col("user_id"), session_window(col("ts"), gap).as("w"))
      .agg(count(lit(1)).as("n_events"))
      .select(
        col("user_id"),
        unix_micros(col("w.start")).as("session_start_us"),
        unix_micros(col("w.end")).as("session_end_us"),
        col("n_events"))
      .orderBy("user_id", "session_start_us")

  /** Daily session-quality stats composed ON TOP of the session_window
    * operator: per day (of session start), session count, exact lerp
    * percentiles of session duration (first→last event, µs — exact
    * integers into the percentile), and mean events/session as one
    * integer-ratio division. The engagement rollup a product dashboard
    * reads every morning.
    *
    * Scale shape: sessionization is the q36 operator (state-bounded
    * per-user session_window aggregate); the stats are percentile
    * aggregates over the ALREADY-COMPACT session frame (one row per
    * session, grouped by ≤ |days| keys) — the raw stream is scanned
    * once. */
  def sessionStats(spark: SparkSession, dir: String,
                   gap: String = "30 minutes"): DataFrame =
    Tables.events(spark, dir)
      .groupBy(col("user_id"), session_window(col("ts"), gap).as("w"))
      .agg(count(lit(1)).as("n_events"),
        (unix_micros(max(col("ts"))) - unix_micros(min(col("ts"))))
          .as("dur_us"))
      .groupBy(date_format(col("w.start"), "yyyy-MM-dd").as("log_date"))
      .agg(
        count(lit(1)).as("n_sessions"),
        expr("percentile(dur_us, 0.5d)").as("p50_dur_us"),
        expr("percentile(dur_us, 0.9d)").as("p90_dur_us"),
        sum(col("n_events")).as("total_events"))
      .withColumn("mean_events",
        col("total_events").cast("double") / col("n_sessions"))
      .orderBy("log_date")

  /** In-session conversion funnel: per day, how many sessions contained
    * a view, and how many converted (a purchase STRICTLY after the
    * session's first view). The q72 funnel semantics scoped to a single
    * session — the "did the visit convert" number — composed from the
    * same gap rule the session operators share (new session at gap ≥ 30
    * min, q36's oracle-pinned definition).
    *
    * Scale design: session labeling is the islands trick (per-user lag +
    * running sum — two window passes over user partitions, parallel per
    * user, no session-level shuffle key explosion); the first-view
    * timestamp is a whole-partition window min rather than a self-join,
    * and the final rollup groups ≤ |days| keys. */
  def sessionFunnel(spark: SparkSession, dir: String,
                    gapUs: Long = 1800000000L): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy(col("ts").asc, col("event_id").asc)
    val wRun = w.rowsBetween(
      org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val labeled = Tables.events(spark, dir)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("ns",
        when(lag(col("ts"), 1).over(w).isNull
          || unix_micros(col("ts")) - unix_micros(lag(col("ts"), 1).over(w)) >= gapUs,
          1L).otherwise(0L))
      .withColumn("sid", sum(col("ns")).over(wRun))
    val wSess = org.apache.spark.sql.expressions.Window.partitionBy("user_id", "sid")
    labeled
      .withColumn("vt", min(when(col("event_type") === "view", col("ts"))).over(wSess))
      .groupBy("user_id", "sid")
      .agg(min(col("ts")).as("st"),
        max(when(col("event_type") === "view", 1L).otherwise(0L)).as("has_view"),
        max(when(col("event_type") === "purchase" && col("ts") > col("vt"), 1L)
          .otherwise(0L)).as("converted"))
      .groupBy(date_format(col("st"), "yyyy-MM-dd").as("log_date"))
      .agg(count(lit(1)).as("n_sessions"),
        sum(col("has_view")).as("n_with_view"),
        sum(col("converted")).as("n_converted"))
      .orderBy("log_date")
  }

  /** q183: peak concurrent sessions per day — the "how many users were
    * on at once" capacity number, computed by the interval sweep: each
    * session (q36's islands/gap rule, first→last event) contributes +1
    * at its start instant and −1 at its end instant; deltas are summed
    * per distinct timestamp (so end-exclusive semantics need no intra-
    * instant ordering: a session ending exactly when another starts
    * never overlaps it), and concurrency at t is the running sum of the
    * per-instant nets. Peak per day is the max of that running sum over
    * the day's instants.
    *
    * Scale design: the global-time cumulative sum is the q122/q174
    * BANDED rewrite, never a single-partition window — per-hour bands
    * take the global window over the bounded band domain (|hours|,
    * ≤ 8.8k/year), and the per-instant running sum partitions BY band.
    * Sessionization itself is user-partitioned windows (parallel per
    * user); the sweep frame is 2 rows per session, tiny relative to the
    * event stream. The DuckDB oracle runs the naive single-sequence
    * cumsum — the hash match is the banded-plan equivalence proof. */
  def peakConcurrency(spark: SparkSession, dir: String,
                      gapUs: Long = 1800000000L,
                      bandUs: Long = 3600000000L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id").orderBy(col("ts").asc, col("event_id").asc)
    val wRun = w.rowsBetween(Window.unboundedPreceding, 0)
    val sessions = Tables.events(spark, dir)
      .select(col("user_id"), col("ts"), col("event_id"))
      .withColumn("ns",
        when(lag(col("ts"), 1).over(w).isNull
          || unix_micros(col("ts")) - unix_micros(lag(col("ts"), 1).over(w)) >= gapUs,
          1L).otherwise(0L))
      .withColumn("sid", sum(col("ns")).over(wRun))
      .groupBy("user_id", "sid")
      .agg(unix_micros(min(col("ts"))).as("s_us"),
        unix_micros(max(col("ts"))).as("e_us"))
    // Opt r19 (guide §2.4): one explode emits BOTH endpoint deltas per
    // session — the old two-leg union re-ran the sessionize window +
    // aggregate once per leg (the exchange under them was reused, the
    // window/agg above it was not)
    val net = sessions.select(explode(array(
        struct(col("s_us").as("t"), lit(1L).as("d")),
        struct(col("e_us").as("t"), lit(-1L).as("d")))).as("td"))
      .select(col("td.t").as("t"), col("td.d").as("d"))
      .groupBy("t").agg(sum(col("d")).as("net"))
      .withColumn("band", floor(col("t") / lit(bandUs)).cast("long"))
    val bandCum = net.groupBy("band")
      .agg(sum(col("net")).as("band_net"))
      .withColumn("cum_before",
        coalesce(sum(col("band_net")).over(
          Window.orderBy(col("band").asc)
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("band"), col("cum_before"))
    val inBand = Window.partitionBy("band").orderBy(col("t").asc)
      .rowsBetween(Window.unboundedPreceding, 0)
    net.join(broadcast(bandCum), "band")
      .withColumn("conc", col("cum_before") + sum(col("net")).over(inBand))
      .groupBy(date_format(timestamp_micros(col("t")), "yyyy-MM-dd").as("log_date"))
      .agg(max(col("conc")).as("peak_concurrent"))
      .orderBy("log_date")
  }

  /** q187: covered seconds per day — the union length of all session
    * intervals (how much wall-clock had ≥1 active session), the
    * complement of q183's peak. Same sweep frame: between consecutive
    * sweep instants the active count is constant, so coverage is the
    * sum of segment lengths whose running concurrency is positive;
    * segments attribute to their START instant's day.
    *
    * Scale design: q183's banded cumsum PLUS a banded `lead` — the
    * next-instant lookup inside a band is a per-band window, and the
    * band-boundary row stitches to the NEXT band's first instant via
    * the bounded band-domain frame (first-instant-per-band, window
    * lead over ≤|hours| rows, broadcast back). No global-order
    * operator ever sees the instant-level frame; the DuckDB oracle
    * runs the naive global cumsum + global lead, and the hash match
    * proves the stitched banded plan row-identical. */
  def intervalCoverage(spark: SparkSession, dir: String,
                       gapUs: Long = 1800000000L,
                       bandUs: Long = 3600000000L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id").orderBy(col("ts").asc, col("event_id").asc)
    val wRun = w.rowsBetween(Window.unboundedPreceding, 0)
    val sessions = Tables.events(spark, dir)
      .select(col("user_id"), col("ts"), col("event_id"))
      .withColumn("ns",
        when(lag(col("ts"), 1).over(w).isNull
          || unix_micros(col("ts")) - unix_micros(lag(col("ts"), 1).over(w)) >= gapUs,
          1L).otherwise(0L))
      .withColumn("sid", sum(col("ns")).over(wRun))
      .groupBy("user_id", "sid")
      .agg(unix_micros(min(col("ts"))).as("s_us"),
        unix_micros(max(col("ts"))).as("e_us"))
    // Opt r19: single-pass endpoint explode — the q183 rationale
    val net = sessions.select(explode(array(
        struct(col("s_us").as("t"), lit(1L).as("d")),
        struct(col("e_us").as("t"), lit(-1L).as("d")))).as("td"))
      .select(col("td.t").as("t"), col("td.d").as("d"))
      .groupBy("t").agg(sum(col("d")).as("net"))
      .withColumn("band", floor(col("t") / lit(bandUs)).cast("long"))
    // bounded band-domain frame: cum net before the band AND the first
    // instant of the FOLLOWING non-empty band (for the boundary stitch)
    val bandW = Window.orderBy(col("band").asc)
    val bandCum = net.groupBy("band")
      .agg(sum(col("net")).as("band_net"), min(col("t")).as("first_t"))
      .select(col("band"),
        coalesce(sum(col("band_net")).over(
          bandW.rowsBetween(Window.unboundedPreceding, -1)), lit(0L))
          .as("cum_before"),
        lead(col("first_t"), 1).over(bandW).as("next_band_first_t"))
    val inBand = Window.partitionBy("band").orderBy(col("t").asc)
    net.join(broadcast(bandCum), "band")
      .withColumn("conc",
        col("cum_before") + sum(col("net")).over(
          inBand.rowsBetween(Window.unboundedPreceding, 0)))
      .withColumn("next_t",
        coalesce(lead(col("t"), 1).over(inBand), col("next_band_first_t")))
      .groupBy(date_format(timestamp_micros(col("t")), "yyyy-MM-dd").as("log_date"))
      .agg(sum(when(col("conc") > 0 && col("next_t").isNotNull,
        col("next_t") - col("t")).otherwise(lit(0L))).as("covered_us"))
      .orderBy("log_date")
  }

  /** J1: full outer orders ⋈ lineitem, aggregated per key — orders with
    * zero details keep a row (n_details = 0, status non-null); orphan
    * details would keep rows with null status.
    *
    * The aggregation is pushed BELOW the join (aggregate-through-join):
    * lineitem collapses to one (key, count) row per order first, so the
    * full outer join matches key-to-key (|orders| ⋈ |distinct orders|)
    * instead of fanning each order out over its line items — at 100 TB
    * that's the difference between joining 6 B rows and 1.5 B keys.
    * Equivalent because orders is unique per key and count(l_orderkey)
    * distributes over the per-key groups; the unmatched-side semantics
    * (zero-detail orders, orphan details) are identical. */
  /** q212 — survival-analysis risk table (Kaplan–Meier layout) for
    * signup → first purchase: per user, the duration in whole days from
    * first signup to first subsequent purchase (event) or to the
    * corpus's last timestamp (right-censored). One row per distinct
    * duration: users still at risk, events, and censorings at that
    * duration, plus the integer-micro hazard d/n — every column the KM
    * estimator needs, all integers (the survival PRODUCT itself is a
    * float fold with no stable SQL twin, so the table stops at the
    * hazard; S(t) is a trivial driver-side fold over these rows).
    *
    * Scale: two per-user argmin aggregates (one shuffle), a 1-row
    * broadcast for the censoring horizon, then windows over the
    * bounded DURATION domain (≤ observation days), never over users. */
  def survivalTable(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), unix_micros(col("ts")).as("us"), col("event_type"))
    val horizon = ev.agg(max(col("us")).as("h_us"))
    val signup = ev.filter(col("event_type") === "signup")
      .groupBy("user_id").agg(min(col("us")).as("s_us"))
    val firstPurchase = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("us").as("p_us"))
    val durations = signup
      .join(firstPurchase,
        col("user_id") === col("p_user") && col("p_us") >= col("s_us"), "left")
      .groupBy("user_id", "s_us").agg(min(col("p_us")).as("e_us"))
      .crossJoin(broadcast(horizon))
      .select(col("user_id"),
        when(col("e_us").isNotNull, 1L).otherwise(0L).as("observed"),
        expr("(coalesce(e_us, h_us) - s_us) div 86400000000").as("dur_days"))
    val byDur = durations.groupBy("dur_days")
      .agg(sum(col("observed")).as("d_events"),
        sum(lit(1L) - col("observed")).as("d_censored"),
        count(lit(1)).as("d_total"))
    byDur
      .withColumn("n_risk",
        sum(col("d_total")).over(Window.orderBy(col("dur_days").asc)
          .rowsBetween(Window.currentRow, Window.unboundedFollowing)))
      .withColumn("hazard_micro",
        expr("CAST(FLOOR(1000000.0 * d_events / n_risk + 0.5) AS BIGINT)"))
      .select(col("dur_days"), col("n_risk"), col("d_events"),
        col("d_censored"), col("hazard_micro"))
      .orderBy("dur_days")
  }

  /** q214 — gap-constrained sequence funnel: users completing
    * view → click → purchase with EACH consecutive step at most one
    * day after the previous (the corpus's inter-event cadence makes a
    * 1-hour gap empty; the semantics are gap-parametric). q72's funnel tests ordered EXISTENCE
    * (any order-respecting triple); this is the stricter sequential-
    * pattern-matching semantics (SPADE/PrefixSpan-style max-gap
    * constraint) a product analyst means by "did the click happen
    * BECAUSE of the view". Output per completion date: distinct
    * completing users and total qualifying chains.
    *
    * Scale: two user-keyed interval joins, each bounded by the 1-hour
    * gap (per-user event lists are small by construction; the join
    * never crosses users); the fan-out is chains-per-user, cut by the
    * gap before it can multiply. */
  def gapFunnel(spark: SparkSession, dir: String,
                maxGapUs: Long = 86400000000L): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), unix_micros(col("ts")).as("us"), col("event_type"))
    def step(t: String, asName: String) =
      ev.filter(col("event_type") === t)
        .select(col("user_id"), col("us").as(asName))
    step("view", "t1")
      .join(step("click", "t2"), "user_id")
      .filter(col("t2") > col("t1") && col("t2") - col("t1") <= maxGapUs)
      .join(step("purchase", "t3"), "user_id")
      .filter(col("t3") > col("t2") && col("t3") - col("t2") <= maxGapUs)
      .groupBy(date_format(timestamp_micros(col("t3")), "yyyy-MM-dd").as("log_date"))
      .agg(countDistinct(col("user_id")).as("users"),
        count(lit(1)).as("chains"))
      .orderBy("log_date")
  }

  def fullOuterOrders(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_orderstatus"))
    val lAgg = Tables.lineitem(spark, dir)
      .groupBy(col("l_orderkey"))
      .agg(count(lit(1)).as("n"))
    o.join(lAgg, o("o_orderkey") === lAgg("l_orderkey"), "full_outer")
      .select(
        coalesce(o("o_orderkey"), lAgg("l_orderkey")).as("okey"),
        coalesce(lAgg("n"), lit(0L)).as("n_details"),
        o("o_orderstatus").as("order_status"))
      .orderBy("okey")
  }
}
