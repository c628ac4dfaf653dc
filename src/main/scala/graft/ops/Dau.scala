package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** DAU (daily-active-users) pipeline — batch analog of the reference's
  * startup-log dedup job.
  *
  * Reference semantics reproduced (citations into /root/reference/):
  *  - derive `logDate`/`logHour` from the epoch timestamp:
  *    gmall-realtime/src/main/scala/com/atguigu/app/DauApp.scala:28,34-35
  *  - two-stage dedup to one row per (mid, logDate), EARLIEST ts wins:
  *    gmall-realtime/src/main/scala/com/atguigu/handler/DauHandler.scala:17-22
  *    (intra-batch group + sortWith(ts).take(1)) and :25-44 (cross-batch
  *    Redis set membership ≡ left-anti against already-seen keys)
  *  - DAU total `count(*) WHERE logdate = ?`:
  *    gmall-publisher/src/main/resources/mapper/DauMapper.xml:4-6
  *  - DAU by hour `count(*) GROUP BY LOGHOUR`:
  *    gmall-publisher/src/main/resources/mapper/DauMapper.xml:8-11
  *    — users are attributed to the hour of their FIRST event of the day
  *    (a dedup-then-count, NOT count(distinct) per hour).
  *
  * `events.user_id` plays `mid` (FIXTURES.md §3).
  *
  * Scale note: the dedup is a single hash aggregate keyed on
  * (user_id, log_date) — min(ts) is partially aggregated map-side, so the
  * shuffle carries at most one row per key per input partition. That is the
  * plan that survives 100 TB; a window-function rank over the raw events
  * would sort the full table instead.
  */
object Dau {
  /** A fixed, data-covered event date used by the single-day queries. */
  val Day = "2024-01-05"
  val PrevDay = "2024-01-04"

  private def withLogDate(events: DataFrame): DataFrame =
    events.withColumn("log_date", date_format(col("ts"), "yyyy-MM-dd"))

  /** Pushdown-friendly single-day predicate: a half-open range on the raw
    * timestamp column constant-folds and reaches the parquet scan
    * (`PushedFilters`), unlike `date_format(ts) = day` which wraps the
    * column in a function and forces a full scan. */
  def dayRange(tsCol: org.apache.spark.sql.Column, day: String): org.apache.spark.sql.Column =
    tsCol >= to_timestamp(lit(day)) &&
      tsCol < to_timestamp(date_add(to_date(lit(day)), 1))

  /** The deduplicated DAU table: one row per (user_id, log_date) with the
    * timestamp of the first event of the day (epoch micros). */
  def dauTable(spark: SparkSession, dir: String): DataFrame =
    withLogDate(Tables.events(spark, dir))
      .groupBy("user_id", "log_date")
      .agg(unix_micros(min(col("ts"))).as("first_ts_us"))
      .withColumn("log_hour", date_format(timestamp_micros(col("first_ts_us")), "HH"))
      .orderBy("log_date", "user_id")

  /** DAU per day across the whole table (A3 generalized over dates). */
  def dauByDay(spark: SparkSession, dir: String): DataFrame =
    withLogDate(Tables.events(spark, dir))
      .groupBy("user_id", "log_date").agg(min(col("ts")).as("first_ts"))
      .groupBy("log_date")
      .agg(count(lit(1)).as("dau"))
      .orderBy("log_date")

  /** DAU by hour for one day (A4): hour of each user's FIRST event.
    * Implemented with the W1 window-rank shape the reference uses
    * (row_number over (mid, logDate) ordered by ts — DauHandler.scala:20),
    * scoped to a single day so the sort is cheap after pushdown. */
  def dauByHour(spark: SparkSession, dir: String, day: String = Day): DataFrame = {
    val w = Window.partitionBy("user_id", "log_date")
      .orderBy(col("ts"), col("event_id"))
    withLogDate(Tables.events(spark, dir).filter(dayRange(col("ts"), day)))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .groupBy(date_format(col("ts"), "HH").as("lh"))
      .agg(count(lit(1)).as("ct"))
      .orderBy("lh")
  }

  /** F1/J4: cross-batch dedup as an explicit LEFT ANTI join — users whose
    * first-ever event falls on `day` (the reference's Redis-set membership
    * filter, DauHandler.scala:25-44, restated as
    * `startup LEFT ANTI JOIN seenMids`). The "seen" side is aggregated to
    * distinct keys BEFORE the join, so the anti-join probes a compact
    * build side. */
  def newUsers(spark: SparkSession, dir: String, day: String = "2024-01-02"): DataFrame = {
    val ev = Tables.events(spark, dir)
    val today = ev.filter(dayRange(col("ts"), day)).select("user_id").distinct()
    val seen = ev.filter(col("ts") < to_timestamp(lit(day))).select("user_id").distinct()
    today.join(seen, Seq("user_id"), "left_anti").orderBy("user_id")
  }

  /** Sketch variant for 100 TB (A12 note in SURVEY §2.6): HLL++ distinct
    * users per day — mergeable, no exact-dedup state. No DuckDB oracle
    * (sketch implementations differ); driver records a rows-only check. */
  def uvApprox(spark: SparkSession, dir: String): DataFrame =
    withLogDate(Tables.events(spark, dir))
      .groupBy("log_date")
      .agg(approx_count_distinct(col("user_id")).as("uv_approx"))
      .orderBy("log_date")

  /** Week key = the Monday the week starts on (as a yyyy-MM-dd string).
    * `weekofyear` alone would merge the same ISO week number across
    * different years and park late-December days in "week 1"; truncating
    * to the week-start date carries the year implicitly and stays
    * correct on multi-year data. */
  private def weekStart(dateCol: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    date_format(date_trunc("week", dateCol), "yyyy-MM-dd")

  /** Exact twin of [[uvSketchRollup]] — weekly distinct users computed
    * exactly (oracle-verified), so the sketch path has an in-engine
    * ground truth at every scale factor. */
  def uvWeeklyExact(spark: SparkSession, dir: String): DataFrame =
    withLogDate(Tables.events(spark, dir))
      .withColumn("week_start", weekStart(to_date(col("log_date"))))
      .groupBy("week_start")
      .agg(countDistinct(col("user_id")).as("uv"))
      .orderBy("week_start")

  /** Rolling 7-day distinct users per day (the "WAU curve" dashboards
    * plot next to DAU). Distinct-over-a-sliding-range has no partial
    * aggregate, so instead of a range join (day BETWEEN d-6 AND d — a
    * shuffle whose fan-out is data × window) the engine dedups to
    * (user_id, day) FIRST — the only big shuffle, map-side combined —
    * then explodes each tiny distinct pair into the ≤7 target days it
    * contributes to and counts distinct users per target day. The
    * explode factor is bounded by the window width, applied to the
    * already-collapsed table, orders of magnitude smaller than the raw
    * events at 100 TB. Target days are clamped to days that actually
    * occur (semi join with the distinct-day list, broadcast — it is tiny
    * by construction). */
  def rollingUv7(spark: SparkSession, dir: String): DataFrame = {
    val activeDays = withLogDate(Tables.events(spark, dir))
      .select(col("user_id"), to_date(col("log_date")).as("day"))
      .distinct()
    val days = activeDays.select(col("day")).distinct()
    activeDays
      .withColumn("target_day",
        explode(expr("sequence(day, date_add(day, 6))")))
      .join(broadcast(days.withColumnRenamed("day", "target_day")),
        Seq("target_day"), "left_semi")
      .groupBy(date_format(col("target_day"), "yyyy-MM-dd").as("day"))
      .agg(countDistinct(col("user_id")).as("uv7"))
      .orderBy("day")
  }

  /** Longest consecutive-day activity streak per user — the
    * gaps-and-islands window pattern: within each user's ordered
    * distinct active dates, date − row_number() is CONSTANT across a
    * consecutive run and jumps at every gap, so grouping on it splits
    * the dates into islands whose sizes are the streak lengths. Two
    * hash aggregates + one per-user window over the (already tiny)
    * distinct-date table; the raw events collapse map-side first. */
  def longestStreak(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("d")
    val active = withLogDate(Tables.events(spark, dir))
      .select(col("user_id"), to_date(col("log_date")).as("d")).distinct()
    active
      .withColumn("island", date_sub(col("d"), row_number().over(w)))
      .groupBy("user_id", "island")
      .agg(count(lit(1)).as("len"))
      .groupBy("user_id")
      .agg(sum(col("len")).as("active_days"), max(col("len")).as("longest_streak"))
      .orderBy("user_id")
  }

  /** The MERGEABLE-sketch pattern that makes distinct counts cheap at
    * 100 TB: materialize one DataSketches-HLL sketch per day (the only
    * pass over raw events), then answer any coarser rollup — weekly
    * here, but monthly/arbitrary ranges identically — by UNIONING the
    * stored daily sketches, never rescanning events. Sketch union is
    * commutative/associative, so the re-aggregation is partial-agg
    * friendly and partitioning-independent. No SQL oracle (DataSketches
    * binary format); UV estimates are tolerance-checked against exact
    * distinct counts in CoreOpsSpec and against [[uvWeeklyExact]]. */
  def uvSketchRollup(spark: SparkSession, dir: String): DataFrame = {
    val daily = withLogDate(Tables.events(spark, dir))
      .groupBy("log_date")
      .agg(hll_sketch_agg(col("user_id")).as("sk"))
    daily
      .withColumn("week_start", weekStart(to_date(col("log_date"))))
      .groupBy("week_start")
      .agg(
        hll_sketch_estimate(hll_union_agg(col("sk"))).as("uv_est"),
        count(lit(1)).as("n_days"))
      .orderBy("week_start")
  }

  /** The 100 TB variant of [[rollingUv7]] (q84), previously documented
    * and now executable: rolling 7-day distinct users from MERGED daily
    * HLL sketches. The only pass over raw events builds one sketch per
    * day; the rolling window then unions ≤7 of those fixed-size
    * binaries per target day — the explode fans out sketch rows (KBs),
    * never event rows, so the shuffle volume is |days|×7 sketches
    * regardless of corpus size. Exact rolling distinct (q84) collapses
    * to (user, day) first and is the hash-verified twin; this path
    * trades its per-user state for a 3σ-bounded estimate
    * (SketchBounds). */
  def rollingUvSketch(spark: SparkSession, dir: String): DataFrame = {
    val daily = withLogDate(Tables.events(spark, dir))
      .groupBy(to_date(col("log_date")).as("day"))
      .agg(hll_sketch_agg(col("user_id")).as("sk"))
    val days = daily.select(col("day").as("target_day"))
    daily
      .withColumn("target_day", explode(expr("sequence(day, date_add(day, 6))")))
      .join(broadcast(days), Seq("target_day"), "left_semi")
      .groupBy(date_format(col("target_day"), "yyyy-MM-dd").as("day"))
      .agg(hll_sketch_estimate(hll_union_agg(col("sk"))).as("uv7_est"))
      .orderBy("day")
  }

  /** Weekly cohort retention matrix: users are cohorted by the ISO week
    * of their FIRST event; each (cohort_week, week_offset) cell counts
    * how many of that cohort were active `offset` weeks later — the
    * retention triangle behind every growth dashboard.
    *
    * Scale shape: the (user, week) projection partial-aggregates map-side
    * to ≤ |weeks| rows per user BEFORE any shuffle; the first-week frame
    * is one more map-side min; the join is keyed on user over those
    * compact frames; the cell count is a hash aggregate over ≤
    * |weeks|² keys. Week keys are week-START DATES (q61/q62's rule), so
    * multi-year data never aliases and the offset is an exact integer
    * `datediff / 7`. */
  def cohortRetention(spark: SparkSession, dir: String): DataFrame = {
    val uw = withLogDate(Tables.events(spark, dir))
      .select(col("user_id"),
        date_trunc("week", to_date(col("log_date"))).cast("date").as("week"))
      .distinct()
    val firstWeek = uw.groupBy("user_id").agg(min(col("week")).as("cohort"))
    uw.join(firstWeek, Seq("user_id"))
      .groupBy(
        date_format(col("cohort"), "yyyy-MM-dd").as("cohort_week"),
        (datediff(col("week"), col("cohort")) / 7).cast("long").as("week_offset"))
      .agg(count(lit(1)).as("users"))
      .orderBy("cohort_week", "week_offset")
  }
}
