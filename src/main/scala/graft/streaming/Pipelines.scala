package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Structured Streaming restatements of the reference's five DStream jobs
  * (SURVEY §3.1-3.2). Each pipeline is a pure `DataFrame => DataFrame`
  * transform usable on both batch and streaming frames — the tests drive
  * them with `MemoryStream` and the batch analogs are the oracle-checked
  * queries in [[graft.SparkEntry]].
  *
  * Upgrades over the reference, preserved observable outputs
  * (SURVEY §4 caveats):
  *  - checkpointed offsets + idempotent keyed sinks instead of
  *    `enable.auto.commit=true` at-most-once
  *    (reference utils/MyKafkaUtil.scala:34-37);
  *  - event-time watermarks instead of processing-time Redis TTLs
  *    (reference SaleDetailApp.scala:93,131);
  *  - state store instead of external Redis sets
  *    (reference handler/DauHandler.scala:61-73).
  */
object Pipelines {

  /** Wire schema of the startup/event stream (FIXTURES.md §1, mapped onto
    * the testdata events shape). */
  val EventSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", TimestampType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  /** P1: JSON line → typed columns (PERMISSIVE → missing fields null,
    * fastjson-compatible; reference DauApp.scala:30-39). Input must have
    * a string `value` column (the Kafka wire shape). */
  def parseEvents(raw: DataFrame): DataFrame =
    raw.select(from_json(col("value"), EventSchema).as("e")).select("e.*")

  /** P3: derive log_date / log_hour from event time
    * (reference DauApp.scala:28,34-35). */
  def withLogDate(events: DataFrame): DataFrame =
    events
      .withColumn("log_date", date_format(col("ts"), "yyyy-MM-dd"))
      .withColumn("log_hour", date_format(col("ts"), "HH"))

  /** DauApp (F1 + A1 + A12 + T5): streaming dedup to one row per
    * (user_id, log_date). `dropDuplicatesWithinWatermark` keeps state only
    * for the watermark horizon — the per-day Redis-set namespace of the
    * reference becomes watermark-evicted state. NOTE: within a micro-batch
    * Spark keeps the FIRST row encountered; the reference's min-ts-wins
    * tie-break (DauHandler.scala:20) is exact in the batch analog
    * (SparkEntry q04/q05); here arrival order stands in for it, which is
    * identical whenever the source is time-ordered. */
  def dauDedup(events: DataFrame, watermark: String = "1 day"): DataFrame =
    withLogDate(events)
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("user_id", "log_date")

  /** AlertApp (T2 + T3 + A7 + A8 + A9): sliding event-time window per
    * device; alert iff ≥ minUids distinct coupon-takers and no veto event
    * in the window (reference AlertApp.scala:39-64). */
  def alerts(events: DataFrame,
             windowDur: String = "5 minutes",
             slide: String = "3 seconds",
             watermark: String = "10 seconds",
             minUids: Int = 3,
             couponEvent: String = "purchase",
             vetoEvent: String = "click"): DataFrame =
    events
      .withColumn("uid", get_json_object(col("props"), "$.k"))
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowDur, slide), col("user_id"))
      .agg(
        collect_set(when(col("event_type") === couponEvent, col("uid"))).as("uids_arr"),
        max(when(col("event_type") === vetoEvent, 1).otherwise(0)).as("clicked"),
        collect_set(col("event_type")).as("events_arr"))
      .filter(size(col("uids_arr")) >= minUids && col("clicked") === 0)
      .select(
        col("window.start").as("window_start"),
        col("user_id"),
        array_join(array_sort(col("uids_arr")), ",").as("uids"),
        array_join(array_sort(col("events_arr")), ",").as("events"))

  /** SaleDetailApp's join core (J2/T4): watermarked stream-stream INNER
    * equi-join — the native replacement for the reference's 87-line
    * Redis-buffered symmetric hash join with 10 s TTL
    * (SaleDetailApp.scala:53-139). Sides arriving further apart than the
    * watermark are dropped, exactly like the reference's expired keys. */
  def saleDetailJoin(orders: DataFrame, details: DataFrame,
                     watermark: String = "10 seconds"): DataFrame = {
    val o = orders.withWatermark("o_ts", watermark)
    val d = details.withWatermark("d_ts", watermark)
    d.join(o,
      d("d_order_id") === o("o_order_id") &&
        d("d_ts") >= o("o_ts") - expr(s"INTERVAL $watermark") &&
        d("d_ts") <= o("o_ts") + expr(s"INTERVAL $watermark"),
      "inner")
  }

  /** LEFT OUTER form of [[saleDetailJoin]] (J1's observable upgrade):
    * the reference's per-batch fullOuterJoin + Redis TTL ultimately
    * DROPS a side that never finds its match within 10 s
    * (SaleDetailApp.scala:93,131 — inner-join-after-TTL, SURVEY §4);
    * Structured Streaming can instead EMIT the unmatched detail with
    * null order columns once the watermark passes its join range — no
    * row silently disappears, state is still bounded by the watermark.
    * Same state-store cost as the inner form; the only difference is
    * the null-padded emission at eviction time. */
  def saleDetailJoinOuter(orders: DataFrame, details: DataFrame,
                          watermark: String = "10 seconds"): DataFrame = {
    val o = orders.withWatermark("o_ts", watermark)
    val d = details.withWatermark("d_ts", watermark)
    d.join(o,
      d("d_order_id") === o("o_order_id") &&
        d("d_ts") >= o("o_ts") - expr(s"INTERVAL $watermark") &&
        d("d_ts") <= o("o_ts") + expr(s"INTERVAL $watermark"),
      "left_outer")
  }

  /** UserInfoApp + T8: per-micro-batch changelog compaction — last write
    * (by ts, then event_id) wins per (composite) key — what
    * [[Sinks.upsertByKey]] writes for a batch into an empty table. */
  def compactLatest(batch: DataFrame, keyCols: Seq[String],
                    tsCol: String, tieCol: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(keyCols.map(col): _*).orderBy(col(tsCol).desc, col(tieCol).desc)
    batch.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
  }

  def compactLatest(batch: DataFrame, keyCol: String,
                    tsCol: String, tieCol: String): DataFrame =
    compactLatest(batch, Seq(keyCol), tsCol, tieCol)

  /** Streaming terms-agg top-k (the dashboard's realtime top sellers,
    * reference PublisherServiceImpl.java:89-95 recomputed per request
    * against ES; here maintained incrementally): running counts per key
    * in update mode — the sink ranks/limits on read, because a global
    * top-k sort inside an unbounded stream is not incremental. Counts
    * partially aggregate map-side; state is one row per key. */
  def topSellersStreaming(details: DataFrame, keyCol: String = "sku_id"): DataFrame =
    details.groupBy(col(keyCol)).agg(count(lit(1)).as("ct"))

  /** T6: at most one alert per device per minute — dedup on the
    * (user_id, minute-bucket) key, the analog of the reference's
    * `mid + ts/1000/60` ES doc id (AlertApp.scala:74). This is the
    * BATCH / foreachBatch form (plain dropDuplicates = unbounded state on
    * a stream, and a second stateful op after the windowed aggregation is
    * illegal outside append mode anyway); for a standalone streaming
    * throttle use [[throttlePerMinuteStreaming]]. */
  def throttlePerMinute(alerts: DataFrame, tsCol: String = "window_start"): DataFrame =
    alerts
      .withColumn("minute_bucket", (unix_micros(col(tsCol)) / lit(60000000L)).cast("long"))
      .dropDuplicates("user_id", "minute_bucket")

  /** T6, streaming form: watermark-bounded state — apply directly to a
    * keyed event stream (not after another stateful operator). */
  def throttlePerMinuteStreaming(events: DataFrame, tsCol: String = "ts",
                                 watermark: String = "10 minutes"): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .withColumn("minute_bucket", (unix_micros(col(tsCol)) / lit(60000000L)).cast("long"))
      .dropDuplicatesWithinWatermark("user_id", "minute_bucket")

  /** Streaming PSI DRIFT MONITOR — the q251 batch operator's streaming
    * face: each 1-day event-time window's purchase-value distribution
    * is scored against a FROZEN reference (band range + counts captured
    * when the monitor was armed — the frozen-artifact pattern of the
    * q154 bloom and the near-dup postings), alerting at the classic
    * PSI > 0.2. On in-order data the emitted rows match
    * [[graft.ops.Quality.windowedPsi]] day-for-day (StreamingSpec).
    *
    * Shape: ONE stateful operator — the windowed aggregation producing
    * 11 conditional sums per window — then the PSI is computed IN-ROW
    * from those sums and the reference literals (10 + 2 numbers; a
    * constant-size plan). Run in update mode for a live dashboard;
    * with a watermark, append emits each day once finalized.
    *
    * CONTRACT: the session time zone MUST be UTC (asserted below). The
    * `day` label comes from `date_format` (session TZ) while the 1-day
    * window buckets are UTC-epoch-aligned — they agree only under UTC,
    * and the window cannot be swapped for a derived date column without
    * losing watermark-based state eviction. Every graft entry point
    * pins `spark.sql.session.timeZone=UTC`; an embedding that doesn't
    * would silently shift day labels vs the batch face, so the mismatch
    * fails loudly here instead (advisor r11). */
  def psiStream(events: DataFrame, lo: Long, hi: Long,
                refCounts: Seq[Long], watermark: String = "2 days"): DataFrame = {
    require(refCounts.length == 10, "ten reference bands")
    val tz = events.sparkSession.conf.get("spark.sql.session.timeZone")
    require(tz == "UTC",
      s"psiStream requires spark.sql.session.timeZone=UTC (got '$tz'): " +
        "the 1-day event-time windows are UTC-epoch-aligned while the day " +
        "label follows the session TZ — day-for-day parity with the batch " +
        "windowedPsi holds only under UTC")
    val nRef = refCounts.sum
    val banded = events
      .filter(col("event_type") === "purchase")
      .withWatermark("ts", watermark)
      .withColumn("cents", expr("CAST(FLOOR(value * 100 + 0.5) AS BIGINT)"))
      .withColumn("band", greatest(lit(0L), least(lit(9L),
        expr(s"((cents - ${lo}L) * 10) div (${hi}L - ${lo}L + 1)"))))
    val aggCols = count(lit(1)).as("n_events") +: (0 to 9).map(b =>
      sum(when(col("band") === b.toLong, 1L).otherwise(0L)).as(s"c$b"))
    val refCols = lit(nRef).as("n_ref") +: (0 to 9).map(b =>
      lit(refCounts(b)).as(s"r$b"))
    banded
      .groupBy(window(col("ts"), "1 day").as("win"))
      .agg(aggCols.head, aggCols.tail: _*)
      .select(Seq(date_format(col("win.start"), "yyyy-MM-dd").as("day"),
        col("n_events")) ++ (0 to 9).map(b => col(s"c$b")) ++ refCols: _*)
      .select(col("day"), col("n_events"),
        expr(graft.ops.Quality.psiTermsExpr).as("psi_micro"))
      .withColumn("drifted",
        when(col("psi_micro") > 200000L, 1L).otherwise(0L))
  }
}
