package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue, TimeUnit}
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, Trigger}
import graft.streaming.{Pipelines, Sinks}
import graft.sources.Cdc

/** The reference's streaming topology with MemoryStream in place of
  * Kafka. An open-loop generator thread stamps every chunk it creates
  * and offers JSON event logs and a canal-shaped changelog:
  *
  *  - events → parseEvents → dauDedup → Sinks.upsertByKey        (dau)
  *  - events → parseEvents → alerts → throttlePerMinute
  *           → Sinks.appendDailyPartitioned                      (alerts)
  *  - changelog → Cdc.route → orders ⋈ details (saleDetailJoin)
  *              → Sinks.appendDailyPartitioned                   (sale_detail)
  *  - changelog → Cdc.route → users → Sinks.upsertByKey          (users)
  *
  * After a warm-up, three quarters of `--seconds` at a fixed
  * sub-capacity rate measure event latency; then two burst chunks, each larger than the pipelines
  * take in a trigger interval, measure the catch-up rate. Afterwards each
  * sink table is compared with the batch form of the same pipeline over
  * the whole input. */
final class StreamIngest(a: Main.Args) extends Main.Workload {
  import StreamIngest._

  private val lowS = a.seconds * LowShare
  private val alertArgs = ("10 seconds", "5 seconds", "5 seconds", 2)

  private var generation = 0
  // a MemoryStream serves one query, so each topic has one stream per
  // consuming query, fed the same chunks in lockstep (equal offsets)
  private var events: Seq[MemoryStream[String]] = Nil
  private var cdc: Seq[MemoryStream[(String, String, String)]] = Nil
  private var queries: Seq[(String, StreamingQuery)] = Nil
  private var root: String = _
  @volatile private var trace: Trace = new Trace(false)
  private var routeS = 0.0

  // per-(query, batch) sink calls: start/end ns, and written-file
  // listings before/after (traced runs)
  private val sinkCalls = new ConcurrentLinkedQueue[Seq[Any]]()
  private val progress = new ConcurrentLinkedQueue[Seq[Any]]()
  private val runIds = new ConcurrentHashMap[String, String]()

  def path(q: String): String = s"$root/sink_$q"

  private def timedSink(q: String)(write: (DataFrame, String) => Unit)
      : (DataFrame, Long) => Unit = (batch, id) => {
    val before = if (trace.enabled) listing(path(q)) else Map.empty[String, Long]
    val t0 = Trace.now()
    write(batch, path(q))
    val t1 = Trace.now()
    val after = if (trace.enabled) listing(path(q)) else Map.empty[String, Long]
    sinkCalls.add(Seq(q, id, t0, t1, before, after))
  }

  def prepare(spark: SparkSession): Unit = {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    generation += 1
    root = s"${a.work}/stream$generation"
    events = Seq.fill(2)(MemoryStream[String](a.cpus))
    cdc = Seq.fill(2)(MemoryStream[(String, String, String)](a.cpus))
    val parsed = events.map(e => Pipelines.parseEvents(e.toDF()))
    val r0 = Trace.now()
    val routed = cdc.map(c => Cdc.route(c.toDF().toDF("table", "op", "data"),
      Cdc.referenceRoutes(OrderSchema, DetailSchema, UserSchema)))
    routeS = Trace.secs(Trace.now() - r0)
    val (win, slide, wm, minUids) = alertArgs
    def start(name: String, df: DataFrame, mode: String)(sink: (DataFrame, Long) => Unit) = {
      val q = df.writeStream.queryName(name).outputMode(mode)
        .trigger(Trigger.ProcessingTime(TriggerMs))
        .option("checkpointLocation", s"$root/ckpt_$name")
        .foreachBatch(sink).start()
      runIds.put(q.runId.toString, name)
      name -> q
    }
    queries = Seq(
      start("dau", Pipelines.dauDedup(parsed(0)), "append")(timedSink("dau") { (b, p) =>
        Sinks.upsertByKey(b, p, Seq("user_id", "log_date"), "ts", "event_id") }),
      start("alerts", Pipelines.alerts(parsed(1), win, slide, wm, minUids), "append")(
        timedSink("alerts") { (b, p) =>
          Sinks.appendDailyPartitioned(
            Pipelines.throttlePerMinute(b).withColumn("dt", date_format(col("window_start"), "yyyy-MM-dd")),
            p, "dt", Seq("user_id", "minute_bucket")) }),
      start("sale_detail", Pipelines.saleDetailJoin(routed(0)("orders"), routed(0)("details")), "append")(
        timedSink("sale_detail") { (b, p) =>
          Sinks.appendDailyPartitioned(b.withColumn("dt", date_format(col("o_ts"), "yyyy-MM-dd")),
            p, "dt", Seq("d_id")) }),
      start("users", routed(1)("users"), "append")(timedSink("users") { (b, p) =>
        Sinks.upsertByKey(b, p, Seq("id"), "ts", "seq") }))
  }

  def release(spark: SparkSession): Unit = {
    queries.foreach { case (_, q) => try q.stop() catch { case _: Throwable => () } }
    queries = Nil
    sinkCalls.clear(); progress.clear(); runIds.clear()
  }

  private val listener = new StreamingQueryListener {
    def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val src = p.sources.headOption
      progress.add(Seq(runIds.getOrDefault(p.runId.toString, "?"), p.batchId,
        java.time.Instant.parse(p.timestamp).toEpochMilli * 1000000L,
        p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
        p.numInputRows,
        src.map(s => offsetOf(s.startOffset)).getOrElse(-1L),
        src.map(s => offsetOf(s.endOffset)).getOrElse(-1L),
        p.stateOperators.map(_.numRowsTotal).sum,
        p.stateOperators.map(_.memoryUsedBytes).sum,
        p.stateOperators.map(_.commitTimeMs).sum,
        p.stateOperators.map(_.numRowsDroppedByWatermark).sum,
        Option(p.eventTime.get("watermark")).getOrElse("")))
    }
  }

  def run(spark: SparkSession, tr: Trace, groups: GroupListener): Map[String, Any] = {
    trace = tr
    spark.streams.addListener(listener)
    val gen = new Generator(a.seed, Users)
    // chunk records: stream, offset, created ns, rows, bytes
    val chunks = ArrayBuffer.empty[Seq[Any]]
    val lateness = ArrayBuffer.empty[Double]
    val allEvents = ArrayBuffer.empty[String]
    val allCdc = ArrayBuffer.empty[(String, String, String)]
    def offer(now: Long, ratePerS: Double, carry: Double): Double = {
      val want = ratePerS * TickMs / 1000.0 + carry
      val n = want.toInt
      val (ev, ch) = gen.chunk(n, now)
      if (ev.nonEmpty) {
        val off = events.map(_.addData(ev).toString.toLong).max
        chunks += Seq("events", off, now, ev.length, ev.map(_.length.toLong).sum)
        allEvents ++= ev
      }
      if (ch.nonEmpty) {
        val off = cdc.map(_.addData(ch).toString.toLong).max
        chunks += Seq("cdc", off, now, ch.length, ch.map(r => (r._1 + r._2 + r._3).length.toLong).sum)
        allCdc ++= ch
      }
      want - n
    }
    var due = Trace.now()
    var carry = 0.0
    /** Offer `rate` events/s in ticks until `until` or `done()`. */
    def pump(rate: Double, until: Long, done: () => Boolean): Unit =
      while (due < until && !done()) {
        val wait = due - Trace.now()
        if (wait > 0) TimeUnit.NANOSECONDS.sleep(wait)
        val now = Trace.now()
        lateness += Trace.secs(now - due)
        carry = offer(now, rate, carry)
        due += TickMs * 1000000L
      }
    // warm-up at the low rate until every query has returned from its
    // first sink call: the cold first micro-batches are the first-run cost
    val warmT0 = due
    def sinkReturns(q: String) = sinkCalls.asScala.count(_.head == q)
    pump(LowRate, warmT0 + 60L * 1000000000L,
      () => queries.forall { case (q, _) => sinkReturns(q) >= 1 })
    lateness.clear()
    val hostA = Host.sample()
    val load0 = Host.load1()
    val t0 = due
    val tEnd = t0 + (lowS * 1e9).toLong
    pump(LowRate, tEnd, () => false)
    val hostB = Host.sample()
    // bursts: right after the low-rate phase, one chunk of BurstEvents events
    // (and its changelog) arrives at once, more than the pipelines take
    // in one trigger interval; each query consumes it in one micro-batch.
    // A second burst follows once every query has consumed the first.
    def lastOffset(q: String): Long =
      chunks.filter(_.head == Topic(q)).map(_(1).asInstanceOf[Long]).max
    def consumed(q: String): Long = progress.asScala.filter(_.head == q)
      .map(_(6).asInstanceOf[Long]).maxOption.getOrElse(-1L)
    // wait until every query's progress shows it consumed the last chunk
    // of its topic (or it failed)
    def drain(): Unit = {
      val by = Trace.now() + 60L * 1000000000L
      while (Trace.now() < by && queries.exists { case (q, sq) =>
          sq.exception.isEmpty && consumed(q) < lastOffset(q) }) Thread.sleep(50)
    }
    val drain0 = Trace.now()
    val burstT0 = Trace.now()
    for (_ <- 0 until Bursts) {
      offer(Trace.now(), BurstEvents * 1000.0 / TickMs, 0.0)
      drain()
    }
    val drainS = Trace.secs(Trace.now() - drain0)
    val failedQueries = queries.collect { case (n, q) if q.exception.isDefined =>
      n -> q.exception.get.getMessage.take(300) }.toMap
    queries.foreach(_._2.stop())
    spark.streams.removeListener(listener)

    val check0 = Trace.now()
    val alertWatermark = progress.asScala.filter(_.head == "alerts").map(_(11).toString)
      .filter(_.nonEmpty).map(w => java.time.Instant.parse(w).toEpochMilli).maxOption.getOrElse(0L)
    val checks = check(spark, allEvents.toSeq, allCdc.toSeq, alertWatermark)
    val checkS = Trace.secs(Trace.now() - check0)
    Map(
      "warm_t0" -> warmT0, "phase_t0" -> t0, "phase_end" -> tEnd, "burst_t0" -> burstT0,
      "rate_low" -> LowRate, "burst_events" -> BurstEvents, "bursts" -> Bursts, "drain_s" -> drainS, "check_s" -> checkS,
      "chunks" -> chunks.toSeq, "generator_lag_s" -> lateness.toSeq,
      "sink_calls" -> sinkCalls.asScala.toSeq, "progress" -> progress.asScala.toSeq,
      "events_offered" -> allEvents.length, "cdc_offered" -> allCdc.length,
      "checks" -> checks, "query_errors" -> failedQueries, "cdc_route_s" -> routeS,
      "stream_counters" -> (if (tr.enabled) runIds.asScala.map { case (id, n) =>
        n -> groups.total(_ == id) }.toMap else Map.empty),
      "host" -> Host.evidence(hostA, hostB, load0))
  }

  /** Each sink against the batch form of its pipeline over the full
    * input, on the columns the input fully determines. */
  private def check(spark: SparkSession, ev: Seq[String], ch: Seq[(String, String, String)],
                    watermark: Long): Map[String, Any] = {
    import spark.implicits._
    val batchEvents = Pipelines.parseEvents(ev.toDF("value")).cache()
    val routed = Cdc.route(ch.toDF("table", "op", "data"),
      Cdc.referenceRoutes(OrderSchema, DetailSchema, UserSchema))
    val (win, slide, wm, minUids) = alertArgs
    def read(q: String) = spark.read.parquet(path(q))
    // the tables are small: compare them as driver-side sets
    def cmp(name: String, got: DataFrame, want: DataFrame): (String, Map[String, Long]) = {
      val g = got.collect().toSet; val w = want.collect().toSet
      name -> Map("expected" -> w.size.toLong, "got" -> g.size.toLong,
        "missing" -> (w -- g).size.toLong, "extra" -> (g -- w).size.toLong)
    }
    val closedBefore = new java.sql.Timestamp(watermark)
    val parts = Seq[() => (String, Map[String, Long])](
      () =>
      cmp("dau_keys", read("dau").select("user_id", "log_date"),
        // dropDuplicatesWithinWatermark is stream-only; its batch form
        // is the plain key set
        Pipelines.withLogDate(batchEvents).select("user_id", "log_date")),
      () => cmp("alert_windows", read("alerts").select("user_id", "minute_bucket"),
        Pipelines.throttlePerMinute(
          Pipelines.alerts(batchEvents, win, slide, wm, minUids)
            .filter(col("window_start") + expr(s"INTERVAL $win") <= lit(closedBefore)))
          .select("user_id", "minute_bucket")),
      () => cmp("joined_pairs", read("sale_detail").select("d_id", "o_order_id"),
        Pipelines.saleDetailJoin(routed("orders"), routed("details")).select("d_id", "o_order_id")),
      () => cmp("users_latest", read("users").select("id", "level", "seq"),
        Pipelines.compactLatest(routed("users"), "id", "ts", "seq").select("id", "level", "seq")))
    // independent checks, run side by side
    val out = new ConcurrentHashMap[String, Map[String, Long]]()
    val ts = parts.map(p => new Thread(() => { val (k, v) = p(); out.put(k, v) }))
    ts.foreach(_.start()); ts.foreach(_.join())
    batchEvents.unpersist(blocking = true)
    out.asScala.toMap
  }
}

object StreamIngest {
  import org.apache.spark.sql.types._
  /** Events/s of the low-rate phases, and the share of `--seconds` the
    * timed low-rate phase takes (the bursts follow it). */
  val LowRate = 400.0
  val LowShare = 0.75
  /** Events per burst chunk, and the number of bursts. */
  val BurstEvents = 16000
  val Bursts = 2
  /** Size of the Zipf-skewed user key space. */
  val Users = 20000
  /** Generator tick. */
  val TickMs = 100
  /** The reference's 5 s batch interval (SURVEY T1), for all four
    * queries: AlertApp's 3 s would let the alert batches drift against
    * the others, so the contention a batch meets would differ from run
    * to run. */
  val TriggerMs = 5000L
  /** The topic each query reads. */
  val Topic: Map[String, String] = Map("dau" -> "events", "alerts" -> "events",
    "sale_detail" -> "cdc", "users" -> "cdc")
  val OrderSchema: StructType = StructType(Seq(StructField("o_order_id", LongType),
    StructField("o_ts", TimestampType), StructField("o_user_id", LongType),
    StructField("o_amount", DoubleType)))
  val DetailSchema: StructType = StructType(Seq(StructField("d_id", LongType),
    StructField("d_order_id", LongType), StructField("d_ts", TimestampType),
    StructField("d_sku_id", LongType)))
  val UserSchema: StructType = StructType(Seq(StructField("id", LongType),
    StructField("level", StringType), StructField("ts", TimestampType),
    StructField("seq", LongType)))

  /** MemoryStream offsets render as the plain batch index; a query's
    * first batch has no start offset. */
  def offsetOf(s: String): Long =
    if (s == null || s.isEmpty || s == "null") -1L else s.trim.stripPrefix("\"").stripSuffix("\"").toLong

  def listing(p: String): Map[String, Long] = {
    val root = new java.io.File(p)
    if (!root.exists()) Map.empty
    else java.nio.file.Files.walk(root.toPath).iterator().asScala
      .filter(f => java.nio.file.Files.isRegularFile(f) && f.toString.endsWith(".parquet"))
      .map(f => f.toString.stripPrefix(p) -> java.nio.file.Files.size(f)).toMap
  }

  private val iso = java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss.SSS'Z'")
    .withZone(java.time.ZoneOffset.UTC)
  def isoTs(ms: Long): String = iso.format(java.time.Instant.ofEpochMilli(ms))

  /** Seeded event and changelog generator. User keys are Zipf-skewed
    * over a bounded key space; a tenth of the events carry an event time
    * up to 2 s before their creation (out of order, within every
    * watermark); each order's details follow it within a second. */
  final class Generator(seed: Long, users: Int) {
    private val rng = new java.util.Random(seed)
    private val zipf = new PublisherMix.Zipf(users, 1.05)
    private val types = Array("click", "error", "purchase", "signup", "view")
    private var eventId = 0L
    private var orderId = 0L
    private var detailId = 0L
    private var userSeq = 0L
    private val pendingDetails = ArrayBuffer.empty[(String, String, String)]

    private def event(ts: Long, user: Long, kind: String): String = {
      eventId += 1
      f"""{"event_id":$eventId,"ts":"${isoTs(ts)}","user_id":$user,"event_type":"$kind","value":${rng.nextInt(10000) / 100.0},"props":"{\\"k\\": ${rng.nextInt(100)}}"}"""
    }

    def chunk(n: Int, nowNs: Long): (Seq[String], Seq[(String, String, String)]) = {
      val nowMs = nowNs / 1000000L
      val ev = (0 until n).map { _ =>
        val ts = if (rng.nextDouble() < 0.1) nowMs - rng.nextInt(2000) else nowMs
        event(ts, zipf.sample(rng).toLong, types(rng.nextInt(types.length)))
      }
      val ch = ArrayBuffer.empty[(String, String, String)]
      ch ++= pendingDetails; pendingDetails.clear()
      for (_ <- 0 until n / 10) {
        orderId += 1
        val ots = nowMs - rng.nextInt(500)
        ch += (("order_info", "INSERT",
          f"""{"o_order_id":$orderId,"o_ts":"${isoTs(ots)}","o_user_id":${zipf.sample(rng)},"o_amount":${rng.nextInt(100000) / 100.0}}"""))
        for (_ <- 0 to rng.nextInt(3)) {
          detailId += 1
          val d = ("order_detail", "INSERT",
            f"""{"d_id":$detailId,"d_order_id":$orderId,"d_ts":"${isoTs(ots + rng.nextInt(1000))}","d_sku_id":${rng.nextInt(5000)}}""")
          if (rng.nextBoolean()) ch += d else pendingDetails += d
        }
        if (rng.nextInt(8) == 0) // status change: not routed (orders take INSERT only)
          ch += (("order_info", "UPDATE", f"""{"o_order_id":$orderId,"o_ts":"${isoTs(ots)}"}"""))
      }
      for (_ <- 0 until n / 20) {
        userSeq += 1
        ch += (("user_info", if (rng.nextInt(3) == 0) "INSERT" else "UPDATE",
          f"""{"id":${zipf.sample(rng)},"level":"L${rng.nextInt(5)}","ts":"${isoTs(nowMs)}","seq":$userSeq}"""))
      }
      (ev, ch.toSeq)
    }

  }
}
