package perfbench

import java.util.concurrent.{ConcurrentHashMap, LinkedBlockingQueue, TimeUnit}
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.ops.Endpoints

/** Dashboard traffic: the publisher's three REST endpoints with seeded
  * parameters, mixed with the `graft.ops` dashboard queries, Zipf-skewed.
  * Requests come in decks: every registry query once plus extra copies
  * of the hot ones by Zipf weight, and a fixed share of endpoint calls
  * whose day, keyword and page the seed draws. A deck's order is a fixed
  * trace: which requests overlap depends on it, and on a few cores that
  * overlap moves latency more than anything else, so every run replays
  * the same order with its own parameters.
  *
  * After the first run, a closed-loop phase has one client per core
  * pull the next request of two decks when the previous returns, and
  * gives capacity; then an open-loop phase sends
  * decks at a fixed rate (uniform spacing) and times each request from
  * when it was due. */
final class PublisherMix(a: Main.Args) extends Main.Workload {
  import PublisherMix._

  private val dir = a.data
  private val openS = a.seconds.toDouble

  def prepare(spark: SparkSession): Unit = ()
  def release(spark: SparkSession): Unit = ()

  def deck(rng: java.util.Random, size: Int): Seq[Req] = {
    val eps = math.round(size * EndpointShare / 3).toInt
    val endpoints = (0 until eps).flatMap { _ => Seq(
      Total(Days(rng.nextInt(Days.length))), Hours(Days(rng.nextInt(Days.length))),
      Detail(Keywords(rng.nextInt(Keywords.length)), 1 + rng.nextInt(Pages))) }
    val registry = zipfCounts(Queries.length, size - endpoints.length, ZipfS)
      .zipWithIndex.flatMap { case (c, i) => Seq.fill(c)(Query(Queries(i))) }
    shuffle(new java.util.Random(size), endpoints ++ registry)
  }

  private def shuffle[T](rng: java.util.Random, xs: Seq[T]): Seq[T] = {
    val b = xs.toBuffer
    for (i <- b.indices.reverse) { val j = rng.nextInt(i + 1); val t = b(i); b(i) = b(j); b(j) = t }
    b.toSeq
  }

  /** One request; a registry query also returns its DataFrame, whose
    * plan and tables the traced run inspects after the request is timed. */
  private def execute(spark: SparkSession, trace: Trace, r: Req, id: String)
      : (Result, Option[DataFrame]) = r match {
    case Query(name) =>
      val (res, df) = Calls.query(spark, trace, id, name, dir)
      (res, Some(df))
    case Total(day) => (Result.ofJson(trace.span("realtimeTotal", "ops", id) {
      val cards = Endpoints.realtimeTotal(spark, dir, day).cards
      Json(cards.map(c => Map("id" -> c.id, "name" -> c.name, "value" -> c.value)))
    }), None)
    case Hours(day) => (Result.ofJson(trace.span("realtimeHours", "ops", id) {
      val prev = java.time.LocalDate.parse(day).minusDays(1).toString
      Json(Endpoints.realtimeHours(spark, dir, day, prev)
        .map(h => Seq(h.hour, h.today, h.yesterday)))
    }), None)
    case Detail(kw, page) => (Result.ofJson(trace.span("saleDetail", "ops", id) {
      val r = Endpoints.saleDetail(spark, dir, kw, page)
      Json(Map("total" -> r.total, "detail" -> r.detail,
        "stat" -> r.stat.map(s => Map("title" -> s.title,
          "options" -> s.options.map(o => Seq(o.name, o.value))))))
    }), None)
  }

  // first answer per request key (checked against the oracle after the
  // run); later answers must carry the same fingerprint
  private val answers = new ConcurrentHashMap[String, Result]()
  private val tablesS = new ConcurrentHashMap[String, Double]()
  private val plans = new ConcurrentHashMap[String, Map[String, Double]]()
  private val errors = new ConcurrentHashMap[String, String]()
  private val seq = new AtomicLong()

  /** Run one request; returns (request id, start ns, end ns, ok). In a
    * traced run the Tables probe and plan counts follow the end stamp,
    * so they stay out of the request's latency. */
  private def call(spark: SparkSession, trace: Trace, r: Req, phase: String): (String, Long, Long, Boolean) = {
    val id = s"$phase-${seq.incrementAndGet()}"
    val t0 = Trace.now()
    var df: Option[DataFrame] = None
    val ok = try {
      val (res, d) = Calls.withGroup(spark, id)(trace.span(r.key, "request", id)(execute(spark, trace, r, id)))
      df = d
      answers.putIfAbsent(r.key, res) match {
        case null => true
        case prev => prev.fp == res.fp
      }
    } catch { case e: Throwable =>
      errors.putIfAbsent(r.key, s"${e.getClass.getName}: ${e.getMessage}".take(300)); false
    }
    val t1 = Trace.now()
    if (trace.enabled) df.foreach { d =>
      tablesS.put(id, Calls.tablesProbe(spark, d))
      plans.put(r.key, PlanCounts.of(d.queryExecution.executedPlan))
    }
    (id, t0, t1, ok)
  }

  /** Serve `reqs` on `cpus` client threads, each sending its next
    * request when the previous one returns. Returns the wall seconds,
    * the samples (key, id, 0, start, end, ok) and the failure count. */
  private def closedLoop(spark: SparkSession, trace: Trace, reqs: Seq[Req], phase: String)
      : (Double, Seq[Seq[Any]], Long) = {
    val work = new java.util.concurrent.ConcurrentLinkedQueue[Req](reqs.asJava)
    val samples = new ConcurrentLinkedQueueBuf
    val failed = new AtomicLong()
    val t0 = Trace.now()
    val clients = (0 until a.cpus).map { i =>
      new Thread(() => {
        var r = work.poll()
        while (r != null) {
          val (id, s, e, ok) = call(spark, trace, r, phase)
          samples.add(Seq(r.key, id, 0L, s, e, if (ok) 1 else 0))
          if (!ok) failed.incrementAndGet()
          r = work.poll()
        }
      }, s"perfbench-$phase-$i")
    }
    clients.foreach(_.start()); clients.foreach(_.join())
    (Trace.secs(Trace.now() - t0), samples.toSeq, failed.get)
  }

  def run(spark: SparkSession, trace: Trace, listener: GroupListener): Map[String, Any] = {
    val rng = new java.util.Random(a.seed)
    // first run: one call per endpoint kind and every registry query,
    // from a fresh session (`warm_s`); the endpoints, the longest
    // requests, go first so the short queries fill in behind them and
    // the wall does not hang on which request happens to start last
    val first = Seq(Total(Days(0)), Hours(Days(0)), Detail(Keywords(0), 1)) ++ Queries.map(Query)
    val (warmS, _, warmFailed) = closedLoop(spark, NoTrace, first, "warm")
    // closed loop: `cpus` clients, each sending its next request when
    // the previous one returns. It also warms the open loop up: JIT
    // compilation of the driver's planning and scheduling code goes on
    // for over a hundred requests, and the same request gets about 15%
    // faster on the way; an open loop that started earlier would measure
    // how far compilation got, which on a slow host is less far
    seq.set(0)
    val hostA = Host.sample()
    val load0 = Host.load1()
    val c0 = Trace.now()
    val (_, closed, _) = closedLoop(spark, trace, Seq.fill(ClosedDecks)(deck(rng, DeckSize)).flatten, "closed")

    // open loop: a generator thread enqueues at uniformly spaced due
    // times; `cpus` clients serve the queue
    val queue = new LinkedBlockingQueue[(Req, Long)]()
    val open = new ConcurrentLinkedQueueBuf
    val lateness = ArrayBuffer.empty[Double]
    val t0 = Trace.now() + 50000000L
    val nOpen = math.max(1, math.round(Rate * openS).toInt)
    val schedule = Iterator.continually(deck(rng, DeckSize)).flatten.take(nOpen).toSeq
      .zipWithIndex.map { case (r, i) => (r, t0 + (i * 1e9 / Rate).toLong) }
    @volatile var generating = true
    val gen = new Thread(() => {
      schedule.foreach { case (r, due) =>
        val wait = due - Trace.now()
        if (wait > 0) TimeUnit.NANOSECONDS.sleep(wait)
        lateness += Trace.secs(math.max(0L, Trace.now() - due))
        queue.put((r, due))
      }
      generating = false
    }, "perfbench-generator")
    val drainBy = t0 + ((openS + 60) * 1e9).toLong
    val clients = (0 until a.cpus).map { i =>
      new Thread(() => {
        var done = false
        while (!done) {
          val item = queue.poll(20, TimeUnit.MILLISECONDS)
          if (item != null) {
            val (r, due) = item
            val (id, s, e, ok) = call(spark, trace, r, "open")
            open.add(Seq(r.key, id, due, s, e, if (ok) 1 else 0))
          } else if (!generating || Trace.now() > drainBy) done = true
        }
      }, s"perfbench-open-$i")
    }
    gen.start(); clients.foreach(_.start())
    gen.join(); clients.foreach(_.join())
    val unserved = queue.size()
    val hostC = Host.sample()

    // verification output: the first answer of every request key
    val resultsDir = s"${a.work}/results"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(resultsDir))
    answers.asScala.foreach { case (k, r) => Calls.dump(spark, r, s"$resultsDir/$k") }

    Map(
      "warm_s" -> warmS, "warm_failed" -> warmFailed,
      "open_rate" -> Rate, "open_s" -> openS, "open_t0" -> t0,
      "open" -> open.toSeq, "open_unserved" -> unserved,
      "closed_n" -> ClosedDecks * DeckSize, "closed_t0" -> c0,
      "closed" -> closed.toSeq,
      "generator_lag_s" -> lateness.toSeq,
      "host" -> Host.evidence(hostA, hostC, load0),
      "results_dir" -> resultsDir,
      "result_keys" -> answers.keySet.asScala.toSeq.sorted,
      "errors" -> errors.asScala.toMap,
      "tables_probe_s" -> tablesS.asScala.toMap,
      "plan_counts" -> plans.asScala.toMap)
  }
}

object PublisherMix {
  /** Open-loop arrival rate, requests/s; requests per open-loop deck. */
  val Rate = 2.0
  val DeckSize = 40
  /** Decks in the closed loop. */
  val ClosedDecks = 2
  /** Zipf exponent of the registry queries' copies in a deck. */
  val ZipfS = 1.1
  /** Share of a deck that is endpoint calls, split evenly over the three. */
  val EndpointShare = 0.3

  /** Dashboard queries in Zipf rank order (rank 0 is the most requested).
    * q07 is left out: it is a 600k-row index build, not a request. */
  val Queries: IndexedSeq[String] = Vector(
    "q09_keyword_search", "q03_dau_by_day", "q13_today_vs_yesterday",
    "q01_gmv_by_date", "q04_dau_by_hour", "q11_balance_band_ratio",
    "q12_segment_ratio", "q02_gmv_total_day", "q06_revenue_by_hour",
    "q10_top_sellers", "q08_customer_age", "q15_active_minutes",
    "q16_latest_per_user")
  /** Endpoint parameter domains; the oracle covers every value. */
  val Days: IndexedSeq[String] = (2 to 9).map(d => f"2024-01-$d%02d")
  val Keywords: IndexedSeq[String] = Vector("small widget", "blue ring", "hot bolt",
    "old plate", "red gear", "cold rod", "new gizmo", "large anvil")
  val Pages = 3

  sealed trait Req { def key: String }
  final case class Query(name: String) extends Req { def key: String = name }
  final case class Total(day: String) extends Req { def key: String = s"realtime_total@$day" }
  final case class Hours(day: String) extends Req { def key: String = s"realtime_hours@$day" }
  final case class Detail(kw: String, page: Int) extends Req {
    def key: String = s"sale_detail@${kw.replace(' ', '_')}@$page"
  }

  val NoTrace = new Trace(false)

  /** Copies per rank for a deck of `total` requests over `n` ranks:
    * one each, then the rest by Zipf(s) weight (largest remainder). */
  def zipfCounts(n: Int, total: Int, s: Double): Seq[Int] = {
    val w = (1 to n).map(r => 1.0 / math.pow(r, s))
    val extra = math.max(0, total - n)
    val share = w.map(_ / w.sum * extra)
    val base = share.map(_.toInt)
    val left = extra - base.sum
    val bump = share.zipWithIndex.sortBy { case (x, i) => (-(x - x.toInt), i) }.take(left).map(_._2).toSet
    base.zipWithIndex.map { case (b, i) => 1 + b + (if (bump(i)) 1 else 0) }
  }

  /** Zipf(s) over ranks 0..n-1 by inverse CDF. */
  final class Zipf(n: Int, s: Double) {
    private val cdf = {
      val w = (1 to n).map(r => 1.0 / math.pow(r, s))
      w.scanLeft(0.0)(_ + _).tail.map(_ / w.sum).toArray
    }
    def sample(rng: java.util.Random): Int = {
      val u = rng.nextDouble()
      val i = java.util.Arrays.binarySearch(cdf, u)
      math.min(n - 1, if (i >= 0) i else -i - 1)
    }
  }
}

/** Thread-safe append-only sample buffer. */
final class ConcurrentLinkedQueueBuf {
  private val q = new java.util.concurrent.ConcurrentLinkedQueue[Seq[Any]]()
  def add(x: Seq[Any]): Unit = q.add(x)
  def toSeq: Seq[Seq[Any]] = q.asScala.toSeq
}
