package perfbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** One benchmark run in one JVM. `perfbench/run.py` builds the classpath,
  * launches this with the generated dataset and a work directory, and
  * turns the raw record written to `--out` into metrics.
  *
  *   perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *                  --data DIR --work DIR --out FILE
  *
  * The raw record holds samples, not statistics: percentiles, self
  * times and rates are computed in `check.py` and `stats.py` (unit-tested
  * in `tests/`). */
object Main {
  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
                        data: String, work: String, out: String) {
    val cpus: Int = Runtime.getRuntime.availableProcessors()
  }

  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) if k.startsWith("--") => (k.drop(2), v) }.toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toInt, m("trace") == "1",
      m("data"), m("work"), m("out"))
  }

  /** The session every workload runs on: the confs and functions the
    * engine's own entry points install, on `local[cpus]`, with Spark's
    * scratch space inside the work directory. */
  def session(a: Args): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[${a.cpus}]")
      .appName(s"perfbench-${a.workload}")
      .config("spark.sql.shuffle.partitions", a.cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${a.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a.work}/warehouse")
      .config("spark.sql.streaming.checkpointLocation", s"${a.work}/checkpoints")
    graft.Tables.requiredConfs.foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.functions.GraftFunctions.register(spark)
    spark
  }

  trait Workload {
    /** Workload-specific preparation that is part of set-up. */
    def prepare(spark: SparkSession): Unit
    /** Undo `prepare` (set-up is timed several times per run). */
    def release(spark: SparkSession): Unit
    /** The timed phases; returns the raw record's workload section. */
    def run(spark: SparkSession, trace: Trace, listener: GroupListener): Map[String, Any]
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    Files.createDirectories(Paths.get(a.work))
    val w: Workload = a.workload match {
      case "publisher_mix" => new PublisherMix(a)
      case "stream_ingest" => new StreamIngest(a)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    // Set-up is timed three times: process start to ready (the cold
    // set-up, which alone pays class loading and one-time object and
    // memo initialisation), then twice more by stopping and rebuilding
    // the session and the workload's preparation in the same process.
    // The record keeps all three.
    val jvmStartNs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime * 1000000L
    val setups = scala.collection.mutable.ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    for (i <- 0 until 3) {
      val t0 = if (i == 0) jvmStartNs else Trace.now()
      spark = session(a)
      w.prepare(spark)
      setups += Trace.secs(Trace.now() - t0)
      if (i < 2) {
        w.release(spark)
        spark.stop()
        SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
      }
    }
    val trace = new Trace(a.trace)
    val listener = new GroupListener
    if (a.trace) spark.sparkContext.addSparkListener(listener)
    val section = w.run(spark, trace, listener)
    val heapMb = Mem.retainedHeapMb()
    val cached = Mem.cachedBytes(spark)
    val record = Map[String, Any](
      "workload" -> a.workload, "seed" -> a.seed, "cpus" -> a.cpus,
      "setup_s" -> setups.toSeq, "retained_heap_mb" -> heapMb,
      "memo_cached_bytes" -> cached,
      "spans" -> trace.spans.sortBy(_.start).map(s => Seq(s.id, s.parent, s.name, s.layer,
        s.req, s.start, s.end)),
      "counters" -> (if (a.trace) listener.byGroup.map { case (g, c) => g -> c.toMap }.toMap
                     else Map.empty[String, Any])) ++ section
    Files.writeString(Paths.get(a.out), Json(record))
    w.release(spark)
    spark.stop()
  }
}

/** Minimal JSON encoder for the raw record. */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case a: Array[_] => apply(a.toSeq)
    case p: Product => apply(p.productIterator.toSeq)
    case other => quote(other.toString)
  }
  def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
