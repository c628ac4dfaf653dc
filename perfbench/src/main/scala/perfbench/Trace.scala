package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
import org.apache.spark.sql.execution.{DataSourceScanExec, RDDScanExec}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec

/** One timed interval at a layer boundary. Times are epoch nanoseconds
  * from one clock ([[Trace.now]]); `parent` is the id of the enclosing
  * span on the same thread (0 for a root). */
final case class Span(id: Long, parent: Long, name: String, layer: String,
                      req: String, start: Long, end: Long)

/** Spans kept in memory and written once the run ends. Disabled spans
  * cost one branch, so untraced runs pay nothing but the timing calls
  * the workloads make anyway. */
final class Trace(val enabled: Boolean) {
  private val ids = new AtomicLong(0)
  private val buf = new ConcurrentLinkedQueue[Span]()
  private val stack = new ThreadLocal[List[Long]] { override def initialValue() = Nil }


  /** Time `body` as a span; nested calls on one thread become children. */
  def span[T](name: String, layer: String, req: String)(body: => T): T = {
    if (!enabled) return body
    val id = ids.incrementAndGet()
    val parent = stack.get().headOption.getOrElse(0L)
    stack.set(id :: stack.get())
    val t0 = Trace.now()
    try body finally {
      val t1 = Trace.now()
      stack.set(stack.get().tail)
      buf.add(Span(id, parent, name, layer, req, t0, t1))
    }
  }

  def spans: Seq[Span] = buf.asScala.toSeq
}

object Trace {
  private val originNs = System.nanoTime()
  private val originEpochNs = System.currentTimeMillis() * 1000000L
  /** Monotonic clock expressed as epoch nanoseconds, so JVM spans line up
    * with streaming progress timestamps (epoch milliseconds). */
  def now(): Long = originEpochNs + (System.nanoTime() - originNs)
  def secs(ns: Long): Double = ns / 1e9
}

/** Spark task counters summed per job group. Every request or call sets
  * its own job group, so the counters land on the operation that caused
  * them; streaming micro-batches run under their query's run id. */
final class Counters {
  val jobs, stages, tasks, failedTasks = new AtomicLong
  val runMs, cpuNs, gcMs, inputBytes, shuffleBytes, spillBytes = new AtomicLong
  def toMap: Map[String, Double] = Map(
    "spark.jobs" -> jobs.get.toDouble, "spark.stages" -> stages.get.toDouble,
    "spark.tasks" -> tasks.get.toDouble, "spark.failed_tasks" -> failedTasks.get.toDouble,
    "spark.task_run_s" -> runMs.get / 1e3, "spark.task_cpu_s" -> cpuNs.get / 1e9,
    "spark.gc_s" -> gcMs.get / 1e3, "spark.input_bytes" -> inputBytes.get.toDouble,
    "spark.shuffle_bytes" -> shuffleBytes.get.toDouble,
    "spark.spill_bytes" -> spillBytes.get.toDouble)
}

final class GroupListener extends SparkListener {
  val byGroup = TrieMap.empty[String, Counters]
  private val stageGroup = TrieMap.empty[Int, String]
  private def of(g: String) = byGroup.getOrElseUpdate(g, new Counters)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("-")
    of(g).jobs.incrementAndGet()
    e.stageIds.foreach(stageGroup.put(_, g))
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    stageGroup.get(e.stageInfo.stageId).foreach(of(_).stages.incrementAndGet())
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val c = of(stageGroup.getOrElse(e.stageId, "-"))
    c.tasks.incrementAndGet()
    if (e.reason != org.apache.spark.Success) c.failedTasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      c.runMs.addAndGet(m.executorRunTime)
      c.cpuNs.addAndGet(m.executorCpuTime)
      c.gcMs.addAndGet(m.jvmGCTime)
      c.inputBytes.addAndGet(m.inputMetrics.bytesRead)
      c.shuffleBytes.addAndGet(m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten)
      c.spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }

  /** Sum the counters of every group accepted by `keep`. */
  def total(keep: String => Boolean): Map[String, Double] = {
    val sums = byGroup.filter { case (g, _) => keep(g) }.values.map(_.toMap)
    if (sums.isEmpty) new Counters().toMap
    else sums.reduce((a, b) => a.map { case (k, v) => k -> (v + b(k)) })
  }
}

/** Host-independent counts over a final (post-AQE) physical plan. */
object PlanCounts {
  def of(plan: SparkPlan): Map[String, Double] = {
    var exchanges, scans, cached = 0
    def walk(p: SparkPlan): Unit = {
      p match {
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan); return
        case q: QueryStageExec => walk(q.plan); return
        case _: ShuffleExchangeLike | _: BroadcastExchangeLike => exchanges += 1
        case _: InMemoryTableScanExec => cached += 1
        case _: DataSourceScanExec | _: BatchScanExec => scans += 1
        case _: RDDScanExec => cached += 1 // checkpointed / local-relation scans
        case _ =>
      }
      p.children.foreach(walk)
      p.subqueries.foreach(walk)
    }
    walk(plan)
    Map("plan.exchanges" -> exchanges.toDouble, "plan.scans" -> scans.toDouble,
      "plan.cached_scans" -> cached.toDouble)
  }
}

/** Host evidence for one measured window (Linux /proc; zeros elsewhere):
  * 1-min load, the share of machine CPU burned outside this JVM, and the
  * share the hypervisor gave to other guests (steal). */
object Host {
  private def read(p: String): String =
    try new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(p))) catch {
      case _: Throwable => ""
    }
  final case class Sample(busy: Long, steal: Long, total: Long, mine: Long)
  def sample(): Sample = {
    // user nice system idle iowait irq softirq steal (guest time is
    // already inside user)
    val f = read("/proc/stat").linesIterator.find(_.startsWith("cpu ")).getOrElse("cpu")
      .split("\\s+").drop(1).map(_.toLong).padTo(8, 0L)
    val self = read("/proc/self/stat")
    val fields = self.substring(self.lastIndexOf(')') + 2).split(' ')
    val mine = if (fields.length > 12) fields(11).toLong + fields(12).toLong else 0L
    Sample(f(0) + f(1) + f(2) + f(5) + f(6), f(7), f.take(8).sum, mine)
  }
  def load1(): Double = read("/proc/loadavg").split(' ').headOption
    .flatMap(_.toDoubleOption).getOrElse(0.0)
  def otherCpuFrac(a: Sample, b: Sample): Double = {
    val total = (b.total - a.total).toDouble
    if (total <= 0) 0.0 else math.max(0.0, ((b.busy - a.busy) - (b.mine - a.mine)) / total)
  }
  def stealFrac(a: Sample, b: Sample): Double = {
    val total = (b.total - a.total).toDouble
    if (total <= 0) 0.0 else (b.steal - a.steal) / total
  }
  def evidence(a: Sample, b: Sample, load0: Double): Map[String, Double] = Map(
    "load1_start" -> load0, "load1_end" -> load1(),
    "other_cpu_frac" -> otherCpuFrac(a, b), "steal_frac" -> stealFrac(a, b))
}

/** Heap retained after a forced collection, and Spark storage memory. */
object Mem {
  def retainedHeapMb(): Double = {
    val bean = java.lang.management.ManagementFactory.getMemoryMXBean
    System.gc(); System.gc()
    bean.getHeapMemoryUsage.getUsed / 1048576.0
  }
  def cachedBytes(spark: SparkSession): Double =
    spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum.toDouble
}
