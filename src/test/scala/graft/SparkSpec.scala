package graft

import java.nio.file.Files
import java.util.Properties
import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}

import scala.jdk.CollectionConverters._

import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Shared local SparkSession for the test suite. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session

  override def afterAll(): Unit = { /* shared session: leave running */ }

  /** Spark jobs `body` starts on this thread, counted by a listener on
    * the body's job group. */
  protected def jobsStartedBy(body: => Unit): Int = jobPropertiesOf(body).size

  /** The OS processes started while `body` runs, on any thread, from an
    * in-process JFR recording of `jdk.ProcessStart`. */
  protected def processesStartedBy(body: => Unit): Seq[SparkSpec.Launch] = {
    val rec = new Recording()
    try {
      rec.enable("jdk.ProcessStart").withStackTrace()
      rec.start()
      try body finally rec.stop()
      val file = Files.createTempFile("process-start", ".jfr")
      try {
        rec.dump(file)
        RecordingFile.readAllEvents(file).asScala.toSeq.map { e =>
          SparkSpec.Launch(e.getString("command"),
            Option(e.getThread).map(_.getJavaName).getOrElse("?"),
            Option(e.getStackTrace).toSeq.flatMap(_.getFrames.asScala)
              .map(f => s"${f.getMethod.getType.getName}.${f.getMethod.getName}"))
        }
      } finally Files.delete(file)
    } finally rec.close()
  }

  /** Distinct SQL executions among the jobs `body` starts on this
    * thread: the number of distinct `spark.sql.execution.id` values
    * (each Dataset action is one execution, however many jobs its
    * adaptive plan runs). */
  protected def sqlExecutionsStartedBy(body: => Unit): Int =
    jobPropertiesOf(body).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .distinct.size

  /** The local properties of each job `body` starts on this thread, as
    * a listener on the body's job group sees them. A flush job in a
    * second group runs after the body; the bus delivers events in order,
    * so once the flush job's start is seen every job of the body has
    * been recorded. */
  private def jobPropertiesOf(body: => Unit): Seq[Properties] = {
    val sc = spark.sparkContext
    val group = s"jobs-started-by-${java.util.UUID.randomUUID()}"
    val started = new ConcurrentLinkedQueue[Properties]
    val flushed = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull match {
          case `group` => started.add(e.properties)
          case g if g == s"$group-flush" => flushed.countDown()
          case _ => ()
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "measured")
      try body finally sc.clearJobGroup()
      sc.setJobGroup(s"$group-flush", "flush")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      assert(flushed.await(60, TimeUnit.SECONDS), "listener bus did not deliver the flush job")
      started.asScala.toSeq
    } finally sc.removeSparkListener(listener)
  }
}

object SparkSpec {
  /** One OS process launch: its command line, the launching thread and
    * its stack, innermost frame first. */
  final case class Launch(command: String, thread: String, frames: Seq[String]) {
    override def toString: String = {
      val caller = frames.find(f => Seq("graft.", "org.apache.").exists(f.startsWith) &&
        !f.startsWith("org.apache.hadoop.util."))
      s"$command <- ${caller.getOrElse("?")} [$thread]"
    }
  }

  /** The same factory every entry point uses, so the suite plans what
    * the mains and the benchmark run. */
  lazy val session: SparkSession = {
    val s = GraftSession.local(4)
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
