package graft

import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Shared local SparkSession for specs. sf0.001 keeps tests fast; the
  * operators themselves are partition-count-agnostic. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  val sfDir = "/root/testdata/sf0.001"

  lazy val spark: SparkSession = SparkSpec.session

  override def afterAll(): Unit = {
    // keep the session alive across suites (single JVM, forked once)
    super.afterAll()
  }

  /** Jobs started on this thread while `work` runs. */
  def jobsDuring(work: => Unit): Int =
    eventsDuring(work).count(_.isInstanceOf[SparkListenerJobStart])

  /** Job starts and SQL execution starts of this thread while `work`
    * runs, in the order the listener saw them. The listener bus is
    * asynchronous, so a sentinel job in its own group follows `work`:
    * once the listener sees the sentinel start, every earlier event has
    * been delivered. */
  def eventsDuring(work: => Unit): Seq[SparkListenerEvent] = {
    val sc = spark.sparkContext
    val group = s"jobs-during-${java.util.UUID.randomUUID()}"
    val sentinel = s"$group-sentinel"
    val events = new ConcurrentLinkedQueue[SparkListenerEvent]()
    val sentinelSeen = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        Option(j.properties).map(_.getProperty("spark.jobGroup.id")) match {
          case Some(`group`)    => events.add(j); ()
          case Some(`sentinel`) => sentinelSeen.countDown()
          case _                => ()
        }
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case x: SparkListenerSQLExecutionStart if x.jobGroupId.contains(group) =>
          events.add(x); ()
        case _ => ()
      }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "measured")
      work
      sc.setJobGroup(sentinel, "sentinel")
      sc.parallelize(Seq(1), 1).count()
      assert(sentinelSeen.await(60, TimeUnit.SECONDS), "listener never saw the sentinel job")
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
    events.asScala.toSeq
  }

  /** The call site of a job: its result stage's name, e.g.
    * `isEmpty at Hierarchy.scala:40`. */
  def callSite(j: SparkListenerJobStart): String =
    j.stageInfos.maxBy(_.stageId).name
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true") // events.ts NANOS
      .config("spark.scheduler.mode", "FAIR") // concurrent runner pools
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
