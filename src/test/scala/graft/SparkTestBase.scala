package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for Spark-backed specs. */
trait SparkTestBase extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkTestBase.session
  override def afterAll(): Unit = () // session reused across suites

  /** Spark jobs whose local properties satisfy `pick`, started while
    * `body` runs; a marker job after it flushes the listener bus
    * (delivery is in order). */
  def jobsWhere(pick: java.util.Properties => Boolean)(body: => Unit): Int = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val marker = "job-count-end"
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val endSeen = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        Option(j.properties).foreach { p =>
          if (p.getProperty("spark.jobGroup.id") == marker) endSeen.countDown()
          else if (pick(p)) jobs.incrementAndGet()
        }
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      body
      sc.setJobGroup(marker, "marker")
      spark.range(1).collect()
      assert(endSeen.await(60, java.util.concurrent.TimeUnit.SECONDS))
      jobs.get
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  /** A job count held to `bound`: run `measure(i)` again, up to three
    * runs in all, only while every run so far exceeds the bound, and
    * keep the least. AQE launches an occasional extra job from run to
    * run; an extra action in the code shows in every run. */
  def leastOfThree(bound: Int)(measure: Int => Int): Int =
    (1 until 3).foldLeft(measure(0))((least, i) =>
      if (least > bound) math.min(least, measure(i)) else least)

  /** Spark jobs `body` starts from this thread, attributed by job group. */
  def jobsOf(body: => Unit): Int = {
    val group = "measured-jobs"
    jobsWhere(_.getProperty("spark.jobGroup.id") == group) {
      spark.sparkContext.setJobGroup(group, "measured")
      try body finally spark.sparkContext.clearJobGroup()
    }
  }
}

object SparkTestBase {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
