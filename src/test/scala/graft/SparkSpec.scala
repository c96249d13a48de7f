package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all specs. */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    // suites must not depend on which one first exercised an operator
    // that registers the native functions
    graft.expr.GraftFunctions.register(s)
    s
  }
}

abstract class SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = TestSpark.spark
  override def afterAll(): Unit = () // keep the shared session alive

  /** Number of Spark jobs started while `body` runs, on any thread.
    * Listener events arrive asynchronously but in order, so a marker job
    * before and after `body` brackets exactly its jobs. */
  def jobsDuring(body: => Unit): Int = {
    val sc = spark.sparkContext
    val marker = s"jobsDuring-${java.util.UUID.randomUUID()}"
    val count = new java.util.concurrent.atomic.AtomicInteger
    val markers = new java.util.concurrent.Semaphore(0)
    @volatile var counting = false
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.job.description") == marker)) {
          counting = !counting
          markers.release()
        } else if (counting) count.incrementAndGet()
    }
    def markerJob(): Unit = {
      sc.setJobDescription(marker)
      try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
    }
    sc.addSparkListener(listener)
    try {
      markerJob()
      body
      markerJob()
      assert(markers.tryAcquire(2, 60, java.util.concurrent.TimeUnit.SECONDS), "marker jobs not seen")
      count.get
    } finally sc.removeSparkListener(listener)
  }
}
