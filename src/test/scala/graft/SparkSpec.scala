package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all specs. */
object TestSpark {
  /** Managed tables go to a per-JVM directory, not the checkout, so no
    * table outlives the run or is shared with another test JVM. */
  private lazy val warehouse: java.io.File = {
    val dir = java.nio.file.Files.createTempDirectory("graft-test-warehouse").toFile
    sys.addShutdownHook(Fixtures.deleteRecursively(dir))
    dir
  }

  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.warehouse.dir", warehouse.getAbsolutePath)
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .withExtensions(_.injectResolutionRule(_ => AnalysisProbe))
      .getOrCreate()
    // as GraftSession does: Spark's INFO lines would bury the test results
    s.sparkContext.setLogLevel("WARN")
    // suites must not depend on which one first exercised an operator
    // that registers the native functions
    graft.expr.GraftFunctions.register(s)
    s
  }
}

/** A no-op resolution rule: while a [[SparkSpec.analysesOn]] recording
  * is on, it notes each query the analyzer resolves on a recorded thread.
  * The analyzer runs its rules over one query's plan once per pass, all
  * under that query's planning tracker, so the tracker names the query. */
object AnalysisProbe extends Rule[LogicalPlan] {
  @volatile private[graft] var recording: Option[(Thread => Boolean, java.util.Map[AnyRef, String])] = None

  def apply(plan: LogicalPlan): LogicalPlan = {
    recording.foreach { case (on, seen) =>
      if (on(Thread.currentThread()))
        seen.putIfAbsent(QueryPlanningTracker.get.getOrElse(plan), plan.simpleString(2))
    }
    plan
  }
}

abstract class SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = TestSpark.spark
  override def afterAll(): Unit = () // keep the shared session alive

  /** The queries the analyzer resolves on the calling thread while `body`
    * runs: each Dataset built, each plan analyzed for an action. */
  def analysesDuring(body: => Unit): Analyses = {
    val caller = Thread.currentThread()
    analysesOn(_ eq caller)(body)
  }

  /** [[analysesDuring]] on the threads `on` selects. */
  def analysesOn(on: Thread => Boolean)(body: => Unit): Analyses = {
    spark // the probe is installed with the session
    val seen = java.util.Collections.synchronizedMap(new java.util.IdentityHashMap[AnyRef, String])
    AnalysisProbe.recording = Some((on, seen))
    try body finally AnalysisProbe.recording = None
    import scala.jdk.CollectionConverters._
    seen.synchronized(Analyses(seen.values.asScala.toSeq))
  }

  /** The Spark jobs started while `body` runs, on any thread, each named
    * by its call site: that of the DataFrame action it runs for, else its
    * own. Listener events arrive asynchronously but in order, so a marker
    * job before and after `body` brackets exactly its jobs. */
  def jobsDuring(body: => Unit): Jobs = {
    val sc = spark.sparkContext
    val marker = s"jobsDuring-${java.util.UUID.randomUUID()}"
    val sites = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val actions = new java.util.concurrent.ConcurrentHashMap[String, String]
    val markers = new java.util.concurrent.Semaphore(0)
    @volatile var counting = false
    val listener = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart => actions.put(s.executionId.toString, s.description)
        case _ => ()
      }
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val props = Option(e.properties)
        def prop(k: String) = props.flatMap(p => Option(p.getProperty(k)))
        if (prop("spark.job.description").contains(marker)) {
          counting = !counting
          markers.release()
        } else if (counting)
          sites.add(prop("spark.sql.execution.id").flatMap(id => Option(actions.get(id)))
            .orElse(prop("callSite.short")).orElse(e.stageInfos.lastOption.map(_.name)).getOrElse("?"))
      }
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
      import scala.jdk.CollectionConverters._
      Jobs(sites.asScala.toSeq)
    } finally sc.removeSparkListener(listener)
  }
}

/** Queries counted by [[SparkSpec.analysesDuring]]; prints as the count
  * and each query's top operator. */
final case class Analyses(plans: Seq[String]) {
  def count: Int = plans.size
  override def toString: String =
    s"$count analyzed plans" + (if (plans.isEmpty) "" else plans.mkString(" (", "; ", ")"))
}

/** Spark jobs counted by [[SparkSpec.jobsDuring]]; prints as the count and
  * each job's call site, so a failed count names what ran the jobs. */
final case class Jobs(callSites: Seq[String]) {
  def count: Int = callSites.size
  override def toString: String =
    s"$count Spark jobs" + (if (callSites.isEmpty) "" else callSites.mkString(" (", "; ", ")"))
}
