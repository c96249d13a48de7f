package graftbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

/** One traced interval. `group` is the Spark job group the span set on its
  * thread, so jobs started inside it are attributed to it. */
final case class Span(id: Long, name: String, opId: Int, parent: Long, t0: Long, t1: Long) {
  def ms: Double = (t1 - t0) / 1e6
  def group: String = s"graftbench-span-$id"
}

/** In-memory span recorder for the traced replay. With `enabled = false`
  * a span only times its body (no job group, nothing recorded), which is
  * the spans-off arm of the overhead measurement. Single-threaded use. */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  private val sc = spark.sparkContext
  private var nextId = 0L
  private var stack: List[Span] = Nil
  val spans = scala.collection.mutable.ArrayBuffer.empty[Span]

  def span[A](name: String, opId: Int)(body: => A): (A, Double) = {
    val t0 = Util.now()
    if (!enabled) {
      val r = body
      return (r, Util.msSince(t0))
    }
    nextId += 1
    val open = Span(nextId, name, opId, stack.headOption.map(_.id).getOrElse(0L), t0, 0L)
    stack = open :: stack
    sc.setJobGroup(open.group, name, interruptOnCancel = false)
    try {
      val r = body
      (r, Util.msSince(t0))
    } finally {
      stack = stack.tail
      stack.headOption match {
        case Some(p) => sc.setJobGroup(p.group, p.name, interruptOnCancel = false)
        case None => sc.clearJobGroup()
      }
      spans += open.copy(t1 = Util.now())
    }
  }

  /** Write every span as one JSON line. */
  def write(path: java.nio.file.Path, t0: Long, jobs: JobStats): Unit = {
    val sb = new StringBuilder
    spans.foreach { s =>
      val a = jobs.group(s.group)
      sb.append(s"""{"id":${s.id},"name":"${s.name}","op":${s.opId},"parent":${s.parent},""")
      sb.append(f""""start_ms":${(s.t0 - t0) / 1e6}%.3f,"end_ms":${(s.t1 - t0) / 1e6}%.3f,""")
      sb.append(s""""jobs":${a.jobs},"tasks":${a.tasks}}""").append('\n')
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, sb.toString.getBytes("UTF-8"))
  }
}

/** Work counters of a set of Spark jobs. */
final class JobAgg {
  val jobs = new AtomicLong
  val stages = new AtomicLong
  val tasks = new AtomicLong
  val taskMs = new AtomicLong
  val gcMs = new AtomicLong
  val shuffleRead = new AtomicLong
  val shuffleWrite = new AtomicLong
  val spill = new AtomicLong

  def snapshot: JobSnap = JobSnap(jobs.get, stages.get, tasks.get, taskMs.get, gcMs.get,
    shuffleRead.get, shuffleWrite.get, spill.get)
}

final case class JobSnap(jobs: Long, stages: Long, tasks: Long, taskMs: Long, gcMs: Long,
                         shuffleRead: Long, shuffleWrite: Long, spill: Long) {
  def -(o: JobSnap): JobSnap = JobSnap(jobs - o.jobs, stages - o.stages, tasks - o.tasks,
    taskMs - o.taskMs, gcMs - o.gcMs, shuffleRead - o.shuffleRead,
    shuffleWrite - o.shuffleWrite, spill - o.spill)
  def +(o: JobSnap): JobSnap = JobSnap(jobs + o.jobs, stages + o.stages, tasks + o.tasks,
    taskMs + o.taskMs, gcMs + o.gcMs, shuffleRead + o.shuffleRead,
    shuffleWrite + o.shuffleWrite, spill + o.spill)
}

object JobSnap {
  val Zero: JobSnap = JobSnap(0, 0, 0, 0, 0, 0, 0, 0)
}

/** Spark listener registered from the benchmark: totals, plus per job
  * group (the spans' groups). Events arrive asynchronously; call
  * [[settle]] before reading. */
final class JobStats extends SparkListener {
  val total = new JobAgg
  private val groups = new ConcurrentHashMap[String, JobAgg]()
  private val jobGroup = new ConcurrentHashMap[Int, String]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val events = new AtomicLong

  private def aggs(jobId: Int): Seq[JobAgg] =
    Option(jobGroup.get(jobId)).filter(_.nonEmpty).map(group).toSeq :+ total

  def group(g: String): JobAgg = groups.computeIfAbsent(g, _ => new JobAgg)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    events.incrementAndGet()
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    jobGroup.put(e.jobId, g)
    e.stageIds.foreach(s => stageJob.put(s, e.jobId))
    aggs(e.jobId).foreach(_.jobs.incrementAndGet())
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    events.incrementAndGet()
    Option(stageJob.get(e.stageInfo.stageId)).foreach(j => aggs(j).foreach(_.stages.incrementAndGet()))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    events.incrementAndGet()
    val m = e.taskMetrics
    val targets = Option(stageJob.get(e.stageId)).map(j => aggs(j)).getOrElse(Seq(total))
    targets.foreach { a =>
      a.tasks.incrementAndGet()
      if (m != null) {
        a.taskMs.addAndGet(m.executorRunTime)
        a.gcMs.addAndGet(m.jvmGCTime)
        a.shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
        a.shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        a.spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      }
    }
  }

  /** Wait until the listener has seen no new event for a few polls. */
  def settle(): Unit = {
    var last = -1L
    var quiet = 0
    val deadline = Util.now() + 10000000000L
    while (quiet < 3 && Util.now() < deadline) {
      Thread.sleep(150)
      val n = events.get
      if (n == last) quiet += 1 else { quiet = 0; last = n }
    }
  }
}

/** Streaming progress from the public StreamingQueryListener hook. */
final class StreamStats extends StreamingQueryListener {
  val batchMs = new java.util.concurrent.ConcurrentLinkedQueue[java.lang.Double]()
  val rows = new AtomicLong

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    batchMs.add(e.progress.batchDuration.toDouble)
    rows.addAndGet(e.progress.numInputRows)
  }
}

object SparkMetrics {
  /** The `spark.*` layer metrics of one measured window. */
  def put(m: Metrics, d: JobSnap, wallMs: Double, slots: Int): Unit = {
    val mb = 1024.0 * 1024.0
    m.put("spark.jobs", d.jobs.toDouble, "count")
    m.put("spark.stages", d.stages.toDouble, "count")
    m.put("spark.tasks", d.tasks.toDouble, "count")
    m.put("spark.task_s", d.taskMs / 1000.0, "s")
    m.put("spark.gc_s", d.gcMs / 1000.0, "s")
    m.put("spark.slot_idle_frac",
      if (wallMs <= 0) 0.0 else math.max(0.0, 1.0 - d.taskMs / (wallMs * slots)), "fraction")
    m.put("spark.shuffle_read_mb", d.shuffleRead / mb, "MB")
    m.put("spark.shuffle_write_mb", d.shuffleWrite / mb, "MB")
    m.put("spark.spill_mb", d.spill / mb, "MB")
  }
}
