package graftbench

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode
import java.lang.management.ManagementFactory

/** Small shared helpers: clocks, order statistics, heap probe, JSON. */
object Util {
  val mapper = new ObjectMapper()

  def now(): Long = System.nanoTime()
  def msSince(t0: Long): Double = (now() - t0) / 1e6

  def timed[A](body: => A): (A, Double) = {
    val t0 = now()
    val r = body
    (r, msSince(t0))
  }

  /** Runs `setup` `n` times, handing each result to `release` before the
    * next one starts, and returns the `n` timings in ms. */
  def timedSetups[A](n: Int)(setup: => A)(release: A => Unit): Seq[Double] = {
    val ms = (1 to n).map { _ =>
      val (a, t) = timed(setup)
      release(a)
      t
    }
    log(f"timed set-ups ${ms.map(t => f"${t / 1000}%.2f").mkString(" ")} s")
    ms
  }

  /** Linear-interpolated percentile (p in [0, 1]); 0 for an empty sample. */
  def percentile(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val r = p * (s.size - 1)
      val lo = math.floor(r).toInt
      val hi = math.ceil(r).toInt
      s(lo) + (s(hi) - s(lo)) * (r - lo)
    }

  def median(xs: Seq[Double]): Double = percentile(xs, 0.5)
  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  /** Driver heap still in use after full collections, in MiB. The pauses
    * let Spark's ContextCleaner drop blocks of RDDs the first GC freed. */
  def retainedHeapMb(): Double = {
    val bean = ManagementFactory.getMemoryMXBean
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(300) }
    bean.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
  }

  def maxHeapMb: Double = Runtime.getRuntime.maxMemory / (1024.0 * 1024.0)

  def sha256(bytes: Array[Byte]): String =
    java.security.MessageDigest.getInstance("SHA-256").digest(bytes).map("%02x".format(_)).mkString

  private val start = now()

  def log(msg: String): Unit = {
    println(f"[graftbench ${msSince(start) / 1000}%6.1fs] $msg")
    System.out.flush()
  }
}

/** Metric sink: name -> (value, unit), in insertion order. */
final class Metrics {
  private val values = scala.collection.mutable.LinkedHashMap.empty[String, (Double, String)]
  def put(name: String, value: Double, unit: String): Unit = values(name) = (value, unit)

  def toJson: ObjectNode = {
    val n = Util.mapper.createObjectNode()
    values.foreach { case (k, (v, u)) =>
      val m = n.putObject(k)
      m.put("value", if (v.isNaN || v.isInfinite) 0.0 else v)
      m.put("unit", u)
    }
    n
  }
}

/** Attempted/failed counts over ops and run-level gates, plus the first
  * few failure messages. */
final class Outcome {
  @volatile private var attemptedN = 0L
  @volatile private var failedN = 0L
  private val messages = scala.collection.mutable.ArrayBuffer.empty[String]

  def attempted: Long = attemptedN
  def failed: Long = failedN

  def record(ok: Boolean, what: => String): Unit = synchronized {
    attemptedN += 1
    if (!ok) {
      failedN += 1
      if (messages.size < 20) messages += what
    }
  }

  def failures: Seq[String] = synchronized(messages.toList)
}
