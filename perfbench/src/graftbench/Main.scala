package graftbench

import graft.GraftSession
import org.apache.spark.sql.SparkSession
import java.nio.file.{Path, Paths}

/** Benchmark entry point (started by `perfbench/run.py`).
  *
  * {{{ Main --workload <ivm_ingest|pipeline_mix> --seed <n> --seconds <s>
  *          --trace <0|1> --work <dir> }}}
  *
  * The last stdout line is `RESULT {json}` with `correct`, `attempted`,
  * `failed`, `metrics` (end-to-end with `--trace 0`, per-layer with
  * `--trace 1`) and `meta`.
  */
object Main {
  final case class Opts(workload: String, seed: Long, seconds: Int, trace: Boolean, work: Path)

  val Workloads: Seq[String] = Seq("ivm_ingest", "pipeline_mix")

  def parse(args: Array[String]): Opts = {
    val kv = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val o = Opts(kv("workload"), kv("seed").toLong, kv("seconds").toInt, kv("trace") == "1",
      Paths.get(kv("work")).toAbsolutePath)
    require(Workloads.contains(o.workload), s"unknown workload ${o.workload}")
    require(o.seconds > 0, "--seconds must be positive")
    o
  }

  def main(args: Array[String]): Unit = {
    if (args.headOption.contains("--selftest")) { SelfTest.run(); return }
    val opts = parse(args)
    val t0 = Util.now()
    val spark = GraftSession.getOrCreate("graftbench")
    val sessionS = Util.msSince(t0) / 1000
    val metrics = new Metrics
    val out = new Outcome
    val meta = Util.mapper.createObjectNode()
    meta.put("workload", opts.workload)
    meta.put("seed", opts.seed)
    meta.put("seconds", opts.seconds)
    meta.put("trace", opts.trace)
    meta.put("spark_graft_cpus", spark.sparkContext.defaultParallelism)
    meta.put("driver_heap_max_mb", math.round(Util.maxHeapMb))
    meta.put("jvm", s"${sys.props("java.vm.name")} ${sys.props("java.runtime.version")}")
    meta.put("spark", spark.version)
    meta.put("session_start_s", sessionS)
    if (opts.trace) Layers.zero(metrics)
    try {
      opts.workload match {
        case "ivm_ingest" => IvmWorkload.run(spark, opts, metrics, out, meta)
        case _ => PipelineWorkload.run(spark, opts, metrics, out, meta)
      }
    } catch {
      case e: Throwable =>
        e.printStackTrace()
        out.record(ok = false, s"workload aborted: $e")
    }
    out.failures.foreach(f => Util.log(s"FAILED: $f"))
    val res = Util.mapper.createObjectNode()
    res.put("correct", out.failed == 0)
    res.put("attempted", math.max(1L, out.attempted))
    res.put("failed", out.failed)
    res.set("metrics", metrics.toJson)
    res.set("meta", meta)
    println("RESULT " + Util.mapper.writeValueAsString(res))
    System.out.flush()
    spark.stop()
  }
}

/** Every per-layer metric, so a traced run reports the full set on every
  * workload (0 where the workload does not touch the layer). */
object Layers {
  val IvmTables: Seq[String] = Seq("testTable", "users", "grades")

  val All: Seq[(String, String)] = Seq(
    "net.decode_ms" -> "ms", "net.encode_ms" -> "ms", "net.encode_jobs" -> "count",
    "net.self_ms.insert" -> "ms", "net.self_ms.lookup" -> "ms",
    "net.resp_bytes.insert" -> "bytes", "net.resp_bytes.lookup" -> "bytes",
    "net.event_ms" -> "ms", "net.lookup_ms" -> "ms") ++
    IvmTables.flatMap(t => Seq(
      s"ivm.cascade_ms.$t" -> "ms", s"ivm.jobs_per_insert.$t" -> "count",
      s"ivm.tasks_per_insert.$t" -> "count", s"ivm.task_ms_per_insert.$t" -> "ms",
      s"ivm.edits_per_insert.$t" -> "count")) ++
    Seq("ivm.listener_ms" -> "ms", "ivm.listener_jobs" -> "count",
      "query.find_one_ms" -> "ms", "query.get_all_ms" -> "ms", "query.range_ms" -> "ms",
      "query.jobs_per_lookup" -> "count", "query.tasks_per_lookup" -> "count",
      "query.rows_per_lookup" -> "count",
      "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
      "spark.task_s" -> "s", "spark.gc_s" -> "s", "spark.slot_idle_frac" -> "fraction",
      "spark.shuffle_read_mb" -> "MB", "spark.shuffle_write_mb" -> "MB", "spark.spill_mb" -> "MB",
      "pipeline.build_s" -> "s", "pipeline.plan_s" -> "s", "pipeline.exec_s" -> "s") ++
    PipelinePass.Queries.map(q => s"pipeline.query_s.$q" -> "s") ++
    Seq("stream.batches" -> "count", "stream.batch_ms_p50" -> "ms", "stream.rows_per_batch" -> "count",
      "trace.overhead_frac" -> "fraction")

  def zero(m: Metrics): Unit = All.foreach { case (n, u) => m.put(n, 0.0, u) }
}

object IvmWorkload {
  /** Ops replayed by a traced run: a fixed count, so its job and edit
    * counts repeat exactly for a seed. */
  def tracedCounts(seconds: Int): (Int, Int) = {
    val k = OpLog.CycleLength * math.max(1, seconds / 15)
    (k, 4 * k)
  }

  def run(spark: SparkSession, o: Main.Opts, m: Metrics, out: Outcome,
          meta: com.fasterxml.jackson.databind.node.ObjectNode): Unit = {
    val log = OpLog.generate(o.seed)
    out.record(OpLog.generate(o.seed).sha256 == log.sha256, "same seed gave a different op log")
    out.record(OpLog.generate(o.seed + 1).sha256 != log.sha256, "two seeds gave the same op log")
    meta.put("oplog_sha256", log.sha256)
    meta.put("oplog_inserts", log.inserts.size)
    meta.put("oplog_lookups", log.lookups.size)
    meta.put("base_rows", s"testTable=${log.base.nTest} users=${log.base.nUsers} grades=${log.base.nUsers}")
    if (o.trace) traced(spark, o, log, m, out, meta) else untraced(spark, o, log, m, out)
  }

  /** Timed insert cycles per run: one per 6 s of the window, at least 3.
    * A fixed count, not a deadline, so every run times the same whole
    * cycles: a run cut short by a slow host would weigh its first, slower
    * cycle more. */
  def cycles(seconds: Int): Int = math.max(3, seconds / 6)

  /** Collect the garbage of set-up before a timed window opens. */
  def settleHeap(): Unit = { System.gc(); Thread.sleep(200) }

  /** Warm-up of a traced run: one insert per source table, then each kind
    * of lookup the reader sends, twice, so no op of the server phase is the
    * first of its kind. */
  private def warmUp(st: Stack, log: OpLog, out: Outcome): Unit = {
    IvmFixture.warmups(log.base).foreach { op =>
      val (resp, _) = IvmLoad.runInsert(st, op)
      out.record(Checks.insertResponse(op, resp), s"warm-up insert ${op.table} failed its check")
    }
    val kinds = log.lookups.groupBy(l => (l.kind, l.table)).values.map(_.head).toSeq.sortBy(_.id)
    (kinds ++ kinds).foreach { l =>
      val (resp, _) = IvmLoad.runLookup(st.reader, l)
      out.record(Checks.lookup(log.base, l, resp), s"warm-up ${l.kind} ${l.table} failed its check")
    }
  }

  private def untraced(spark: SparkSession, o: Main.Opts, log: OpLog, m: Metrics, out: Outcome): Unit = {
    // the first (cold) set-up serves the load; the timed set-ups run at the
    // end, when the JIT is warm, so they are not on the warm-up slope
    val (st, coldMs) = Util.timed(IvmLoad.setup(spark, log.base))
    Util.log(f"cold set-up ${coldMs / 1000}%.2f s")
    // warm-up: the log's first insert cycle under the full load
    val cycle = OpLog.CycleLength
    val (wIns, wLks) = IvmLoad.drive(st, log.base, log.inserts.take(cycle), log.lookups, out)
    Util.log("warm-up cycle (ms): " + wIns.map(r => f"${r.table.take(1)}${r.ms}%.0f").mkString(" "))
    settleHeap()
    val t0 = Util.now()
    val (ins, lks) = IvmLoad.drive(st, log.base, log.inserts.slice(cycle, cycle * (1 + cycles(o.seconds))),
      log.lookups.drop(wLks.size), out)
    val ev = IvmLoad.collectEvents(st.sink, wIns ++ ins, out)
    report(ins, lks, ins.flatMap(r => ev.get(r.id).map(r.id -> _)).toMap)
    Util.log("load done")
    // the mean, not the median: the table mix is fixed but multimodal
    // (grades, and testTable rows that pass the filter, cost more), and a
    // median falls in the gaps between the modes
    m.put("op_ms", Util.mean(ins.filter(_.ok).map(_.ms)), "ms")
    val busyS = (ins.map(_.endNs).maxOption.getOrElse(t0) - t0) / 1e9
    Util.log(f"InsertData/s: ${ins.count(_.ok) / busyS}%.3f, lookups/s: ${lks.count(_.ok) / busyS}%.3f")
    IvmLoad.fromScratchCheck(spark, st.graph, out)
    Util.log("from-scratch check done")
    // probed while the served graph is the only one, before the timed set-ups
    m.put("retained_heap_mb", Util.retainedHeapMb(), "MB")
    st.close()
    settleHeap()
    val setupMs = Util.timedSetups(3)(IvmLoad.setup(spark, log.base))(_.close())
    m.put("setup_s", Util.median(setupMs) / 1000, "s")
  }

  private def report(ins: Seq[OpRec], lks: Seq[OpRec], ev: Map[Int, Double]): Unit = {
    def line(what: String, xs: Seq[Double]): Unit = Util.log(
      f"$what: n=${xs.size} p50=${Util.median(xs)}%.1f ms p90=${Util.percentile(xs, 0.9)}%.1f ms" +
        (if (xs.size < 100) " (p90 has <10 samples beyond it)" else ""))
    line("InsertData", ins.map(_.ms))
    IvmFixture.SourceTables.foreach(t => line(s"  InsertData $t", ins.filter(_.table == t).map(_.ms)))
    line("Event", ev.values.toSeq)
    line("Lookup", lks.map(_.ms))
    Util.log("InsertData in order (ms): " + ins.map(r => f"${r.table.take(1)}${r.ms}%.0f").mkString(" "))
  }

  private def traced(spark: SparkSession, o: Main.Opts, log: OpLog, m: Metrics, out: Outcome,
                     meta: com.fasterxml.jackson.databind.node.ObjectNode): Unit = {
    val (nIns, nLk) = tracedCounts(o.seconds)
    val jobs = new JobStats
    spark.sparkContext.addSparkListener(jobs)
    val st = IvmLoad.setup(spark, log.base)
    warmUp(st, log, out)

    // 1. the op prefix through the server, untraced, with the Spark
    //    listener measuring the window
    jobs.settle()
    val before = jobs.total.snapshot
    val t0 = Util.now()
    val (ins, lks) = IvmLoad.drive(st, log.base, log.inserts.take(nIns), log.lookups, out)
    val wallMs = Util.msSince(t0)
    val ev = IvmLoad.collectEvents(st.sink, ins, out)
    st.close()
    jobs.settle()
    SparkMetrics.put(m, jobs.total.snapshot - before, wallMs, spark.sparkContext.defaultParallelism)
    report(ins, lks, ev)

    // 2. the same ops replayed in-process on two fresh graphs in
    //    lockstep: spans on (attribution) and spans off (overhead)
    val off = new Tracer(spark, enabled = false)
    val on = new Tracer(spark, enabled = true)
    val graphs = (1 to 2).map(_ => IvmFixture.graph(spark, IvmFixture.seedSources(spark, log.base)))
    val replays = graphs.map(g => new Replay(spark, g, off))
    replays.foreach(r => IvmFixture.warmups(log.base).foreach(r.insert))
    replays.head.tracer = on
    val ops: Seq[Op] = (0 until nIns).flatMap { k =>
      log.inserts(k) +: log.lookups.slice(k * nLk / nIns, (k + 1) * nLk / nIns)
    }
    // alternate which arm runs an op first, so neither arm always meets
    // a plan shape cold
    val recs = ops.zipWithIndex.map { case (op, i) =>
      if (i % 2 == 0) { val a = replays(0).run(op); (a, replays(1).run(op)) }
      else { val b = replays(1).run(op); (replays(0).run(op), b) }
    }
    val onMs = recs.map(_._1.totalMs).sum
    val offMs = recs.map(_._2.totalMs).sum
    m.put("trace.overhead_frac", (onMs - offMs) / offMs, "fraction")
    jobs.settle()

    val traced = recs.map(_._1)
    /** Spark work of the op's spans whose name starts with `prefix`. */
    def work(opId: Int, prefix: String): JobSnap =
      on.spans.filter(s => s.opId == opId && s.name.startsWith(prefix))
        .map(s => jobs.group(s.group).snapshot).foldLeft(JobSnap.Zero)(_ + _)
    val insRecs = traced.filter(_.op.isInstanceOf[Insert])
    val lkRecs = traced.filter(_.op.isInstanceOf[Lookup])
    def tableOf(r: Replay#Rec): String = r.op.asInstanceOf[Insert].table

    m.put("net.decode_ms", Util.mean(insRecs.map(_.decodeMs)), "ms")
    m.put("net.encode_ms", Util.mean(insRecs.map(_.encodeMs)), "ms")
    m.put("net.encode_jobs", Util.mean(insRecs.map(r => work(r.op.id, "net.encode").jobs.toDouble)), "count")
    val rtt = (ins ++ lks).map(r => r.id -> r.ms).toMap
    def self(rs: Seq[Replay#Rec]): Double =
      Util.median(rs.flatMap(r => rtt.get(r.op.id).map(_ - r.totalMs)))
    m.put("net.self_ms.insert", self(insRecs), "ms")
    m.put("net.self_ms.lookup", self(lkRecs), "ms")
    m.put("net.resp_bytes.insert", Util.mean(insRecs.map(_.bytes.toDouble)), "bytes")
    m.put("net.resp_bytes.lookup", Util.mean(lkRecs.map(_.bytes.toDouble)), "bytes")
    m.put("net.event_ms", Util.median(ev.values.toSeq), "ms")
    m.put("net.lookup_ms", Util.median(lks.map(_.ms)), "ms")

    Layers.IvmTables.foreach { t =>
      val rs = insRecs.filter(r => tableOf(r) == t)
      val w = rs.map(r => work(r.op.id, s"ivm.cascade.$t"))
      m.put(s"ivm.cascade_ms.$t", Util.mean(rs.map(_.coreMs)), "ms")
      m.put(s"ivm.jobs_per_insert.$t", Util.mean(w.map(_.jobs.toDouble)), "count")
      m.put(s"ivm.tasks_per_insert.$t", Util.mean(w.map(_.tasks.toDouble)), "count")
      m.put(s"ivm.task_ms_per_insert.$t", Util.mean(w.map(_.taskMs.toDouble)), "ms")
      m.put(s"ivm.edits_per_insert.$t", Util.mean(rs.map(_.edits.toDouble)), "count")
    }
    m.put("ivm.listener_ms", Util.mean(insRecs.map(_.listenerMs)), "ms")
    m.put("ivm.listener_jobs",
      Util.mean(insRecs.map(r => work(r.op.id, "ivm.listener").jobs.toDouble)), "count")

    def kindMs(p: Lookup => Boolean): Double =
      Util.mean(lkRecs.filter(r => p(r.op.asInstanceOf[Lookup])).map(_.coreMs))
    m.put("query.find_one_ms", kindMs(_.kind == "FindOne"), "ms")
    m.put("query.get_all_ms", kindMs(_.kind == "GetAll"), "ms")
    m.put("query.range_ms", kindMs(l => l.kind == "LessThan" || l.kind == "GreaterThan"), "ms")
    val lw = lkRecs.map(r => work(r.op.id, "query."))
    m.put("query.jobs_per_lookup", Util.mean(lw.map(_.jobs.toDouble)), "count")
    m.put("query.tasks_per_lookup", Util.mean(lw.map(_.tasks.toDouble)), "count")
    m.put("query.rows_per_lookup", Util.mean(lkRecs.map(_.rows.toDouble)), "count")

    val spanFile = o.work.resolve(s"spans-${o.workload}-seed${o.seed}.jsonl")
    on.write(spanFile, t0, jobs)
    meta.put("spans_file", spanFile.getFileName.toString)
    meta.put("spans", on.spans.size)
    meta.put("traced_ops", s"inserts=$nIns lookups=$nLk")
  }
}

object PipelineWorkload {
  /** Timed passes per run: one per 9 s of the window (a warm pass takes
    * about 9 s on a 4-vCPU host), at least 2. */
  def passes(seconds: Int): Int = math.max(2, seconds / 9)

  def run(spark: SparkSession, o: Main.Opts, m: Metrics, out: Outcome,
          meta: com.fasterxml.jackson.databind.node.ObjectNode): Unit = {
    val root = o.work.resolve("pipeline")
    val dir = root.resolve("data").toString
    val (_, coldMs) = Util.timed(PipelineData.write(spark, o.seed, dir))
    Util.log(f"cold set-up ${coldMs / 1000}%.2f s")
    // the content-check pass is also the JIT warm-up of the timed set-ups
    // (which rewrite the same seeded tables) and of the timed passes
    val checkDir = root.resolve("check").toString
    val expected = PipelinePass.writeResults(spark, dir, checkDir)
    Util.log("content-check pass done")
    if (!o.trace) {
      val setupMs = Util.timedSetups(3)(PipelineData.write(spark, o.seed, dir))(_ => ())
      m.put("setup_s", Util.median(setupMs) / 1000, "s")
    }
    meta.put("check_dir", o.work.relativize(Paths.get(checkDir)).toString)
    meta.put("data_dir", o.work.relativize(Paths.get(dir)).toString)
    meta.put("queries", PipelinePass.Queries.mkString(","))

    val jobs = new JobStats
    val streams = new StreamStats
    if (o.trace) {
      spark.sparkContext.addSparkListener(jobs)
      spark.streams.addListener(streams)
      jobs.settle()
    }
    val tracer = new Tracer(spark, enabled = o.trace)
    def pass(t: Tracer, opId: Int): Seq[PipelinePass.QueryRec] = {
      val recs = PipelinePass.Queries.map { q =>
        val r = try PipelinePass.runQuery(spark, q, dir, t, opId)
          catch { case e: Exception => e.printStackTrace(); PipelinePass.QueryRec(q, 0, 0, 0, -1) }
        PipelinePass.checkRows(out, r, expected)
        r
      }
      Util.log(f"pass $opId: ${recs.map(_.ms).sum / 1000}%.2f s " +
        recs.map(r => f"${r.name}=${r.ms / 1000}%.2f").mkString(" "))
      recs
    }
    IvmWorkload.settleHeap()
    val before = jobs.total.snapshot
    val t0 = Util.now()
    // a fixed number of whole passes, so every run has the same structure
    val all = (0 until passes(o.seconds)).flatMap(pass(tracer, _))
    val wallMs = Util.msSince(t0)
    // mean time of each query over the passes
    val queryMs = PipelinePass.Queries.map(q => q -> Util.mean(all.filter(_.name == q).map(_.ms))).toMap

    if (!o.trace) {
      m.put("op_ms", queryMs.values.sum, "ms")
      Util.log(f"queries/s: ${all.size / (wallMs / 1000)}%.3f")
      m.put("retained_heap_mb", Util.retainedHeapMb(), "MB")
      return
    }
    jobs.settle()
    SparkMetrics.put(m, jobs.total.snapshot - before, wallMs, spark.sparkContext.defaultParallelism)
    val n = passes(o.seconds).toDouble
    m.put("pipeline.build_s", all.map(_.buildMs).sum / n / 1000, "s")
    m.put("pipeline.plan_s", all.map(_.planMs).sum / n / 1000, "s")
    m.put("pipeline.exec_s", all.map(_.execMs).sum / n / 1000, "s")
    PipelinePass.Queries.foreach(q => m.put(s"pipeline.query_s.$q", queryMs(q) / 1000, "s"))
    import scala.jdk.CollectionConverters._
    val batchMs = streams.batchMs.asScala.map(_.doubleValue).toSeq
    m.put("stream.batches", batchMs.size / n, "count")
    m.put("stream.batch_ms_p50", Util.median(batchMs), "ms")
    m.put("stream.rows_per_batch", if (batchMs.isEmpty) 0.0 else streams.rows.get.toDouble / batchMs.size, "count")

    // spans-off arm: one more pass with the tracer disabled
    val offMs = pass(new Tracer(spark, enabled = false), -1).map(_.ms).sum
    m.put("trace.overhead_frac", (queryMs.values.sum - offMs) / offMs, "fraction")

    val spanFile = o.work.resolve(s"spans-${o.workload}-seed${o.seed}.jsonl")
    tracer.write(spanFile, t0, jobs)
    meta.put("spans_file", spanFile.getFileName.toString)
    meta.put("spans", tracer.spans.size)
  }
}
