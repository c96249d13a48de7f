package graftbench

import com.fasterxml.jackson.databind.JsonNode
import graft.GraftSession

/** The benchmark's own test: the op log is a pure function of the seed,
  * and every correctness gate counts a corrupted output as a failure.
  * Exits non-zero when a check does not hold. */
object SelfTest {
  private var failures = 0

  private def expect(cond: Boolean, what: String): Unit = {
    println(s"[selftest] ${if (cond) "ok  " else "FAIL"} $what")
    if (!cond) failures += 1
  }

  private def entry(fields: (String, Any)*): JsonNode = {
    val n = Util.mapper.createObjectNode()
    fields.foreach {
      case (k, v: Long) => n.putObject(k).put("Integer", v)
      case (k, v: Int) => n.putObject(k).put("Integer", v.toLong)
      case (k, v) => n.putObject(k).put("Str", v.toString)
    }
    n
  }

  def run(): Unit = {
    val sz = OpLog.Sizes(nTest = 500, nUsers = 100, nInserts = 50, nLookups = 200)
    val a = OpLog.generate(7, sz)
    expect(OpLog.generate(7, sz).sha256 == a.sha256, "one seed gives an identical op log")
    expect(OpLog.generate(8, sz).sha256 != a.sha256, "two seeds give different op logs")
    val tables = a.inserts.groupBy(_.table).view.mapValues(_.size).toMap
    expect(tables("testTable") == 30 && tables("users") == 10 && tables("grades") == 10,
      s"insert mix is 60/20/20 per cycle: $tables")
    val passing = a.inserts.count(i => i.table == "testTable" && i.value("testForIndex").asInstanceOf[Long] < 11)
    expect(passing == 15, s"half the testTable inserts pass filterTest: $passing of 30")
    val lookupKinds = a.lookups.take(40).groupBy(_.kind).view.mapValues(_.size).toMap
    expect(lookupKinds.values.forall(_ == 10), s"each lookup kind is a quarter of the reads: $lookupKinds")

    // InsertData responses: a faithful one passes, a corrupted one fails
    val b = a.base
    val t = a.inserts.find(_.table == "testTable").get
    val idx = t.value("testForIndex").asInstanceOf[Long]
    val it = t.value("testForIteration").asInstanceOf[Long]
    val good = Seq(entry("testForIndex" -> idx, "testForIteration" -> it, "_entryId" -> "e1"),
      entry("newColumn" -> (it + 2), "_sourceEntryId" -> "e1")) ++
      (if (idx < 11) Seq(entry("testForIndex" -> idx, "testForIteration" -> it, "_sourceEntryId" -> "e1")) else Nil)
    expect(Checks.insertResponse(t, good), "a correct InsertData response passes")
    val bad = good.updated(1, entry("newColumn" -> (it + 3), "_sourceEntryId" -> "e1"))
    expect(!Checks.insertResponse(t, bad), "a corrupted derived.newColumn fails")
    expect(!Checks.insertResponse(t, good.take(1)), "a response missing its cascaded row fails")

    // lookups
    val f = a.lookups.find(l => l.kind == "FindOne" && l.table == "testTable").get
    val i = f.key.asInstanceOf[Long] - b.off
    val row = entry("testForIndex" -> b.testIndex(i.toInt), "testForIteration" -> f.key.asInstanceOf[Long])
    expect(Checks.lookup(b, f, Seq(row)), "FindOne returning the seeded row passes")
    expect(!Checks.lookup(b, f, Seq(entry("testForIndex" -> (b.testIndex(i.toInt) + 1),
      "testForIteration" -> f.key.asInstanceOf[Long]))), "FindOne returning a corrupted row fails")
    expect(!Checks.lookup(b, f, Nil), "FindOne returning nothing fails")
    val lt = a.lookups.find(_.kind == "LessThan").get
    val rows = (0 until lt.span).map(k => entry("testForIndex" -> b.testIndex(k), "testForIteration" -> (b.off + k)))
    expect(Checks.lookup(b, lt, rows), "LessThan returning the seeded range passes")
    expect(!Checks.lookup(b, lt, rows ++ rows), "LessThan returning duplicated rows fails")

    // events and the per-table FIFO matcher
    val sink = new EventSink
    sink.expect(t, Util.now())
    val ev = Util.mapper.createObjectNode()
    ev.putObject("ManyResults").putArray("Ok").add(entry("newColumn" -> (it + 5)))
    sink.onEvent("derived", ev)
    expect(sink.delivered.size == 1 && !sink.delivered.peek()._4, "an Event with corrupted content fails")
    sink.onEvent("derived", ev)
    expect(sink.unexpected == 1, "an Event nobody is owed is counted")
    val lost = new EventSink
    lost.expect(t, Util.now())
    val evOut = new Outcome
    IvmLoad.collectEvents(lost, Seq(OpRec(t.id, "insert", t.table, 1.0, ok = true)), evOut, waitMs = 100)
    expect(evOut.failed == 1, "an Event that never arrives fails")

    // pipeline row-count gate
    val rowsOut = new Outcome
    val expectedRows = Map("q05_aggregation" -> 3L)
    PipelinePass.checkRows(rowsOut, PipelinePass.QueryRec("q05_aggregation", 1, 1, 1, 3), expectedRows)
    PipelinePass.checkRows(rowsOut, PipelinePass.QueryRec("q05_aggregation", 1, 1, 1, 4), expectedRows)
    PipelinePass.checkRows(rowsOut, PipelinePass.QueryRec("q05_aggregation", 0, 0, 0, -1), expectedRows)
    expect(rowsOut.attempted == 3 && rowsOut.failed == 2,
      "a timed query with a changed row count, or one that threw, fails")

    // outcome bookkeeping
    val out = new Outcome
    out.record(ok = true, "x"); out.record(ok = false, "corrupted")
    expect(out.attempted == 2 && out.failed == 1, "a failed check counts into failed/attempted")

    // from-scratch table comparison catches a corrupted row
    val spark = GraftSession.getOrCreate("graftbench-selftest")
    try {
      val g = IvmFixture.graph(spark, IvmFixture.seedSources(spark, b))
      val d = g.table("derived")
      expect(IvmLoad.sameRows(d, d), "a table equals itself")
      val corrupt = d.withColumn("newColumn",
        org.apache.spark.sql.functions.when(d("newColumn") === b.off + 2, d("newColumn") + 1)
          .otherwise(d("newColumn")))
      expect(!IvmLoad.sameRows(d, corrupt), "one corrupted derived row is detected")
      val o2 = new Outcome
      IvmLoad.fromScratchCheck(spark, g, o2)
      expect(o2.failed == 0 && o2.attempted == 5, s"a graph matches its from-scratch rebuild ${o2.failures}")
    } finally spark.stop()

    if (failures > 0) {
      println(s"[selftest] $failures check(s) failed")
      sys.exit(1)
    }
    println("[selftest] all checks passed")
  }
}
