package graftbench

import com.fasterxml.jackson.databind.JsonNode
import graft.ListenEvent
import graft.config.PipelineConfig
import graft.net.{GraftClient, GraftServer}
import graft.operators.{ActionRegistry, GraftAction, IncrementalGraph, QueryService}
import graft.sources.TaggedJson
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import java.util.concurrent.ConcurrentLinkedQueue

/** The reference `test_cfg.yaml` cascade (FIXTURES.md §A), all 8 tables,
  * with `TestAction` = identity. */
object IvmFixture {
  val Yaml: String =
    """tables:
      |  - name: testTable
      |    kind: source
      |    columns: {testForIndex: Integer, testForIteration: Integer}
      |  - name: users
      |    kind: source
      |    columns: {name: Str, age: Integer}
      |  - name: grades
      |    kind: source
      |    columns: {name: Str, grade: Integer}
      |  - name: derived
      |    kind: function
      |    source_table: testTable
      |    functions: ["newColumn ~ testForIteration + 2"]
      |  - name: unionTest
      |    kind: union
      |    tables_and_foreign_keys: [[users, name], [grades, name]]
      |  - name: filterTest
      |    kind: filter
      |    source_table: testTable
      |    filter: "(testForIndex < 11) && (testForIteration > 14)"
      |  - name: aggregationTest
      |    kind: aggregation
      |    source_table: grades
      |    aggregated_column: name
      |    functions: ["count ~ memo.count + 1", "sum ~ memo.sum + grade", "average ~ memo.sum / memo.count"]
      |  - name: actionTest
      |    kind: action
      |    source_table: grades
      |    action: TestAction
      |""".stripMargin

  val SourceTables: Seq[String] = Seq("testTable", "users", "grades")
  val ListenTables: Seq[String] = Seq("derived", "aggregationTest", "unionTest")

  def config: PipelineConfig = PipelineConfig.fromYaml(Yaml)

  def graph(spark: SparkSession, sources: Map[String, DataFrame]): IncrementalGraph = {
    ActionRegistry.register(GraftAction("TestAction", identity))
    new IncrementalGraph(spark, config, sources)
  }

  def seedSources(spark: SparkSession, b: Base): Map[String, DataFrame] = {
    val slices = spark.sparkContext.defaultParallelism
    def frame(rows: Seq[Row], cols: (String, DataType)*): DataFrame =
      spark.createDataFrame(spark.sparkContext.parallelize(rows, slices),
        StructType(cols.map { case (n, t) => StructField(n, t) }))
    Map(
      "testTable" -> frame(b.testIndex.indices.map(i => Row(b.testIndex(i), b.off + i)),
        "testForIndex" -> LongType, "testForIteration" -> LongType),
      "users" -> frame(b.userAge.indices.map(j => Row(b.userName(j), b.userAge(j))),
        "name" -> StringType, "age" -> LongType),
      "grades" -> frame(b.grade.indices.map(j => Row(b.userName(j), b.grade(j))),
        "name" -> StringType, "grade" -> LongType))
  }

  /** Number of Insert events one insert into `table` pushes. */
  def eventCount(table: String): Int = if (table == "grades") 2 else 1

  /** (table, key) of each Insert event an insert must push. */
  def expectedEvents(op: Insert): Seq[(String, String)] = op.table match {
    case "testTable" => Seq("derived" -> (op.value("testForIteration").asInstanceOf[Long] + 2).toString)
    case "users" => Seq("unionTest" -> op.value("name").toString)
    case _ => Seq("unionTest" -> op.value("name").toString, "aggregationTest" -> op.value("name").toString)
  }

  /** Tagged-JSON entry of an insert, the wire form a client sends. */
  def entryJson(op: Insert): String = {
    val n = Util.mapper.createObjectNode()
    op.entry.foreach {
      case (k, v: Long) => n.putObject(k).put("Integer", v)
      case (k, v) => n.putObject(k).put("Str", v.toString)
    }
    Util.mapper.writeValueAsString(n)
  }

  /** Warm-up inserts of a traced run, one per source table, down the paths
    * the logged inserts take: a testTable row that passes the filter, a new
    * user, and a grade for a seeded user. The new keys are far from every
    * logged key, so no check moves. */
  def warmups(b: Base): Seq[Insert] = Seq(
    Insert(-1, "testTable", Seq("testForIndex" -> 1L, "testForIteration" -> (b.off + 50000000L))),
    Insert(-2, "users", Seq("name" -> s"${b.salt}_warm", "age" -> 30L)),
    Insert(-3, "grades", Seq("name" -> b.userName(0), "grade" -> 50L)))
}

/** Content checks on tagged entries (the JsonNodes a client receives). */
object Checks {
  def long(e: JsonNode, c: String): Option[Long] =
    Option(e.get(c)).flatMap(v => Option(v.get("Integer"))).map(_.asLong)
  def str(e: JsonNode, c: String): Option[String] =
    Option(e.get(c)).flatMap(v => Option(v.get("Str"))).map(_.asText)
  def num(e: JsonNode, c: String): Option[BigDecimal] =
    Option(e.get(c)).flatMap { v =>
      Option(v.get("Integer")).map(x => BigDecimal(x.asLong))
        .orElse(Option(v.get("Decimal")).map(x => BigDecimal(x.asText)))
    }

  /** Every InsertData response carries its source row and its cascaded
    * rows, e.g. `derived.newColumn == testForIteration + 2`. */
  def insertResponse(op: Insert, es: Seq[JsonNode]): Boolean = op.table match {
    case "testTable" =>
      val idx = op.value("testForIndex").asInstanceOf[Long]
      val it = op.value("testForIteration").asInstanceOf[Long]
      val rows = es.filter(e => long(e, "testForIteration").contains(it))
      val srcOk = rows.exists(e => long(e, "testForIndex").contains(idx))
      val derivedOk = es.count(e => long(e, "newColumn").contains(it + 2)) == 1
      val passes = idx < 11 && it > 14
      srcOk && derivedOk && rows.size == (if (passes) 2 else 1)
    case "users" =>
      val name = op.value("name").toString
      val age = op.value("age").asInstanceOf[Long]
      es.exists(e => str(e, "name").contains(name) && long(e, "age").contains(age)) &&
        es.exists(e => str(e, "matchingKey").contains(name) && long(e, "age").contains(age))
    case _ =>
      val name = op.value("name").toString
      val grade = op.value("grade").asInstanceOf[Long]
      es.count(e => str(e, "name").contains(name) && long(e, "grade").contains(grade)) == 2 &&
        es.exists(e => str(e, "matchingKey").contains(name) && long(e, "grade").contains(grade)) &&
        es.exists(e => str(e, "aggregatedColumn").contains(name) && num(e, "count").exists(_ >= 1))
  }

  /** Every lookup returns the seeded rows it targets. */
  def lookup(b: Base, l: Lookup, es: Seq[JsonNode]): Boolean = {
    def testRowOk(e: JsonNode, i: Long): Boolean =
      long(e, "testForIteration").contains(b.off + i) && long(e, "testForIndex").contains(b.testIndex(i.toInt))
    (l.kind, l.table) match {
      case ("FindOne", "testTable") =>
        es.size == 1 && testRowOk(es.head, l.key.asInstanceOf[Long] - b.off)
      case ("FindOne", "derived") =>
        es.size == 1 && long(es.head, "newColumn").contains(l.key.asInstanceOf[Long])
      case ("FindOne", "users") =>
        val name = l.key.toString
        val j = name.substring(b.salt.length + 1).toInt
        es.size == 1 && str(es.head, "name").contains(name) && long(es.head, "age").contains(b.userAge(j))
      case ("GetAll", _) =>
        es.size == 1 && str(es.head, "aggregatedColumn").contains(l.key.toString) &&
          num(es.head, "count").exists(_ >= 1)
      case ("LessThan", _) =>
        es.size == l.span && es.indices.forall(i => testRowOk(es(i), i.toLong))
      case ("GreaterThan", _) =>
        val first = b.nTest - l.span
        es.size >= l.span && (0 until l.span).forall(i => testRowOk(es(i), (first + i).toLong)) &&
          es.drop(l.span).forall(e => long(e, "testForIteration").exists(_ >= b.off + b.nTest))
      case _ => false
    }
  }

  def eventValue(table: String, key: String, value: JsonNode): Boolean = {
    val ok = Option(value.get("ManyResults")).flatMap(m => Option(m.get("Ok")))
    ok.exists { arr =>
      (0 until arr.size()).map(arr.get).exists { e =>
        table match {
          case "derived" => long(e, "newColumn").map(_.toString).contains(key)
          case "unionTest" => str(e, "matchingKey").contains(key)
          case _ => str(e, "aggregatedColumn").contains(key)
        }
      }
    }
  }
}

/** Matches pushed Event frames to the inserts that caused them: events of
  * one table arrive in commit order, so each table keeps a FIFO of the
  * (op, key, send time) it still owes. */
final class EventSink {
  private val owed = scala.collection.mutable.Map.empty[String, java.util.ArrayDeque[(Int, String, Long)]]
  /** (op id, table, latency ms, content ok) per delivered event. */
  val delivered = new ConcurrentLinkedQueue[(Int, String, Double, Boolean)]()
  @volatile var unexpected = 0

  def expect(op: Insert, sentNs: Long): Unit = synchronized {
    IvmFixture.expectedEvents(op).foreach { case (t, k) =>
      owed.getOrElseUpdate(t, new java.util.ArrayDeque()).add((op.id, k, sentNs))
    }
  }

  def onEvent(table: String, value: JsonNode): Unit = {
    val at = Util.now()
    synchronized {
      val head = owed.get(table).flatMap(q => Option(q.poll()))
      head match {
        case Some((id, key, sent)) =>
          delivered.add((id, table, (at - sent) / 1e6, Checks.eventValue(table, key, value)))
        case None => unexpected += 1
      }
    }
  }

  def pending: Int = synchronized(owed.values.map(_.size).sum)
}

/** One seeded graph behind a server, with a writer, a reader and a
  * listener connection. */
final class Stack(val graph: IncrementalGraph, val server: GraftServer) {
  val sink = new EventSink
  val writer = new GraftClient("127.0.0.1", server.port)
  val reader = new GraftClient("127.0.0.1", server.port)
  val listener = new GraftClient("127.0.0.1", server.port)
  IvmFixture.ListenTables.foreach(t => listener.subscribeToEvent(t, "Insert")(v => sink.onEvent(t, v)))

  def close(): Unit = {
    Seq(writer, reader, listener).foreach(_.close())
    server.close()
  }
}

/** Client-side record of one op; `endNs` is when its answer arrived. */
final case class OpRec(id: Int, kind: String, table: String, ms: Double, ok: Boolean,
                       endNs: Long = Util.now())

object IvmLoad {
  /** Seed, bootstrap, start the server, connect and subscribe. The
    * StartListen frames are handled on the dispatch thread; the read
    * behind them returns once the subscriptions are live. */
  def setup(spark: SparkSession, b: Base): Stack = {
    val g = IvmFixture.graph(spark, IvmFixture.seedSources(spark, b))
    val stack = new Stack(g, new GraftServer(g))
    stack.listener.findOne("users", "name", b.userName(0))
    stack
  }

  def runInsert(stack: Stack, op: Insert): (Seq[JsonNode], Double) = {
    val sent = Util.now()
    stack.sink.expect(op, sent)
    val resp = stack.writer.insertData(op.table, op.entry.toMap)
    (resp, Util.msSince(sent))
  }

  def runLookup(c: GraftClient, l: Lookup): (Seq[JsonNode], Double) = Util.timed {
    l.kind match {
      case "FindOne" => c.findOne(l.table, l.column, l.key).toSeq
      case "GetAll" => c.getAll(l.table, l.column, l.key)
      case "LessThan" => c.lessThan(l.table, l.column, l.key)
      case _ => c.greaterThan(l.table, l.column, l.key)
    }
  }

  /** Closed loop: one writer and one reader connection, each sending its
    * next op when the previous answer arrives. The writer sends every one
    * of `inserts`; the reader reads until the writer stops, so every insert
    * meets the same contention. Returns (insert recs, lookup recs). */
  def drive(stack: Stack, base: Base, inserts: Seq[Insert], lookups: Seq[Lookup],
            out: Outcome): (Seq[OpRec], Seq[OpRec]) = {
    val writing = new java.util.concurrent.atomic.AtomicBoolean(true)
    def loop[O <: Op](name: String, ops: Seq[O], more: () => Boolean, atEnd: () => Unit)(
        run: O => OpRec): (Thread, ConcurrentLinkedQueue[OpRec]) = {
      val recs = new ConcurrentLinkedQueue[OpRec]()
      val t = new Thread(() => try {
        val it = ops.iterator
        while (it.hasNext && more()) {
          val op = it.next()
          val rec = try run(op) catch { case e: Exception =>
            Util.log(s"op #${op.id} threw $e")
            OpRec(op.id, "error", "", 0, ok = false)
          }
          out.record(rec.ok, s"${rec.kind} ${rec.table} op #${op.id} failed")
          recs.add(rec)
        }
      } finally atEnd(), name)
      t.start()
      (t, recs)
    }
    val (w, insRecs) = loop("graftbench-writer", inserts, () => true, () => writing.set(false)) { op =>
      val (resp, ms) = runInsert(stack, op)
      OpRec(op.id, "insert", op.table, ms, Checks.insertResponse(op, resp))
    }
    val (r, lkRecs) = loop("graftbench-reader", lookups, () => writing.get, () => ()) { l =>
      val (resp, ms) = runLookup(stack.reader, l)
      OpRec(l.id, l.kind, l.table, ms, Checks.lookup(base, l, resp))
    }
    w.join(); r.join()
    import scala.jdk.CollectionConverters._
    (insRecs.asScala.toSeq, lkRecs.asScala.toSeq)
  }

  /** Every expected Event must arrive within `waitMs`; returns per-insert
    * event latency (time to the last of its events). */
  def collectEvents(sink: EventSink, done: Seq[OpRec], out: Outcome, waitMs: Long = 15000): Map[Int, Double] = {
    val deadline = Util.now() + waitMs * 1000000L
    while (sink.pending > 0 && Util.now() < deadline) Thread.sleep(20)
    import scala.jdk.CollectionConverters._
    val got = sink.delivered.asScala.toSeq
    val byOp = got.groupBy(_._1)
    done.foreach { r =>
      val want = IvmFixture.eventCount(r.table)
      val evs = byOp.getOrElse(r.id, Nil)
      out.record(evs.size == want && evs.forall(_._4),
        s"insert #${r.id} (${r.table}): ${evs.size}/$want events, content ok=${evs.forall(_._4)}")
    }
    out.record(sink.unexpected == 0, s"${sink.unexpected} unexpected Event frames")
    byOp.map { case (id, evs) => id -> evs.map(_._3).max }
  }

  /** At the end of a run each derived table must equal the same table of
    * a graph built from scratch over the final source tables (multiset
    * equality, `_entryId` ignored). `unionTest` upserts by key, so its
    * reference is built over the latest source row per key — the rule the
    * union rebuild path applies (max `_entryId` = latest edit). */
  def fromScratchCheck(spark: SparkSession, g: IncrementalGraph, out: Outcome): Unit = {
    val finalSrc = IvmFixture.SourceTables.map(t => t -> g.table(t)).toMap
    val fresh = IvmFixture.graph(spark, finalSrc)
    Seq("derived", "filterTest", "aggregationTest", "actionTest").foreach { t =>
      out.record(sameRows(g.table(t), fresh.table(t)), s"$t differs from a from-scratch graph")
    }
    def latest(df: DataFrame): DataFrame = {
      val w = Window.partitionBy("name").orderBy(col("_entryId").desc)
      df.withColumn("__rn", row_number().over(w)).where(col("__rn") === 1).drop("__rn")
    }
    val upserts = IvmFixture.graph(spark,
      Map("users" -> latest(finalSrc("users")), "grades" -> latest(finalSrc("grades"))))
    out.record(sameRows(g.table("unionTest"), upserts.table("unionTest")),
      "unionTest differs from the union of the latest source rows per key")
  }

  /** Multiset equality of two tables' rows, `_entryId` ignored. */
  def sameRows(a: DataFrame, b: DataFrame): Boolean = {
    val cols = a.columns.filterNot(_ == "_entryId").sorted
    if (!b.columns.filterNot(_ == "_entryId").sorted.sameElements(cols)) return false
    def rows(df: DataFrame): Seq[String] =
      df.select(cols.map(col).toIndexedSeq: _*).collect().map(_.toString).toSeq.sorted
    rows(a) == rows(b)
  }
}

/** In-process replay of an op log through the same public calls the
  * server makes: TaggedJson decode + createDataFrame, insertWithEdits
  * (with `listen` callbacks rendering like the server's listener
  * fan-out), QueryService reads, and toLocalIterator + toTaggedJson
  * rendering. */
final class Replay(spark: SparkSession, g: IncrementalGraph, var tracer: Tracer) {
  final case class Rec(op: Op, totalMs: Double, decodeMs: Double, coreMs: Double,
                       listenerMs: Double, encodeMs: Double, rows: Int, bytes: Long, edits: Int)

  private val queries = new QueryService(g.table _)
  private var opId = 0
  private var listenerMs = 0.0

  IvmFixture.ListenTables.foreach { t =>
    g.listen(t, ListenEvent.Insert) { (ins, _) =>
      val (_, ms) = tracer.span("ivm.listener", opId)(render(ins))
      listenerMs += ms
    }
  }

  private def render(df: DataFrame): (Int, Long) = {
    val schema = df.schema
    val it = df.toLocalIterator()
    var n = 0
    var bytes = 0L
    while (it.hasNext) {
      bytes += TaggedJson.toTaggedJson(it.next(), schema).length
      n += 1
    }
    (n, bytes)
  }

  def insert(op: Insert): Rec = {
    opId = op.id
    listenerMs = 0.0
    val t0 = Util.now()
    val (df, decodeMs) = tracer.span("net.decode", op.id) {
      val (schema, row) = TaggedJson.parseEntry(IvmFixture.entryJson(op))
      spark.createDataFrame(java.util.Arrays.asList(row), schema)
    }
    val (edits, cascadeMs) = tracer.span(s"ivm.cascade.${op.table}", op.id)(g.insertWithEdits(op.table, df))
    val ((rows, bytes), encodeMs) = tracer.span("net.encode", op.id) {
      edits.map { case (_, ins, _) => render(ins) }
        .foldLeft((0, 0L)) { case ((a, b), (c, d)) => (a + c, b + d) }
    }
    Rec(op, Util.msSince(t0), decodeMs, cascadeMs - listenerMs, listenerMs, encodeMs, rows, bytes,
      edits.size)
  }

  def lookup(l: Lookup): Rec = {
    opId = l.id
    val t0 = Util.now()
    val (rows, queryMs) = tracer.span(s"query.${l.kind}", l.id) {
      val df = l.kind match {
        case "FindOne" => queries.findOne(l.table, l.column, l.key)
        case "GetAll" => queries.getAll(l.table, l.column, l.key)
        case "LessThan" => queries.lessThan(l.table, l.column, l.key)
        case _ => queries.greaterThan(l.table, l.column, l.key)
      }
      val buf = scala.collection.mutable.ArrayBuffer.empty[Row]
      val it = df.toLocalIterator()
      while (it.hasNext) buf += it.next()
      (df.schema, buf.toSeq)
    }
    val (bytes, encodeMs) = tracer.span("net.encode", l.id) {
      rows._2.map(r => TaggedJson.toTaggedJson(r, rows._1).length.toLong).sum
    }
    Rec(l, Util.msSince(t0), 0.0, queryMs, 0.0, encodeMs, rows._2.size, bytes, 0)
  }

  def run(op: Op): Rec = op match {
    case i: Insert => insert(i)
    case l: Lookup => lookup(l)
  }
}
