package graft.net

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import graft.{Analyses, SparkSpec}
import graft.config.PipelineConfig
import graft.operators.{ActionRegistry, GraftAction, IncrementalGraph}
import java.io.{DataInputStream, DataOutputStream}
import java.net.Socket
import java.nio.ByteBuffer
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.util.concurrent.{CountDownLatch, TimeUnit}
import org.apache.spark.sql.Row
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import scala.jdk.CollectionConverters._

/** One-shot latches that hold a read inside a Spark task and a cascade
  * inside its Action. Both run in task threads of the local-mode
  * executor, so they live in an object, not in a closure. */
object ReadGate {
  val readRunning = new CountDownLatch(1)
  val cascadeInAction = new CountDownLatch(1)
  val release = new CountDownLatch(1)

  def open(): Unit = Seq(readRunning, cascadeInAction, release).foreach(_.countDown())
  /** A read evaluating this waits until a cascade is in the Action. */
  def holdRead(): Unit = {
    readRunning.countDown()
    cascadeInAction.await(20, TimeUnit.SECONDS)
  }
  /** The Action waits here until the test releases it. */
  def holdAction(): Unit = {
    cascadeInAction.countDown()
    release.await(60, TimeUnit.SECONDS)
  }
}

/** Holds a cascade inside its Action until the test releases it. */
object CascadeGate {
  val inAction = new CountDownLatch(1)
  val release = new CountDownLatch(1)
  def hold(): Unit = {
    inAction.countDown()
    release.await(60, TimeUnit.SECONDS)
  }
}

/** End-to-end protocol tests against the reference's own artifacts: the
  * pipeline is reactive_db/test_cfg.yaml, the legacy frames are
  * reactive_db/test_requests.txt replayed byte-for-byte, and the listen
  * cascade is the reactivedb_rust_client usage_example.rs flow. */
class GraftServerSpec extends SparkSpec {
  private val mapper = new ObjectMapper()
  private val NilUuid = "00000000-0000-0000-0000-000000000000"

  // reactive_db/test_cfg.yaml, in this engine's config dialect
  private val yaml =
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

  private def newServer(): GraftServer = {
    ActionRegistry.register(GraftAction("TestAction", identity))
    new GraftServer(new IncrementalGraph(spark, PipelineConfig.fromYaml(yaml)))
  }

  private final class WireClient(port: Int) {
    private val socket = new Socket("127.0.0.1", port)
    socket.setSoTimeout(60000)
    socket.setTcpNoDelay(true)
    private val out = new DataOutputStream(socket.getOutputStream)
    private val in = new DataInputStream(socket.getInputStream)
    def sendRaw(payload: Array[Byte]): Unit = {
      out.writeInt(payload.length); out.write(payload); out.flush()
    }
    def send(json: String): Unit = sendRaw(json.getBytes(UTF_8))
    /** Several frames in one write: the server has them all before it
      * answers the first. */
    def sendAll(jsons: String*): Unit = {
      val payloads = jsons.map(_.getBytes(UTF_8))
      val buf = ByteBuffer.allocate(payloads.map(4 + _.length).sum)
      payloads.foreach(p => buf.putInt(p.length).put(p))
      out.write(buf.array()); out.flush()
    }
    def pending: Int = in.available()
    /** The next frame's payload, as sent. */
    def recvRaw(): String = {
      val size = in.readInt()
      val buf = new Array[Byte](size)
      in.readFully(buf)
      new String(buf, UTF_8)
    }
    def recv(): JsonNode = mapper.readTree(recvRaw())
    /** Skip interleaved messages (e.g. Events vs RequestResponses) until
      * one matches. */
    def recvMatching(pred: JsonNode => Boolean, max: Int = 20): JsonNode = {
      var i = 0
      while (i < max) {
        val m = recv()
        if (pred(m)) return m
        i += 1
      }
      throw new AssertionError(s"no matching message in $max frames")
    }
    def sendCloseFrame(): Unit = sendLength(0)
    def sendLength(n: Int): Unit = { out.writeInt(n); out.flush() }
    def close(): Unit = try socket.close() catch { case _: Exception => () }
  }

  private def response(m: JsonNode): JsonNode = m.get("RequestResponse").get("response")
  private def requestId(m: JsonNode): String = m.get("RequestResponse").get("request_id").asText()
  private def idOf(id: Int): String = f"00000000-0000-0000-0000-$id%012d"
  private def query(id: Int, q: String): String = s"""{"Query":{"request_id":"${idOf(id)}","query":$q}}"""

  /** The test_cfg server with `testTable` seeded with (i, i) for i in 1..20. */
  private def seededServer(): GraftServer = {
    ActionRegistry.register(GraftAction("TestAction", identity))
    val seed = spark.createDataFrame(
      (1L to 20L).map(i => Row(i, i)).asJava,
      StructType(Seq(StructField("testForIndex", LongType), StructField("testForIteration", LongType))))
    new GraftServer(new IncrementalGraph(spark, PipelineConfig.fromYaml(yaml), Map("testTable" -> seed)))
  }

  private def readThreads(port: Int): Seq[Thread] =
    Thread.getAllStackTraces.keySet.asScala.toSeq
      .filter(t => t.isAlive && t.getName == s"graft-net-read-$port")

  private def rows(m: JsonNode): JsonNode = {
    val many = response(m).get("ManyResults")
    assert(many.has("Ok"), s"not Ok: $m")
    many.get("Ok")
  }

  test("replays reference test_requests.txt payloads byte-for-byte (legacy bare-Query frames)") {
    val server = newServer()
    val c = new WireClient(server.port)
    try {
      // file framing: [1-byte length][payload], frames separated by \n\n —
      // extract the payloads untouched and send them over the real 4-byte
      // BE wire framing (client_connection.rs:56-76)
      val bytes = Files.readAllBytes(Paths.get("/root/reference/reactive_db/test_requests.txt"))
      val frames = scala.collection.mutable.ArrayBuffer.empty[Array[Byte]]
      var i = 0
      while (i < bytes.length) {
        val len = bytes(i) & 0xff
        frames += java.util.Arrays.copyOfRange(bytes, i + 1, i + 1 + len)
        i += 1 + len
        while (i < bytes.length && bytes(i) == '\n') i += 1
      }
      assert(frames.length == 2)
      assert(new String(frames(0), UTF_8).startsWith("""{"InsertData""""))

      // frame 1: InsertData testTable {testForIndex:1, testForIteration:2}
      c.sendRaw(frames(0))
      val r1 = c.recv().get("RequestResponse")
      assert(r1.get("request_id").asText() == NilUuid)
      val committed = r1.get("response").get("ManyResults").get("Ok")
      // ALL committed edits come back (db_thread.rs:82-93): the source row
      // plus the cascaded FunctionTransform row in the `derived` table
      assert(committed.size() == 2)
      val entry = committed.get(0)
      assert(entry.get("testForIndex").get("Integer").asLong() == 1L)
      assert(entry.get("testForIteration").get("Integer").asLong() == 2L)
      // the engine stamps _entryId like the reference (constants.rs:2)
      assert(entry.has("_entryId"))
      val cascaded = committed.get(1)
      assert(cascaded.get("newColumn").get("Integer").asLong() == 4L)
      assert(cascaded.has("_sourceEntryId"))

      // frame 2: FindOne testTable testForIndex == 0 → no such row
      c.sendRaw(frames(1))
      val r2 = c.recv().get("RequestResponse")
      assert(r2.get("request_id").asText() == NilUuid)
      assert(r2.get("response").get("OneResult").get("Ok").isNull)

      // and the insert cascaded: the derived function table has the row
      c.send("""{"FindOne":{"table":"derived","column":"newColumn","key":{"Integer":4}}}""")
      val r3 = response(c.recv()).get("OneResult").get("Ok")
      assert(r3.get("newColumn").get("Integer").asLong() == 4L)
    } finally { c.close(); server.close() }
  }

  test("usage_example.rs flow: listen on the action table, insert cascade pushes an Event, range query") {
    val server = newServer()
    val c = new WireClient(server.port)
    try {
      // one connection, like the rust client: StartListen then queries —
      // the single dispatch thread serializes them in arrival order
      c.send("""{"StartListen":{"table_name":"actionTest","event":"Insert"}}""")
      c.send("""{"Query":{"request_id":"11111111-1111-1111-1111-111111111111","query":{"InsertData":{"table":"users","entry":{"age":{"Integer":22},"name":{"Str":"Alex"}}}}}}""")
      val rUsers = c.recvMatching(_.has("RequestResponse"))
      assert(rUsers.get("RequestResponse").get("request_id").asText()
        == "11111111-1111-1111-1111-111111111111")

      c.send("""{"Query":{"request_id":"22222222-2222-2222-2222-222222222222","query":{"InsertData":{"table":"grades","entry":{"grade":{"Integer":95},"name":{"Str":"Alex"}}}}}}""")
      // the grades insert cascades into actionTest → Event on this socket
      val ev = c.recvMatching(_.has("Event")).get("Event")
      assert(ev.get("table_name").asText() == "actionTest")
      assert(ev.get("event").asText() == "Insert")
      val evEntries = ev.get("value").get("ManyResults").get("Ok")
      assert(evEntries.size() == 1)
      assert(evEntries.get(0).get("name").get("Str").asText() == "Alex")
      assert(evEntries.get(0).get("grade").get("Integer").asLong() == 95L)
      c.recvMatching(m => m.has("RequestResponse") &&
        m.get("RequestResponse").get("request_id").asText().startsWith("22222222"))

      // GreaterThan(aggregationTest, sum, 0) — inclusive >=, reference quirk
      c.send("""{"Query":{"request_id":"33333333-3333-3333-3333-333333333333","query":{"GreaterThan":{"table":"aggregationTest","column":"sum","key":{"Integer":0}}}}}""")
      val agg = response(c.recvMatching(_.has("RequestResponse")))
        .get("ManyResults").get("Ok")
      assert(agg.size() == 1)
      assert(agg.get(0).get("sum").get("Integer").asLong() == 95L)
      assert(agg.get(0).get("count").get("Integer").asLong() == 1L)
    } finally { c.close(); server.close() }
  }

  test("wrapped query surface: GetAll, LessThan strict, GreaterThan inclusive, DeleteData cascade") {
    val server = newServer()
    val c = new WireClient(server.port)
    def query(id: String, q: String): JsonNode = {
      c.send(s"""{"Query":{"request_id":"$id","query":$q}}""")
      response(c.recvMatching(m => m.has("RequestResponse") &&
        m.get("RequestResponse").get("request_id").asText() == id))
    }
    try {
      query("00000000-0000-0000-0000-000000000001",
        """{"InsertData":{"table":"grades","entry":{"name":{"Str":"Ana"},"grade":{"Integer":80}}}}""")
      query("00000000-0000-0000-0000-000000000002",
        """{"InsertData":{"table":"grades","entry":{"name":{"Str":"Bo"},"grade":{"Integer":95}}}}""")

      val all = query("00000000-0000-0000-0000-000000000003",
        """{"GetAll":{"table":"grades","column":"name","key":{"Str":"Ana"}}}""")
        .get("ManyResults").get("Ok")
      assert(all.size() == 1 && all.get(0).get("grade").get("Integer").asLong() == 80L)

      // LessThan is STRICT: grade < 95 → only Ana
      val lt = query("00000000-0000-0000-0000-000000000004",
        """{"LessThan":{"table":"grades","column":"grade","key":{"Integer":95}}}""")
        .get("ManyResults").get("Ok")
      assert(lt.size() == 1 && lt.get(0).get("name").get("Str").asText() == "Ana")

      // GreaterThan is INCLUSIVE (btree.rs:208-213 quirk): >= 80 → both,
      // ascending key order
      val ge = query("00000000-0000-0000-0000-000000000005",
        """{"GreaterThan":{"table":"grades","column":"grade","key":{"Integer":80}}}""")
        .get("ManyResults").get("Ok")
      assert(ge.size() == 2)
      assert(ge.get(0).get("grade").get("Integer").asLong() == 80L)
      assert(ge.get(1).get("grade").get("Integer").asLong() == 95L)

      // DeleteData returns ALL deleted edits — the source row AND the
      // cascade-deleted aggregate/action rows (reference database.rs:197-270)
      val del = query("00000000-0000-0000-0000-000000000006",
        """{"DeleteData":{"table":"grades","column":"name","key":{"Str":"Ana"}}}""")
        .get("ManyResults").get("Ok")
      val delRows = (0 until del.size()).map(del.get)
      assert(delRows.exists(r => r.has("grade") && !r.has("count")
        && r.get("grade").get("Integer").asLong() == 80L), s"source row missing: $del")
      assert(delRows.exists(r => r.has("count")), s"cascaded aggregate delete missing: $del")
      val after = query("00000000-0000-0000-0000-000000000007",
        """{"GetAll":{"table":"aggregationTest","column":"aggregatedColumn","key":{"Str":"Ana"}}}""")
        .get("ManyResults").get("Ok")
      assert(after.size() == 0)
    } finally { c.close(); server.close() }
  }

  test("errors answer the client instead of killing the server") {
    val server = newServer()
    val c = new WireClient(server.port)
    try {
      // unknown column → reference-parity hard error, delivered as Err
      c.send("""{"FindOne":{"table":"grades","column":"nope","key":{"Integer":1}}}""")
      val e1 = response(c.recv()).get("OneResult").get("Err")
      assert(e1.asText().contains("No such column"))
      // unknown table on a listen → Err event, not a dispatch-thread panic
      c.send("""{"StartListen":{"table_name":"nope","event":"Insert"}}""")
      val ev = c.recvMatching(_.has("Event")).get("Event")
      assert(ev.get("value").get("ManyResults").get("Err").asText().nonEmpty)
      // the connection and server still work
      c.send("""{"GetAll":{"table":"grades","column":"name","key":{"Str":"x"}}}""")
      assert(response(c.recv()).get("ManyResults").get("Ok").size() == 0)
    } finally { c.close(); server.close() }
  }

  test("zero-length frame closes the connection; the server keeps serving") {
    val server = newServer()
    val c1 = new WireClient(server.port)
    try {
      c1.sendCloseFrame() // client_connection.rs:63-64
      val c2 = new WireClient(server.port)
      try {
        c2.send("""{"GetAll":{"table":"users","column":"name","key":{"Str":"x"}}}""")
        assert(response(c2.recv()).get("ManyResults").get("Ok").size() == 0)
      } finally c2.close()
    } finally { c1.close(); server.close() }
  }

  test("a request that fails in dispatch is answered with an Err on its request_id") {
    val server = newServer()
    val c = new WireClient(server.port)
    def rr(m: JsonNode): JsonNode = m.get("RequestResponse")
    try {
      c.send("""{"Query":{"request_id":"44444444-4444-4444-4444-444444444444","query":{"Bogus":{}}}}""")
      val r1 = rr(c.recv())
      assert(r1.get("request_id").asText() == "44444444-4444-4444-4444-444444444444")
      assert(r1.get("response").get("ManyResults").get("Err").asText().contains("Bogus"))
      // no query body at all
      c.send("""{"Query":{"request_id":"55555555-5555-5555-5555-555555555555"}}""")
      val r2 = rr(c.recv())
      assert(r2.get("request_id").asText() == "55555555-5555-5555-5555-555555555555")
      assert(r2.get("response").get("ManyResults").has("Err"))
      // an unknown top-level kind has no request_id: answered on the nil one
      c.send("""{"Bogus":{}}""")
      val r3 = rr(c.recv())
      assert(r3.get("request_id").asText() == NilUuid)
      assert(r3.get("response").get("ManyResults").has("Err"))
    } finally { c.close(); server.close() }
  }

  test("a frame that is not JSON is answered with an Err on the nil request_id; the connection keeps serving") {
    val server = newServer()
    val c = new WireClient(server.port)
    try {
      c.send("""{"GetAll": not json""")
      val r = c.recv().get("RequestResponse")
      assert(r.get("request_id").asText() == NilUuid)
      assert(r.get("response").get("ManyResults").has("Err"))
      c.send("""{"GetAll":{"table":"users","column":"name","key":{"Str":"x"}}}""")
      assert(response(c.recv()).get("ManyResults").get("Ok").size() == 0)
    } finally { c.close(); server.close() }
  }

  /** A length prefix the server refuses: the connection closes, and the
    * server keeps serving others. */
  private def refusesLength(length: Int): Unit = {
    val server = newServer()
    val c1 = new WireClient(server.port)
    try {
      c1.sendLength(length)
      val closed = intercept[java.io.IOException](c1.recv())
      assert(!closed.isInstanceOf[java.net.SocketTimeoutException], "the connection was left open")
      val c2 = new WireClient(server.port)
      try {
        c2.send("""{"GetAll":{"table":"users","column":"name","key":{"Str":"x"}}}""")
        assert(response(c2.recv()).get("ManyResults").get("Ok").size() == 0)
      } finally c2.close()
    } finally { c1.close(); server.close() }
  }

  test("a negative length prefix closes the connection; the server keeps serving") {
    refusesLength(-5)
  }

  test("a length prefix over the frame cap closes the connection without allocating it") {
    refusesLength(Int.MaxValue)
  }

  // Every byte but the arrays' matches what the server sent before rows
  // were rendered without a frame; an array column then failed the whole
  // answer with a ClassCastException (Spark hands arrays back as a
  // mutable.ArraySeq).
  test("an InsertData response and its Event keep their exact wire bytes for every tag; a null column is omitted") {
    val server = new GraftServer(new IncrementalGraph(spark, PipelineConfig.fromYaml(
      """tables:
        |  - name: zoo
        |    kind: source
        |    columns: {i: Integer, s: Str, b: Bool, d: Decimal, f: Float, a: "array<integer>", n: Str}
        |  - name: zooFn
        |    kind: function
        |    source_table: zoo
        |    functions:
        |      - 'm ~ named_struct("k", i, "t", s)'
        |      - 'd2 ~ d * 2'
        |      - 'f2 ~ f + 1'
        |      - 'a2 ~ a'
        |      - 'b2 ~ b'
        |      - 'n2 ~ n'
        |""".stripMargin)))
    val c = new WireClient(server.port)
    try {
      c.send("""{"StartListen":{"table_name":"zooFn","event":"Insert"}}""")
      c.send(query(1, """{"InsertData":{"table":"zoo","entry":{"i":{"Integer":7},"s":{"Str":"x\"y"},""" +
        """"b":{"Bool":true},"d":{"Decimal":"1.5"},"f":{"Float":2.25},""" +
        """"a":{"Array":[{"Integer":1},{"Integer":2}]},"_entryId":{"Str":"fixed-id"}}}}"""))
      val zooFn = """{"m":{"Map":{"k":{"Integer":7},"t":{"Str":"x\"y"}}},""" +
        """"d2":{"Decimal":"3.000000"},"f2":{"Float":3.25},""" +
        """"a2":{"Array":[{"Integer":1},{"Integer":2}]},"b2":{"Bool":true},"_sourceEntryId":{"Str":"fixed-id"}}"""
      assert(c.recvRaw() == s"""{"Event":{"table_name":"zooFn","event":"Insert","value":{"ManyResults":{"Ok":[$zooFn]}}}}""")
      assert(c.recvRaw() == s"""{"RequestResponse":{"request_id":"${idOf(1)}","response":{"ManyResults":{"Ok":[""" +
        """{"i":{"Integer":7},"s":{"Str":"x\"y"},"b":{"Bool":true},"d":{"Decimal":"1.500000000000000000"},""" +
        """"f":{"Float":2.25},"a":{"Array":[{"Integer":1},{"Integer":2}]},"_entryId":{"Str":"fixed-id"}},""" +
        s"""$zooFn]}}}}""")
    } finally { c.close(); server.close() }
  }

  test("a one-row InsertData through source→function→filter runs no Spark job, rendering included") {
    val server = new GraftServer(new IncrementalGraph(spark, PipelineConfig.fromYaml(
      """tables:
        |  - name: testTable
        |    kind: source
        |    columns: {testForIndex: Integer, testForIteration: Integer}
        |  - name: derived
        |    kind: function
        |    source_table: testTable
        |    functions: ["newColumn ~ testForIteration + 2"]
        |  - name: passing
        |    kind: filter
        |    source_table: derived
        |    filter: "newColumn > 3"
        |""".stripMargin)))
    val c = new WireClient(server.port)
    def insert(it: Int): JsonNode = {
      c.send(s"""{"InsertData":{"table":"testTable","entry":{"testForIndex":{"Integer":1},"testForIteration":{"Integer":$it}}}}""")
      response(c.recv()).get("ManyResults").get("Ok")
    }
    try {
      insert(1)
      var edits: JsonNode = null
      val jobs = jobsDuring { edits = insert(5) }
      assert(jobs.count == 0, s"$jobs for a one-row InsertData")
      // source row, derived row, and the filter-passing row
      assert(edits.size() == 3)
      assert(edits.get(2).get("newColumn").get("Integer").asLong() == 7L)
    } finally { c.close(); server.close() }
  }

  test("a one-row InsertData resolves no plan once its nodes are bound, its response and Event included") {
    val server = newServer()
    val c = new WireClient(server.port)
    def insert(id: Int, it: Int): (JsonNode, JsonNode) = {
      c.send(query(id, s"""{"InsertData":{"table":"testTable","entry":{"testForIndex":{"Integer":1},"testForIteration":{"Integer":$it}}}}"""))
      val event = c.recv()
      (event, c.recv())
    }
    try {
      c.send("""{"StartListen":{"table_name":"derived","event":"Insert"}}""")
      insert(1, 20)
      var answer: (JsonNode, JsonNode) = null
      val caller = Thread.currentThread()
      var analyses = Analyses(Nil)
      val jobs = jobsDuring {
        analyses = analysesOn(t => (t eq caller) || t.getName.startsWith("graft-net-")) { answer = insert(2, 30) }
      }
      assert(analyses.count == 0, s"$analyses for a one-row InsertData")
      assert(jobs.count == 0, s"$jobs for a one-row InsertData")
      val (event, resp) = answer
      assert(event.get("Event").get("value").get("ManyResults").get("Ok").get(0).get("newColumn").get("Integer").asLong() == 32L)
      // source row, derived row, and the filter-passing row
      assert(rows(resp).size() == 3)
    } finally { c.close(); server.close() }
  }

  test("a read is answered while an InsertData cascade is blocked in an Action; the cascade then commits") {
    spark.udf.register("graftTestHoldRead", (x: Long) => { ReadGate.holdRead(); x })
    ActionRegistry.register(GraftAction("HoldingAction", row => { ReadGate.holdAction(); row }))
    val users = spark.createDataFrame(java.util.Arrays.asList(Row("Ann", 30L)),
      StructType(Seq(StructField("name", StringType), StructField("age", LongType))))
    val server = new GraftServer(new IncrementalGraph(spark, PipelineConfig.fromYaml(
      """tables:
        |  - name: users
        |    kind: source
        |    columns: {name: Str, age: Integer}
        |  - name: heldUsers
        |    kind: function
        |    source_table: users
        |    functions: ["heldAge ~ graftTestHoldRead(age)"]
        |  - name: grades
        |    kind: source
        |    columns: {name: Str, grade: Integer}
        |  - name: actionTest
        |    kind: action
        |    source_table: grades
        |    action: HoldingAction
        |""".stripMargin), Map("users" -> users)))
    val reader = new WireClient(server.port)
    val writer = new WireClient(server.port)
    try {
      reader.send(query(1, """{"FindOne":{"table":"heldUsers","column":"heldAge","key":{"Integer":30}}}"""))
      assert(ReadGate.readRunning.await(30, TimeUnit.SECONDS),
        s"the read never ran: ${if (reader.pending > 0) reader.recv() else "no answer"}")
      // the read is running and waits for the cascade to reach the Action
      writer.send(query(2, """{"InsertData":{"table":"grades","entry":{"name":{"Str":"Bo"},"grade":{"Integer":7}}}}"""))
      val read = reader.recv()
      assert(ReadGate.cascadeInAction.getCount == 0,
        "the read was answered before the cascade started: it held the dispatch thread")
      assert(requestId(read) == idOf(1))
      assert(response(read).get("OneResult").get("Ok").get("heldAge").get("Integer").asLong() == 30L)
      assert(writer.pending == 0, "the InsertData was answered while its Action was blocked")
      ReadGate.release.countDown()
      val edits = response(writer.recv()).get("ManyResults").get("Ok")
      assert(edits.size() == 2, s"source and action rows: $edits")
      reader.send(query(3, """{"GetAll":{"table":"actionTest","column":"name","key":{"Str":"Bo"}}}"""))
      assert(response(reader.recv()).get("ManyResults").get("Ok").size() == 1)
    } finally { ReadGate.open(); reader.close(); writer.close(); server.close() }
  }

  test("pipelined InsertData and reads on one connection are answered in send order, each read seeing the edits before it") {
    val server = seededServer()
    val c = new WireClient(server.port)
    def insert(it: Int) =
      s"""{"InsertData":{"table":"testTable","entry":{"testForIndex":{"Integer":7},"testForIteration":{"Integer":$it}}}}"""
    // a Str key on an Integer column: the index leaves the read to Spark,
    // which casts the key, so each read runs Spark jobs
    val getAll = """{"GetAll":{"table":"testTable","column":"testForIndex","key":{"Str":"7"}}}"""
    def iterations(m: JsonNode): Set[Long] = {
      val ok = response(m).get("ManyResults").get("Ok")
      (0 until ok.size()).map(i => ok.get(i).get("testForIteration").get("Integer").asLong()).toSet
    }
    try {
      // each read runs Spark jobs on the read thread; the insert after it
      // runs none on the dispatch thread, so it finishes first unless order
      // is kept
      var answers = Seq.empty[JsonNode]
      val jobs = jobsDuring {
        c.sendAll(query(1, getAll), query(2, insert(500)), query(3, getAll), query(4, insert(501)),
          query(5, getAll))
        answers = (1 to 5).map(_ => c.recv())
      }
      assert(jobs.count >= 3, s"$jobs: the reads must run Spark jobs for an insert to overtake")
      assert(answers.map(requestId) == (1 to 5).map(idOf))
      assert(iterations(answers(0)) == Set(7L))
      assert(iterations(answers(2)) == Set(7L, 500L))
      assert(iterations(answers(4)) == Set(7L, 500L, 501L))
    } finally { c.close(); server.close() }
  }

  test("a failing read gets an Err on its own request_id and the connection keeps serving") {
    val server = seededServer()
    server.maxResultRows = 3
    val c = new WireClient(server.port)
    try {
      c.sendAll(
        // fails on the read pool: no such column
        query(1, """{"FindOne":{"table":"testTable","column":"nope","key":{"Integer":1}}}"""),
        // fails while planned: no such table
        query(2, """{"GetAll":{"table":"nope","column":"x","key":{"Integer":1}}}"""),
        // fails on the read pool while rendering: over maxResultRows
        query(3, """{"LessThan":{"table":"testTable","column":"testForIndex","key":{"Integer":200}}}"""),
        query(4, """{"GetAll":{"table":"testTable","column":"testForIndex","key":{"Integer":5}}}"""))
      val answers = (1 to 4).map(_ => c.recv())
      assert(answers.map(requestId) == (1 to 4).map(idOf))
      assert(response(answers(0)).get("OneResult").get("Err").asText().contains("No such column"))
      assert(response(answers(1)).get("ManyResults").get("Err").asText().contains("nope"))
      assert(response(answers(2)).get("ManyResults").get("Err").asText().contains("maxResultRows"))
      assert(response(answers(3)).get("ManyResults").get("Ok").size() == 1)
    } finally { c.close(); server.close() }
  }

  test("reads run on the server's read thread, and close() leaves none of its threads") {
    val server = seededServer()
    val port = server.port
    val c = new WireClient(port)
    try {
      c.send(query(1, """{"GetAll":{"table":"testTable","column":"testForIndex","key":{"Integer":5}}}"""))
      assert(response(c.recv()).get("ManyResults").get("Ok").size() == 1)
      assert(readThreads(port).nonEmpty, "the read did not run on the read thread")
    } finally { c.close(); server.close() }
    val deadline = System.nanoTime() + TimeUnit.SECONDS.toNanos(5)
    while (readThreads(port).nonEmpty && System.nanoTime() < deadline) Thread.sleep(10)
    assert(readThreads(port).isEmpty, s"left after close(): ${readThreads(port).map(_.getName)}")
  }

  test("a read from another connection is answered from the committed state while a cascade is blocked, before that edit's Event") {
    ActionRegistry.register(GraftAction("GatedAction", row => { CascadeGate.hold(); row }))
    val server = new GraftServer(new IncrementalGraph(spark, PipelineConfig.fromYaml(
      """tables:
        |  - name: grades
        |    kind: source
        |    columns: {name: Str, grade: Integer}
        |  - name: gatedTest
        |    kind: action
        |    source_table: grades
        |    action: GatedAction
        |""".stripMargin)))
    val reader = new WireClient(server.port)
    val writer = new WireClient(server.port)
    val getBo = """{"GetAll":{"table":"grades","column":"name","key":{"Str":"Bo"}}}"""
    try {
      reader.send("""{"StartListen":{"table_name":"grades","event":"Insert"}}""")
      // behind the StartListen in the dispatch loop: the listen is live
      reader.send(query(1, getBo))
      assert(rows(reader.recv()).size() == 0)
      writer.send(query(2, """{"InsertData":{"table":"grades","entry":{"name":{"Str":"Bo"},"grade":{"Integer":7}}}}"""))
      assert(CascadeGate.inAction.await(30, TimeUnit.SECONDS), "the cascade never reached its Action")
      reader.send(query(3, getBo))
      val deadline = System.nanoTime() + TimeUnit.SECONDS.toNanos(20)
      while (reader.pending == 0 && System.nanoTime() < deadline) Thread.sleep(10)
      assert(reader.pending > 0, "the read waited for another connection's cascade")
      val read = reader.recv()
      assert(requestId(read) == idOf(3))
      assert(rows(read).size() == 0, s"the read saw an uncommitted edit: $read")
      assert(writer.pending == 0, "the InsertData was answered while its Action was blocked")
      CascadeGate.release.countDown()
      assert(rows(writer.recv()).size() == 2)
      val event = reader.recv()
      assert(event.has("Event"), s"the edit's Event should follow the read: $event")
      reader.send(query(4, getBo))
      assert(rows(reader.recv()).size() == 1)
    } finally { CascadeGate.release.countDown(); reader.close(); writer.close(); server.close() }
  }

  test("reads pipelined beside deletes and compacting inserts on another connection never stall (3 rounds)") {
    ActionRegistry.register(GraftAction("TestAction", identity))
    val long = StructType(Seq(StructField("testForIndex", LongType), StructField("testForIteration", LongType)))
    val graded = StructType(Seq(StructField("name", StringType), StructField("grade", LongType)))
    val server = new GraftServer(new IncrementalGraph(spark, PipelineConfig.fromYaml(yaml), Map(
      "testTable" -> spark.createDataFrame((1L to 20L).map(i => Row(i, i)).asJava, long),
      "grades" -> spark.createDataFrame((0 until 12).map(i => Row(s"g${i % 4}", i.toLong)).asJava, graded))))
    val reader = new WireClient(server.port)
    val writer = new WireClient(server.port)
    val writing = new java.util.concurrent.atomic.AtomicBoolean(true)
    val readErrors = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val readCount = new java.util.concurrent.atomic.AtomicInteger
    // (sent, answered, position in its batch, answer) of each read
    val answered = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long, Int, JsonNode)]()
    // (sent, answered) of each edit, in commit order
    val edits = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()
    // one connection reads a materialized aggregation, a Function view and
    // the source the writer compacts, three frames in flight at a time
    val readerThread = new Thread(() => try {
      var id = 0
      while (writing.get) {
        val ids = (id + 1 to id + 3).toVector
        id += 3
        val sent = System.nanoTime()
        reader.sendAll(
          query(ids(0), """{"GreaterThan":{"table":"aggregationTest","column":"count","key":{"Integer":0}}}"""),
          query(ids(1), """{"LessThan":{"table":"derived","column":"newColumn","key":{"Integer":7}}}"""),
          query(ids(2), """{"GreaterThan":{"table":"testTable","column":"testForIndex","key":{"Integer":18}}}"""))
        ids.zipWithIndex.foreach { case (want, i) =>
          val m = reader.recv()
          if (requestId(m) != idOf(want) || !response(m).get("ManyResults").has("Ok")) readErrors.add(m.toString)
          else answered.add((sent, System.nanoTime(), i, rows(m)))
          readCount.incrementAndGet()
        }
      }
    } catch { case e: Exception => readErrors.add(e.toString) }, "graft-test-pipelined-reader")
    def edit(id: Int, q: String): JsonNode = {
      val sent = System.nanoTime()
      writer.send(query(id, q))
      val m = writer.recv()
      if (id > 10000) edits.add((sent, System.nanoTime()))
      m
    }
    val work = scala.concurrent.Future {
      var id = 10000
      (0 until 3).foreach { round =>
        id += 1
        assert(rows(edit(id, s"""{"DeleteData":{"table":"grades","column":"name","key":{"Str":"g$round"}}}""")).size() > 0)
        // past IncrementalGraph.CompactAt local rows, which a resident
        // testTable takes without a compaction
        (0 until 65).foreach { i =>
          id += 1
          val it = 1000 * (round + 1) + i
          rows(edit(id, s"""{"InsertData":{"table":"testTable","entry":{"testForIndex":{"Integer":$it},"testForIteration":{"Integer":$it}}}}"""))
        }
        id += 1
        rows(edit(id, s"""{"InsertData":{"table":"grades","entry":{"name":{"Str":"g3"},"grade":{"Integer":$round}}}}"""))
      }
    }(scala.concurrent.ExecutionContext.global)
    try {
      readerThread.start()
      try scala.concurrent.Await.result(work, scala.concurrent.duration.Duration(240, "s"))
      finally writing.set(false)
      readerThread.join(TimeUnit.SECONDS.toMillis(60))
      assert(!readerThread.isAlive, "the reader stalled")
      assert(readErrors.isEmpty, readErrors.asScala.take(3).mkString("\n"))
      assert(readCount.get > 0)
      // each read saw the committed state after some k edits: at least
      // every edit answered before it was sent, none sent after its answer
      type Seen = (Map[String, Long], Set[Long], Seq[Long])
      val states = (0 until 3).foldLeft(Vector[Seen]((Map("g0" -> 3L, "g1" -> 3L, "g2" -> 3L, "g3" -> 3L),
          (1L to 20L).toSet, (3L to 6L)))) { case (acc, round) =>
        val afterDelete = acc :+ acc.last.copy(_1 = acc.last._1 - s"g$round")
        val afterInserts = (0 until 65).foldLeft(afterDelete) { (a, i) =>
          a :+ a.last.copy(_2 = a.last._2 + (1000L * (round + 1) + i)) }
        afterInserts :+ afterInserts.last.copy(_1 = afterInserts.last._1.updated("g3", afterInserts.last._1("g3") + 1))
      }
      val done = edits.asScala.toVector
      assert(done.size == states.size - 1)
      def longs(entries: JsonNode, c: String): Seq[Long] = (0 until entries.size()).map(entries.get(_).get(c).get("Integer").asLong())
      answered.asScala.foreach { case (sent, got, i, entries) =>
        val lo = done.count(_._2 < sent)
        val hi = done.count(_._1 < got)
        val matches: Seen => Boolean = i match {
          case 0 => _._1 == (0 until entries.size()).map(j =>
            entries.get(j).get("aggregatedColumn").get("Str").asText() -> entries.get(j).get("count").get("Integer").asLong()).toMap
          case 1 => _._3 == longs(entries, "newColumn")
          case _ => st => longs(entries, "testForIndex") == st._2.filter(_ >= 18).toSeq.sorted
        }
        assert((lo to hi).exists(k => matches(states(k))),
          s"read ${i + 1} of its batch saw no committed state between edits $lo and $hi: $entries")
      }
      val all = edit(1, """{"GreaterThan":{"table":"testTable","column":"testForIndex","key":{"Integer":0}}}""")
      assert(rows(all).size() == 20 + 3 * 65)
      // g0..g2 were deleted, so only g3's group is left
      val g3 = rows(edit(2, """{"GreaterThan":{"table":"aggregationTest","column":"count","key":{"Integer":0}}}"""))
      assert(g3.size() == 1 && g3.get(0).get("count").get("Integer").asLong() == 3 + 3)
    } finally { writing.set(false); reader.close(); writer.close(); server.close() }
  }

  test("FindOne, GetAll, LessThan and GreaterThan on resident tables run no Spark job and resolve no plan") {
    val server = seededServer()
    val c = new WireClient(server.port)
    def ask(id: Int, kind: String, table: String, column: String, key: String): JsonNode = {
      c.send(query(id, s"""{"$kind":{"table":"$table","column":"$column","key":$key}}"""))
      val m = c.recv()
      assert(requestId(m) == idOf(id))
      response(m)
    }
    // a source, a Function view, an Aggregation and a Union, each read on
    // a column and key that hit
    val reads = Seq(
      ("testTable", "testForIndex", """{"Integer":5}"""),
      ("derived", "newColumn", """{"Integer":7}"""),
      ("aggregationTest", "aggregatedColumn", """{"Str":"Alex"}"""),
      ("unionTest", "matchingKey", """{"Str":"Alex"}"""))
    val kinds = Seq("FindOne", "GetAll", "LessThan", "GreaterThan")
    try {
      c.send(query(1, """{"InsertData":{"table":"users","entry":{"name":{"Str":"Alex"},"age":{"Integer":22}}}}"""))
      c.recv()
      c.send(query(2, """{"InsertData":{"table":"grades","entry":{"name":{"Str":"Alex"},"grade":{"Integer":90}}}}"""))
      c.recv()
      // a first read of each table, before the counted ones
      reads.zipWithIndex.foreach { case ((t, col, key), i) => ask(10 + i, "GetAll", t, col, key) }
      val caller = Thread.currentThread()
      var answers = Seq.empty[JsonNode]
      var analyses = Analyses(Nil)
      val jobs = jobsDuring {
        analyses = analysesOn(t => (t eq caller) || t.getName.startsWith("graft-net-")) {
          answers = for (((t, col, key), i) <- reads.zipWithIndex; (kind, j) <- kinds.zipWithIndex)
            yield ask(100 + 4 * i + j, kind, t, col, key)
        }
      }
      assert(jobs.count == 0, s"$jobs for reads of resident tables")
      assert(analyses.count == 0, s"$analyses for reads of resident tables")
      def entries(r: JsonNode): Seq[JsonNode] = Option(r.get("OneResult")).map(o => Seq(o.get("Ok")))
        .getOrElse { val ok = r.get("ManyResults").get("Ok"); (0 until ok.size()).map(ok.get) }
      def longs(r: JsonNode, c: String): Seq[Long] = entries(r).map(_.get(c).get("Integer").asLong())
      // testTable holds (i, i) for i in 1..20; derived adds newColumn = i + 2
      assert(longs(answers(0), "testForIndex") == Seq(5L))
      assert(longs(answers(1), "testForIteration") == Seq(5L))
      assert(longs(answers(2), "testForIndex") == (1L to 4L))
      assert(longs(answers(3), "testForIndex") == (5L to 20L))
      assert(longs(answers(4), "newColumn") == Seq(7L))
      assert(longs(answers(6), "newColumn") == (3L to 6L))
      assert(longs(answers(7), "newColumn") == (7L to 22L))
      assert(longs(answers(9), "sum") == Seq(90L))
      assert(entries(answers(10)).isEmpty && longs(answers(11), "count") == Seq(1L))
      assert(longs(answers(13), "age") == Seq(22L) && longs(answers(15), "grade") == Seq(90L))
    } finally { c.close(); server.close() }
  }

  test("a subscriber that stops reading is disconnected past its queue cap; other connections are answered throughout") {
    val server = new GraftServer(new IncrementalGraph(spark, PipelineConfig.fromYaml(
      """tables:
        |  - name: notes
        |    kind: source
        |    columns: {id: Integer, body: Str}
        |  - name: grades
        |    kind: source
        |    columns: {name: Str, grade: Integer}
        |""".stripMargin)))
    def writers(): Set[Thread] =
      Thread.getAllStackTraces.keySet.asScala.filter(t => t.isAlive && t.getName.startsWith("graft-net-writer-")).toSet
    val others = writers()
    // a small receive window: the server's writer blocks after a few frames
    val stalled = new Socket()
    stalled.setReceiveBufferSize(4096)
    stalled.connect(new java.net.InetSocketAddress("127.0.0.1", server.port))
    val stalledOut = new DataOutputStream(stalled.getOutputStream)
    val c = new WireClient(server.port)
    val body = "x" * 4096
    try {
      val listen = """{"StartListen":{"table_name":"notes","event":"Insert"}}""".getBytes(UTF_8)
      stalledOut.writeInt(listen.length); stalledOut.write(listen); stalledOut.flush()
      // the listen is live once a read queued behind it on that connection
      // would be answered; here, once the first insert's Event is queued
      c.send(query(1, """{"InsertData":{"table":"grades","entry":{"name":{"Str":"Bo"},"grade":{"Integer":1}}}}"""))
      assert(rows(c.recv()).size() == 1)
      // the writers of this test's two connections
      val ours = writers() -- others
      assert(ours.size == 2, s"writer threads: $ours")
      var n = 0
      while (ours.forall(_.isAlive) && n < 20000) {
        n += 1
        c.send(query(10 + n, s"""{"InsertData":{"table":"notes","entry":{"id":{"Integer":$n},"body":{"Str":"$body"}}}}"""))
        val m = c.recv()
        assert(requestId(m) == idOf(10 + n) && rows(m).size() == 1, s"insert $n: $m")
        if (n % 50 == 0) {
          c.send(query(5, """{"GetAll":{"table":"grades","column":"name","key":{"Str":"Bo"}}}"""))
          assert(rows(c.recv()).size() == 1, s"a read after $n inserts")
        }
      }
      assert(ours.count(_.isAlive) == 1, s"the stalled subscriber was not disconnected after $n inserts")
      assert(n > 1024, s"disconnected after only $n Events")
      // the other connection keeps being answered
      c.send(query(6, """{"GetAll":{"table":"notes","column":"id","key":{"Integer":1}}}"""))
      assert(rows(c.recv()).size() == 1)
      // the subscriber gets what was sent before the close, then the end
      val in = new DataInputStream(stalled.getInputStream)
      stalled.setSoTimeout(30000)
      var events = 0
      val ended = try { while (true) { val b = new Array[Byte](in.readInt()); in.readFully(b); events += 1 }; false }
        catch {
          case _: java.net.SocketTimeoutException => false
          case _: java.io.IOException => true
        }
      assert(ended && events < n, s"$events of $n Events before the end")
    } finally { stalled.close(); c.close(); server.close() }
  }

  test("a closed subscriber's subscriptions end with its connection: a later insert renders no Event for it") {
    ActionRegistry.register(GraftAction("TestAction", identity))
    val graph = new IncrementalGraph(spark, PipelineConfig.fromYaml(yaml))
    val server = new GraftServer(graph)
    val long = StructType(Seq(StructField("testForIndex", LongType), StructField("testForIteration", LongType)))
    def insert(i: Long): Unit = graph.insert("testTable", spark.createDataFrame(Seq(Row(i, i)).asJava, long))
    // the subscriptions that an edit of derived notifies
    def subscribers: Int = graph.listenerCount("derived")
    val (gone, kept) = (new WireClient(server.port), new WireClient(server.port))
    def event(c: WireClient): JsonNode = c.recvMatching(_.has("Event"))
    try {
      insert(1)
      assert(subscribers == 0)
      Seq(gone, kept).zipWithIndex.foreach { case (c, i) =>
        c.send("""{"StartListen":{"table_name":"derived","event":"Insert"}}""")
        // a read behind the listen on its connection is answered once the
        // listen is live
        c.send(query(i + 1, """{"GetAll":{"table":"derived","column":"newColumn","key":{"Integer":3}}}"""))
        assert(rows(c.recvMatching(_.has("RequestResponse"))).size() == 1)
      }
      assert(subscribers == 2)
      insert(2)
      Seq(gone, kept).foreach(c => assert(event(c).get("Event").get("table_name").asText() == "derived"))
      gone.close()
      // the server learns of the close on that connection's reader thread
      val deadline = System.nanoTime() + TimeUnit.SECONDS.toNanos(10)
      while (subscribers == 2 && System.nanoTime() < deadline) Thread.sleep(50)
      assert(subscribers == 1, s"$subscribers subscriptions after one of two subscribers closed")
      insert(3)
      assert(event(kept).get("Event").get("table_name").asText() == "derived")
      assert(subscribers == 1)
    } finally { gone.close(); kept.close(); server.close() }
  }

  test("fuzzed frames get an Err or a close; the dispatch and read threads live on and a fresh connection is answered") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    val server = seededServer()
    val port = server.port
    def dispatchAlive: Boolean = Thread.getAllStackTraces.keySet.asScala.exists(t => t.isAlive && t.getName == "graft-net-dispatch")
    def nested(depth: Int): String = """{"a":""" * depth + "1" + "}" * depth
    // whole frames: each must be answered with an Err, and only that
    val wrongShape: Gen[String] = Gen.oneOf(
      Gen.const("""{"Query":{"query":{"FindOne":{"table":"testTable","column":"testForIndex","key":{"Integer":1}}}}}"""),
      Gen.const("""{"Query":{"request_id":"x","query":{"GetAll":{"table":7,"column":"c","key":{"Integer":1}}}}}"""),
      Gen.const("""{"FindOne":{"table":["testTable"],"column":"testForIndex","key":{"Integer":1}}}"""),
      Gen.alphaStr.map(tag => s"""{"GetAll":{"table":"testTable","column":"testForIndex","key":{"No$tag":1}}}"""),
      Gen.alphaStr.map(kind => s"""{"Query":{"request_id":"x","query":{"Un$kind":{}}}}"""),
      Gen.alphaStr.map(kind => s"""{"Un$kind":{"table":"testTable"}}"""),
      Gen.choose(1, 3000).map(d => s"""{"Query":{"request_id":"x","query":{"FindOne":${nested(d)}}}}"""),
      Gen.choose(1, 3000).map(nested),
      Gen.choose(1, 3000).map(d => "[" * d + "]" * d),
      Gen.const("{}"), Gen.const("null"), Gen.const("[]"), Gen.const("\"\""))
    sealed trait Frames
    final case class Whole(json: String) extends Frames
    final case class Raw(bytes: Array[Byte]) extends Frames
    final case class Truncated(json: String, keep: Int) extends Frames
    final case class Prefix(length: Int) extends Frames
    val frames: Gen[Frames] = Gen.frequency(
      4 -> wrongShape.map(Whole),
      2 -> Gen.choose(0, 64).flatMap(n => Gen.listOfN(n, Gen.choose(Byte.MinValue, Byte.MaxValue))).map(b => Raw(b.toArray)),
      2 -> wrongShape.flatMap(j => Gen.choose(0, j.length).map(Truncated(j, _))),
      2 -> Gen.oneOf(Gen.const(0), Gen.choose(Int.MinValue, -1), Gen.choose((16 << 20) + 1, Int.MaxValue)).map(Prefix))
    val p = Prop.forAll(frames) { f =>
      val socket = new Socket("127.0.0.1", port)
      socket.setSoTimeout(30000)
      val out = new DataOutputStream(socket.getOutputStream)
      val in = new DataInputStream(socket.getInputStream)
      def answers(): Seq[JsonNode] = {
        val got = scala.collection.mutable.ArrayBuffer.empty[JsonNode]
        try while (true) { val b = new Array[Byte](in.readInt()); in.readFully(b); got += mapper.readTree(new String(b, UTF_8)) }
        catch { case _: java.io.IOException => }
        got.toSeq
      }
      def isErr(m: JsonNode): Boolean = Option(m.get("RequestResponse")).map(_.get("response"))
        .exists(r => r.properties().asScala.exists(e => e.getValue.has("Err")))
      try f match {
        case Whole(json) =>
          val b = json.getBytes(UTF_8)
          out.writeInt(b.length); out.write(b); out.flush()
          val m = mapper.readTree({ val b2 = new Array[Byte](in.readInt()); in.readFully(b2); new String(b2, UTF_8) })
          isErr(m)
        case Raw(bytes) =>
          out.write(bytes); out.flush(); socket.shutdownOutput()
          answers().forall(isErr)
        case Truncated(json, keep) =>
          val b = json.getBytes(UTF_8)
          out.writeInt(b.length); out.write(b, 0, math.min(keep, b.length - 1)); out.flush(); socket.shutdownOutput()
          answers().isEmpty
        case Prefix(length) =>
          out.writeInt(length); out.flush()
          answers().isEmpty // closed by the server, with no answer
      } finally socket.close()
    }
    try {
      val r = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(60), p)
      assert(r.passed, r.status.toString)
      assert(dispatchAlive, "the dispatch thread died")
      val c = new WireClient(port)
      try {
        c.send(query(1, """{"FindOne":{"table":"testTable","column":"testForIndex","key":{"Integer":3}}}"""))
        val m = c.recv()
        assert(requestId(m) == idOf(1))
        assert(response(m).get("OneResult").get("Ok").get("testForIteration").get("Integer").asLong() == 3L)
        assert(readThreads(port).nonEmpty, "the read thread died")
      } finally c.close()
    } finally server.close()
  }
}
