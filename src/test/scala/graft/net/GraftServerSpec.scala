package graft.net

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import graft.SparkSpec
import graft.config.PipelineConfig
import graft.operators.{ActionRegistry, GraftAction, IncrementalGraph}
import java.io.{DataInputStream, DataOutputStream}
import java.net.Socket
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

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
    private val out = new DataOutputStream(socket.getOutputStream)
    private val in = new DataInputStream(socket.getInputStream)
    def sendRaw(payload: Array[Byte]): Unit = {
      out.writeInt(payload.length); out.write(payload); out.flush()
    }
    def send(json: String): Unit = sendRaw(json.getBytes(UTF_8))
    def recv(): JsonNode = {
      val size = in.readInt()
      val buf = new Array[Byte](size)
      in.readFully(buf)
      mapper.readTree(new String(buf, UTF_8))
    }
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
      assert(jobs == 0, s"$jobs Spark jobs for a one-row InsertData")
      // source row, derived row, and the filter-passing row
      assert(edits.size() == 3)
      assert(edits.get(2).get("newColumn").get("Integer").asLong() == 7L)
    } finally { c.close(); server.close() }
  }
}
