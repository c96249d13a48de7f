package graft.net

import graft.SparkSpec
import graft.config.PipelineConfig
import graft.operators.{ActionRegistry, GraftAction, IncrementalGraph}
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import java.io.{DataInputStream, IOException}
import java.net.ServerSocket
import java.nio.ByteBuffer
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.{CountDownLatch, TimeUnit}

/** End-to-end client-SDK flow against the live server — the Scala
  * rendition of the reference's `usage_example.rs`: insert through the
  * client, watch the cascade arrive on a listen subscription, range-query
  * it back. */
class GraftClientSpec extends SparkSpec {

  private val yaml =
    """tables:
      |  - name: grades
      |    kind: source
      |    columns: {name: Str, grade: Integer}
      |  - name: aggregationTest
      |    kind: aggregation
      |    source_table: grades
      |    aggregated_column: name
      |    functions: ["count ~ memo.count + 1", "sum ~ memo.sum + grade"]
      |""".stripMargin

  private def newServer(): GraftServer =
    new GraftServer(new IncrementalGraph(spark, PipelineConfig.fromYaml(yaml)))

  test("insert → cascaded aggregation event on a subscription → range query readback") {
    val server = newServer()
    val client = new GraftClient("127.0.0.1", server.port)
    try {
      val eventLatch = new CountDownLatch(1)
      @volatile var eventValue: JsonNode = null
      client.subscribeToEvent("aggregationTest", "Insert") { v =>
        eventValue = v
        eventLatch.countDown()
      }
      val edits = client.insertData("grades", Map("name" -> "ada", "grade" -> 90L))
      // committed edits include the source row AND the cascaded aggregate
      assert(edits.exists(e => e.has("grade")), s"source row missing from edits: $edits")
      assert(edits.exists(e => e.has("count")), s"cascaded aggregate missing: $edits")

      assert(eventLatch.await(60, TimeUnit.SECONDS), "no listen event within 60s")
      val ok = eventValue.get("ManyResults").get("Ok")
      assert(ok != null && ok.size() == 1)
      assert(ok.get(0).get("count").get("Integer").asLong() == 1L)
      assert(ok.get(0).get("sum").get("Integer").asLong() == 90L)

      // a second insert for the same key raises the aggregate (upsert)
      client.insertData("grades", Map("name" -> "ada", "grade" -> 60L))
      val agg = client.findOne("aggregationTest", "aggregatedColumn", "ada")
      assert(agg.isDefined)
      assert(agg.get.get("sum").get("Integer").asLong() == 150L)

      // range queries through the client: strict lessThan, inclusive >=
      val lo = client.lessThan("grades", "grade", 90L)
      assert(lo.map(_.get("grade").get("Integer").asLong()) == Seq(60L))
      val hi = client.greaterThan("grades", "grade", 60L)
      assert(hi.map(_.get("grade").get("Integer").asLong()).sorted == Seq(60L, 90L))

      // delete cascades; findOne then misses
      client.deleteData("grades", "name", "ada")
      assert(client.findOne("grades", "name", "ada").isEmpty)
    } finally {
      client.close()
      server.close()
    }
  }

  test("concurrent requests from many threads demux correctly by request_id") {
    val server = newServer()
    val client = new GraftClient("127.0.0.1", server.port)
    try {
      (0 until 8).foreach(i =>
        client.insertData("grades", Map("name" -> s"s$i", "grade" -> (i * 10L))))
      val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
      try {
        val futures = (0 until 8).flatMap { i =>
          Seq(
            pool.submit(new java.util.concurrent.Callable[Boolean] {
              def call(): Boolean =
                client.findOne("grades", "name", s"s$i")
                  .exists(_.get("grade").get("Integer").asLong() == i * 10L)
            }),
            pool.submit(new java.util.concurrent.Callable[Boolean] {
              def call(): Boolean =
                client.getAll("grades", "grade", i * 10L)
                  .exists(_.get("name").get("Str").asText() == s"s$i")
            }))
        }
        assert(futures.forall(_.get(120, TimeUnit.SECONDS)),
          "a concurrent request got the wrong (or no) response")
      } finally pool.shutdownNow()
    } finally {
      client.close()
      server.close()
    }
  }

  test("server Err surfaces as a client exception (unknown column)") {
    val server = newServer()
    val client = new GraftClient("127.0.0.1", server.port)
    try {
      val ex = intercept[java.io.IOException] {
        client.getAll("grades", "no_such_column", 1L)
      }
      assert(ex.getMessage.contains("server error"))
    } finally {
      client.close()
      server.close()
    }
  }

  test("a round trip is not held by Nagle's algorithm and delayed ACKs") {
    val mapper = new ObjectMapper()
    val listening = new ServerSocket(0)
    // a stub server: answers every request at once with a fixed response
    // on its request_id, each frame in one write
    val stub = new Thread(() => {
      val socket = listening.accept()
      socket.setTcpNoDelay(true)
      val in = new DataInputStream(socket.getInputStream)
      val out = socket.getOutputStream
      try while (true) {
        val buf = new Array[Byte](in.readInt())
        in.readFully(buf)
        val id = mapper.readTree(buf).get("Query").get("request_id").asText()
        val payload =
          s"""{"RequestResponse":{"request_id":"$id","response":{"OneResult":{"Ok":null}}}}""".getBytes(UTF_8)
        out.write(ByteBuffer.allocate(4 + payload.length).putInt(payload.length).put(payload).array())
      } catch { case _: IOException => } finally socket.close()
    }, "graft-client-spec-stub")
    stub.setDaemon(true)
    stub.start()
    val client = new GraftClient("127.0.0.1", listening.getLocalPort)
    try {
      (1 to 5).foreach(_ => client.findOne("t", "c", 1))
      val ms = (1 to 30).map { _ =>
        val t0 = System.nanoTime()
        assert(client.findOne("t", "c", 1).isEmpty)
        (System.nanoTime() - t0) / 1e6
      }.sorted
      // a frame split over several segments waits ~40 ms for a delayed ACK
      assert(ms(ms.size / 2) < 20.0, f"median round trip ${ms(ms.size / 2)}%.1f ms")
    } finally { client.close(); listening.close() }
  }
}
