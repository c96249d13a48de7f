package graft.net

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.ObjectNode
import java.io.DataInputStream
import java.net.Socket
import java.nio.charset.StandardCharsets.UTF_8
import java.util.UUID
import java.util.concurrent.{ArrayBlockingQueue, ConcurrentHashMap, CopyOnWriteArrayList, TimeUnit}

/** Client SDK over the tagged-JSON TCP protocol — the counterpart of the
  * reference's Rust client (`reactivedb_rust_client/src/client.rs:47-138`:
  * request/response correlation by `request_id`, listen callbacks fed from
  * the same connection) and Python client
  * (`reactive_db_python_client/.../client.py:30-110`). One reader thread
  * demultiplexes `RequestResponse` frames (routed to the blocked caller by
  * request id) from `Event` frames (fanned out to subscribed callbacks) —
  * the same split the reference implements with a broadcast channel.
  *
  * Values use the tagged encoding (`{"Integer": 5}`, `{"Str": "x"}`, ...);
  * results are returned as raw tagged `JsonNode` entries, exactly what the
  * reference clients hand their callers.
  */
final class GraftClient(host: String, port: Int, timeoutMs: Int = 60000)
    extends AutoCloseable {
  private val mapper = new ObjectMapper()
  private val socket = new Socket(host, port)
  socket.setSoTimeout(timeoutMs)
  // with Nagle's algorithm a frame sent while an earlier one is unacked
  // waits for the server's delayed ACK
  socket.setTcpNoDelay(true)
  private val out = socket.getOutputStream
  private val in = new DataInputStream(socket.getInputStream)
  private val pending = new ConcurrentHashMap[String, ArrayBlockingQueue[JsonNode]]()
  private val listeners = new CopyOnWriteArrayList[(String, String, JsonNode => Unit)]()
  @volatile private var running = true

  /** Read exactly n bytes, tolerating idle SO_TIMEOUTs at ANY point: a
    * timeout between frames (0 bytes consumed — a listen subscriber
    * waiting out a quiet hour) or mid-frame (header half-arrived, server
    * GC pause) just resumes reading with the consumed prefix intact, so
    * the frame stream can never desync or kill the reader. Request
    * timeouts are enforced by queue.poll in query(), not here. Returns
    * null on EOF, or when `running` is cleared mid-read — so shutdown
    * terminates the reader even if a refactor stops closing the socket
    * (the retry loop must not depend solely on the socket-close side
    * channel to exit). */
  private def readExactly(n: Int): Array[Byte] = {
    val buf = new Array[Byte](n)
    var off = 0
    while (off < n) {
      if (!running) return null
      val r =
        try in.read(buf, off, n - off)
        catch { case _: java.net.SocketTimeoutException => 0 }
      if (r < 0) return null
      off += r
    }
    buf
  }

  private val reader = new Thread(() => {
    try {
      var eof = false
      while (running && !eof) {
        val hdr = readExactly(4)
        val size = if (hdr == null) { eof = true; -1 }
                   else java.nio.ByteBuffer.wrap(hdr).getInt
        if (size > 0) {
          val buf = readExactly(size)
          if (buf == null) { eof = true }
          else {
          val root = mapper.readTree(new String(buf, UTF_8))
          if (root.has("RequestResponse")) {
            val rr = root.get("RequestResponse")
            val q = pending.remove(rr.get("request_id").asText())
            if (q != null) q.offer(rr.get("response"))
          } else if (root.has("Event")) {
            val ev = root.get("Event")
            val table = ev.get("table_name").asText()
            val event = ev.get("event").asText()
            listeners.forEach { l =>
              if (l._1 == table && l._2 == event) l._3(ev.get("value"))
            }
          }
          }
        }
      }
    } catch { case _: Exception => () /* socket closed */ }
  }, s"graft-client-reader-$host-$port")
  reader.setDaemon(true)
  reader.start()

  /** Encode a Scala value into the tagged wire form. */
  private def tagged(v: Any): ObjectNode = {
    val n = mapper.createObjectNode()
    v match {
      case i: Int => n.put("Integer", i.toLong)
      case l: Long => n.put("Integer", l)
      case s: String => n.put("Str", s)
      case b: Boolean => n.put("Bool", b)
      case d: BigDecimal => n.put("Decimal", d.toString)
      case d: java.math.BigDecimal => n.put("Decimal", d.toString)
      case f: Double => n.put("Float", f)
      case f: Float => n.put("Float", f.toDouble)
      case other => throw new IllegalArgumentException(
        s"cannot encode ${other.getClass.getSimpleName} as a tagged value")
    }
    n
  }

  /** Length prefix and payload go out in ONE write: written apart on an
    * unbuffered socket they are separate segments, and Nagle's algorithm
    * holds the payload until the server's delayed ACK of the prefix. */
  private def sendFrame(root: JsonNode): Unit = {
    val payload = mapper.writeValueAsString(root).getBytes(UTF_8)
    val frame = java.nio.ByteBuffer.allocate(4 + payload.length)
      .putInt(payload.length).put(payload).array() // big-endian, like the wire
    out.synchronized(out.write(frame))
  }

  private def query(kind: String)(fill: ObjectNode => Unit): JsonNode = {
    val requestId = UUID.randomUUID().toString
    val queue = new ArrayBlockingQueue[JsonNode](1)
    pending.put(requestId, queue)
    val root = mapper.createObjectNode()
    val q = root.putObject("Query")
    q.put("request_id", requestId)
    fill(q.putObject("query").putObject(kind))
    sendFrame(root)
    val resp = queue.poll(timeoutMs.toLong, TimeUnit.MILLISECONDS)
    if (resp == null) {
      pending.remove(requestId)
      throw new java.io.IOException(s"no response to $kind within ${timeoutMs}ms")
    }
    resp
  }

  private def keyed(kind: String, table: String, column: String, key: Any): JsonNode =
    query(kind) { b =>
      b.put("table", table)
      b.put("column", column)
      b.set[ObjectNode]("key", tagged(key))
    }

  private def manyOf(resp: JsonNode): Seq[JsonNode] = {
    val ok = resp.get("ManyResults").get("Ok")
    if (ok == null) {
      throw new java.io.IOException(
        s"server error: ${resp.get("ManyResults").get("Err").asText()}")
    }
    (0 until ok.size()).map(ok.get)
  }

  /** First entry with `column == key`, or None. A server `Err` (unknown
    * table/column) raises, mirroring [[manyOf]] — it is NOT a "no match". */
  def findOne(table: String, column: String, key: Any): Option[JsonNode] = {
    val one = keyed("FindOne", table, column, key).get("OneResult")
    val ok = one.get("Ok")
    if (ok == null) {
      throw new java.io.IOException(s"server error: ${one.get("Err").asText()}")
    }
    if (ok.isNull) None else Some(ok)
  }

  /** All entries with `column == key`. */
  def getAll(table: String, column: String, key: Any): Seq[JsonNode] =
    manyOf(keyed("GetAll", table, column, key))

  /** Entries with `column < key` (strict), ascending. */
  def lessThan(table: String, column: String, key: Any): Seq[JsonNode] =
    manyOf(keyed("LessThan", table, column, key))

  /** Entries with `column >= key` (inclusive — the reference quirk). */
  def greaterThan(table: String, column: String, key: Any): Seq[JsonNode] =
    manyOf(keyed("GreaterThan", table, column, key))

  /** Insert one entry; returns every committed edit including cascaded
    * derived-table writes (the reference's InsertData response). */
  def insertData(table: String, entry: Map[String, Any]): Seq[JsonNode] =
    manyOf(query("InsertData") { b =>
      b.put("table", table)
      val e = b.putObject("entry")
      entry.foreach { case (k, v) => e.set[ObjectNode](k, tagged(v)) }
    })

  /** Delete all entries with `column == key`; returns the deleted edits. */
  def deleteData(table: String, column: String, key: Any): Seq[JsonNode] =
    manyOf(keyed("DeleteData", table, column, key))

  /** Subscribe to a table's change stream ("Insert" or "Delete" events);
    * the callback receives each event's `ManyResults` value node on the
    * reader thread — keep it fast, hand off heavy work. */
  def subscribeToEvent(table: String, event: String)(callback: JsonNode => Unit): Unit = {
    listeners.add((table, event, callback))
    val root = mapper.createObjectNode()
    val sl = root.putObject("StartListen")
    sl.put("table_name", table)
    sl.put("event", event)
    sendFrame(root)
  }

  override def close(): Unit = {
    running = false
    try socket.close() catch { case _: Exception => () }
  }
}
