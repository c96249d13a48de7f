package graft.net

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.ObjectNode
import graft.ListenEvent
import graft.operators.{IncrementalGraph, QueryService, Resident}
import graft.sources.TaggedJson
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types.StructType
import java.io.{BufferedOutputStream, DataInputStream, DataOutputStream}
import java.net.{ServerSocket, Socket, SocketException}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.UUID
import java.util.concurrent.{Callable, ConcurrentLinkedQueue, Executors, Future, LinkedBlockingQueue, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

/** TCP tagged-JSON network façade — the reference's only network ingress
  * (reference: reactive_db/src/networking/client_connection.rs:56-76,
  * server.rs:28-50, dispatch db_thread.rs:52-113), fronting an
  * [[IncrementalGraph]] so every reference client (reactivedb_rust_client/
  * src/client.rs:47-65, reactive_db_python_client/client.py:18-44) can speak
  * to the Spark engine unchanged.
  *
  * Wire format: 4-byte big-endian length + UTF-8 JSON frame, both ways.
  * A zero-length frame closes the connection (client_connection.rs:63-64).
  *
  * Requests (`DBRequest`, externally tagged like serde):
  *   - `{"Query":{"request_id":"<uuid>","query":{<Query>}}}`
  *   - `{"StartListen":{"table_name":"t","event":"Insert"|"Delete"}}`
  *   - legacy bare `Query` frames with no wrapper/request_id (the shape in
  *     reactive_db/test_requests.txt:1-3) are accepted and answered with
  *     the nil UUID as request_id.
  *
  * Query variants (network_types.rs:58-81): FindOne | LessThan | GetAll |
  * GreaterThan (inclusive >=, the reference's btree quirk — QueryService) |
  * InsertData | DeleteData. Keys and entries use the tagged encoding
  * ([[TaggedJson]], e.g. `{"Integer": 5}`).
  *
  * Responses (`ToClientMessage`):
  *   - `{"RequestResponse":{"request_id":id,"response":<DBResponse>}}`
  *   - `{"Event":{"table_name":t,"event":e,"value":<DBResponse>}}` pushed
  *     per committed edit to StartListen subscribers, value =
  *     ManyResults(Ok(entries)) exactly like the reference's ListenerHook
  *     (listener_hook.rs:56-87).
  *   - `DBResponse` mirrors serde's Result encoding:
  *     `{"ManyResults":{"Ok":[entry…]}}` / `{"OneResult":{"Ok":entry|null}}`
  *     / `{"…":{"Err":"message"}}`.
  *
  * Threading: one dispatch thread runs every edit and listen, in arrival
  * order across connections, as the reference's db_thread.rs serializes
  * every query through one thread; each connection has a reader and a
  * writer thread (client_connection.rs:10-25). A read (FindOne, GetAll,
  * LessThan, GreaterThan) is planned against the graph's last committed
  * state ([[IncrementalGraph.pinnedAt]]): by the connection's reader thread
  * as it arrives, or, when that connection still has requests in the
  * dispatch loop, by the dispatch thread after them. So a read never waits
  * for another connection's edit, and a read after an insert on one
  * connection sees that insert. A resident table's index lookup is made
  * while planning, under the graph's commit lock; the rendering, and the
  * Spark jobs of a read the index cannot answer, run on one read thread, so
  * an edit does not queue behind them and at most one read's rows are held
  * at a time. Per-connection order is kept: a read's pending answer takes
  * its place in the connection's outbound queue when it is planned, after
  * the Events of every edit it sees and before those of the edits it does
  * not. A connection with more than `MaxQueuedFrames` frames unsent (a
  * subscriber that stopped reading) is closed, and its pending reads are
  * cancelled. A closed connection's subscriptions end with it.
  *
  * Scale note: this façade is the reference-parity POINT-QUERY surface. An
  * InsertData's entry goes to the graph as a driver row, and every edit
  * comes back as driver rows, which the response and every Event render
  * with no frame and no Spark job. A read of a resident table (at most
  * [[IncrementalGraph.ResidentCap]] rows, resident from bootstrap on), and
  * a DeleteData's search of one, use its driver-side index with no Spark
  * job either, the reference's B-tree walk; a DeleteData on a larger table
  * collects its rows in one job. Other reads stream off the cluster via
  * toLocalIterator, so a read never buffers more of a cluster's output in
  * the server heap than [[maxResultRows]]. Either way a batch beyond that
  * fails its request loudly.
  *
  * Divergences from the reference, on purpose: a malformed frame or an
  * unknown listen table answers that CLIENT with an Err instead of
  * panicking the whole db thread (client_connection.rs:74, db_thread.rs:123
  * crash the process): a frame that is not JSON on the nil request_id, a
  * request that fails in dispatch on its own. A negative length prefix, or
  * one over a fixed frame cap, closes the connection, which can no longer
  * be framed. InsertData/DeleteData respond with ALL committed edits, like
  * the reference (db_thread.rs:82-104), but an aggregation upsert (delete
  * old + insert new) shows its new row in an InsertData response and its
  * removed rows in a DeleteData response; subscribers get both sides.
  */
final class GraftServer(val graph: IncrementalGraph, requestedPort: Int = 0) {
  private val mapper = new ObjectMapper()
  private val NilUuid = "00000000-0000-0000-0000-000000000000"
  /** Largest accepted request frame; a longer length prefix closes the
    * connection instead of allocating it. */
  private val MaxFrameBytes = 16 << 20

  /** Per-request cap on rows handed from the cluster to the façade. */
  @volatile var maxResultRows: Int = 1 << 20

  @volatile private var running = true
  private val serverSocket = new ServerSocket(requestedPort)
  /** Bound port (pass requestedPort=0 for an ephemeral test port). */
  def port: Int = serverSocket.getLocalPort

  /** Frames a connection may have waiting to be sent. A client that lets
    * more pile up (say, a subscriber that stops reading its socket) is
    * closed: its pending reads are cancelled and its frames dropped, and no
    * other connection waits for it. */
  private val MaxQueuedFrames = 1024

  private object PoisonPill
  /** One connection. Its outbound queue holds, in dispatch order, the
    * frames to send: a rendered String, or the Future of a read's frame. */
  private final class Client(val id: UUID, val socket: Socket) {
    val out = new LinkedBlockingQueue[AnyRef](MaxQueuedFrames + 1)
    /** This connection's requests in the dispatch loop, not yet answered. */
    val queued = new AtomicInteger
    /** What ends each of this connection's subscriptions, run on close. */
    private val subscriptions = new ConcurrentLinkedQueue[() => Unit]
    @volatile private var open = true
    def send(message: JsonNode): Unit = enqueue(mapper.writeValueAsString(message))
    def sendLater(frame: Future[String]): Unit = enqueue(frame)
    private def enqueue(frame: AnyRef): Unit =
      if (open && (out.size >= MaxQueuedFrames || !out.offer(frame))) {
        System.err.println(s"[graft-net] closing client $id: over $MaxQueuedFrames frames unsent")
        close()
      }
    def subscribed(end: () => Unit): Unit = { subscriptions.add(end); if (!open) unsubscribe() }
    private def unsubscribe(): Unit = Iterator.continually(subscriptions.poll()).takeWhile(_ != null).foreach(_())
    /** Close the socket, end the subscriptions and the writer, dropping
      * what it has not sent. */
    def close(): Unit = {
      open = false
      unsubscribe()
      try socket.close() catch { case _: Exception => }
      var f = out.poll()
      while (f != null) {
        f match { case read: Future[_] => read.cancel(false); case _ => }
        f = out.poll()
      }
      out.offer(PoisonPill)
    }
  }

  private val clients = java.util.concurrent.ConcurrentHashMap.newKeySet[Client]()
  private val dispatchQueue = new LinkedBlockingQueue[(Client, JsonNode)]()

  private def thread(name: String)(body: => Unit): Thread = {
    val t = new Thread(() => body, name)
    t.setDaemon(true)
    t.start()
    t
  }

  /** Runs planned reads one at a time, so at most one read's rows are on
    * the driver. A task renders its whole response frame and never throws:
    * a failed read is an Err on its request_id. */
  private val reads = Executors.newSingleThreadExecutor { (r: Runnable) =>
    val t = new Thread(r, s"graft-net-read-$port")
    t.setDaemon(true)
    t
  }

  private val dispatchThread = thread("graft-net-dispatch") {
    try while (running) {
      val (client, root) = dispatchQueue.take()
      try dispatch(client, root)
      catch {
        // answer the caller: it is waiting on this request_id
        case e: Exception => client.send(failed(requestIdOf(root), queryKind(root), e))
      } finally client.queued.decrementAndGet()
    } catch { case _: InterruptedException => }
  }

  private val acceptThread = thread("graft-net-accept") {
    try while (running) {
      val socket = serverSocket.accept()
      // the writer sends a response over its 8 KiB buffer as two writes;
      // with Nagle's algorithm the second waits for a delayed ACK
      socket.setTcpNoDelay(true)
      val client = new Client(UUID.randomUUID(), socket)
      clients.add(client)
      startWriter(client)
      startReader(client)
    } catch { case _: SocketException => /* close() */ }
  }

  private def startWriter(client: Client): Unit = thread(s"graft-net-writer-${client.id}") {
    val w = new DataOutputStream(new BufferedOutputStream(client.socket.getOutputStream))
    def write(payload: String): Unit = {
      val bytes = payload.getBytes(UTF_8)
      w.writeInt(bytes.length) // DataOutputStream is big-endian, like the wire
      w.write(bytes)
      w.flush()
    }
    var live = true
    try while (live) client.out.take() match {
      case PoisonPill => live = false
      case payload: String => write(payload)
      case read: Future[_] => write(read.get().asInstanceOf[String])
    } catch { case _: Exception => /* connection gone, a read cancelled, or the server closed */ }
  }

  private def startReader(client: Client): Unit = thread(s"graft-net-reader-${client.id}") {
    val in = new DataInputStream(client.socket.getInputStream)
    var live = true
    try while (live) {
      val size = in.readInt()
      // zero closes (client_connection.rs:63-64); a bad length leaves no
      // way to find the next frame, so it closes too
      if (size <= 0 || size > MaxFrameBytes) live = false
      else {
        val buf = new Array[Byte](size)
        in.readFully(buf)
        val root =
          try mapper.readTree(new String(buf, UTF_8))
          catch { case _: java.io.IOException => null }
        if (root != null && root.isObject) route(client, root)
        else client.send(requestResponse(NilUuid,
          errResponse("ManyResults", "request frame is not a JSON object")))
      }
    } catch {
      case _: java.io.IOException => // EOF, reset, or closed by us
    } finally {
      client.close(); clients.remove(client)
    }
  }

  // ── dispatch (db_thread.rs:52-113) ────────────────────────────────────

  private val readKinds = Set("FindOne", "LessThan", "GetAll", "GreaterThan")
  private val queryKinds = readKinds ++ Set("InsertData", "DeleteData")

  private def requestIdOf(root: JsonNode): String =
    Option(root.get("Query")).flatMap(q => Option(q.get("request_id")))
      .filter(_.isTextual).map(_.asText()).getOrElse(NilUuid)

  private def queryKind(root: JsonNode): Option[String] =
    Option(root.get("Query")).flatMap(q => Option(q.get("query")))
      .flatMap(_.fieldNames().asScala.nextOption())
      .orElse(root.fieldNames().asScala.nextOption().filter(queryKinds))

  /** A read from a connection with nothing of its own in the dispatch loop
    * is planned at once, so it does not wait for an edit in flight.
    * Anything else, and a read that must see its connection's pending
    * requests, goes to the dispatch loop. */
  private def route(client: Client, root: JsonNode): Unit = readOf(root) match {
    case Some((requestId, kind, body)) if client.queued.get == 0 =>
      planRead(client, requestId, kind, body)
    case _ =>
      client.queued.incrementAndGet()
      dispatchQueue.put((client, root))
  }

  /** (request_id, kind, body) of a well-formed read, wrapped or legacy. */
  private def readOf(root: JsonNode): Option[(String, String, JsonNode)] =
    root.properties().asScala.headOption.flatMap { top =>
      top.getKey match {
        case "Query" =>
          for {
            id <- Option(top.getValue.get("request_id")).filter(_.isTextual)
            query <- Option(top.getValue.get("query"))
            kind <- query.fieldNames().asScala.nextOption() if readKinds(kind)
          } yield (id.asText(), kind, query.get(kind))
        case legacy if readKinds(legacy) => Some((NilUuid, legacy, top.getValue))
        case _ => None
      }
    }

  private def dispatch(client: Client, root: JsonNode): Unit = {
    val fields = root.properties().iterator()
    if (!fields.hasNext) throw new IllegalArgumentException("empty request frame")
    val top = fields.next()
    top.getKey match {
      case "Query" =>
        val requestId = top.getValue.get("request_id").asText()
        val q = top.getValue.get("query").properties().iterator().next()
        handleQuery(client, requestId, q.getKey, q.getValue)
      case "StartListen" =>
        val table = top.getValue.get("table_name").asText()
        val event = top.getValue.get("event").asText()
        startListen(client, table, event)
      case legacy if queryKinds(legacy) =>
        // bare Query frame (test_requests.txt:1-3 shape, no request_id)
        handleQuery(client, NilUuid, legacy, top.getValue)
      case other =>
        throw new IllegalArgumentException(s"unknown request kind: $other")
    }
  }

  private def handleQuery(client: Client, requestId: String, kind: String, body: JsonNode): Unit =
    if (readKinds(kind)) planRead(client, requestId, kind, body)
    else client.send(requestResponse(requestId, edit(kind, body)))

  /** Pin the read's table as of the last committed edit, look the key up
    * in its resident form, and queue the answer on `client`; the rendering,
    * and the Spark jobs of a read the form leaves, run later on the read
    * thread. A read that cannot be planned is answered at once. */
  private def planRead(client: Client, requestId: String, kind: String, body: JsonNode): Unit =
    try {
      val table = body.get("table").asText()
      val column = body.get("column").asText()
      val key = TaggedJson.parseValue(body.get("key"))
      graph.pinnedAt { pin =>
        val pinned = pin(table)
        def indexed(r: Resident): Option[(Iterable[Row], StructType)] = (kind match {
          case "FindOne" => r.findOne(column, key)
          case "LessThan" => r.lessThan(column, key)
          case "GreaterThan" => r.greaterThan(column, key)
          case _ => r.getAll(column, key)
        }).map(_ -> r.schema)
        // the index lookup runs here, under the commit lock; the rows are
        // rendered on the read thread
        val found = pinned.resident.flatMap(indexed)
        val answer: Callable[String] = () =>
          try {
            val entries = found match {
              case Some((rows, schema)) => entriesOf(rows.iterator, schema)
              case None =>
                val queries = new QueryService(_ => pinned.frame)
                entriesOf(kind match {
                  case "FindOne" => queries.findOne(table, column, key)
                  case "LessThan" => queries.lessThan(table, column, key)
                  case "GreaterThan" => queries.greaterThan(table, column, key)
                  case _ => queries.getAll(table, column, key)
                })
            }
            mapper.writeValueAsString(requestResponse(requestId,
              if (kind == "FindOne") oneResult(entries.headOption) else manyResults(entries)))
          } catch { case NonFatal(e) => mapper.writeValueAsString(failed(requestId, Some(kind), e)) }
        client.sendLater(reads.submit(answer))
      }
    } catch { case NonFatal(e) => client.send(failed(requestId, Some(kind), e)) }

  /** The Err answer to a request of `kind` that failed with `e`. */
  private def failed(requestId: String, kind: Option[String], e: Throwable): JsonNode = {
    System.err.println(s"[graft-net] request failed: $e")
    val variant = if (kind.contains("FindOne")) "OneResult" else "ManyResults"
    requestResponse(requestId, errResponse(variant, e.getMessage))
  }

  private def edit(kind: String, body: JsonNode): ObjectNode = {
    def table = body.get("table").asText()
    def column = body.get("column").asText()
    def key = TaggedJson.parseValue(body.get("key"))
    kind match {
      case "InsertData" =>
        // all committed edits, source + cascaded (db_thread.rs:82-93);
        // upsert Updates surface as their inserted (new) row
        manyResults {
          val (schema, row) = TaggedJson.parseEntry(body.get("entry"))
          graph.insertRows(table, schema, Seq(row)).flatMap { case (_, ins, _) => entriesOf(ins) }
        }
      case "DeleteData" =>
        // all deleted entries, source + cascaded (database.rs:197-270)
        manyResults(
          graph.deleteDeltas(table, column, key).flatMap { case (_, _, del) => entriesOf(del) })
      case other => throw new IllegalArgumentException(s"unknown query kind: $other")
    }
  }

  private def startListen(client: Client, table: String, event: String): Unit = {
    // event values are DBResponse::ManyResults like the reference's
    // ListenerHook (listener_hook.rs:75-80)
    val kind = event match {
      case "Insert" => ListenEvent.Insert
      case "Delete" => ListenEvent.Delete
      case other =>
        client.send(eventMessage(table, event,
          errResponse("ManyResults", s"unknown listen event: $other")))
        return
    }
    try client.subscribed(graph.listenDeltas(table, kind) { (ins, del) =>
      client.send(eventMessage(table, event, manyResults(entriesOf(if (kind == ListenEvent.Insert) ins else del))))
    }) catch {
      // unknown table: tell the subscribing client instead of panicking the
      // dispatch thread (the reference's db_thread.rs:123 crashes here)
      case e: Exception => client.send(eventMessage(table, event, errResponse("ManyResults", e.getMessage)))
    }
  }

  // ── result rendering ──────────────────────────────────────────────────

  /** Stream rows off the cluster with the same bounded, loud hand-off as
    * the streaming listen path. Entries use the tagged encoding with
    * nulls omitted (the reference's sparse entries). */
  private def entriesOf(df: DataFrame): Seq[ObjectNode] =
    entriesOf(df.toLocalIterator().asScala, df.schema)

  /** An edit's entries, from its driver rows. */
  private def entriesOf(delta: IncrementalGraph.Delta): Seq[ObjectNode] =
    entriesOf(delta.rows.iterator, delta.schema)

  private def entriesOf(it: Iterator[Row], schema: StructType): Seq[ObjectNode] = {
    val limit = maxResultRows
    val buf = scala.collection.mutable.ArrayBuffer.empty[ObjectNode]
    while (it.hasNext) {
      buf += TaggedJson.toTaggedNode(it.next(), schema)
      if (buf.length > limit)
        throw new IllegalStateException(
          s"result exceeded maxResultRows=$limit; narrow the query or raise the cap")
    }
    buf.toSeq
  }

  private def err(message: String): JsonNode = {
    val n = mapper.createObjectNode()
    n.put("Err", if (message == null) "error" else message)
    n
  }

  /** A `DBResponse` of `variant` carrying `Err(message)`. */
  private def errResponse(variant: String, message: String): ObjectNode = {
    val n = mapper.createObjectNode()
    n.set[ObjectNode](variant, err(message))
    n
  }

  private def okMany(entries: Seq[ObjectNode]): JsonNode = {
    val ok = mapper.createObjectNode()
    ok.putArray("Ok").addAll(entries.asJava)
    ok
  }

  private def wrap(variant: String)(body: => JsonNode): ObjectNode = {
    val n = mapper.createObjectNode()
    n.set[ObjectNode](variant,
      try body
      catch { case e: Exception => err(e.getMessage) })
    n
  }

  private def manyResults(entries: => Seq[ObjectNode]): ObjectNode =
    wrap("ManyResults")(okMany(entries))

  private def oneResult(entry: => Option[ObjectNode]): ObjectNode =
    wrap("OneResult") {
      val ok = mapper.createObjectNode()
      entry match {
        case Some(e) => ok.set[ObjectNode]("Ok", e)
        case None    => ok.putNull("Ok")
      }
      ok
    }

  private def requestResponse(requestId: String, response: ObjectNode): JsonNode = {
    val n = mapper.createObjectNode()
    val rr = n.putObject("RequestResponse")
    rr.put("request_id", requestId)
    rr.set[ObjectNode]("response", response)
    n
  }

  private def eventMessage(table: String, event: String, value: JsonNode): JsonNode = {
    val n = mapper.createObjectNode()
    val ev = n.putObject("Event")
    ev.put("table_name", table)
    ev.put("event", event)
    ev.set[ObjectNode]("value", value)
    n
  }

  /** Stop accepting, drop every connection, stop the dispatch thread and
    * the read thread. Reads not yet started are cancelled, so no writer
    * waits on them. */
  def close(): Unit = {
    running = false
    try serverSocket.close() catch { case _: Exception => }
    clients.forEach(_.close())
    clients.clear()
    dispatchThread.interrupt()
    reads.shutdownNow().forEach(r => r match {
      case f: Future[_] => f.cancel(false)
      case _ =>
    })
    reads.awaitTermination(10, TimeUnit.SECONDS)
  }
}
