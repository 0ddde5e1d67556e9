package graft.perfbench

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.{ConcurrentHashMap, Executors, ThreadFactory, TimeUnit}
import java.util.concurrent.atomic.AtomicLong

import com.sun.net.httpserver.{HttpExchange, HttpServer}

/** In-process DroneSense API and ingest receiver on 127.0.0.1.
  *
  *  - `GET /drones?offset=O&limit=L`: records [O, min(O+L, visible)) as a
  *    JSON array, sliced out of the pre-rendered buffer (a byte copy);
  *  - `GET /count`: the number of visible records (the stream's `countUrl`);
  *  - `POST /ingest`: JSON-lines CoT features from the `graft-http` sink.
  *    Each line's record index and `lastUpdate` stamp are taken from the
  *    line, its receipt time is kept per record, and `X-Batch-Id`
  *    repeats are counted.
  *
  * Counters are per episode: [[reset]] clears them together with the
  * receipts.
  */
final class Endpoint(threads: Int) {
  @volatile private var data: Rendered = Rendered(Array.emptyByteArray, Array(0))
  @volatile private var visibleAt: () => Int = () => 0

  val getRequests, rowsServed, bytesServed = new AtomicLong
  val postRequests, bytesPosted, rowsReceived, dupRows, dupBatchIds = new AtomicLong
  private val batchIds = ConcurrentHashMap.newKeySet[String]()
  @volatile private var receivedAtNs: Array[Long] = Array.emptyLongArray
  @volatile private var stampMs: Array[Double] = Array.emptyDoubleArray
  /** Received feature lines kept for the output check, by record index. */
  val kept = new ConcurrentHashMap[Integer, String]()
  @volatile private var keep: Int => Boolean = _ => false

  private val pool = Executors.newFixedThreadPool(threads, new ThreadFactory {
    def newThread(r: Runnable): Thread = {
      val t = new Thread(r, "perfbench-endpoint"); t.setDaemon(true); t
    }
  })
  private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 64)
  server.setExecutor(pool)
  server.createContext("/drones", ex => serve(ex, page(ex)))
  server.createContext("/count", ex => serve(ex, visibleAt().toString.getBytes(UTF_8)))
  server.createContext("/ingest", ex => ingest(ex))
  server.start()

  val base = s"http://127.0.0.1:${server.getAddress.getPort}"

  /** Serve `rendered`; `visible` says how many records exist right now. */
  def publish(rendered: Rendered, visible: () => Int): Unit = {
    data = rendered
    visibleAt = visible
  }

  /** Drop the published records and the receipts. */
  def clear(): Unit = {
    publish(Rendered(Array.emptyByteArray, Array(0)), () => 0)
    reset(_ => false)
  }

  /** Start a new episode: zero the counters and receipts; keep the
    * received lines of the records `keepIdx` selects.
    */
  def reset(keepIdx: Int => Boolean): Unit = {
    Seq(getRequests, rowsServed, bytesServed, postRequests, bytesPosted,
      rowsReceived, dupRows, dupBatchIds).foreach(_.set(0))
    batchIds.clear()
    kept.clear()
    keep = keepIdx
    receivedAtNs = new Array[Long](data.size)
    stampMs = new Array[Double](data.size)
  }

  /** The number of records visible right now. */
  def visible: Int = visibleAt()

  /** Receipt time (System.nanoTime) of record i, 0 if not received. */
  def receivedAt(i: Int): Long = receivedAtNs(i)
  def stamp(i: Int): Double = stampMs(i)

  private def page(ex: HttpExchange): Array[Byte] = {
    val q = Option(ex.getRequestURI.getRawQuery).getOrElse("")
    val params = q.split('&').flatMap(_.split("=", 2) match {
      case Array(k, v) => Some(k -> v)
      case _ => None
    }).toMap
    val d = data
    val n = math.min(visibleAt(), d.size)
    val lo = math.min(params.getOrElse("offset", "0").toLong, n.toLong).toInt
    val hi = math.min(lo + params.getOrElse("limit", "1000").toLong, n.toLong).toInt
    val body =
      if (hi <= lo) "[]".getBytes(UTF_8)
      else {
        // records are stored with a trailing comma: drop the last one
        val len = d.starts(hi) - 1 - d.starts(lo)
        val out = new Array[Byte](len + 2)
        out(0) = '['
        System.arraycopy(d.bytes, d.starts(lo), out, 1, len)
        out(len + 1) = ']'
        out
      }
    getRequests.incrementAndGet()
    rowsServed.addAndGet(math.max(hi - lo, 0))
    bytesServed.addAndGet(body.length)
    body
  }

  private def ingest(ex: HttpExchange): Unit = {
    val body = ex.getRequestBody.readAllBytes()
    val now = System.nanoTime()
    postRequests.incrementAndGet()
    bytesPosted.addAndGet(body.length)
    val id = ex.getRequestHeaders.getFirst("X-Batch-Id")
    if (id != null && !batchIds.add(id)) dupBatchIds.incrementAndGet()
    val recv = receivedAtNs
    val stamps = stampMs
    // scan the bytes in place: decoding whole bodies into strings would
    // put the receiver's own work on the clock it is meant to read
    var from = 0
    while (from < body.length) {
      val to = Endpoint.indexOf(body, '\n'.toByte, from, body.length)
      if (to > from) {
        rowsReceived.incrementAndGet()
        val i = DroneGen.indexOf(Endpoint.field(body, from, to, Endpoint.IdKey, '"'))
        if (i >= 0 && i < recv.length) {
          if (recv(i) != 0) dupRows.incrementAndGet()
          recv(i) = now
          stamps(i) = Endpoint.field(body, from, to, Endpoint.StampKey, ',').toDoubleOption.getOrElse(Double.NaN)
          if (keep(i)) kept.put(i, new String(body, from, to - from, UTF_8))
        }
      }
      from = to + 1
    }
    serve(ex, Array.emptyByteArray)
  }

  private def serve(ex: HttpExchange, body: Array[Byte]): Unit = {
    ex.sendResponseHeaders(200, if (body.isEmpty) -1 else body.length)
    if (body.nonEmpty) ex.getResponseBody.write(body)
    ex.close()
  }

  def stop(): Unit = {
    server.stop(0)
    pool.shutdownNow()
    pool.awaitTermination(10, TimeUnit.SECONDS)
    ()
  }
}

object Endpoint {
  private val IdKey = "\"id\":\"".getBytes(UTF_8)
  private val StampKey = "\"lastUpdate\":".getBytes(UTF_8)

  /** First index of `b` in `bytes[from, until)`, or `until`. */
  def indexOf(bytes: Array[Byte], b: Byte, from: Int, until: Int): Int = {
    var i = from
    while (i < until && bytes(i) != b) i += 1
    i
  }

  /** Text after the first `key` in `bytes[from, until)` up to `end` (or ""
    * when the key is absent).
    */
  def field(bytes: Array[Byte], from: Int, until: Int, key: Array[Byte], end: Char): String = {
    var k = from
    var found = -1
    while (found < 0 && k + key.length <= until) {
      var j = 0
      while (j < key.length && bytes(k + j) == key(j)) j += 1
      if (j == key.length) found = k + key.length else k += 1
    }
    if (found < 0) ""
    else new String(bytes, found, indexOf(bytes, end.toByte, found, until) - found, UTF_8)
  }
}
