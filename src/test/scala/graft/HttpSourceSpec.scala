package graft

import java.net.InetSocketAddress
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import com.sun.net.httpserver.HttpServer
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Partitioned HTTP DataSource V2 ([[graft.sources.HttpTableProvider]])
  * against a local paged fake server: full-relation round-trip, strided
  * partitioning, header forwarding, and end-of-data detection.
  */
class HttpSourceSpec extends AnyFunSuite with BeforeAndAfterAll {
  private val TotalRows = 257 // deliberately not a multiple of pageSize
  // mutable size for the streaming test (append-only growth)
  private val liveRows = new AtomicInteger(TotalRows)

  private var server: HttpServer = _
  private var port: Int = 0
  private val requests = new AtomicInteger(0)
  private val flakyCounter = new AtomicInteger(0)
  @volatile private var lastApiKey: String = ""
  private val seenQueries =
    java.util.Collections.synchronizedList(new java.util.ArrayList[String]())
  private val ingested =
    java.util.Collections.synchronizedList(new java.util.ArrayList[(String, String)]())
  private val flakyIngestSeen =
    java.util.Collections.newSetFromMap(
      new java.util.concurrent.ConcurrentHashMap[String, java.lang.Boolean]())
  // rate-limit endpoint state: first-hit nanos per URI + observed
  // 429→retry gaps
  private val rlFirstSeen =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()
  private val rlRetryGapsMs =
    java.util.Collections.synchronizedList(new java.util.ArrayList[Long]())
  // throttle-endpoint state: live + max observed concurrent requests
  private val throttledInflight = new AtomicInteger(0)
  private val throttledMaxInflight = new AtomicInteger(0)
  private val throttledSeen =
    java.util.Collections.newSetFromMap(
      new java.util.concurrent.ConcurrentHashMap[String, java.lang.Boolean]())
  // cursor-endpoint state (independent of the offset endpoints)
  private val cursorLiveRows = new AtomicInteger(TotalRows)
  private val cursorRequests = new AtomicInteger(0)
  private val cursorGrowPerRequest = new AtomicInteger(0)
  private val seenCursorQueries =
    java.util.Collections.synchronizedList(new java.util.ArrayList[String]())

  private val stored =
    java.util.Collections.synchronizedList(new java.util.ArrayList[String]())
  private lazy val badDrones: Vector[String] = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val fixture = mapper.readTree(getClass.getResourceAsStream("/graft/drones.json"))
    fixture.get(3).asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode].remove("callSign")
    fixture.elements().asScala.map(mapper.writeValueAsString).toVector
  }

  /** Serves the `offset`/`limit` slice of `records` as a JSON array. */
  private def servePage(exchange: com.sun.net.httpserver.HttpExchange,
                        records: Seq[String]): Unit = {
    val params = Option(exchange.getRequestURI.getQuery).getOrElse("").split("&")
      .filter(_.contains("=")).map { kv => val Array(k, v) = kv.split("=", 2); k -> v }.toMap
    val off = params.getOrElse("offset", "0").toInt
    val lim = params.getOrElse("limit", "100").toInt
    val bytes = records.slice(off, off + lim).mkString("[", ",", "]").getBytes("UTF-8")
    exchange.sendResponseHeaders(200, bytes.length.toLong)
    exchange.getResponseBody.write(bytes)
    exchange.close()
  }

  private def causes(t: Throwable): Seq[Throwable] =
    if (t == null) Seq.empty else t +: causes(t.getCause)

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def beforeAll(): Unit = {
    // Offset-paginated JSON API: GET /rows?offset=O&limit=L returns up to
    // L of the 257 fixture rows starting at O, as a JSON array.
    server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/rows", exchange => {
      requests.incrementAndGet()
      lastApiKey = Option(exchange.getRequestHeaders.getFirst("X-API-KEY")).getOrElse("")
      val q = Option(exchange.getRequestURI.getQuery).getOrElse("")
      seenQueries.add(q)
      val params = q.split("&").filter(_.contains("="))
        .map { kv => val Array(k, v) = kv.split("=", 2); k -> v }.toMap
      val off = params.getOrElse("offset", "0").toLong
      val lim = params.getOrElse("limit", "100").toInt
      val cap = math.max(TotalRows, liveRows.get).toLong
      // optional server-side equality filter on `name` — exercises the
      // advisory filter pushdown (offsets then index the FILTERED rows);
      // `name_eq` is the renamed-param variant (filterParam.name option)
      val nameFilter = params.get("name").orElse(params.get("name_eq"))
        .map(v => java.net.URLDecoder.decode(v, "UTF-8"))
      // advisory range/IN params (the _gt/_gte/_lt/_lte/_in convention)
      val idGte = params.get("id_gte").map(_.toLong)
      val idLt = params.get("id_lt").map(_.toLong)
      val nameIn = params.get("name_in")
        .map(v => java.net.URLDecoder.decode(v, "UTF-8").split(",").toSet)
      val all = (0L until cap).map(i => (i, s"row-$i"))
      val filtered = all
        .filter { case (i, nm) =>
          nameFilter.forall(_ == nm) && idGte.forall(i >= _) &&
            idLt.forall(i < _) && nameIn.forall(_.contains(nm))
        }
      val rows = filtered.slice(off.toInt, math.min(off + lim, filtered.size.toLong).toInt)
        .map { case (i, nm) => s"""{"id": $i, "name": "$nm", "score": ${i * 0.5}}""" }
      val body = rows.mkString("[", ",", "]").getBytes("UTF-8")
      exchange.getResponseHeaders.add("Content-Type", "application/json")
      exchange.sendResponseHeaders(200, body.length.toLong)
      exchange.getResponseBody.write(body)
      exchange.close()
    })
    // flaky variant: every 3rd request 503s — exercises the fetcher's
    // request-level retry (Spark task retries would re-read partitions)
    server.createContext("/flaky", exchange => {
      if (flakyCounter.incrementAndGet() % 3 == 0) {
        exchange.sendResponseHeaders(503, -1)
        exchange.close()
      } else {
        val q = Option(exchange.getRequestURI.getQuery).getOrElse("")
        val params = q.split("&").filter(_.contains("="))
          .map { kv => val Array(k, v) = kv.split("=", 2); k -> v }.toMap
        val off = params.getOrElse("offset", "0").toLong
        val lim = params.getOrElse("limit", "100").toInt
        val rows = (off until math.min(off + lim, TotalRows.toLong)).map { i =>
          s"""{"id": $i, "name": "row-$i", "score": ${i * 0.5}}"""
        }
        val body = rows.mkString("[", ",", "]").getBytes("UTF-8")
        exchange.sendResponseHeaders(200, body.length.toLong)
        exchange.getResponseBody.write(body)
        exchange.close()
      }
    })
    // rate-limited variant: the FIRST request of each distinct URI 429s
    // with `Retry-After: 1`; retries serve normally. Records the gap
    // between the 429 and its retry so the spec can assert the reader
    // slept the server's full second, not its own 200 ms backoff.
    server.createContext("/ratelimited", exchange => {
      val uri = exchange.getRequestURI.toString
      val prev = rlFirstSeen.putIfAbsent(uri, java.lang.Long.valueOf(System.nanoTime()))
      if (prev == null) {
        exchange.getResponseHeaders.add("Retry-After", "1")
        exchange.sendResponseHeaders(429, -1)
        exchange.close()
      } else {
        rlRetryGapsMs.add((System.nanoTime() - prev.longValue()) / 1000000L)
        val q = Option(exchange.getRequestURI.getQuery).getOrElse("")
        val params = q.split("&").filter(_.contains("="))
          .map { kv => val Array(k, v) = kv.split("=", 2); k -> v }.toMap
        val off = params.getOrElse("offset", "0").toLong
        val lim = params.getOrElse("limit", "100").toInt
        val rows = (off until math.min(off + lim, TotalRows.toLong)).map { i =>
          s"""{"id": $i, "name": "row-$i", "score": ${i * 0.5}}"""
        }
        val body = rows.mkString("[", ",", "]").getBytes("UTF-8")
        exchange.sendResponseHeaders(200, body.length.toLong)
        exchange.getResponseBody.write(body)
        exchange.close()
      }
    })
    // ingest endpoint for the DSv2 write path: records JSON-lines
    // bodies + the idempotency header of every POST
    server.createContext("/ingest", exchange => {
      val body = new String(exchange.getRequestBody.readAllBytes(), "UTF-8")
      val batchId = Option(exchange.getRequestHeaders.getFirst("X-Batch-Id")).getOrElse("")
      ingested.add((batchId, body))
      exchange.sendResponseHeaders(200, -1)
      exchange.close()
    })
    // flaky ingest: first attempt of each body 503s — exercises the
    // writer's request-level retry (by CONTENT, so task retries that
    // re-send the same batch succeed immediately)
    server.createContext("/ingest-flaky", exchange => {
      val body = new String(exchange.getRequestBody.readAllBytes(), "UTF-8")
      if (flakyIngestSeen.add(body)) {
        exchange.sendResponseHeaders(503, -1)
        exchange.close()
      } else {
        ingested.add(("flaky", body))
        exchange.sendResponseHeaders(200, -1)
        exchange.close()
      }
    })
    // rejecting ingest: 400 for any body carrying a "reject" name
    server.createContext("/ingest-reject", exchange => {
      val body = new String(exchange.getRequestBody.readAllBytes(), "UTF-8")
      exchange.sendResponseHeaders(if (body.contains("\"reject\"")) 400 else 200, -1)
      exchange.close()
    })
    // store + serve back: /store keeps every JSON line POSTed to it, and
    // /stored pages through them with offset/limit (the round-trip case)
    server.createContext("/store", exchange => {
      val body = new String(exchange.getRequestBody.readAllBytes(), "UTF-8")
      body.split("\n").foreach(stored.add)
      exchange.sendResponseHeaders(200, -1)
      exchange.close()
    })
    server.createContext("/stored", servePage(_, stored.asScala.toVector))
    // the DroneSense fixture with record 3's required callSign removed
    server.createContext("/drones-bad", servePage(_, badDrones))
    // Cursor-token (keyset) paginated API: GET /cursor?cursor=T&limit=L
    // returns {"items":[...], "next_cursor": "id-<last>"} — the token is
    // the last served id, so pages are positions in a stable order and
    // appends during a walk can never shift already-visited pages.
    // cursorGrowPerRequest > 0 makes the table GROW by that many rows
    // before serving each page (the exactly-once-under-growth case).
    server.createContext("/cursor", exchange => {
      cursorRequests.incrementAndGet()
      lastApiKey = Option(exchange.getRequestHeaders.getFirst("X-API-KEY")).getOrElse("")
      val q = Option(exchange.getRequestURI.getQuery).getOrElse("")
      seenCursorQueries.add(q)
      val params = q.split("&").filter(_.contains("="))
        .map { kv => val Array(k, v) = kv.split("=", 2); k -> v }.toMap
      val lim = params.getOrElse("limit", "100").toInt
      val g = cursorGrowPerRequest.get
      if (g > 0) cursorLiveRows.addAndGet(g)
      val total = cursorLiveRows.get.toLong
      val start = params.get("cursor")
        .map(t => java.net.URLDecoder.decode(t, "UTF-8").stripPrefix("id-").toLong + 1)
        .getOrElse(0L)
      val page = (start until math.min(start + lim, total)).map { i =>
        s"""{"id": $i, "name": "row-$i", "score": ${i * 0.5}}"""
      }
      val nextTok =
        if (start + page.size >= total) "null"
        else s""""id-${start + page.size - 1}""""
      val body =
        s"""{"items": ${page.mkString("[", ",", "]")}, "next_cursor": $nextTok}"""
          .getBytes("UTF-8")
      exchange.getResponseHeaders.add("Content-Type", "application/json")
      exchange.sendResponseHeaders(200, body.length.toLong)
      exchange.getResponseBody.write(body)
      exchange.close()
    })
    // current row count — the streaming source's cheap watermark
    server.createContext("/count", exchange => {
      val body = liveRows.get.toString.getBytes("UTF-8")
      exchange.sendResponseHeaders(200, body.length.toLong)
      exchange.getResponseBody.write(body)
      exchange.close()
    })
    // throttle-sensitive variant (round 12): tracks CONCURRENT in-flight
    // requests (the thing `maxInflight` bounds) and 429s the first hit
    // of every distinct URI so the exactly-once path still runs through
    // retries. State shared with the spec via the atomics below.
    server.createContext("/throttled", exchange => {
      val now = throttledInflight.incrementAndGet()
      throttledMaxInflight.updateAndGet(m => math.max(m, now))
      try {
        val uri = exchange.getRequestURI.toString
        if (throttledSeen.add(uri)) {
          exchange.sendResponseHeaders(429, -1)
          exchange.close()
        } else {
          val q = Option(exchange.getRequestURI.getQuery).getOrElse("")
          val params = q.split("&").filter(_.contains("="))
            .map { kv => val Array(k, v) = kv.split("=", 2); k -> v }.toMap
          val off = params.getOrElse("offset", "0").toLong
          val lim = params.getOrElse("limit", "100").toInt
          val rows = (off until math.min(off + lim, TotalRows.toLong)).map { i =>
            s"""{"id": $i, "name": "row-$i", "score": ${i * 0.5}}"""
          }
          val body = rows.mkString("[", ",", "]").getBytes("UTF-8")
          exchange.sendResponseHeaders(200, body.length.toLong)
          exchange.getResponseBody.write(body)
          exchange.close()
        }
      } finally { throttledInflight.decrementAndGet(); () }
    })
    // handlers must run CONCURRENTLY or the server itself serializes
    // requests and the maxInflight observation reads 1 by construction
    server.setExecutor(java.util.concurrent.Executors.newCachedThreadPool())
    server.start()
    port = server.getAddress.getPort
  }

  override def afterAll(): Unit = {
    if (server != null) server.stop(0)
    spark.stop()
  }

  private def read(pageSize: Int, numPartitions: Int) =
    spark.read.format("graft-http")
      .option("url", s"http://127.0.0.1:$port/rows")
      .option("schema", "id LONG, name STRING, score DOUBLE")
      .option("pageSize", pageSize.toString)
      .option("numPartitions", numPartitions.toString)
      .option("header.X-API-KEY", "test-key")
      .load()

  test("maxInflight bounds concurrent requests under a 429-ing server, exactly-once") {
    // 8 partitions on a local[4] session would otherwise fan out 4
    // concurrent requests; the dial caps the EXECUTOR at 2 and the
    // stagger spreads first arrivals. The server 429s every URI's first
    // hit, so the bound must hold across the retry traffic too, and the
    // relation must still land exactly once.
    throttledMaxInflight.set(0)
    throttledSeen.clear()
    val df = spark.read.format("graft-http")
      .option("url", s"http://127.0.0.1:$port/throttled")
      .option("schema", "id LONG, name STRING, score DOUBLE")
      .option("pageSize", "16")
      .option("numPartitions", "8")
      .option("maxInflight", "2")
      .option("staggerMs", "10")
      .load()
    val ids = df.select(col("id")).collect().map(_.getLong(0))
    assert(ids.length === TotalRows, "rows lost or duplicated under throttling")
    assert(ids.toSet.size === TotalRows)
    val peak = throttledMaxInflight.get
    assert(peak <= 2, s"server observed $peak concurrent requests with maxInflight=2")
    assert(peak >= 1)
  }

  test("reads the full paged relation exactly once") {
    val df = read(pageSize = 50, numPartitions = 4)
    assert(df.count() === TotalRows)
    assert(df.select(countDistinct(col("id"))).head.getLong(0) === TotalRows)
    val row = df.filter(col("id") === 123).head
    assert(row.getString(1) === "row-123")
    assert(row.getDouble(2) === 61.5)
  }

  test("plans one input partition per numPartitions and forwards headers") {
    val df = read(pageSize = 50, numPartitions = 3)
    assert(df.rdd.getNumPartitions === 3)
    df.count()
    assert(lastApiKey === "test-key")
  }

  test("header VALUES never leak into plan strings or explain output") {
    // a secret forwarded as a header must reach the wire (asserted above)
    // but NEVER driver logs: at scale, `df.explain`/plan dumps routinely
    // land in log aggregation, so a token in any plan string is a leak.
    val secret = "sk-REDACT-ME-98765"
    val df = spark.read.format("graft-http")
      .option("url", s"http://127.0.0.1:$port/rows")
      .option("schema", "id LONG, name STRING, score DOUBLE")
      .option("header.X-API-KEY", secret)
      .load()
      .filter(col("id") < 10)
    df.count()
    val qe = df.queryExecution
    val everything = Seq(
      qe.logical.toString, qe.analyzed.toString, qe.optimizedPlan.toString,
      qe.sparkPlan.toString, qe.executedPlan.toString,
      qe.toString, qe.stringWithStats)
    for (plan <- everything)
      assert(!plan.contains(secret),
        s"header value leaked into a plan string:\n${plan.take(500)}")
    // header NAMES are not sensitive and may appear; the wire still got
    // the real value
    assert(lastApiKey === secret)
  }

  test("short first page ends every reader (no infinite paging)") {
    requests.set(0)
    val df = read(pageSize = 1000, numPartitions = 4)
    assert(df.count() === TotalRows)
    // each of the 4 strided readers issues exactly one request: page 0 is
    // short (257 < 1000) for partition 0, pages 1–3 are empty AND short.
    assert(requests.get() === 4)
  }

  test("request-level retries absorb transient 503s (flaky server)") {
    val df = spark.read.format("graft-http")
      .option("url", s"http://127.0.0.1:$port/flaky")
      .option("schema", "id LONG, name STRING, score DOUBLE")
      .option("pageSize", "50")
      .option("numPartitions", "2")
      .load()
    // every 3rd request fails; with 3 retries every page still lands
    assert(df.count() === TotalRows)
    assert(df.select(countDistinct(col("id"))).head.getLong(0) === TotalRows)
  }

  test("429 retries honor the server's Retry-After over the local backoff") {
    rlFirstSeen.clear(); rlRetryGapsMs.clear()
    val df = spark.read.format("graft-http")
      .option("url", s"http://127.0.0.1:$port/ratelimited")
      .option("schema", "id LONG, name STRING, score DOUBLE")
      .option("pageSize", "200")
      .option("numPartitions", "2")
      .load()
    // every page's first request 429s; the read still lands exactly once
    assert(df.count() === TotalRows)
    assert(df.select(countDistinct(col("id"))).head.getLong(0) === TotalRows)
    // and each retry waited the demanded 1 s (default first backoff is
    // 200 ms — a gap under ~1 s means the header was ignored)
    import scala.jdk.CollectionConverters._
    val gaps = rlRetryGapsMs.asScala.toList
    assert(gaps.nonEmpty, "server never saw a retry")
    assert(gaps.forall(_ >= 950L),
      s"a retry arrived before the Retry-After second elapsed: $gaps ms")
  }

  test("micro-batch streaming reads append-only growth exactly once") {
    liveRows.set(TotalRows)
    val stream = spark.readStream.format("graft-http")
      .option("url", s"http://127.0.0.1:$port/rows")
      .option("countUrl", s"http://127.0.0.1:$port/count")
      .option("schema", "id LONG, name STRING, score DOUBLE")
      .option("pageSize", "50")
      .option("numPartitions", "3")
      .load()
    val q = stream.writeStream.format("memory").queryName("http_stream_out")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val afterFirst = spark.table("http_stream_out")
      assert(afterFirst.count() === TotalRows)
      // server grows; the next trigger must ingest ONLY the delta
      liveRows.set(TotalRows + 43)
      q.processAllAvailable()
      val out = spark.table("http_stream_out")
      assert(out.count() === TotalRows + 43)
      assert(out.select(countDistinct(col("id"))).head.getLong(0) === TotalRows + 43)
    } finally {
      q.stop()
      liveRows.set(TotalRows)
    }
  }

  test("streaming restart resumes exactly-once from the checkpoint in a NEW session") {
    import java.nio.file.Files
    val ckpt = Files.createTempDirectory("graft-http-ckpt").toString
    val outDir = Files.createTempDirectory("graft-http-sink").toString
    def readFrom(s: SparkSession) = s.readStream.format("graft-http")
      .option("url", s"http://127.0.0.1:$port/rows")
      .option("countUrl", s"http://127.0.0.1:$port/count")
      .option("schema", "id LONG, name STRING, score DOUBLE")
      .option("pageSize", "50")
      .option("numPartitions", "2")
      .load()
    def sink(df: org.apache.spark.sql.DataFrame) = df.writeStream
      .format("parquet").option("path", outDir)
      .option("checkpointLocation", ckpt).outputMode("append")
    try {
      // phase 1: ingest the first 100 rows, then the query dies (stop()
      // after the offset commit — the kill point between micro-batches)
      liveRows.set(100)
      val q1 = sink(readFrom(spark)).start()
      q1.processAllAvailable()
      q1.stop()
      assert(spark.read.parquet(outDir).count() === 100)
      // phase 2: server grew; a NEW SparkSession (fresh session state,
      // fresh StreamingQueryManager — nothing in memory from q1) must
      // resume from the CHECKPOINT's committed offset, not from scratch
      liveRows.set(TotalRows)
      val mark = seenQueries.size()
      val spark2 = spark.newSession()
      val q2 = sink(readFrom(spark2)).start()
      q2.processAllAvailable()
      q2.stop()
      val out = spark2.read.parquet(outDir)
      assert(out.count() === TotalRows)
      assert(out.select(countDistinct(col("id"))).head.getLong(0) === TotalRows)
      // the resumed query must only have paged the delta: every /rows
      // request after restart starts at or past the committed offset 100
      val restartOffsets = seenQueries.subList(mark, seenQueries.size())
        .toArray.map(_.toString)
        .filter(_.contains("offset="))
        .map(_.split("&").find(_.startsWith("offset=")).get.stripPrefix("offset=").toLong)
      assert(restartOffsets.nonEmpty && restartOffsets.forall(_ >= 100),
        s"restart re-read below the committed offset: ${restartOffsets.toSeq}")
    } finally liveRows.set(TotalRows)
  }

  test("maxRowsPerTrigger drains a backlog in capped micro-batches") {
    liveRows.set(TotalRows)
    val stream = spark.readStream.format("graft-http")
      .option("url", s"http://127.0.0.1:$port/rows")
      .option("countUrl", s"http://127.0.0.1:$port/count")
      .option("schema", "id LONG, name STRING, score DOUBLE")
      .option("pageSize", "50")
      .option("numPartitions", "2")
      .option("maxRowsPerTrigger", "100")
      .load()
    val q = stream.writeStream.format("memory").queryName("http_capped_out")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val out = spark.table("http_capped_out")
      assert(out.count() === TotalRows)
      // 257 rows at ≤100/trigger ⇒ at least 3 non-empty batches
      val batches = q.recentProgress.count(_.numInputRows > 0)
      assert(batches >= 3, s"expected ≥3 capped batches, saw $batches")
    } finally q.stop()
  }

  private def scanReadSchema(df: org.apache.spark.sql.DataFrame) =
    df.queryExecution.executedPlan.collectFirst {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
        b.scan.readSchema()
    }.get

  test("column pruning reaches the scan and forwards the fields param") {
    seenQueries.clear()
    val df = spark.read.format("graft-http")
      .option("url", s"http://127.0.0.1:$port/rows")
      .option("schema", "id LONG, name STRING, score DOUBLE")
      .option("pageSize", "100").option("numPartitions", "2")
      .option("fieldsParam", "fields")
      .load()
      .select(col("name"))
    assert(scanReadSchema(df).fieldNames.toSeq === Seq("name"))
    val names = df.collect() // execute THIS plan (count() would re-plan
    assert(names.length === TotalRows) // with an all-pruned projection)
    assert(names.map(_.getString(0)).contains("row-123"))
    assert(seenQueries.asScala.exists(_.contains("fields=name")),
      s"no fields param in: ${seenQueries.asScala.take(3)}")
  }

  test("count(*) still works with an all-columns-pruned projection") {
    val df = spark.read.format("graft-http")
      .option("url", s"http://127.0.0.1:$port/rows")
      .option("schema", "id LONG, name STRING, score DOUBLE")
      .option("pageSize", "100").option("numPartitions", "2")
      .load()
    assert(df.agg(count(lit(1))).head.getLong(0) === TotalRows)
  }

  test("advisory equality-filter pushdown shrinks transfer, Spark re-filters") {
    seenQueries.clear()
    requests.set(0)
    val df = spark.read.format("graft-http")
      .option("url", s"http://127.0.0.1:$port/rows")
      .option("schema", "id LONG, name STRING, score DOUBLE")
      .option("pageSize", "1000").option("numPartitions", "2")
      .option("pushFilterColumns", "name")
      .load()
      .filter(col("name") === "row-42")
    val out = df.collect()
    assert(out.length === 1)
    assert(out.head.getLong(0) === 42)
    // the param reached the server (transfer = 1 row, not 257)
    assert(seenQueries.asScala.exists(_.contains("name=row-42")),
      s"no pushed filter param in: ${seenQueries.asScala.take(3)}")
  }

  test("filterParam.<col> renames the pushed query param") {
    seenQueries.clear()
    val df = spark.read.format("graft-http")
      .option("url", s"http://127.0.0.1:$port/rows")
      .option("schema", "id LONG, name STRING, score DOUBLE")
      .option("pageSize", "1000").option("numPartitions", "1")
      .option("pushFilterColumns", "name")
      .option("filterParam.name", "name_eq")
      .load()
      .filter(col("name") === "row-7")
    assert(df.collect().map(_.getLong(0)).toSeq === Seq(7L))
    assert(seenQueries.asScala.exists(_.contains("name_eq=row-7")),
      s"renamed param missing in: ${seenQueries.asScala.take(3)}")
  }

  test("advisory range-filter pushdown sends _gte/_lt params") {
    seenQueries.clear()
    val df = spark.read.format("graft-http")
      .option("url", s"http://127.0.0.1:$port/rows")
      .option("schema", "id LONG, name STRING, score DOUBLE")
      .option("pageSize", "1000").option("numPartitions", "2")
      .option("pushFilterColumns", "id")
      .load()
      .filter(col("id") >= 200 && col("id") < 250)
    assert(df.collect().map(_.getLong(0)).sorted.toSeq === (200L until 250L))
    assert(seenQueries.asScala.exists(_.contains("id_gte=200")),
      s"no id_gte param in: ${seenQueries.asScala.take(3)}")
    assert(seenQueries.asScala.exists(_.contains("id_lt=250")),
      s"no id_lt param in: ${seenQueries.asScala.take(3)}")
  }

  test("advisory IN-filter pushdown sends a comma-joined _in param") {
    seenQueries.clear()
    val df = spark.read.format("graft-http")
      .option("url", s"http://127.0.0.1:$port/rows")
      .option("schema", "id LONG, name STRING, score DOUBLE")
      .option("pageSize", "1000").option("numPartitions", "1")
      .option("pushFilterColumns", "name")
      .load()
      .filter(col("name").isin("row-3", "row-9"))
    assert(df.collect().map(_.getLong(0)).sorted.toSeq === Seq(3L, 9L))
    assert(seenQueries.asScala.exists(_.contains("name_in=row-3,row-9")),
      s"no name_in param in: ${seenQueries.asScala.take(3)}")
  }

  test("IN values containing the list separator are NOT pushed") {
    seenQueries.clear()
    val df = spark.read.format("graft-http")
      .option("url", s"http://127.0.0.1:$port/rows")
      .option("schema", "id LONG, name STRING, score DOUBLE")
      .option("pageSize", "1000").option("numPartitions", "1")
      .option("pushFilterColumns", "name")
      .load()
      .filter(col("name").isin("row-5", "a,b"))
    assert(df.collect().map(_.getLong(0)).toSeq === Seq(5L)) // still correct
    assert(!seenQueries.asScala.exists(_.contains("name_in")),
      "ambiguous IN list must stay unpushed")
  }

  test("unpushable filters are NOT sent and still evaluate correctly") {
    seenQueries.clear()
    val df = spark.read.format("graft-http")
      .option("url", s"http://127.0.0.1:$port/rows")
      .option("schema", "id LONG, name STRING, score DOUBLE")
      .option("pageSize", "1000").option("numPartitions", "2")
      .option("pushFilterColumns", "name")
      .load()
      .filter(col("score") > 100.0) // score not in pushFilterColumns
    assert(df.count() === 56) // ids 201..256 have score > 100
    assert(!seenQueries.asScala.exists(_.contains("score")),
      "score filter must not be pushed")
  }

  test("pushed limit caps page requests instead of reading the relation") {
    seenQueries.clear()
    requests.set(0)
    val df = spark.read.format("graft-http")
      .option("url", s"http://127.0.0.1:$port/rows")
      .option("schema", "id LONG, name STRING, score DOUBLE")
      .option("pageSize", "100").option("numPartitions", "1")
      .load()
      .limit(7)
    assert(df.collect().length === 7)
    // one partition, one capped request: limit=7 went to the server
    assert(seenQueries.asScala.exists(_.contains("limit=7")),
      s"no capped limit in: ${seenQueries.asScala.take(5)}")
    assert(requests.get() === 1)
  }

  test("fetch-ahead sends exactly the GETs of a serial walk") {
    requests.set(0)
    assert(read(pageSize = 50, numPartitions = 4).collect().length === TotalRows)
    // pages 0-4 are full and page 5 is short; each reader stops after its
    // first short page: p0 reads 0,4,8; p1 1,5; p2 2,6; p3 3,7
    assert(requests.get() === 9)
  }

  test("a record missing a NOT NULL column fails the read, naming column and page") {
    val e = intercept[Exception] {
      spark.read.format("graft-http")
        .option("url", s"http://127.0.0.1:$port/drones-bad")
        .option("schema", graft.etl.DroneSense.droneSchema.toDDL)
        .option("pageSize", "2").option("numPartitions", "1")
        .load().collect()
    }
    assert(causes(e).exists(c => Option(c.getMessage).exists(m =>
      m.contains("required column 'callSign'") && m.contains("page at offset 2"))),
      causes(e).map(_.getMessage).mkString("\n"))
  }

  test("doubles round-trip bit for bit through the graft-http writer and reader") {
    import spark.implicits._
    import com.fasterxml.jackson.core.{JsonFactory, StreamReadFeature, StreamWriteFeature}
    val codec = graft.sources.HttpCodec
    assert(codec.openParser(new JsonFactory(), java.nio.ByteBuffer.wrap("[0.1]".getBytes("UTF-8")))
      .isEnabled(StreamReadFeature.USE_FAST_DOUBLE_PARSER))
    val gen = codec.generator(
      org.apache.spark.sql.types.StructType.fromDDL("v DOUBLE"), new java.io.StringWriter)
    assert(org.apache.spark.sql.JacksonShim.jsonGenerator(gen)
      .isEnabled(StreamWriteFeature.USE_FAST_DOUBLE_WRITER))

    val rng = new scala.util.Random(20261017L)
    val random = Iterator.continually(java.lang.Double.longBitsToDouble(rng.nextLong()))
      .filterNot(d => d.isNaN || d.isInfinite).take(10000)
    val values = Seq(0.1, 2e-3, 1e23, 4.9e-324, Double.MaxValue, -0.0) ++ random
    stored.clear()
    values.zipWithIndex.map { case (v, i) => (i.toLong, v) }.toDF("id", "v")
      .repartition(3)
      .write.format("graft-http")
      .option("url", s"http://127.0.0.1:$port/store")
      .option("schema", "id LONG, v DOUBLE")
      .option("postBatchSize", "500")
      .mode("append").save()
    val back = spark.read.format("graft-http")
      .option("url", s"http://127.0.0.1:$port/stored")
      .option("schema", "id LONG, v DOUBLE")
      .option("pageSize", "1000").option("numPartitions", "4")
      .load().collect().map(r => r.getLong(0).toInt -> r.getDouble(1)).toMap
    assert(back.size === values.size)
    val bits = java.lang.Double.doubleToRawLongBits _
    val wrong = values.indices.filter(i => bits(back(i)) != bits(values(i)))
    assert(wrong.isEmpty, wrong.take(5).map(i => s"${values(i)} -> ${back(i)}").mkString(", "))
  }

  test("a batch the receiver rejects fails save() with the POST's own message") {
    import spark.implicits._
    val url = s"http://127.0.0.1:$port/ingest-reject"
    // batches of 3: row 4 is in the middle batch, which surfaces when the
    // next POST waits for it; row 7 is in the last, which commit() awaits
    for (rejected <- Seq(4, 7)) {
      val e = intercept[Exception] {
        (0 until 9).map(i => (i.toLong, if (i == rejected) "reject" else s"r-$i"))
          .toDF("id", "name").coalesce(1)
          .write.format("graft-http")
          .option("url", url)
          .option("schema", "id LONG, name STRING")
          .option("postBatchSize", "3")
          .mode("append").save()
      }
      val chain = causes(e)
      assert(chain.exists(c => c.isInstanceOf[IllegalStateException] &&
        c.getMessage == s"graft-http POST $url failed: HTTP 400"),
        chain.map(_.toString).mkString("\n"))
      assert(!chain.exists(_.isInstanceOf[java.util.concurrent.ExecutionException]))
    }
  }

  test("X-Batch-Id is the name UUID of partition:ordinal:body") {
    import spark.implicits._
    ingested.clear()
    (0L until 6L).map(i => (i, s"b-$i")).toDF("id", "name").coalesce(1)
      .write.format("graft-http")
      .option("url", s"http://127.0.0.1:$port/ingest")
      .option("schema", "id LONG, name STRING")
      .option("postBatchSize", "3")
      .mode("append").save()
    // one POST in flight per task: batches arrive in ordinal order
    val batches = ingested.asScala.toSeq
    assert(batches.size === 2)
    for (((id, body), ord) <- batches.zipWithIndex)
      assert(id === java.util.UUID.nameUUIDFromBytes(s"0:$ord:$body".getBytes("UTF-8")).toString)
  }

  test("DSv2 write POSTs every row as JSON-lines batches with idempotency ids") {
    import spark.implicits._
    ingested.clear()
    val df = (0L until 10L).map(i => (i, s"w-$i")).toDF("id", "name")
      .repartition(2)
    df.write.format("graft-http")
      .option("url", s"http://127.0.0.1:$port/ingest")
      .option("schema", "id LONG, name STRING")
      .option("postBatchSize", "4")
      .option("header.X-API-KEY", "test-key")
      .mode("append").save()
    val batches = ingested.asScala.toSeq
    // 2 partitions × 5 rows at batch size 4 → at least 3 POSTs
    assert(batches.size >= 3, s"expected >=3 batches, got ${batches.size}")
    assert(batches.forall(_._1.nonEmpty), "every batch must carry X-Batch-Id")
    val rows = batches.flatMap(_._2.split("\n"))
    assert(rows.length === 10)
    val names = rows.map { j =>
      val m = """"name":"([^"]+)"""".r.findFirstMatchIn(j)
      m.get.group(1)
    }.toSet
    assert(names === (0L until 10L).map(i => s"w-$i").toSet)
  }

  test("DSv2 write retries transient 5xx per batch (by content)") {
    import spark.implicits._
    ingested.clear()
    flakyIngestSeen.clear()
    (0L until 6L).map(i => (i, s"f-$i")).toDF("id", "name")
      .coalesce(1)
      .write.format("graft-http")
      .option("url", s"http://127.0.0.1:$port/ingest-flaky")
      .option("schema", "id LONG, name STRING")
      .option("postBatchSize", "3")
      .mode("append").save()
    val rows = ingested.asScala.toSeq.flatMap(_._2.split("\n"))
    assert(rows.length === 6, s"all rows must land despite first-attempt 503s: $rows")
  }

  test("repeated reads and writes share one HttpClient: selector threads stay flat") {
    import spark.implicits._
    // every HttpClient owns one "HttpClient-<n>-SelectorManager" thread
    // that lives until the client is garbage-collected
    def selectorThreads(): Int = Thread.getAllStackTraces.keySet.asScala
      .count(t => t.isAlive && t.getName.matches("HttpClient-\\d+-SelectorManager"))
    def pass(): Unit = {
      assert(read(pageSize = 50, numPartitions = 4).count() === TotalRows)
      (0L until 8L).map(i => (i, s"t-$i")).toDF("id", "name").repartition(4)
        .write.format("graft-http")
        .option("url", s"http://127.0.0.1:$port/ingest")
        .option("schema", "id LONG, name STRING")
        .option("postBatchSize", "4")
        .mode("append").save()
    }
    pass()
    val afterFirst = selectorThreads()
    (1 to 5).foreach(_ => pass())
    assert(selectorThreads() <= afterFirst,
      s"selector threads grew from $afterFirst to ${selectorThreads()} over 5 passes")
  }

  test("filters and projections compose on top of the source") {
    val df = read(pageSize = 64, numPartitions = 2)
      .filter(col("id") % 2 === 0)
      .select(col("id"), (col("score") * 2).as("s2"))
    assert(df.count() === 129)
    assert(df.agg(max("s2")).head.getDouble(0) === 256.0)
  }

  // -- cursor-token pagination -------------------------------------------

  private def readCursor(pageSize: Int) =
    spark.read.format("graft-http")
      .option("url", s"http://127.0.0.1:$port/cursor")
      .option("schema", "id LONG, name STRING, score DOUBLE")
      .option("pagination", "cursor")
      .option("pageSize", pageSize.toString)
      .option("numPartitions", "4") // must be ignored in cursor mode
      .option("header.X-API-KEY", "cursor-key")
      .load()

  test("cursor walk reads the full relation exactly once as one partition") {
    cursorLiveRows.set(TotalRows)
    cursorGrowPerRequest.set(0)
    cursorRequests.set(0)
    seenCursorQueries.clear()
    val df = readCursor(pageSize = 50)
    // the token only exists in the previous response — one partition by
    // contract, regardless of numPartitions
    assert(df.rdd.getNumPartitions === 1)
    val rows = df.collect()
    assert(rows.length === TotalRows)
    assert(rows.map(_.getLong(0)).distinct.length === TotalRows)
    assert(lastApiKey === "cursor-key")
    // ceil(257/50) = 6 pages; the 6th is short AND carries a null token
    assert(cursorRequests.get === 6)
    // every request after the first must carry the token from the
    // previous response
    val qs = seenCursorQueries.asScala.toList
    assert(qs.count(_.contains("cursor=")) === 5, qs.mkString(" | "))
  }

  test("cursor walk under append-only growth: pre-existing rows exactly once") {
    cursorLiveRows.set(TotalRows)
    cursorGrowPerRequest.set(7) // server appends 7 rows before EVERY page
    try {
      val rows = readCursor(pageSize = 50).collect()
      val ids = rows.map(_.getLong(0))
      // keyset contract: no duplicates ever, and every row that existed
      // when the walk started is present (appends land at the tail and
      // cannot shift visited pages — the failure mode offset paging has)
      assert(ids.distinct.length === ids.length, "duplicate rows under growth")
      assert((0L until TotalRows.toLong).forall(ids.contains),
        "a pre-existing row was skipped under growth")
      assert(ids.length >= TotalRows)
    } finally {
      cursorGrowPerRequest.set(0)
      cursorLiveRows.set(TotalRows)
    }
  }

  test("cursor mode pushes the limit: .limit(10) costs one 10-row request") {
    cursorLiveRows.set(TotalRows)
    cursorGrowPerRequest.set(0)
    cursorRequests.set(0)
    seenCursorQueries.clear()
    val got = readCursor(pageSize = 50).limit(10).collect()
    assert(got.length === 10)
    assert(cursorRequests.get === 1, seenCursorQueries.asScala.mkString(" | "))
    assert(seenCursorQueries.asScala.head.contains("limit=10"))
  }

  test("cursor mode refuses to stream (no checkpointable position)") {
    val e = intercept[Exception] {
      val q = spark.readStream.format("graft-http")
        .option("url", s"http://127.0.0.1:$port/cursor")
        .option("schema", "id LONG")
        .option("pagination", "cursor")
        .option("countUrl", s"http://127.0.0.1:$port/count")
        .load()
        .writeStream.format("noop")
        .option("checkpointLocation",
          java.nio.file.Files.createTempDirectory("graft-cursor-ck").toString)
        .start()
      try q.processAllAvailable() finally q.stop()
    }
    def chain(t: Throwable): Seq[Throwable] =
      if (t == null) Seq.empty else t +: chain(t.getCause)
    assert(chain(e).exists(c =>
      Option(c.getMessage).exists(_.contains("pagination=offset"))),
      s"unexpected error: $e")
  }
}
