package graft.sources

import java.io.{ByteArrayOutputStream, OutputStreamWriter, Writer}
import java.net.URI
import java.net.http.{HttpRequest, HttpResponse}
import java.nio.ByteBuffer
import java.nio.charset.StandardCharsets.UTF_8
import java.time.Duration
import java.util
import java.util.concurrent.{Callable, ExecutionException, Executors, Future}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.core.{JsonFactory, JsonParser, JsonToken, StreamReadFeature, StreamWriteFeature}
import org.apache.spark.sql.JacksonShim
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.json.{JSONOptions, JacksonGenerator, JacksonParser}
import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, ReadLimit, ReadMaxRows, SupportsAdmissionControl}
import org.apache.spark.sql.connector.write.{BatchWrite, DataWriter, DataWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import graft.etl.HttpJson

/** Partitioned HTTP DataSource V2 — the at-scale form of the reference's
  * snapshot GET (task.ts:112-117; SURVEY.md §2.1 R1): when the upstream
  * API supports offset reads, N executors page through it in parallel
  * instead of one driver-side fetch.
  *
  * ```
  * spark.read.format("graft-http")
  *   .option("url", "https://api/rows")          // required
  *   .option("schema", "id LONG, name STRING")   // required (DDL)
  *   .option("pageSize", "1000")                 // rows per request
  *   .option("numPartitions", "8")               // parallel readers
  *   .option("offsetParam", "offset")            // query-param names
  *   .option("limitParam", "limit")
  *   .option("header.X-API-KEY", "…")            // forwarded headers
  *   .option("maxInflight", "4")   // per-EXECUTOR concurrent-request cap
  *   .option("staggerMs", "50")    // partition i's first GET waits i×50ms
  *   .load()
  * ```
  *
  * Throttle-aware fan-out: `maxInflight` bounds concurrent requests per
  * executor JVM (cluster-wide ≈ maxInflight × executors — the executor
  * is Spark's coordination-free unit); the semaphore slot is held only
  * while a request is on the wire, never across a Retry-After/backoff
  * sleep. `staggerMs` de-lockstops the fan-out: partition i's FIRST
  * request waits i × staggerMs (capped at 30 s), so N readers arrive
  * spread over a window instead of as one burst a rate-limited API
  * 429s wholesale. Both default off.
  *
  * Partitioning is STRIDED paging: partition i fetches pages
  * i, i+N, i+2N, … so no total row count is needed up front. Each page is
  * `GET url?offset=<page·pageSize>&limit=<pageSize>`; a response with
  * fewer than `pageSize` rows marks the end of the relation (the standard
  * offset-pagination contract), so every reader past it terminates.
  * Pages decode executor-side through Spark's JacksonParser — the same
  * engine `from_json` uses, so type handling matches the batch path —
  * straight from the response bytes ([[HttpCodec]]). A record whose
  * top-level `NOT NULL` column is missing or null fails the task, naming
  * the column and the page offset: the optimizer trusts the declaration.
  *
  * Fetch-ahead: every reader keeps one GET in flight ahead of its task
  * thread. The offset reader issues page k+stride's request after page k
  * decodes as a full page and before its rows are handed out, so decode
  * and downstream work overlap the wire while the requests sent stay
  * exactly those of a serial walk; the streaming range reader does the
  * same within its range. The request runs on a shared daemon pool, and
  * `maxInflight` still counts it only while it is on the wire.
  *
  * Retries/idempotence: a task retry re-fetches only its own pages;
  * correctness needs the usual offset-API assumption that the relation is
  * stable for the duration of the read (same as any snapshot isolation
  * expectation on a REST export).
  *
  * **Cursor-token APIs** (`option("pagination", "cursor")`) — the other
  * common REST shape (and the TAK-style ecosystem's usual one): each
  * response carries the opaque token for the next page, so there is no
  * stride. The walk runs as ONE partition with the same fetch-ahead
  * ([[HttpCursorReader]]): the next GET is issued the moment the token
  * is known, overlapping network latency with row decode. Options:
  *
  * ```
  * .option("pagination", "cursor")      // default: "offset"
  * .option("cursorParam", "cursor")     // request token query param
  * .option("cursorField", "next_cursor")// response field: next token
  * .option("itemsField", "items")       // response field: row array
  * ```
  *
  * First request omits the cursor param; a missing/null/empty token or
  * an empty page ends the walk. Column pruning, advisory filter
  * pushdown and limit pushdown apply as in offset mode; `numPartitions`
  * is ignored (repartition after load to fan out downstream). Unlike
  * offset paging, a keyset cursor is append-safe: rows inserted during
  * the walk cannot shift already-visited pages, so each pre-existing
  * row is read exactly once. Batch only — the streaming position must
  * be a checkpointable row count, which an opaque token cannot provide.
  */
class HttpTableProvider extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graft-http"

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val ddl = options.get("schema")
    require(ddl != null,
      "graft-http requires a 'schema' option (DDL, e.g. \"id LONG, name STRING\")")
    StructType.fromDDL(ddl)
  }

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table =
    new HttpTable(schema, properties.asScala.toMap)
}

private[sources] class HttpTable(schema: StructType, props: Map[String, String])
    extends Table with SupportsRead with SupportsWrite {
  override def name(): String = s"graft-http:${props.getOrElse("url", "?")}"
  override def schema(): StructType = schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ,
      TableCapability.BATCH_WRITE)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new HttpScanBuilder(schema, options)

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder {
      override def build(): Write = new Write {
        override def toBatch: BatchWrite =
          new HttpBatchWrite(info.schema().toDDL, info.options())
      }
    }
}

/** Scan builder with the three pushdowns an offset-paged REST source can
  * honour:
  *
  *  - **column pruning** ([[SupportsPushDownRequiredColumns]]): the
  *    executor-side JacksonParser decodes ONLY the required fields, and —
  *    when `fieldsParam` is set — the field list is forwarded to the API
  *    (`…&fields=a,b`) so the payload shrinks at the server.
  *  - **filter pushdown** ([[SupportsPushDownFilters]]), ADVISORY: simple
  *    comparison filters on columns listed in `pushFilterColumns` become
  *    query params — equality as `…&name=x`, ranges with an operator
  *    suffix (`…&id_gt=5`, `id_gte`, `id_lt`, `id_lte`), and IN lists as
  *    a comma-joined `…&name_in=a,b` (skipped when any value itself
  *    contains a comma — the encoding would be ambiguous). Every filter
  *    is still returned to Spark
  *    for re-evaluation, so a server that returns EXTRA rows cannot
  *    corrupt results — pushdown only shrinks transfer. Re-evaluation
  *    cannot restore rows a non-conforming server OMITS, so listing a
  *    column in `pushFilterColumns` is a contract: the server must apply
  *    those params on the value's canonical string form (numeric ranges
  *    numerically, equality/IN as exact string match),
  *    identically on every page (same stability assumption as offset
  *    pagination itself). When in doubt, leave the column unlisted.
  *    `filterParam.<col>` renames the BASE param; the operator suffixes
  *    append to the renamed base (`filterParam.id=key` → `key_gte=5`).
  *    Batch only: the streaming offset is a row count over the UNfiltered
  *    relation, so filter params would corrupt the stream's positions.
  *  - **limit pushdown** ([[SupportsPushDownLimit]]), partial: each
  *    strided reader stops after `limit` rows and caps its page requests,
  *    so `.limit(10)` fetches one small page per partition instead of the
  *    whole relation. Spark keeps the global limit (isPartiallyPushed).
  */
private[sources] class HttpScanBuilder(
    fullSchema: StructType, options: CaseInsensitiveStringMap)
    extends ScanBuilder with Scan with Batch
    with SupportsPushDownRequiredColumns
    with SupportsPushDownFilters
    with SupportsPushDownLimit {
  import org.apache.spark.sql.sources.{EqualTo, Filter, GreaterThan,
    GreaterThanOrEqual, In, LessThan, LessThanOrEqual}

  private val url = options.get("url")
  require(url != null, "graft-http requires a 'url' option")
  private val pageSize = options.getInt("pageSize", 1000)
  private val numPartitions = options.getInt("numPartitions", 4)
  private val pagination =
    Option(options.get("pagination")).getOrElse("offset")
  require(pagination == "offset" || pagination == "cursor",
    s"graft-http: pagination must be 'offset' or 'cursor', got '$pagination'")
  private val offsetParam =
    Option(options.get("offsetParam")).getOrElse("offset")
  private val limitParam =
    Option(options.get("limitParam")).getOrElse("limit")
  private val cursorParam =
    Option(options.get("cursorParam")).getOrElse("cursor")
  private val cursorField =
    Option(options.get("cursorField")).getOrElse("next_cursor")
  private val itemsField =
    Option(options.get("itemsField")).getOrElse("items")
  private val countUrl = Option(options.get("countUrl"))
  // throttle-aware fan-out dials (round 12): `maxInflight` bounds this
  // EXECUTOR's concurrent requests to the host (cluster-wide bound is
  // maxInflight × executors — see HttpPageFetcher.gate); `staggerMs`
  // spreads partition FIRST requests over idx × staggerMs so N readers
  // don't hit a throttling server in lockstep. Both default OFF.
  private val maxInflight = options.getInt("maxInflight", 0)
  private val staggerMs = options.getLong("staggerMs", 0L)
  private val fieldsParam = Option(options.get("fieldsParam"))
  private val pushCols: Set[String] = Option(options.get("pushFilterColumns"))
    .map(_.split(",").iterator.map(_.trim.toLowerCase).filter(_.nonEmpty).toSet)
    .getOrElse(Set.empty)
  /** Optional server-side param name per column:
    * `option("filterParam.name", "name_eq")` sends `name_eq=x` instead
    * of `name=x` — APIs rarely name their filter params after the
    * response fields.
    */
  private val paramNames: Map[String, String] = options.asScala.collect {
    case (k, v) if k.startsWith("filterparam.") =>
      k.stripPrefix("filterparam.").toLowerCase -> v
  }.toMap
  private val headers = options.asScala.collect {
    case (k, v) if k.startsWith("header.") => k.stripPrefix("header.") -> v
  }.toMap

  private var requiredSchema: StructType = fullSchema
  private var pushedAdvisory: Array[Filter] = Array.empty
  private var limit: Int = -1

  override def pruneColumns(required: StructType): Unit = {
    val names = required.fieldNames.toSet
    val kept = fullSchema.fields.filter(f => names.contains(f.name))
    // A fully-empty projection (e.g. count(*)) still needs one field for
    // the JSON decoder to emit one row per record; Spark projects the
    // surplus column away above the scan.
    requiredSchema =
      if (kept.nonEmpty) StructType(kept) else StructType(fullSchema.fields.take(1))
  }

  /** Only values with an unambiguous canonical string form are pushed —
    * never dates/timestamps/binary, whose server-side parse is a guess.
    */
  private def pushableValue(v: Any): Boolean = v match {
    case _: String | _: java.lang.Number | _: java.lang.Boolean => true
    case _ => false
  }

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    def pushable(att: String, v: Any) =
      pushCols.contains(att.toLowerCase) && pushableValue(v)
    pushedAdvisory = filters.filter {
      case EqualTo(att, v)            => pushable(att, v)
      case GreaterThan(att, v)        => pushable(att, v)
      case GreaterThanOrEqual(att, v) => pushable(att, v)
      case LessThan(att, v)           => pushable(att, v)
      case LessThanOrEqual(att, v)    => pushable(att, v)
      case In(att, vs) =>
        // comma is the list separator — a value containing one would be
        // indistinguishable from two values; leave such filters unpushed
        pushCols.contains(att.toLowerCase) && vs.nonEmpty &&
          vs.forall(v => pushableValue(v) && !v.toString.contains(","))
      case _ => false
    }
    filters // ALL filters stay post-scan: server filtering is advisory
  }
  override def pushedFilters(): Array[Filter] = pushedAdvisory

  override def pushLimit(l: Int): Boolean = { limit = l; true }
  override def isPartiallyPushed(): Boolean = true

  /** Pre-encoded extra query-string fragments ("k=v"). */
  private def extraQuery(withFilters: Boolean): Seq[String] = {
    def enc(s: String) = java.net.URLEncoder.encode(s, "UTF-8")
    val fields = fieldsParam.toSeq.map { p =>
      s"${enc(p)}=${enc(requiredSchema.fieldNames.mkString(","))}"
    }
    def base(att: String) = paramNames.getOrElse(att.toLowerCase, att)
    val filts =
      if (withFilters) pushedAdvisory.toSeq.collect {
        case EqualTo(att, v) => s"${enc(base(att))}=${enc(v.toString)}"
        case GreaterThan(att, v) =>
          s"${enc(base(att) + "_gt")}=${enc(v.toString)}"
        case GreaterThanOrEqual(att, v) =>
          s"${enc(base(att) + "_gte")}=${enc(v.toString)}"
        case LessThan(att, v) =>
          s"${enc(base(att) + "_lt")}=${enc(v.toString)}"
        case LessThanOrEqual(att, v) =>
          s"${enc(base(att) + "_lte")}=${enc(v.toString)}"
        case In(att, vs) =>
          s"${enc(base(att) + "_in")}=${enc(vs.map(_.toString).mkString(","))}"
      } else Seq.empty
    fields ++ filts
  }

  override def build(): Scan = this
  override def readSchema(): StructType = requiredSchema
  override def toBatch: Batch = this

  override def planInputPartitions(): Array[InputPartition] =
    if (pagination == "cursor") Array(HttpCursorPartition(): InputPartition)
    else Array.tabulate(numPartitions)(i =>
      HttpInputPartition(i, numPartitions): InputPartition)

  override def createReaderFactory(): PartitionReaderFactory =
    if (pagination == "cursor")
      new HttpCursorReaderFactory(url, requiredSchema.toDDL, pageSize,
        cursorParam, limitParam, cursorField, itemsField, headers,
        extraQuery(withFilters = true), limit)
    else
      new HttpReaderFactory(url, requiredSchema.toDDL, pageSize,
        offsetParam, limitParam, headers, extraQuery(withFilters = true), limit,
        maxInflight, staggerMs)

  // -- streaming (micro-batch) form ------------------------------------
  // Incremental ingestion from a GROWING offset API: each trigger reads
  // [committed, current-total) exactly once, with the row offset
  // checkpointed as the stream position. Requires `countUrl` (an
  // endpoint returning the current total row count as a plain integer)
  // — the standard cheap-watermark contract for offset APIs; rows must
  // be append-only and immutable below the count. `maxRowsPerTrigger`
  // caps each batch (admission control) so a large backlog drains in
  // checkpointable increments instead of one giant first batch.
  // Column pruning (and fieldsParam) applies; filter/limit params do NOT
  // — stream offsets index the unfiltered relation.
  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream = {
    require(pagination == "offset",
      "graft-http streaming requires pagination=offset: the stream " +
        "position is a checkpointable row count, which an opaque cursor " +
        "token cannot provide (tokens expire and cannot be compared/split)")
    new HttpMicroBatchStream(
      url,
      countUrl.getOrElse(throw new IllegalArgumentException(
        "graft-http streaming requires a 'countUrl' option")),
      requiredSchema.toDDL, pageSize, numPartitions, offsetParam, limitParam,
      headers, options.getLong("maxRowsPerTrigger", 0L),
      extraQuery(withFilters = false), maxInflight)
  }
}

/** Stream offset = number of rows already ingested. */
private[sources] case class HttpRowOffset(rows: Long)
    extends org.apache.spark.sql.connector.read.streaming.Offset {
  override def json(): String = rows.toString
}

private[sources] class HttpMicroBatchStream(
    url: String, countUrl: String, schemaDdl: String, pageSize: Int,
    numPartitions: Int, offsetParam: String, limitParam: String,
    headers: Map[String, String], maxRowsPerTrigger: Long,
    extraQuery: Seq[String] = Seq.empty, maxInflight: Int = 0)
    extends MicroBatchStream with SupportsAdmissionControl {

  import org.apache.spark.sql.connector.read.streaming.Offset

  private def currentCount(): Long = {
    val b = HttpRequest.newBuilder(URI.create(countUrl)).GET()
      .timeout(Duration.ofSeconds(30))
    headers.foreach { case (k, v) => b.header(k, v) }
    val resp = HttpJson.client.send(b.build(), HttpResponse.BodyHandlers.ofString())
    require(resp.statusCode() / 100 == 2,
      s"graft-http count GET $countUrl failed: HTTP ${resp.statusCode()}")
    resp.body().trim.toLong
  }

  override def initialOffset(): Offset = HttpRowOffset(0L)

  override def getDefaultReadLimit: ReadLimit =
    if (maxRowsPerTrigger > 0) ReadLimit.maxRows(maxRowsPerTrigger)
    else ReadLimit.allAvailable()

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val lo = start.asInstanceOf[HttpRowOffset].rows
    val cnt = currentCount()
    // a shrinking count means the upstream broke the append-only
    // contract (stale replica, recount) — moving the offset backwards
    // would re-ingest rows as duplicates later, so fail loudly instead
    require(cnt >= lo,
      s"graft-http: countUrl reports $cnt rows but $lo are committed — " +
        "append-only contract broken (stale replica / upstream recount?)")
    val hi = limit match {
      case r: ReadMaxRows => math.min(cnt, lo + r.maxRows())
      case _ => cnt
    }
    HttpRowOffset(hi)
  }

  // with SupportsAdmissionControl the engine calls the 2-arg form
  override def latestOffset(): Offset =
    throw new UnsupportedOperationException(
      "latestOffset(start, limit) should be called instead")

  override def deserializeOffset(json: String): Offset =
    HttpRowOffset(json.trim.toLong)
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val lo = start.asInstanceOf[HttpRowOffset].rows
    val hi = end.asInstanceOf[HttpRowOffset].rows
    require(hi >= lo, s"graft-http: offset range went backwards ($hi < $lo)")
    val total = hi - lo
    if (total == 0) Array.empty
    else {
      val n = math.min(numPartitions.toLong, total).toInt
      val per = total / n
      val rem = total % n
      // contiguous row ranges, remainder spread over the first `rem`
      var cursor = lo
      Array.tabulate(n) { i =>
        val len = per + (if (i < rem) 1 else 0)
        val p = HttpRangePartition(cursor, cursor + len)
        cursor += len
        p: InputPartition
      }
    }
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new HttpRangeReaderFactory(url, schemaDdl, pageSize,
      offsetParam, limitParam, headers, extraQuery, maxInflight)
}

/** Exact row range [startRow, endRow) for one micro-batch partition. */
private[sources] case class HttpRangePartition(startRow: Long, endRow: Long)
    extends InputPartition

private[sources] class HttpRangeReaderFactory(
    url: String, schemaDdl: String, pageSize: Int,
    offsetParam: String, limitParam: String, headers: Map[String, String],
    extraQuery: Seq[String] = Seq.empty, maxInflight: Int = 0)
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[HttpRangePartition]
    new HttpRangeReader(url, schemaDdl, pageSize, offsetParam, limitParam,
      headers, p.startRow, p.endRow, extraQuery, maxInflight)
  }
}

/** The record codec of every `graft-http` path: Spark's JacksonParser
  * and JacksonGenerator (the engines `from_json` and `to_json` use) over
  * UTF-8 bytes, with Jackson's fast double parser and writer. Both
  * round-trip every double bit for bit, like JDK 17's
  * `Double.parseDouble` and `Double.toString`, which took about a third
  * of a CoT task's CPU.
  */
private[graft] object HttpCodec {
  val options = new JSONOptions(Map.empty[String, String], "UTC", "")

  /** A UTF-8 parser over the slice `body`, for [[JacksonParser.parse]]. */
  def openParser(factory: JsonFactory, body: ByteBuffer): JsonParser =
    factory.createParser(body.array, body.arrayOffset + body.position, body.remaining)
      .enable(StreamReadFeature.USE_FAST_DOUBLE_PARSER.mappedFeature())

  def generator(schema: StructType, out: Writer): JacksonGenerator = {
    val g = new JacksonGenerator(schema, out, options)
    JacksonShim.jsonGenerator(g).enable(StreamWriteFeature.USE_FAST_DOUBLE_WRITER.mappedFeature())
    g
  }
}

/** One request running on [[HttpPageFetcher]]'s fetch-ahead pool. */
private[sources] final class InFlight[T](f: Future[T]) {
  /** The request's result; its failure is rethrown as it was thrown. */
  def await(): T = try f.get() catch { case e: ExecutionException => throw e.getCause }
  def cancel(): Unit = { f.cancel(true); () }
}

/** Shared per-reader fetch plumbing (the shared client + one
  * JacksonParser; one GET per page) for the batch and streaming readers — the retry/
  * auth/timeout policy lives in exactly one place.
  *
  * Transient failures (5xx, 429, connection errors) retry with
  * exponential backoff before surfacing — a page fetch failing
  * permanently fails the TASK, and Spark's task retry would re-read the
  * whole partition; cheap request-level retries absorb blips first.
  * 4xx (other than 429) never retries: the request itself is wrong.
  */
private[sources] object HttpPageFetcher {
  /** Cap on honoring `Retry-After`: the server's pacing wins over the
    * exponential backoff up to this bound, past which a buggy or
    * hostile header would just be parking executor tasks.
    */
  val MaxRetryAfterMs: Long = 30000L

  /** Cap on the per-partition first-request stagger (idx × staggerMs):
    * same reasoning as [[MaxRetryAfterMs]] — a misconfigured dial must
    * not park a task for minutes.
    */
  val MaxStaggerMs: Long = 30000L

  /** Per-executor inflight gates, keyed host#permits. The `maxInflight`
    * dial bounds CONCURRENT requests from THIS executor JVM to the
    * source host — Spark's coordination-free unit; on a cluster the
    * effective global bound is maxInflight × executors (a truly global
    * limit would need an external coordinator, which a data source has
    * no business running). Keyed by the dial too, so two reads of the
    * same host with different dials don't fight over one semaphore.
    */
  private val gates =
    new java.util.concurrent.ConcurrentHashMap[String, java.util.concurrent.Semaphore]
  def gate(authority: String, permits: Int): java.util.concurrent.Semaphore =
    gates.computeIfAbsent(s"$authority#$permits",
      _ => new java.util.concurrent.Semaphore(permits, true))

  /** Daemon threads that carry the one request each reader or writer
    * task keeps in flight: a reader's next page, a writer's last batch.
    * Cached, so threads exist only while requests do (plus an idle
    * minute).
    */
  private val pool = Executors.newCachedThreadPool { (r: Runnable) =>
    val t = new Thread(r, "graft-http-ahead"); t.setDaemon(true); t
  }
  def ahead[T](request: => T): InFlight[T] =
    new InFlight(pool.submit(new Callable[T] { def call(): T = request }))
}

private[sources] class HttpPageFetcher(
    url: String, schemaDdl: String,
    offsetParam: String, limitParam: String, headers: Map[String, String],
    extraQuery: Seq[String] = Seq.empty,
    maxRetries: Int = 3, backoffMs: Long = 200L, maxInflight: Int = 0) {
  // the slot is held only while a request is ON THE WIRE — never across
  // a backoff/Retry-After sleep, so a throttled task parks itself, not
  // a concurrency slot another partition could be using
  private val inflightGate: Option[java.util.concurrent.Semaphore] =
    if (maxInflight > 0)
      Some(HttpPageFetcher.gate(URI.create(url).getAuthority, maxInflight))
    else None
  private val schema = StructType.fromDDL(schemaDdl)
  private val parser =
    new JacksonParser(schema, HttpCodec.options, allowArrayAsStructs = true, Seq.empty)
  // JacksonParser leaves a missing field null even in a NOT NULL column,
  // and the optimizer trusts the declaration (an isNull filter on such a
  // column folds to false), so the decode must enforce it
  private val required = schema.fields.indices.filterNot(schema(_).nullable).toArray

  /** GET with retry, returning the raw body. `queryTail` is the
    * pre-encoded pagination fragment ("offset=0&limit=10" /
    * "cursor=abc&limit=10"); the configured extraQuery fragments
    * (fields/filter params) are appended. THREAD-SAFE (HttpClient is;
    * nothing else is touched) — readers call it on the fetch-ahead pool.
    */
  def fetchBody(queryTail: String): Array[Byte] = {
    val sep = if (url.contains("?")) "&" else "?"
    val extras = extraQuery.map("&" + _).mkString
    val pageUrl = s"$url$sep$queryTail$extras"
    val b = HttpRequest.newBuilder(URI.create(pageUrl)).GET()
      .timeout(Duration.ofSeconds(60))
    headers.foreach { case (k, v) => b.header(k, v) }
    val req = b.build()
    var attempt = 0
    var body: Array[Byte] = null
    while (body == null) {
      val outcome =
        try {
          inflightGate.foreach(_.acquire())
          val resp =
            try HttpJson.client.send(req, HttpResponse.BodyHandlers.ofByteArray())
            finally inflightGate.foreach(_.release())
          val code = resp.statusCode()
          if (code / 100 == 2) Right(resp.body())
          else if (code == 429 || code / 100 == 5)
            // transient: server-side / throttled — carry Retry-After so
            // the sleep honors the server's own pacing (the first thing
            // a real API sends back at partitioned-read fan-out)
            Left((s"HTTP $code", retryAfterMs(resp)))
          else throw new IllegalStateException(
            s"graft-http GET $pageUrl failed: HTTP $code") // caller bug
        } catch {
          case e: java.io.IOException => Left((e.toString, None)) // connection blip
        }
      outcome match {
        case Right(ok) => body = ok
        case Left((err, retryAfter)) =>
          attempt += 1
          if (attempt > maxRetries) throw new IllegalStateException(
            s"graft-http GET $pageUrl failed after $maxRetries retries: $err")
          val base = backoffMs * (1L << (attempt - 1))
          // server wins when it asks for MORE than the backoff, capped
          // so a hostile/buggy header can't park the task indefinitely
          Thread.sleep(retryAfter.fold(base)(r =>
            math.max(base, math.min(r, HttpPageFetcher.MaxRetryAfterMs))))
      }
    }
    body
  }

  /** `Retry-After` in millis, from either RFC 9110 form (delta-seconds
    * or an HTTP-date); None when absent or unparseable.
    */
  private def retryAfterMs(resp: HttpResponse[_]): Option[Long] = {
    val v = resp.headers().firstValue("Retry-After")
    if (!v.isPresent) None
    else {
      val s = v.get().trim
      s.toLongOption.map(_ * 1000L).orElse {
        try {
          val at = java.time.ZonedDateTime.parse(
            s, java.time.format.DateTimeFormatter.RFC_1123_DATE_TIME)
          Some(math.max(
            java.time.Duration.between(java.time.ZonedDateTime.now(at.getZone), at)
              .toMillis, 0L))
        } catch { case _: java.time.format.DateTimeParseException => None }
      }
    }
  }

  /** Parse a JSON array (or single object) of records, the page starting
    * at row `pageStart`. NOT thread-safe — call from the task thread only.
    */
  def parse(body: ByteBuffer, pageStart: Long): Seq[InternalRow] = {
    val rows = parser.parse[ByteBuffer](body, HttpCodec.openParser,
      b => UTF8String.fromBytes(b.array, b.arrayOffset + b.position, b.remaining)).toSeq
    rows.foreach { row =>
      required.foreach { i =>
        if (row.isNullAt(i)) throw new IllegalStateException(
          s"graft-http: required column '${schema(i).name}' is null or missing " +
            s"in the page at offset $pageStart")
      }
    }
    rows
  }

  /** Start the GET of rows [offset, offset+limit) on the fetch-ahead pool. */
  def fetchAhead(offset: Long, limit: Long): InFlight[Array[Byte]] =
    HttpPageFetcher.ahead(fetchBody(s"$offsetParam=$offset&$limitParam=$limit"))

  /** Wait for a page started by [[fetchAhead]] and decode it. */
  def rows(page: InFlight[Array[Byte]], offset: Long): Seq[InternalRow] =
    parse(ByteBuffer.wrap(page.await()), offset)
}

/** Pages through an exact [startRow, endRow) range with limit-capped
  * requests — exactly-once per planned range (the range came from
  * checkpointed offsets). The next page's GET leaves before the current
  * page's rows are handed out.
  */
private[sources] class HttpRangeReader(
    url: String, schemaDdl: String, pageSize: Int,
    offsetParam: String, limitParam: String, headers: Map[String, String],
    startRow: Long, endRow: Long, extraQuery: Seq[String] = Seq.empty,
    maxInflight: Int = 0)
    extends PartitionReader[InternalRow] {

  private val fetcher =
    new HttpPageFetcher(url, schemaDdl, offsetParam, limitParam, headers,
      extraQuery, maxInflight = maxInflight)
  private var cursor = startRow // first row not yet decoded; `ahead` fetches from it
  private var ahead: Option[InFlight[Array[Byte]]] = fetchNext()
  private var rows: Iterator[InternalRow] = Iterator.empty

  private def fetchNext(): Option[InFlight[Array[Byte]]] =
    if (cursor < endRow)
      Some(fetcher.fetchAhead(cursor, math.min(pageSize.toLong, endRow - cursor)))
    else None

  override def next(): Boolean = {
    while (!rows.hasNext && ahead.isDefined) {
      val fetched = fetcher.rows(ahead.get, cursor)
      // the range came from committed offsets, so the rows MUST exist
      require(fetched.nonEmpty,
        s"graft-http: server returned no rows for committed range at offset $cursor")
      cursor += fetched.size
      ahead = fetchNext()
      rows = fetched.iterator
    }
    rows.hasNext
  }

  override def get(): InternalRow = rows.next()
  override def close(): Unit = ahead.foreach(_.cancel())
}

/** Strided page range: this partition owns pages idx, idx+stride, … */
private[sources] case class HttpInputPartition(idx: Int, stride: Int)
    extends InputPartition

private[sources] class HttpReaderFactory(
    url: String, schemaDdl: String, pageSize: Int,
    offsetParam: String, limitParam: String, headers: Map[String, String],
    extraQuery: Seq[String] = Seq.empty, limit: Int = -1,
    maxInflight: Int = 0, staggerMs: Long = 0L)
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[HttpInputPartition]
    new HttpPartitionReader(url, schemaDdl, pageSize, offsetParam, limitParam,
      headers, p.idx, p.stride, extraQuery, limit, maxInflight, staggerMs)
  }
}

private[sources] class HttpPartitionReader(
    url: String, schemaDdl: String, pageSize: Int,
    offsetParam: String, limitParam: String, headers: Map[String, String],
    firstPage: Int, stride: Int,
    extraQuery: Seq[String] = Seq.empty, limit: Int = -1,
    maxInflight: Int = 0, staggerMs: Long = 0L)
    extends PartitionReader[InternalRow] {

  private val fetcher =
    new HttpPageFetcher(url, schemaDdl, offsetParam, limitParam, headers,
      extraQuery, maxInflight = maxInflight)
  private var page = firstPage // the page `ahead` fetches
  private var emitted = 0L
  // deterministic fan-out de-lockstep: partition i's FIRST request
  // waits i × staggerMs (capped), so N partitions arrive spread over
  // a window instead of as one synchronized burst a throttling
  // server 429s wholesale. One sleep per partition lifetime.
  if (staggerMs > 0)
    Thread.sleep(math.min(firstPage.toLong * staggerMs, HttpPageFetcher.MaxStaggerMs))
  private var ahead: Option[InFlight[Array[Byte]]] = fetchNext()
  private var rows: Iterator[InternalRow] = Iterator.empty

  /** The GET of `page`. Pushed limit: this partition never needs more
    * than `limit` rows (Spark applies the global limit above), so cap the
    * page request and stop once reached. Page OFFSETS stay
    * pageSize-strided — a capped request just leaves the rest of that
    * page unread.
    */
  private def fetchNext(): Option[InFlight[Array[Byte]]] = {
    val want =
      if (limit >= 0) math.min(pageSize.toLong, limit - emitted) else pageSize.toLong
    if (want > 0) Some(fetcher.fetchAhead(page.toLong * pageSize, want)) else None
  }

  override def next(): Boolean = {
    while (!rows.hasNext && ahead.isDefined) {
      val fetched = fetcher.rows(ahead.get, page.toLong * pageSize)
      page += stride
      emitted += fetched.size
      // A response shorter than the full page size is the end of the
      // relation: every later page — anyone's stride — is empty, so
      // this reader can stop. (A limit-capped request is always
      // "short"; that conservatively stops after the capped page,
      // which is exactly the pushed-limit behavior.) Only a full page
      // sends the next request, so fetching ahead sends exactly the
      // requests a serial walk does.
      ahead = if (fetched.size < pageSize) None else fetchNext()
      rows = fetched.iterator
    }
    rows.hasNext
  }

  override def get(): InternalRow = rows.next()
  override def close(): Unit = ahead.foreach(_.cancel())
}

/** The cursor walk is one partition by contract (each page's token only
  * exists in the previous response — there is nothing to stride).
  */
private[sources] case class HttpCursorPartition() extends InputPartition

private[sources] class HttpCursorReaderFactory(
    url: String, schemaDdl: String, pageSize: Int,
    cursorParam: String, limitParam: String,
    cursorField: String, itemsField: String,
    headers: Map[String, String],
    extraQuery: Seq[String] = Seq.empty, limit: Int = -1)
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new HttpCursorReader(url, schemaDdl, pageSize, cursorParam, limitParam,
      cursorField, itemsField, headers, extraQuery, limit)
}

/** Sequential cursor walk with FETCH-AHEAD: cursor pagination is
  * inherently serial (page k+1's request token is only known from page
  * k's response), so the parallelism available is pipelining, not
  * striding — the next GET goes on the wire the moment the token is
  * found in the current body, BEFORE the current page's rows are
  * decoded and emitted, overlapping network latency with executor-side
  * decode + downstream consumption. The GET runs on the shared
  * fetch-ahead pool, like the offset readers'; one streaming pass over
  * the envelope finds the token and the row array's bytes, which the
  * task thread then decodes in place.
  *
  * Envelope contract: the response is an object whose `itemsField` is
  * the row array and whose `cursorField` is the next token; a missing/
  * null/empty token — or an empty page — ends the relation. Growth
  * during the walk is SAFE under the usual keyset-cursor contract
  * (tokens encode a position in a stable order, so appended rows are
  * either visited once or not yet visible) — unlike offset paging,
  * where concurrent inserts shift later pages.
  */
private[sources] class HttpCursorReader(
    url: String, schemaDdl: String, pageSize: Int,
    cursorParam: String, limitParam: String,
    cursorField: String, itemsField: String,
    headers: Map[String, String],
    extraQuery: Seq[String] = Seq.empty, limit: Int = -1)
    extends PartitionReader[InternalRow] {

  private val fetcher =
    new HttpPageFetcher(url, schemaDdl, cursorParam, limitParam, headers,
      extraQuery)
  private val envelopeFactory = new JsonFactory()
  private def enc(s: String) = java.net.URLEncoder.encode(s, "UTF-8")

  private var fetchedSoFar = 0L

  private def fetchAhead(tok: Option[String]): InFlight[Array[Byte]] = {
    // Pushed limit: never request more than the rows still missing —
    // `.limit(10)` costs one small page, not a full walk.
    val want =
      if (limit >= 0) math.min(pageSize.toLong, limit - fetchedSoFar)
      else pageSize.toLong
    val tail = tok.map(t => s"${enc(cursorParam)}=${enc(t)}&").getOrElse("") +
      s"$limitParam=$want"
    HttpPageFetcher.ahead(fetcher.fetchBody(tail))
  }

  private var ahead: Option[InFlight[Array[Byte]]] = Some(fetchAhead(None))
  private var rows: Iterator[InternalRow] = Iterator.empty

  /** The row array (a slice of `body`), its length and the next token. */
  private def envelope(body: Array[Byte]): (ByteBuffer, Int, Option[String]) = {
    val p = envelopeFactory.createParser(body)
    try {
      var items: ByteBuffer = null
      var n = 0
      var nextTok: Option[String] = None
      if (p.nextToken() == JsonToken.START_OBJECT)
        while (p.nextToken() == JsonToken.FIELD_NAME) {
          val field = p.currentName()
          val t = p.nextToken()
          if (field == itemsField && t == JsonToken.START_ARRAY) {
            val from = p.currentTokenLocation().getByteOffset.toInt
            n = 0
            while (p.nextToken() != JsonToken.END_ARRAY) { n += 1; p.skipChildren() }
            items = ByteBuffer.wrap(body, from, p.currentLocation().getByteOffset.toInt - from)
          } else if (field == cursorField && t.isScalarValue && t != JsonToken.VALUE_NULL)
            nextTok = Some(p.getText).filter(_.nonEmpty)
          else p.skipChildren()
        }
      require(items != null,
        s"graft-http cursor response has no array field '$itemsField' " +
          s"(set the 'itemsField' option to the row-array field name)")
      (items, n, nextTok)
    } finally p.close()
  }

  override def next(): Boolean = {
    while (!rows.hasNext && ahead.isDefined) {
      val (items, n, nextTok) = envelope(ahead.get.await())
      ahead = None
      val pageStart = fetchedSoFar
      fetchedSoFar += n
      // fetch-ahead: issue the NEXT request before decoding THIS page
      if (n > 0 && nextTok.isDefined && (limit < 0 || fetchedSoFar < limit))
        ahead = Some(fetchAhead(nextTok))
      rows = fetcher.parse(items, pageStart).iterator
    }
    rows.hasNext
  }

  override def get(): InternalRow = rows.next()
  override def close(): Unit = ahead.foreach(_.cancel())
}

/** Batch write side of `graft-http` — the at-scale form of the
  * reference's result POST (task.ts:216; SURVEY.md §2.1 R15): every
  * write task POSTs its partition's rows as JSON-lines bodies of
  * `postBatchSize` rows, in parallel, instead of one driver-side
  * submit.
  *
  * ```
  * df.write.format("graft-http")
  *   .option("url", "https://api/ingest")        // required
  *   .option("schema", df.schema.toDDL)          // required (provider contract)
  *   .option("postBatchSize", "500")             // rows per POST
  *   .option("header.X-API-KEY", "…")            // forwarded headers
  *   .mode("append").save()
  * ```
  *
  * DELIVERY IS AT-LEAST-ONCE: a POST that lands but whose response is
  * lost will be retried (request-level, then Spark task-level), and
  * `abort()` cannot unsend batches already delivered. Every body
  * carries `X-Batch-Id` = UUID of (partition, batch ordinal, content),
  * so a deduping receiver drops request-level replays always, and
  * task-retry replays whenever the partition recomputes
  * deterministically; nondeterministic recomputation (e.g. unordered
  * shuffle input) can re-send under fresh ids — receiver-side keying on
  * business ids is the remaining defence. Same contract as the
  * reference's Lambda retries and the foreachPartition sink
  * (`etl.HttpJson.sink`), here as a first-class DSv2 write with
  * per-task commit messages. Exactly-once needs a transactional
  * receiver; HTTP alone cannot provide it. Each task keeps one POST in
  * flight while it fills the next batch; the contract is the same,
  * because a task commits only after its last POST has succeeded.
  */
private[sources] class HttpBatchWrite(
    schemaDdl: String, options: CaseInsensitiveStringMap) extends BatchWrite {
  private val url = options.get("url")
  require(url != null, "graft-http write requires a 'url' option")
  private val postBatchSize = options.getInt("postBatchSize", 500)
  private val headers = options.asScala.collect {
    case (k, v) if k.startsWith("header.") => k.stripPrefix("header.") -> v
  }.toMap

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
    new HttpWriterFactory(url, schemaDdl, headers, postBatchSize)
  // nothing to finalise: batches are delivered as they fill (streaming
  // them is the point — buffering a 100 TB write until commit is not an
  // option), which is exactly what makes delivery at-least-once
  override def commit(messages: Array[WriterCommitMessage]): Unit = ()
  override def abort(messages: Array[WriterCommitMessage]): Unit = ()
}

private[sources] class HttpWriterFactory(
    url: String, schemaDdl: String, headers: Map[String, String],
    postBatchSize: Int) extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new HttpBatchWriter(url, schemaDdl, headers, postBatchSize, partitionId)
}

private[sources] case class HttpCommitMessage(partitionId: Int, rows: Long)
    extends WriterCommitMessage

/** One write task: serialize rows through Spark's JacksonGenerator (the
  * same engine `to_json` uses, symmetric with the reader's
  * JacksonParser) into one UTF-8 buffer per batch, and POST every
  * `postBatchSize` rows. The POST runs on the fetch-ahead pool while the
  * task fills the next batch: one POST in flight, awaited before the
  * next one is sent and in `commit()`, so a failed batch fails the task
  * with its own exception. Retry policy mirrors [[HttpPageFetcher]]:
  * 5xx/429/connection errors back off and retry, other 4xx fail fast
  * (the request is wrong, not the weather).
  */
private[sources] class HttpBatchWriter(
    url: String, schemaDdl: String, headers: Map[String, String],
    postBatchSize: Int, partitionId: Int,
    maxRetries: Int = 3, backoffMs: Long = 200L)
    extends DataWriter[InternalRow] {
  require(postBatchSize > 0, s"postBatchSize must be positive, got $postBatchSize")
  private val batch = new ByteArrayOutputStream(1 << 16)
  private val gen = HttpCodec.generator(
    StructType.fromDDL(schemaDdl), new OutputStreamWriter(batch, UTF_8))
  private var rowsInBatch = 0
  private var rowsWritten = 0L
  private var batchOrdinal = 0L
  private var posting: Option[InFlight[Unit]] = None

  override def write(row: InternalRow): Unit = {
    if (rowsInBatch > 0) gen.writeLineEnding()
    gen.write(row)
    rowsInBatch += 1
    rowsWritten += 1
    if (rowsInBatch >= postBatchSize) flushBatch()
  }

  private def flushBatch(): Unit = if (rowsInBatch > 0) {
    gen.flush()
    val body = batch.toByteArray
    batch.reset()
    rowsInBatch = 0
    val b = HttpRequest.newBuilder(URI.create(url))
      .POST(HttpRequest.BodyPublishers.ofByteArray(body))
      .timeout(Duration.ofSeconds(60))
      .header("Content-Type", "application/json")
      .header("X-Batch-Id", batchId(body))
    headers.foreach { case (k, v) => b.header(k, v) }
    val req = b.build()
    batchOrdinal += 1
    awaitPost()
    posting = Some(HttpPageFetcher.ahead(post(req)))
  }

  /** `UUID.nameUUIDFromBytes` of "partition:ordinal:body", hashed in
    * parts. id = (partition, batch ordinal, content): content alone would
    * give two legitimately-distinct but byte-identical batches the SAME id
    * (a deduping receiver silently drops the second); position alone
    * would miss task-retry replays. Position+content distinguishes
    * repeats within an attempt and matches across retries WHEN the
    * partition recomputes deterministically — after a shuffle with
    * nondeterministic order, replays may carry fresh ids, which is the
    * at-least-once contract (receiver-side keying on business ids is
    * the remaining defence, as with any HTTP sink).
    */
  private def batchId(body: Array[Byte]): String = {
    val md5 = java.security.MessageDigest.getInstance("MD5")
    md5.update(s"$partitionId:$batchOrdinal:".getBytes(UTF_8))
    val h = md5.digest(body)
    h(6) = (h(6) & 0x0f | 0x30).toByte // version 3 (name-based, MD5)
    h(8) = (h(8) & 0x3f | 0x80).toByte // IETF variant
    val words = ByteBuffer.wrap(h)
    new util.UUID(words.getLong, words.getLong).toString
  }

  private def post(req: HttpRequest): Unit = {
    var attempt = 0
    var done = false
    while (!done) {
      val outcome =
        try {
          val resp = HttpJson.client.send(req, HttpResponse.BodyHandlers.discarding())
          val code = resp.statusCode()
          if (code / 100 == 2) Right(())
          else if (code == 429 || code / 100 == 5) Left(s"HTTP $code")
          else throw new IllegalStateException(
            s"graft-http POST $url failed: HTTP $code")
        } catch {
          case e: java.io.IOException => Left(e.toString)
        }
      outcome match {
        case Right(_) => done = true
        case Left(err) =>
          attempt += 1
          if (attempt > maxRetries) throw new IllegalStateException(
            s"graft-http POST $url failed after $maxRetries retries: $err")
          Thread.sleep(backoffMs * (1L << (attempt - 1)))
      }
    }
  }

  private def awaitPost(): Unit = {
    posting.foreach(_.await())
    posting = None
  }

  override def commit(): WriterCommitMessage = {
    flushBatch()
    awaitPost()
    HttpCommitMessage(partitionId, rowsWritten)
  }
  // batches already POSTed cannot be unsent — at-least-once by contract;
  // drop only the unflushed tail and stop waiting on the last POST
  override def abort(): Unit = {
    posting.foreach(_.cancel())
    batch.reset()
    rowsInBatch = 0
  }
  override def close(): Unit = gen.close()
}
