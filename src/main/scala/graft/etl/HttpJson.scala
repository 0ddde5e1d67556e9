package graft.etl

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.time.Duration

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, StructType}

/** HTTP source/sink mirroring the reference's network boundary
  * (GET task.ts:112-117; POST task.ts:216), kept OUT of the correctness
  * harness (no network there — SURVEY.md §7.1 phase 4).
  *
  * Source: one GET = one full snapshot of the relation, fetched
  * driver-side and parallelised immediately — the honest Spark shape for
  * an API that returns a single JSON array. The partitioned escalation
  * for offset-capable APIs is [[graft.sources.HttpTableProvider]]
  * (`spark.read.format("graft-http")` — N executors page in parallel);
  * for file-shaped inputs `spark.read.json/parquet` already scales.
  *
  * Sink: partition-parallel POSTs via `foreachPartition`. DELIVERY IS
  * AT-LEAST-ONCE: task retries and speculative execution can re-send a
  * partition — receivers must deduplicate (e.g. on an idempotency key;
  * the `X-Batch-Id` header carries a stable per-partition id for that
  * purpose). The reference's single driver-side submit has the same
  * at-least-once semantics under Lambda retries.
  */
object HttpJson {

  private val RequestTimeout = Duration.ofSeconds(60)

  /** The one client behind every HTTP call here and in `graft-http`,
    * built on first use. Each client owns a selector thread that lives
    * until the client is garbage-collected, so a client per call,
    * partition, reader or write task leaked threads; HttpClient is
    * thread-safe and pools connections per host.
    *
    * No client-wide connect timeout: on JDK 17 a connection keeps its
    * connect timer, and through it the exchange that opened it with
    * that exchange's whole response body, for as long as it stays
    * pooled. Every request sets its own timeout, which covers connect.
    */
  private[graft] lazy val client: HttpClient = HttpClient.newBuilder().build()

  /** Decode a JSON-array payload against an explicit row `schema` —
    * shape-guarded like [[DroneSense.parseJson]] (a non-array or
    * unparseable payload throws instead of silently yielding 0 rows).
    */
  def parseArray(spark: SparkSession, payload: String, schema: StructType): DataFrame = {
    import spark.implicits._
    if (!payload.trim.startsWith("[")) {
      throw new IllegalArgumentException(
        s"payload is not a JSON array: ${payload.take(120)}")
    }
    val parsed = spark.createDataset(Seq(payload))
      .select(from_json(col("value"), ArrayType(schema)).as("arr"))
    if (parsed.filter(col("arr").isNull).limit(1).count() > 0) {
      throw new IllegalArgumentException(
        s"unparseable JSON payload: ${payload.take(120)}")
    }
    parsed.select(explode(col("arr")).as("r")).select(col("r.*"))
  }

  /** GET `url` with the given headers, returning the raw body — the
    * fetch half of [[source]], exposed so pipelines that need a custom
    * decode (e.g. [[DroneSense.fromApi]]'s verbose typed decode) can
    * reuse the transport.
    */
  def get(url: String, headers: Map[String, String] = Map.empty): String = {
    val b = HttpRequest.newBuilder(URI.create(url)).GET().timeout(RequestTimeout)
    headers.foreach { case (k, v) => b.header(k, v) }
    client.send(b.build(), HttpResponse.BodyHandlers.ofString()).body()
  }

  /** GET `url` (optional header map, e.g. X-API-KEY) and decode the JSON
    * array payload against `schema`.
    */
  def source(spark: SparkSession, url: String, schema: StructType,
             headers: Map[String, String] = Map.empty): DataFrame =
    parseArray(spark, get(url, headers), schema)

  /** POST each partition's rows as a JSON-lines body to `url`
    * (at-least-once — see class doc).
    */
  def sink(df: DataFrame, url: String, headers: Map[String, String] = Map.empty): Unit = {
    val headerSeq = headers.toSeq
    df.toJSON.foreachPartition { (rows: Iterator[String]) =>
      if (rows.nonEmpty) {
        val body = rows.mkString("\n")
        val b = HttpRequest.newBuilder(URI.create(url))
          .POST(HttpRequest.BodyPublishers.ofString(body))
          .timeout(RequestTimeout)
          .header("Content-Type", "application/json")
          .header("X-Batch-Id",
            java.util.UUID.nameUUIDFromBytes(body.getBytes("UTF-8")).toString)
        headerSeq.foreach { case (k, v) => b.header(k, v) }
        val resp = client.send(b.build(), HttpResponse.BodyHandlers.ofString())
        require(resp.statusCode() / 100 == 2, s"sink POST failed: ${resp.statusCode()}")
      }
    }
  }
}
