package graft.perfbench

import java.nio.file.Path

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import graft.etl.DroneSense
import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress, Trigger}

/** What every workload gets: the session, the seed and window, the
  * endpoint, the tracer and the report, and the per-run scratch dir.
  */
final case class Ctx(spark: SparkSession, seed: Long, seconds: Double, traced: Boolean,
                     repo: Path, runDir: Path, endpoint: Endpoint, tracer: Tracer,
                     report: Report)

/** The paper's pipeline: `graft-http` read → validate → toCot →
  * `graft-http` write, against the in-process [[Endpoint]].
  */
object Cot {
  /** Records per cot_batch pass. */
  val N = 100000
  /** Records offered per second on cot_stream; fixed once, about a ninth of
    * the cot_batch throughput measured when the benchmark was defined. At
    * half, the stream fell behind for the whole window; at a quarter, each
    * 500 ms trigger was ~75% busy and queueing doubled the run-to-run spread.
    */
  val StreamRate = 10000
  /** Passes cot_batch runs after the cold one before its window opens. */
  val WarmPasses = 4
  /** cot_stream trigger interval. Fixed-size batches keep a slow trigger
    * from enlarging the next one; each batch is TriggerMs x StreamRate rows.
    */
  val TriggerMs = 500L
  /** Length of the cot_stream warm-up segment, in seconds. */
  val WarmStreamS = 4.0
  val PageSize = 1000
  /** Source partitions and HTTP server threads: both at most nproc. */
  val Readers = 4
  /** Generated records whose sink output is checked: every 1000th. */
  def sampled(i: Int): Boolean = i < DroneGen.fixture.length || i % 1000 == 7

  private val schemaDdl = DroneSense.droneSchema.toDDL

  private def options(c: Ctx) = Map(
    "url" -> s"${c.endpoint.base}/drones", "countUrl" -> s"${c.endpoint.base}/count",
    "schema" -> schemaDdl, "pageSize" -> PageSize.toString,
    "numPartitions" -> Readers.toString)

  def source(c: Ctx): DataFrame =
    c.spark.read.format("graft-http").options(options(c)).load()

  def streamSource(c: Ctx): DataFrame =
    c.spark.readStream.format("graft-http").options(options(c)).load()

  def write(c: Ctx, cot: DataFrame): Unit =
    cot.write.format("graft-http")
      .option("url", s"${c.endpoint.base}/ingest")
      .option("schema", cot.schema.toDDL)
      .mode("append").save()

  /** validate → toCot → write on `df`, under the layer spans. */
  def pipeline(c: Ctx, df: DataFrame): Unit = {
    val valid = c.tracer.span("etl.validate")(DroneSense.validate(df))
    val cot = c.tracer.span("etl.to_cot")(DroneSense.toCot(valid))
    c.tracer.span("sink.write")(write(c, cot))
  }

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  private def time(body: => Unit): Double = {
    val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
  }

  /** Checks the episode's receipts for records [0, n): each exactly
    * once, and the kept lines right. Counts every failure.
    */
  private def check(c: Ctx, n: Int, cc: CotCheck, stampMs: Int => Double): Unit = {
    val e = c.endpoint
    val r = c.report
    r.attempted += n
    r.fail((0 until n).count(e.receivedAt(_) == 0).toLong, "records missing at the sink")
    r.fail(e.dupRows.get, "records delivered twice")
    r.fail(e.rowsReceived.get - n - e.dupRows.get, "unexpected lines at the sink")
    r.fail((0 until n).count(i => sampled(i) && !e.kept.containsKey(i)).toLong,
      "checked records not kept")
    r.fail(e.kept.asScala.count { case (i, line) => !cc.ok(i, line, stampMs) }.toLong,
      "features differing from golden or recomputation")
  }

  // -- cot_batch --------------------------------------------------------

  def batch(c: Ctx): Double = {
    val gen = new DroneGen(c.seed)
    val stamp = (i: Int) => DroneGen.StampBaseMs + i * 100.0
    var data: Rendered = null
    val renderS = Stats.median((1 to 3).map(_ => time { data = gen.render(N, stamp) }))
    c.endpoint.publish(data, () => N)
    val cc = new CotCheck(c.repo, gen)
    val walls, p50s, p99s, untraced = ArrayBuffer[Double]()

    /** One full pass, checked after its clock stops; returns its wall time. */
    def pass(): Double = {
      Stats.collectBetweenPasses()
      c.endpoint.reset(sampled)
      val t0 = System.nanoTime()
      c.tracer.span("cot.pass")(pipeline(c, source(c)))
      val wall = (System.nanoTime() - t0) / 1e9
      val lat = (0 until N).map(i => (c.endpoint.receivedAt(i) - t0) / 1e6)
      p50s += Stats.median(lat)
      p99s += Stats.quantile(lat, 0.99)
      check(c, N, cc, stamp)
      wall
    }

    var cold = Double.NaN
    val warmS = time {
      cold = pass()
      (1 to WarmPasses).foreach(_ => pass())
    }
    walls.clear(); p50s.clear(); p99s.clear()
    val layer = new LayerSamples
    val start = System.nanoTime()
    while (walls.size < 2 || (System.nanoTime() - start) / 1e9 < c.seconds) {
      if (!c.traced) walls += pass()
      else { // an untraced pass, then a traced one with its prefix passes
        untraced += pass()
        c.tracer.on()
        walls += pass()
        val e = c.endpoint
        layer.add("sources.get_requests", e.getRequests.get)
        layer.add("sources.rows_served", e.rowsServed.get)
        layer.add("sources.bytes_served", e.bytesServed.get)
        layer.add("sources.fetch_amplification", e.rowsServed.get.toDouble / N)
        layer.add("sink.post_requests", e.postRequests.get)
        layer.add("sink.bytes_posted", e.bytesPosted.get)
        layer.add("sink.dup_batch_ids", e.dupBatchIds.get)
        val read = c.tracer.span("sources.read")(time(noop(source(c))))
        val transform = c.tracer.span("etl.transform")(time(noop(DroneSense.toCot(source(c)))))
        val v = c.tracer.last("etl.validate")
        layer.add("sources.read_s", read)
        layer.add("etl.validate_s", v.seconds)
        layer.add("etl.validate_jobs", v.work.jobs)
        layer.add("etl.transform_s", transform - read)
        layer.add("sink.write_s", c.tracer.last("sink.write").seconds - transform)
        layer.engine(v, "construct")
        layer.engine(c.tracer.last("sink.write"), "action")
        layer.engine(c.tracer.last("cot.pass"), "")
        c.tracer.off()
      }
    }
    System.err.println("[perfbench] passes " + walls.map(w => f"$w%.3f").mkString(" "))
    val r = c.report
    r.put("pass_s", Stats.median(walls.toSeq), "s")
    r.put("records_per_s", N / Stats.median(walls.toSeq), "1/s")
    r.put("latency_p50_ms", Stats.median(p50s.toSeq), "ms")
    r.put("latency_p99_ms", Stats.median(p99s.toSeq), "ms")
    r.put("cold_s", cold, "s")
    if (c.traced) layer.overhead(untraced.toSeq, walls.toSeq)
    layer.emit(r)
    setupLog("render", renderS, "cold and warm-up passes", warmS)
    renderS + warmS
  }

  // -- cot_stream -------------------------------------------------------

  /** Stamp of record i >= 8: ms after the stream epoch at which it was
    * offered, on top of a base far from the fixture's own stamps.
    */
  private val StreamStampBase = DroneGen.StampBaseMs + 1e9
  private def streamStamp(i: Int): Double = StreamStampBase + (i - 7) * 1000.0 / StreamRate

  /** A trigger that read rows: its progress, and the rows visible at the
    * endpoint but not yet read when it reported.
    */
  private final case class Fired(progress: StreamingQueryProgress, lagRows: Long) {
    def seconds: Double = progress.durationMs.get("triggerExecution").doubleValue / 1e3
    def endRow: Long = progress.sources.head.endOffset.trim.toLong
  }

  /** One stream query over a clock-driven schedule. The 8 fixture records
    * are there from the start; from the epoch on, record i >= 8 appears at
    * epoch + (i - 7) / StreamRate. The records are cut into consecutive
    * segments: a warm-up of [[WarmStreamS]], then one segment of `seconds`
    * (untraced run), or two of `seconds / 2`, the second traced.
    */
  def stream(c: Ctx): Double = {
    val gen = new DroneGen(c.seed)
    val e = c.endpoint
    val fixtureN = DroneGen.fixture.length
    val segS = if (c.traced) c.seconds / 2 else c.seconds
    val segRows = (segS * StreamRate).toInt
    val warmEnd = fixtureN + (WarmStreamS * StreamRate).toInt
    val offered = warmEnd + segRows * (if (c.traced) 2 else 1)
    var data: Rendered = null
    val renderS = Stats.median((1 to 3).map(_ => time { data = gen.render(offered, streamStamp) }))

    // records past the fixture appear at StreamRate from the epoch on,
    // computed from the clock, so the schedule cannot fall behind
    val epochNs = new java.util.concurrent.atomic.AtomicLong(-1L)
    e.publish(data, () => {
      val ep = epochNs.get
      val grown = if (ep < 0) 0L else (System.nanoTime() - ep) * StreamRate / 1000000000L
      fixtureN + math.min(grown, (offered - fixtureN).toLong).toInt
    })
    Stats.collectBetweenPasses()
    e.reset(sampled)
    val triggers = java.util.Collections.synchronizedList(new java.util.ArrayList[Fired]())
    val listener = new StreamingQueryListener {
      def onQueryStarted(ev: StreamingQueryListener.QueryStartedEvent): Unit = ()
      def onQueryProgress(ev: StreamingQueryListener.QueryProgressEvent): Unit =
        if (ev.progress.numInputRows > 0)
          triggers.add(Fired(ev.progress, e.visible - ev.progress.sources.head.endOffset.trim.toLong))
      def onQueryTerminated(ev: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    }
    c.spark.streams.addListener(listener)
    val t0 = System.nanoTime()
    val q = streamSource(c).writeStream
      .option("checkpointLocation", c.runDir.resolve("checkpoint-stream").toString)
      .trigger(Trigger.ProcessingTime(TriggerMs))
      .foreachBatch { (b: Dataset[Row], _: Long) =>
        c.tracer.span("streaming.batch")(pipeline(c, b))
      }.start()
    var cold = Double.NaN
    try {
      def await(done: => Boolean, timeoutS: Double): Unit = {
        val until = System.nanoTime() + (timeoutS * 1e9).toLong
        while (!done && System.nanoTime() < until && q.isActive) Thread.sleep(2)
      }
      await((0 until fixtureN).forall(e.receivedAt(_) != 0), 60)
      cold = (System.nanoTime() - t0) / 1e9
      epochNs.set(System.nanoTime())
      if (c.traced) { // trace the second segment, from when its first record appears
        val at = epochNs.get + ((warmEnd + segRows - 7) * 1e9 / StreamRate).toLong
        await(false, (at - System.nanoTime()) / 1e9)
        c.tracer.on()
      }
      await(e.receivedAt(offered - 1) != 0 && e.rowsReceived.get >= offered, c.seconds + WarmStreamS + 30)
      // let the last trigger commit before stopping
      if (q.isActive) q.processAllAvailable()
    } finally {
      q.stop()
      q.awaitTermination(30000L)
      c.tracer.off()
      c.spark.streams.removeListener(listener)
    }
    q.exception.foreach(ex => throw ex)
    // the listener bus may still hold the last progress event
    org.apache.spark.BusDrain(c.spark.sparkContext)
    check(c, offered, new CotCheck(c.repo, gen), streamStamp)

    val ep = epochNs.get
    def latencies(from: Int, until: Int): Seq[Double] = (from until until).map { i =>
      val createdNs = ep + ((e.stamp(i) - StreamStampBase) * 1e6).toLong
      (e.receivedAt(i) - createdNs) / 1e6
    }
    /** Triggers whose rows all lie in [from, until). */
    def within(from: Int, until: Int): Seq[Fired] = {
      val all = triggers.asScala.toSeq.sortBy(_.endRow)
      all.zip(0L +: all.map(_.endRow)).collect {
        case (t, start) if start >= from && t.endRow <= until => t
      }
    }
    val measured = within(warmEnd, warmEnd + segRows)
    val lat = latencies(warmEnd, warmEnd + segRows)
    val lastReceipt = (warmEnd until warmEnd + segRows).map(e.receivedAt).max
    val firstDueNs = ep + ((warmEnd - 7) * 1e9 / StreamRate).toLong
    val r = c.report
    r.put("pass_s", Stats.median(measured.map(_.seconds)), "s")
    r.put("records_per_s", segRows / ((lastReceipt - firstDueNs) / 1e9), "1/s")
    r.put("latency_p50_ms", Stats.median(lat), "ms")
    r.put("latency_p99_ms", Stats.quantile(lat, 0.99), "ms")
    r.put("cold_s", cold, "s")

    val layer = new LayerSamples
    if (c.traced) {
      val tp = within(warmEnd + segRows, offered)
      layer.add("streaming.batches", tp.size)
      layer.add("streaming.rows_per_batch", Stats.median(tp.map(_.progress.numInputRows.toDouble)))
      for ((metric, key) <- Seq("latest_offset_ms" -> "latestOffset",
        "planning_ms" -> "queryPlanning", "add_batch_ms" -> "addBatch",
        "wal_commit_ms" -> "walCommit"))
        layer.add(s"streaming.$metric",
          Stats.median(tp.map(t => Option(t.progress.durationMs.get(key)).fold(0.0)(_.doubleValue))))
      layer.add("streaming.lag_rows_max", tp.map(_.lagRows).maxOption.getOrElse(0L).toDouble)
      val validates = c.tracer.named("etl.validate")
      val writes = c.tracer.named("sink.write")
      layer.add("etl.validate_s", Stats.median(validates.map(_.seconds)))
      layer.add("etl.validate_jobs", Stats.median(validates.map(_.work.jobs.toDouble)))
      layer.add("sink.write_s", Stats.median(writes.map(_.seconds)))
      // endpoint counters cover the whole query; per offered record they
      // are the same in every segment
      layer.add("sources.get_requests", e.getRequests.get)
      layer.add("sources.rows_served", e.rowsServed.get)
      layer.add("sources.bytes_served", e.bytesServed.get)
      layer.add("sources.fetch_amplification", e.rowsServed.get.toDouble / offered)
      layer.add("sink.post_requests", e.postRequests.get)
      layer.add("sink.bytes_posted", e.bytesPosted.get)
      layer.add("sink.dup_batch_ids", e.dupBatchIds.get)
      c.tracer.named("streaming.batch").foreach(s => layer.engine(s, ""))
      validates.foreach(s => layer.engine(s, "construct"))
      writes.foreach(s => layer.engine(s, "action"))
      layer.overhead(measured.map(_.seconds), tp.map(_.seconds))
    }
    layer.emit(r)
    setupLog("render", renderS, "query start to first output", cold, "warm-up segment", WarmStreamS)
    renderS + cold + WarmStreamS
  }

  def setupLog(parts: Any*): Unit =
    System.err.println("[perfbench] setup " + parts.grouped(2).map {
      case Seq(k, v: Double) => f"$k $v%.3f s"
      case other => other.mkString(" ")
    }.mkString(", "))
}
