package graft.perfbench

import scala.collection.immutable.ListMap
import scala.collection.mutable

/** What one run prints: metrics by name and unit, and how many
  * operations (queries, or records expected at the sink) were attempted
  * and how many failed or came out wrong.
  */
final class Report {
  private val values = mutable.LinkedHashMap[String, (Double, String)]()
  var attempted = 0L
  var failed = 0L
  val problems = mutable.ArrayBuffer[String]()

  def put(name: String, value: Double, unit: String): Unit =
    values(name) = (value, unit)

  def fail(n: Long, what: String): Unit = if (n > 0) {
    failed += n
    if (problems.size < 20) problems += s"$n x $what"
  }

  def json: String = {
    def num(v: Double) = if (v.isNaN || v.isInfinite) "null" else v.toString
    val ms = values.map { case (k, (v, u)) =>
      s""""$k":{"value":${num(v)},"unit":"$u"}"""
    }.mkString(",")
    val ps = problems.map(p => "\"" + p.replace("\\", "\\\\").replace("\"", "'") + "\"")
      .mkString(",")
    s"""{"attempted":$attempted,"failed":$failed,"problems":[$ps],"metrics":{$ms}}"""
  }
}

object Stats {
  /** Linear-interpolated quantile (q in [0, 1]) of `xs`; NaN when empty. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** A full GC before each pass, outside its clock. Every `graft-http`
    * reader and writer task builds its own HttpClient, whose selector
    * thread lives until the client is collected: without this, threads
    * pile up over passes (about 8 per pass) and pass time drifts by ~20%
    * until the old generation happens to be collected.
    */
  def collectBetweenPasses(): Unit = System.gc()

  /** JVM heap in use after full GCs, in MiB. Spark's ContextCleaner
    * releases unreachable broadcasts and cached blocks asynchronously after
    * a GC, so collect three times with a pause between.
    */
  def liveHeapMb(): Double = {
    val heap = java.lang.management.ManagementFactory.getMemoryMXBean
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(200) }
    System.gc()
    heap.getHeapMemoryUsage.getUsed / 1048576.0
  }
}

/** Per-layer samples of a traced run, one per traced pass (or stream
  * trigger); [[emit]] reports each metric's median. Every name in
  * [[LayerSamples.Units]] is reported, 0 where the workload does not
  * reach that layer.
  */
final class LayerSamples {
  private val samples = mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]]()

  def add(name: String, v: Double): Unit = {
    require(LayerSamples.Units.contains(name), s"undeclared per-layer metric $name")
    samples.getOrElseUpdate(name, mutable.ArrayBuffer[Double]()) += v
  }

  /** Engine work of `s`, as the pass total (`phase` "") or as one phase
    * ("construct" or "action").
    */
  def engine(s: Span, phase: String): Unit = {
    val p = if (phase.isEmpty) "engine." else s"engine.$phase."
    val w = s.work
    add(p + "shuffle_read_bytes", w.shuffleRead)
    add(p + "shuffle_write_bytes", w.shuffleWrite)
    add(p + "spill_bytes", w.spill)
    add(p + "executor_cpu_s", w.cpuNs / 1e9)
    add(p + "cpu_util", w.cpuNs / 1e9 / (s.seconds * LayerSamples.Cores))
    add(p + "peak_exec_mem_bytes", w.peakMem)
  }

  /** Traced minus untraced, over untraced, from the two sets' medians. */
  def overhead(untraced: Seq[Double], traced: Seq[Double]): Unit =
    add("trace.overhead_frac", Stats.median(traced) / Stats.median(untraced) - 1)

  def emit(r: Report): Unit = LayerSamples.Units.foreach { case (name, unit) =>
    r.put(name, samples.get(name).fold(0.0)(xs => Stats.median(xs.toSeq)), unit)
  }
}

object LayerSamples {
  val Cores: Int = Runtime.getRuntime.availableProcessors

  private val engineUnits = Seq("shuffle_read_bytes" -> "bytes",
    "shuffle_write_bytes" -> "bytes", "spill_bytes" -> "bytes",
    "executor_cpu_s" -> "s", "cpu_util" -> "fraction", "peak_exec_mem_bytes" -> "bytes")

  /** Every per-layer metric and its unit, in report order. */
  val Units: ListMap[String, String] = ListMap(Seq(
    "queries.construct_s" -> "s", "queries.construct_jobs" -> "count",
    "queries.ms_per_job" -> "ms",
    "action.action_s" -> "s", "action.jobs" -> "count", "action.stages" -> "count",
    "action.tasks" -> "count") ++
    Seq("engine.", "engine.construct.", "engine.action.").flatMap(p =>
      engineUnits.map { case (k, u) => p + k -> u }) ++ Seq(
    "operators.idx_memo_hits" -> "count", "operators.idx_artifact_loads" -> "count",
    "operators.idx_builds" -> "count",
    "sources.get_requests" -> "count", "sources.rows_served" -> "count",
    "sources.bytes_served" -> "bytes", "sources.fetch_amplification" -> "ratio",
    "sources.read_s" -> "s",
    "etl.validate_s" -> "s", "etl.validate_jobs" -> "count", "etl.transform_s" -> "s",
    "sink.post_requests" -> "count", "sink.bytes_posted" -> "bytes",
    "sink.dup_batch_ids" -> "count", "sink.write_s" -> "s",
    "streaming.batches" -> "count", "streaming.rows_per_batch" -> "count",
    "streaming.latest_offset_ms" -> "ms", "streaming.planning_ms" -> "ms",
    "streaming.add_batch_ms" -> "ms", "streaming.wal_commit_ms" -> "ms",
    "streaming.lag_rows_max" -> "count",
    "trace.overhead_frac" -> "fraction"): _*)
}
