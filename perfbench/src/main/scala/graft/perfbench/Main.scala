package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Path, Paths}

/** One benchmark run in a fresh JVM (launched by `perfbench/run.py`):
  *
  *   Main <workload> <seed> <seconds> <trace 0|1> <repo root> <run dir>
  *   Main record-digests <repo root> <run dir>
  *
  * Everything the run writes (Spark local dirs, warehouse, checkpoints;
  * `java.io.tmpdir`, and with it `Artifacts.root`, is set by the
  * launcher) lives under the run dir. The last stdout line is
  * `PERFBENCH_RESULT <json>`.
  */
object Main {
  val Workloads: Map[String, Ctx => Double] = Map(
    "cot_batch" -> Cot.batch,
    "cot_stream" -> Cot.stream,
    "iterative_ops" -> (c => QueryMix.run(c, QueryMix.Iterative)),
    "relational_mix" -> (c => QueryMix.run(c, QueryMix.Relational)))

  private def session(runDir: Path) = {
    val cores = Runtime.getRuntime.availableProcessors.toString
    graft.LocalSession.create(cores, Map(
      "spark.sql.adaptive.enabled" -> "true",
      "spark.local.dir" -> runDir.resolve("spark-local").toString,
      "spark.sql.warehouse.dir" -> runDir.resolve("warehouse").toString,
      "spark.sql.streaming.checkpointLocation" -> runDir.resolve("checkpoints").toString))
  }

  def main(args: Array[String]): Unit = {
    val code =
      try { run(args); 0 }
      catch { case e: Throwable => e.printStackTrace(); 1 }
    // Spark and the HTTP server leave non-daemon threads behind
    sys.exit(code)
  }

  private def run(args: Array[String]): Unit = args match {
    case Array("record-digests", repo, runDir) =>
      val spark = session(Paths.get(runDir))
      QueryMix.record(spark, Paths.get(repo))
      spark.stop()
    case Array(workload, seed, seconds, trace, repo, runDir) =>
      val body = Workloads.getOrElse(workload,
        throw new IllegalArgumentException(s"unknown workload $workload; one of ${Workloads.keys.mkString(", ")}"))
      val dir = Paths.get(runDir)
      val spark = session(dir)
      val sessionS = ManagementFactory.getRuntimeMXBean.getUptime / 1e3
      val endpoint = new Endpoint(Runtime.getRuntime.availableProcessors)
      val report = new Report
      val tracer = new Tracer(spark, s"$workload-$seed-${ProcessHandle.current.pid}")
      try {
        val ctx = Ctx(spark, seed.toLong, seconds.toDouble, trace == "1",
          Paths.get(repo), dir, endpoint, tracer, report)
        Cot.setupLog("jvm and session", sessionS)
        val setupS = sessionS + body(ctx)
        report.put("setup_s", setupS, "s")
        endpoint.clear() // the harness's own inputs are not the program's heap
        report.put("live_heap_mb", Stats.liveHeapMb(), "MiB")
        if (ctx.traced) tracer.write(dir.resolve("spans.jsonl"))
      } finally {
        endpoint.stop()
        spark.stop()
      }
      println("PERFBENCH_RESULT " + report.json)
    case _ =>
      throw new IllegalArgumentException(
        "usage: Main <workload> <seed> <seconds> <trace> <repo> <runDir> | record-digests <repo> <runDir>")
  }
}
