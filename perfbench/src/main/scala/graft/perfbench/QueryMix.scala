package graft.perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.hashing.MurmurHash3

import graft.SparkEntry
import graft.operators.{Artifacts, Graphs}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** Serial, closed-loop passes over a fixed list of registry queries
  * (`SparkEntry.queries`), one client. Each query is built (the registry
  * call, where eager construction jobs run) and then forced through the
  * `noop` sink (the action), as `graft.Bench` does. Every pass runs the
  * list in its declared order and the seed is not used: the tables are
  * fixed, and the order, the one thing a seed could vary, moves a pass by
  * up to 50% (queries leave cached state behind for the next), which
  * would swamp any change being measured.
  */
object QueryMix {
  /** text_bpe_encode_vocab and pipeline_end2end_full would belong here too,
    * but they are 40% of a pass and of the cold pass, and the declared
    * workloads must fit a fixed time budget.
    */
  val Iterative: Seq[String] = Seq("graph_ppr", "graph_ppr_idx", "graph_sssp",
    "graph_kcore", "graph_bfs_idx", "dedup_cluster")
  val Relational: Seq[String] = (1 to 22).map(i => s"tpch_q$i") ++ Seq(
    "win_range_frame", "win_range_frame_stats", "win_rank", "win_ntile",
    "win_session", "win_sliding")

  /** Scale of the test tables the passes read. */
  val Scale = "sf0.001"

  /** Root holding the sfX directories: GRAFT_TESTDATA when set, else the
    * directory the library's own smoke query (`SparkEntry.entry`) reads.
    */
  def dataRoot(spark: SparkSession): Path =
    sys.env.get("GRAFT_TESTDATA").map(Paths.get(_)).getOrElse {
      val f = new org.apache.hadoop.fs.Path(SparkEntry.entry(spark).inputFiles.head)
      Paths.get(f.getParent.getParent.toUri)
    }.toAbsolutePath

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Where an `_idx` query's graph came from, observed around the call:
    * the session memo, a committed artifact, or a fresh build (which
    * writes new artifact files).
    */
  private def idxSource(spark: SparkSession, dir: String)(call: => Unit): String = {
    def files(): Long = {
      val root = Paths.get(Artifacts.root)
      if (!Files.exists(root)) 0L
      else Files.walk(root).iterator().asScala.count(Files.isRegularFile(_)).toLong
    }
    val memo = Graphs.cachedGraph(s"copurchase|$dir", spark)
    val before = files()
    call
    if (memo) "idx_memo_hits" else if (files() > before) "idx_builds" else "idx_artifact_loads"
  }

  private final case class Ran(name: String, frame: DataFrame, constructS: Double, actionS: Double)

  /** One pass over `names`; failures are counted, not thrown. */
  private def pass(c: Ctx, names: Seq[String], dir: String, layer: Option[LayerSamples]): Seq[Ran] = {
    var idx = Map.empty[String, Int]
    val ran = names.flatMap { name =>
      try {
        val t0 = System.nanoTime()
        var df: DataFrame = null
        val build = () => c.tracer.span("queries.construct") { df = SparkEntry.queries(name)(c.spark, dir) }
        if (layer.isDefined && name.endsWith("_idx")) {
          val k = idxSource(c.spark, dir)(build())
          idx += k -> (idx.getOrElse(k, 0) + 1)
        } else build()
        val t1 = System.nanoTime()
        c.tracer.span("action")(noop(df))
        val t2 = System.nanoTime()
        Some(Ran(name, df, (t1 - t0) / 1e9, (t2 - t1) / 1e9))
      } catch {
        case e: Exception =>
          c.report.fail(1, s"$name: ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(200)}")
          None
      }
    }
    c.report.attempted += names.size
    layer.foreach { l =>
      val cons = c.tracer.named("queries.construct").takeRight(ran.size)
      val acts = c.tracer.named("action").takeRight(ran.size)
      val consS = cons.map(_.seconds).sum
      val consJobs = cons.map(_.work.jobs).sum
      l.add("queries.construct_s", consS)
      l.add("queries.construct_jobs", consJobs)
      l.add("queries.ms_per_job", if (consJobs == 0) 0 else consS * 1e3 / consJobs)
      l.add("action.action_s", acts.map(_.seconds).sum)
      l.add("action.jobs", acts.map(_.work.jobs).sum)
      l.add("action.stages", acts.map(_.work.stages).sum)
      l.add("action.tasks", acts.map(_.work.tasks).sum)
      Seq("idx_memo_hits", "idx_artifact_loads", "idx_builds")
        .foreach(k => l.add(s"operators.$k", idx.getOrElse(k, 0).toDouble))
      l.engine(merged(cons ++ acts), "")
      l.engine(merged(cons), "construct")
      l.engine(merged(acts), "action")
    }
    ran
  }

  /** One span standing for several: summed wall time and work. */
  private def merged(spans: Seq[Span]): Span = {
    val m = Span(-1, "merged", None, "", 0L, spans.map(s => s.endNs - s.startNs).sum)
    spans.foreach(s => m.work += s.work)
    m
  }

  /** Order-insensitive digest of a result: row count and the sum of a
    * 64-bit hash of each row's canonical text. Doubles are compared to 6
    * significant digits (and |x| < 1e-9 as 0), so summation-order drift
    * does not change the digest; array elements are taken as a multiset.
    */
  def digest(df: DataFrame): (Long, Long) =
    df.rdd.mapPartitions { rows =>
      var (n, h) = (0L, 0L)
      rows.foreach { r =>
        val s = canon(r)
        n += 1
        h += (MurmurHash3.stringHash(s, 17).toLong << 32) ^ (MurmurHash3.stringHash(s, 31) & 0xffffffffL)
      }
      Iterator((n, h))
    }.fold((0L, 0L)) { case ((n1, h1), (n2, h2)) => (n1 + n2, h1 + h2) }

  private def canon(v: Any): String = v match {
    case null => "null"
    case d: Double => canonDouble(d)
    case f: Float => canonDouble(f.toDouble)
    case b: java.math.BigDecimal => b.stripTrailingZeros.toPlainString
    case b: BigDecimal => b.bigDecimal.stripTrailingZeros.toPlainString
    case r: Row => r.toSeq.map(canon).mkString("(", "|", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) + "=" + canon(x) }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(canon).sorted.mkString("[", ",", "]")
    case a: Array[Byte] => a.mkString("b[", ",", "]")
    case other => other.toString
  }

  private def canonDouble(d: Double): String =
    if (d.isNaN || d.isInfinite) d.toString
    else if (math.abs(d) < 1e-9) "0"
    else "%.6e".format(d)

  def expectedPath(repo: Path): Path = repo.resolve("perfbench/expected_digests.json")

  /** Expected digests: query → (rows, hash). */
  def expected(repo: Path): Map[String, (Long, Long)] = {
    val root = DroneGen.mapper.readTree(Files.readAllBytes(expectedPath(repo)))
    require(root.get("scale").asText == Scale,
      s"expected digests were recorded at ${root.get("scale").asText}, not $Scale")
    root.get("queries").properties().asScala.map { e =>
      e.getKey -> (e.getValue.get("rows").asLong, java.lang.Long.parseUnsignedLong(e.getValue.get("hash").asText, 16))
    }.toMap
  }

  /** Runs every query of both mixes once and writes their digests. */
  def record(spark: SparkSession, repo: Path): Unit = {
    val dir = dataRoot(spark).resolve(Scale).toString
    val lines = (Iterative ++ Relational).sorted.map { name =>
      val (n, h) = digest(SparkEntry.queries(name)(spark, dir))
      s"""    "$name": {"rows": $n, "hash": "${java.lang.Long.toHexString(h)}"}"""
    }
    Files.write(expectedPath(repo),
      lines.mkString(s"{\n  \"scale\": \"$Scale\",\n  \"queries\": {\n", ",\n", "\n  }\n}\n").getBytes(UTF_8))
    ()
  }

  def run(c: Ctx, names: Seq[String]): Double = {
    val dir = dataRoot(c.spark).resolve(Scale).toString
    val expect = expected(c.repo)
    /** A pass, its outputs checked after its clock stops. */
    def checkedPass(layer: Option[LayerSamples]): Seq[Ran] = {
      val ran = pass(c, names, dir, layer)
      ran.foreach { r =>
        val got = digest(r.frame)
        if (!expect.get(r.name).contains(got))
          c.report.fail(1, s"${r.name}: digest $got differs from the recorded one")
      }
      ran
    }
    def wall(ran: Seq[Ran]) = ran.map(r => r.constructS + r.actionS).sum

    // The cold pass (the first in this JVM) is the warm-up: it compiles
    // every query's code and primes the _idx indexes and their artifacts.
    val t0 = System.nanoTime()
    val cold = wall(checkedPass(None))
    val setupS = (System.nanoTime() - t0) / 1e9

    val walls, perQueryMs, untraced = ArrayBuffer[Double]()
    val layer = new LayerSamples
    var last: Seq[Ran] = Nil
    val start = System.nanoTime()
    // at least two timed passes (one pass varies by 15-20% from run to
    // run); a traced run times an untraced and a traced pass per round
    val minPasses = if (c.traced) 1 else 2
    while (walls.size < minPasses || (System.nanoTime() - start) / 1e9 < c.seconds) {
      if (c.traced) {
        untraced += wall(checkedPass(None))
        c.tracer.on()
      }
      last = checkedPass(if (c.traced) Some(layer) else None)
      if (c.traced) c.tracer.off()
      walls += wall(last)
      perQueryMs ++= last.map(r => (r.constructS + r.actionS) * 1e3)
    }
    val rep = c.report
    val resultRows = last.map(r => expect.get(r.name).fold(0L)(_._1)).sum
    rep.put("pass_s", Stats.median(walls.toSeq), "s")
    rep.put("records_per_s", resultRows / Stats.median(walls.toSeq), "1/s")
    rep.put("latency_p50_ms", Stats.median(perQueryMs.toSeq), "ms")
    rep.put("latency_p99_ms", Stats.quantile(perQueryMs.toSeq, 0.99), "ms")
    rep.put("cold_s", cold, "s")
    if (c.traced) layer.overhead(untraced.toSeq, walls.toSeq)
    layer.emit(rep)
    Cot.setupLog("cold warm-up pass, checked", setupS)
    setupS
  }
}
