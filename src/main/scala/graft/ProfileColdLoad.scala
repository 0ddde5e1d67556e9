package graft

import org.apache.spark.sql.functions._

import graft.operators.{Graphs, SimIndexes}
import graft.queries.{Extra7, Extra9, ScaleOps}

/** Prices the durable-serving seam's three costs side by side —
  * REBUILD (the cold-JVM status quo before round 17), SAVE (one-time
  * artifact write), LOAD (what a restarted driver now pays) — for the
  * graph family and the ANN index, at a given sf dir. The numbers land
  * in PERF.md; a local measurement aid.
  *
  * Usage: `sbt "runMain graft.ProfileColdLoad [sfDir]"`.
  */
object ProfileColdLoad {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = LocalSession.create(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
    val base = java.nio.file.Files
      .createTempDirectory("graft_coldload").toString

    def timed(f: => Any): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }

    // -- graph family ----------------------------------------------------
    val sBuild = spark.newSession()
    val tBuild = timed {
      Graphs.index(Extra7.coPurchaseEdgesPlan(sBuild, dir),
        Extra9.tag(dir), sBuild)
      Graphs.weighted(Extra7.coPurchaseWeightedPlan(sBuild, dir),
        Extra9.tag(dir), sBuild)
    }
    val tSave = timed(Graphs.saveAll(sBuild, s"$base/graph"))
    val sServe = spark.newSession()
    val tLoad = timed(Graphs.loadAll(sServe, s"$base/graph"))
    println(f"[coldload] graph buildSec=$tBuild%.1f saveSec=$tSave%.1f " +
      f"loadSec=$tLoad%.1f speedup=${tBuild / tLoad}%.1fx")

    // steady serve from the LOADED frames vs from a per-call build
    val tServeLoaded = timed {
      graft.operators.Bfs.hopDistancesOnAdj(
        Graphs.index(sys.error("no build"): org.apache.spark.sql.DataFrame,
          Extra9.tag(dir), sServe).adj,
        Extra7.seedParts(sServe, dir), maxHops = Extra7.BfsHops).count()
    }
    println(f"[coldload] graph_bfs servedFromLoadedSec=$tServeLoaded%.1f")

    // -- ANN index ---------------------------------------------------------
    val sBuild2 = spark.newSession()
    val tBuild2 = timed {
      SimIndexes.ann(
        ScaleOps.normalized(sBuild2, dir).select(col("vec_id"), col("e")),
        s"$dir#raw", planesPerTable = 6)
    }
    val tSave2 = timed(SimIndexes.saveAll(sBuild2, s"$base/sim"))
    val sServe2 = spark.newSession()
    val tLoad2 = timed(SimIndexes.loadAll(sServe2, s"$base/sim"))
    println(f"[coldload] ann buildSec=$tBuild2%.1f saveSec=$tSave2%.1f " +
      f"loadSec=$tLoad2%.1f speedup=${tBuild2 / tLoad2}%.1fx")

    spark.stop()
  }
}
