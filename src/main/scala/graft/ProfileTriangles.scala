package graft

import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Price [[graft.operators.Triangles.orientByDegree]] on the REAL part
  * co-purchase graph (round-15 verdict #2): wedge mass (Σ outdeg² — the
  * wedge join's row count, the orientation's lever) under id-order vs
  * degree-order at a given dial, plus optionally the timed enumeration
  * under both (counts are orientation-independent, spec-pinned, so the
  * same oracle passes either way). A local iteration aid.
  *
  * Usage: `sbt "runMain graft.ProfileTriangles [sfDir] [time]"` — the
  * optional `time` second arg also runs the full enumeration twice.
  */
object ProfileTriangles {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val timeIt = args.contains("time")
    val spark = LocalSession.create(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
    val so = Tables(spark, dir, "lineitem")
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("sk"))
      .distinct()
    val e = so.alias("x")
      .join(so.alias("y"), col("x.ok") === col("y.ok") && col("x.sk") < col("y.sk"))
      .select(col("x.sk").as("a"), col("y.sk").as("b"))
      .distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    val m = e.count()
    val idMass = operators.Triangles.wedgeMass(e)
    val byDeg = operators.Triangles.orientByDegree(e)
      .persist(StorageLevel.MEMORY_AND_DISK)
    byDeg.count()
    val degMass = operators.Triangles.wedgeMass(byDeg)
    println(f"[profile-tri] dir=$dir edges=$m idWedgeMass=$idMass " +
      f"degWedgeMass=$degMass ratio=${idMass.toDouble / math.max(1L, degMass)}%.3f")
    def time(label: String, edges: org.apache.spark.sql.DataFrame): Unit = {
      val t0 = System.nanoTime()
      val n = operators.Triangles.perNodeCounts(edges)
        .agg(sum(col("n_triangles"))).collect()(0).getLong(0)
      println(f"[profile-tri] $label triangles3x=$n sec=${(System.nanoTime() - t0) / 1e9}%.1f")
    }
    // `timedeg`: only the degree lane (the 100× dial already has an
    // archived id-order number — don't pay the slow lane twice)
    if (timeIt) { time("id-order", e); time("degree-order", byDeg) }
    else if (args.contains("timedeg")) time("degree-order", byDeg)
    byDeg.unpersist(false)
    e.unpersist(false)
    spark.stop()
  }
}
