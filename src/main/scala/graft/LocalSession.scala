package graft

import org.apache.spark.sql.SparkSession

/** One bootstrap for every driver/diagnostic main (Verify, Bench,
  * PlanDump, ScaleUp, the Sweep/Profile/RowCount probes) and for
  * perfbench: local master sized by SPARK_GRAFT_CPUS, shuffle partitions
  * matched to cores, UTC, no UI, WARN logs. A config tweak lands here
  * and nowhere else.
  *
  * It also sizes what the session keeps between queries:
  *
  *  - `spark.sql.codegen.cache.maxEntries` = [[CodegenCacheEntries]].
  *    Spark keeps each Janino-compiled generated class in one JVM-wide
  *    cache of 100 entries by default. graft's iterative queries alone
  *    generate over 400 distinct classes, so at the default every pass
  *    recompiles nearly all of them, and task threads wait on each other's
  *    compiles of the same class. The cap covers the classes of the whole
  *    query surface, so each class compiles once per JVM.
  *  - `spark.sql.ui.retainedExecutions`, `spark.ui.retainedJobs` and
  *    `spark.ui.retainedStages` = [[RetainedHistory]]. The status store
  *    keeps each finished execution's plan graph and metric descriptors
  *    and each job's and stage's record, 1000 of each by default. Every
  *    graft session runs with the UI off and nothing in graft reads that
  *    store, so the history is heap no one uses; trimming it pays for the
  *    classes the larger codegen cache holds.
  *
  * All of these are static: the cache bound is read once per JVM, when
  * `CodeGenerator` first initializes, and the retention bounds when the
  * `SparkContext` and `SharedState` are created. A session built after
  * that point (a second `create` in one JVM, or a JVM whose first session
  * came from another builder) keeps the values already in force.
  */
object LocalSession {
  /** The distinct generated classes of one `graft.Verify` pass over all
    * queries at sf0.01 (3,487), rounded up. The cache's segments evict
    * before the total reaches the cap, so the cap also stays far above
    * the iterative working set (423 classes).
    */
  val CodegenCacheEntries = 4000

  /** With the UI off there is no history to keep; a few entries stay so a
    * failing query's own execution can still be inspected. Task retention
    * is left at its default: trimming it did not change the live heap.
    */
  val RetainedHistory = 50

  def create(defaultCpus: String = "32",
             extra: Map[String, String] = Map.empty): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", defaultCpus)
    var b = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toString)
      .config("spark.sql.ui.retainedExecutions", RetainedHistory.toString)
      .config("spark.ui.retainedJobs", RetainedHistory.toString)
      .config("spark.ui.retainedStages", RetainedHistory.toString)
    extra.foreach { case (k, v) => b = b.config(k, v) }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
