package graft

import java.io.File
import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.scalatest.funsuite.AnyFunSuite

/** A session from [[LocalSession.create]] compiles each generated class
  * once: a second pass over the same queries finds its classes in the
  * codegen cache, and the SQL status store keeps no more executions than
  * its bound.
  *
  * Both bounds are static: the JVM's first session fixes them, and in the
  * shared test JVM that is some other spec's builder. So the passes run
  * in a child JVM whose only session comes from `LocalSession.create`
  * ([[CodegenCacheProbe]]).
  */
class CodegenCacheSpec extends AnyFunSuite {
  test("a LocalSession compiles each generated class once and keeps a bounded execution history") {
    val java = new File(new File(System.getProperty("java.home"), "bin"), "java").getPath
    // the module opens Spark needs on this JDK, as this JVM was given them
    val opens = ManagementFactory.getRuntimeMXBean.getInputArguments.asScala.toSeq
      .filter(_.startsWith("--add-opens="))
    val cmd = Seq(java, "-Xmx1g") ++ opens ++
      Seq("-cp", System.getProperty("java.class.path"), "graft.CodegenCacheProbe")
    val proc = new ProcessBuilder(cmd: _*).redirectErrorStream(true).start()
    val out = scala.io.Source.fromInputStream(proc.getInputStream).getLines().toList
    assert(proc.waitFor() == 0, out.takeRight(40).mkString("\n"))

    def counts(key: String) = out.filter(_.startsWith(key + " ")).map(_.split(" ")(1).toLong)
    val Seq(first, both) = counts("compiled")
    val second = both - first
    val Seq(executions) = counts("executions")
    assert(first > 100, s"first pass compiled only $first classes: too few to overflow the default cache")
    assert(second * 10 <= first, s"second pass recompiled $second of the first pass's $first classes")
    assert(executions <= LocalSession.RetainedHistory, s"$executions executions retained")
  }
}

/** Child JVM of [[CodegenCacheSpec]]: runs [[CodegenCacheProbe.Queries]]
  * at sf0.001 twice, printing the JVM's cumulative compile count after
  * each pass and the SQL status store's execution count at the end.
  */
object CodegenCacheProbe {
  /** No single query compiles more than 100 classes, the default cache
    * size; of the pairs tried, this is the cheapest that does (121).
    */
  val Queries = Seq("graph_sssp", "tpch_q9")

  def main(args: Array[String]): Unit = {
    val spark = LocalSession.create("4")
    // the sf0.001 tables sit beside the table the smoke query reads
    val sf = new org.apache.hadoop.fs.Path(SparkEntry.entry(spark).inputFiles.head)
      .getParent.toUri.getPath
    for (_ <- 1 to 2) {
      Queries.foreach(q => SparkEntry.queries(q)(spark, sf).write.format("noop").mode("overwrite").save())
      println(s"compiled ${CodegenMetrics.METRIC_COMPILATION_TIME.getCount}")
    }
    // more executions than the status store may keep; it trims them
    // asynchronously, after the listener bus has delivered their end
    (0 to LocalSession.RetainedHistory).foreach(_ => spark.range(1).write.format("noop").mode("overwrite").save())
    def retained = spark.sharedState.statusStore.executionsList().size
    val deadline = System.nanoTime + 10000000000L
    while (retained > LocalSession.RetainedHistory && System.nanoTime < deadline) Thread.sleep(50)
    println(s"executions $retained")
    spark.stop()
  }
}
