package graft

import graft.operators.Iterate
import org.apache.spark.StatusQueue
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.functions._
import org.scalatest.concurrent.Eventually._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.time.SpanSugar._

/** [[graft.operators.Iterate]]: what its snapshot guarantees over a
  * bare `localCheckpoint` (partitioning under AQE, a size estimate
  * bounded by the stored bytes, release through the same frame) and
  * the fixed-point loop's stopping rule.
  */
class IterateSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def leafOf(df: DataFrame): LogicalRDD =
    df.queryExecution.analyzed.collect { case lr: LogicalRDD => lr }.head

  private def storedBytes(df: DataFrame): Option[Long] = {
    val id = leafOf(df).rdd.id
    spark.sparkContext.getRDDStorageInfo.find(_.id == id)
      .map(i => i.memSize + i.diskSize)
  }

  /** The snapshot's stored bytes once `getRDDStorageInfo` lists every
    * partition: its status store is filled from the listener bus, after
    * the job, so a read right after `snap` can be partial.
    */
  private def reportedBytes(df: DataFrame): Long = {
    val rdd = leafOf(df).rdd
    eventually(timeout(30.seconds), interval(50.millis)) {
      val info = spark.sparkContext.getRDDStorageInfo.find(_.id == rdd.id)
      assert(info.exists(_.numCachedPartitions == rdd.getNumPartitions))
      info.get.memSize + info.get.diskSize
    }
  }

  private def withConf[T](kvs: (String, String)*)(body: => T): T = {
    val prev = kvs.map { case (k, _) => k -> spark.conf.getOption(k) }
    kvs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prev.foreach { case (k, v) => v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
  }

  private def kv(n: Long): DataFrame =
    spark.range(0, n).select((col("id") % 10).as("k"), col("id").as("v"))

  test("with AQE on, a snapped key-partitioned frame groups by that key with zero exchanges") {
    withConf("spark.sql.adaptive.enabled" -> "true") {
      val s = Iterate.snap(kv(1000).repartition(col("k")))
      val g = s.groupBy(col("k")).agg(sum(col("v")).as("s"))
      assert(g.collect().map(_.getLong(1)).sum === (0L until 1000L).sum)
      val exchanges = collect(g.queryExecution.executedPlan) {
        case e: ShuffleExchangeLike => e
      }
      assert(exchanges.isEmpty,
        s"snap dropped the key partitioning:\n${g.queryExecution.executedPlan}")
      Iterate.free(s)
    }
  }

  test("forty self-join generations keep the leaf estimate at or below the stored bytes") {
    var s = Iterate.snap(kv(100))
    for (gen <- 1 to 40) {
      val next = Iterate.snap(s.as("a").join(s.as("b"), "k")
        .groupBy(col("k")).agg(max(col("a.v") + col("b.v")).as("v")))
      Iterate.free(s)
      s = next
      val stored = reportedBytes(s)
      assert(stored > 0, s"generation $gen: nothing stored")
      assert(leafOf(s).stats.sizeInBytes <= BigInt(stored),
        s"generation $gen: estimate ${leafOf(s).stats.sizeInBytes} > stored $stored")
    }
    assert(s.count() === 10)
  }

  test("a 200-partition snapshot's estimate is not below the bytes it stored") {
    withConf("spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false") {
      // an inner join's estimate is the product of its inputs' sizes,
      // far above the 20 000 rows it holds, so the stored bytes decide;
      // the status store lags the checkpoint job, as under a busy bus
      val s = StatusQueue.stalled(spark.sparkContext) {
        Iterate.snap(kv(20000)
          .join(spark.range(0, 100).withColumnRenamed("id", "k"), "k")
          .repartition(200, col("v")))
      }
      val estimate = leafOf(s).stats.sizeInBytes
      assert(leafOf(s).rdd.getNumPartitions === 200)
      val stored = reportedBytes(s)
      assert(stored > 0)
      assert(estimate >= BigInt(stored),
        s"estimate $estimate is below the $stored bytes the snapshot stored")
      Iterate.free(s)
    }
  }

  test("free releases the snapshot's blocks through the same frame") {
    val s = Iterate.snap(kv(1000))
    assert(storedBytes(s).isDefined)
    Iterate.free(s)
    eventually(timeout(10.seconds), interval(50.millis)) {
      assert(storedBytes(s).isEmpty)
    }
  }

  test("fixedPoint stops after one round on an idempotent step") {
    val (out, rounds) = Iterate.fixedPoint(kv(100), maxRounds = 10)(
      s => s.select(col("k"), col("v")))
    assert(rounds === 1)
    assert(out.orderBy("v").collect().map(_.getLong(1)).toSeq === (0L until 100L))
  }

  test("fixedPoint stops at exactly maxRounds on a step that never converges") {
    val (out, rounds) = Iterate.fixedPoint(kv(100), maxRounds = 5)(
      s => s.select(col("k"), (col("v") + 1).as("v")))
    assert(rounds === 5)
    assert(out.agg(min(col("v"))).head().getLong(0) === 5L)
  }
}
