package graft

import java.nio.file.Files

import graft.queries.Windows
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import org.scalatest.funsuite.AnyFunSuite

/** The banded `win_ntile` against the plain global window it replaces,
  * on an in-memory customer table that the fixtures cannot supply: null
  * balances mixed with repeated balances spread over many bands.
  */
class WindowsSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  test("banded win_ntile keeps null balances and ranks them first, as the global window does") {
    import spark.implicits._
    val rng = new scala.util.Random(11)
    // 40 customers: every fifth balance null, the rest spread over about
    // 20 bands of 500 with repeated values, so ties fall inside bands
    val rows = (1L to 40L).map { k =>
      val bal: Option[Double] =
        if (k % 5 == 0) None else Some((rng.nextInt(40) * 250 - 1000).toDouble + 0.25)
      (k, bal)
    }
    val dir = Files.createTempDirectory("win_ntile").toString
    rows.toDF("c_custkey", "c_acctbal").write.parquet(s"$dir/customer.parquet")

    val got = Windows.queries("win_ntile")(spark, dir).collect().toSeq
    val w = Window.orderBy(col("c_acctbal").asc, col("c_custkey").asc)
    val want = spark.read.parquet(s"$dir/customer.parquet")
      .select(col("c_custkey"),
        Oracle.out(Oracle.dec(col("c_acctbal"))).as("acctbal"),
        ntile(4).over(w).as("quartile"),
        round(percent_rank().over(w), 6).as("pct_rank"),
        round(cume_dist().over(w), 6).as("cume"))
      .orderBy(col("c_custkey"))
      .collect().toSeq

    assert(got.size == rows.size, s"rows dropped: ${rows.size - got.size}")
    assert(got == want)
    // the nulls hold the lowest global positions: quartile 1, rank 0 first
    val nulls = got.filter(_.isNullAt(1))
    assert(nulls.size == 8)
    assert(nulls.map(_.getInt(2)).toSet == Set(1))
    assert(nulls.find(_.getLong(0) == 5L).map(_.getDouble(3)) == Some(0.0))
  }
}
