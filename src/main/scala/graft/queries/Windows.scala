package graft.queries

import graft.{Oracle, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Analytic window functions and pivot (SURVEY.md §2.3 `win_rank`,
  * `win_frame`, `win_leadlag`, `win_ntile`, `pivot_wide`).
  *
  * Every window ORDER BY carries a unique-key tiebreak so rank/offset
  * assignment is deterministic across engines. Partitioned windows are one
  * shuffle on the partition key — the plan that scales; the single global
  * window (`win_ntile`) is inherently a one-partition sort and is kept to
  * the smallest table (customer) by design.
  */
object Windows {
  type Q = (SparkSession, String) => DataFrame

  val queries: Map[String, Q] = Map(
    // -- ranking functions ---------------------------------------------------
    "win_rank" -> { (s, dir) =>
      val w = Window.partitionBy(col("c_mktsegment"))
        .orderBy(col("c_acctbal").desc, col("c_custkey").asc)
      Tables(s, dir, "customer")
        .select(col("c_custkey"), col("c_mktsegment"),
          Oracle.out(Oracle.dec(col("c_acctbal"))).as("acctbal"),
          row_number().over(w).as("rn"),
          rank().over(w).as("rk"),
          dense_rank().over(w).as("drk"))
        .orderBy(col("c_mktsegment"), col("rn"))
    },

    // -- analytic frames (running / sliding) ---------------------------------
    "win_frame" -> { (s, dir) =>
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate").asc, col("o_orderkey").asc)
      Tables(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"),
          Oracle.out(Oracle.dec(col("o_totalprice"))).as("totalprice"),
          Oracle.out(sum(Oracle.dec(col("o_totalprice")))
            .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
            .as("running_total"),
          round(avg(col("o_totalprice")).over(w.rowsBetween(-2, 0)), 4)
            .as("sliding_avg"))
        .orderBy(col("o_custkey"), col("o_orderdate"), col("o_orderkey"))
    },

    // -- lead / lag -----------------------------------------------------------
    "win_leadlag" -> { (s, dir) =>
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts").asc, col("event_id").asc)
      Tables(s, dir, "events")
        .select(col("event_id"), col("user_id"), col("ts"), col("value"),
          lag(col("value"), 1).over(w).as("prev_v"),
          lead(col("value"), 1).over(w).as("next_v"),
          round(col("value") - lag(col("value"), 1).over(w), 4).as("delta"))
        .orderBy(col("event_id"))
    },

    // -- distribution functions ----------------------------------------------
    // Round-19 (verdict #3, guide §2): the direct form is a GLOBAL
    // window — `WindowExec: Moving all data to a single partition`, one
    // task for the whole table, serial at any scale. Rewritten as the
    // repo's banded two-pass shape (the BandedWindow / sample_mix_dynamic
    // sharded-cumsum precedent): partition by a value BAND (a monotone
    // function of the leading sort key, so band order ≡ global order and
    // tie groups never straddle bands), rank within bands in parallel,
    // and broadcast per-band row counts as prefix offsets. ntile /
    // percent_rank / cume_dist are then ARITHMETIC over the exact global
    // row number / rank / ≤-count and the total — bit-identical to the
    // window functions they replace (same integer operands, same
    // divisions), so the oracle SQL and hash are unchanged.
    "win_ntile" -> { (s, dir) =>
      val bandW = 500 // acctbal spans ~[-1k, 10k] ⇒ ~22 bands; at 100 TB
                      // size the band width to the value domain / cores
      val wB = Window.partitionBy(col("_b"))
        .orderBy(col("c_acctbal").asc, col("c_custkey").asc)
      val wBd = Window.partitionBy(col("_b"))
        .orderBy(col("c_acctbal").desc, col("c_custkey").desc)
      val local = Tables(s, dir, "customer")
        .select(col("c_custkey"), col("c_acctbal"))
        // a null balance sorts first ascending, so it gets the lowest
        // band; a null band key would fall out of the join on _b below
        .withColumn("_b", coalesce(floor(col("c_acctbal") / bandW).cast("long"),
          lit(Long.MinValue)))
        .withColumn("_rn", row_number().over(wB))   // band row number
        .withColumn("_rk", rank().over(wB))         // band rank (ties)
        .withColumn("_rkd", rank().over(wBd))       // 1 + rows strictly after
      // per-band counts → prefix offsets via a bounded triangular self
      // join (band-count² pairs, ~22² — no global window, no single
      // partition anywhere in this plan)
      val bc = local.groupBy(col("_b")).agg(count(lit(1)).as("_bc"))
      val offs = bc.alias("x")
        .join(bc.alias("y"), col("y._b") < col("x._b"), "left")
        .groupBy(col("x._b").as("_b"), col("x._bc").as("_bc"))
        .agg(coalesce(sum(col("y._bc")), lit(0L)).as("_off"))
      val tot = bc.agg(sum(col("_bc")).as("_n"))
      val g = local
        .join(broadcast(offs), "_b")
        .crossJoin(broadcast(tot))
        .withColumn("_grn", col("_off") + col("_rn"))  // global row_number
        .withColumn("_grk", col("_off") + col("_rk"))  // global rank
        // rows ≤ mine = offset + (band size − rows strictly after me)
        .withColumn("_gle", col("_off") + col("_bc") - (col("_rkd") - lit(1L)))
      // ntile(4) from the global row number — Spark's NTile bucket
      // arithmetic verbatim: the first (n % 4) buckets hold ⌊n/4⌋+1
      // rows. `div` (not `/`): Spark's `/` is double division.
      val g2 = g
        .withColumn("_bsz", expr("_n div 4"))
        .withColumn("_rem", col("_n") % lit(4L))
        .withColumn("_big", (col("_bsz") + lit(1L)) * col("_rem"))
      val quartile = when(col("_grn") <= col("_big"),
          expr("(_grn + _bsz) div (_bsz + 1)"))          // ⌈grn/(bsz+1)⌉
        .otherwise(col("_rem") +
          expr("(_grn - _big + _bsz - 1) div _bsz"))
      g2.select(col("c_custkey"),
          Oracle.out(Oracle.dec(col("c_acctbal"))).as("acctbal"),
          quartile.cast("int").as("quartile"),
          // PercentRank/CumeDist formulas verbatim: same integer
          // operands, same double divisions, same rounding
          round(when(col("_n") > 1,
              (col("_grk") - lit(1L)).cast("double") /
                (col("_n") - lit(1L)).cast("double"))
            .otherwise(lit(0.0)), 6).as("pct_rank"),
          round(col("_gle").cast("double") / col("_n").cast("double"), 6)
            .as("cume"))
        .orderBy(col("c_custkey"))
    },

    // -- pivot (wide aggregation over a fixed value list) ---------------------
    // Fixed value list keeps the output schema static (required for the
    // oracle and the only sane contract at scale — no driver-side distinct
    // scan).
    "pivot_wide" -> { (s, dir) =>
      Tables(s, dir, "events")
        .groupBy(col("user_id"))
        .pivot("event_type", Seq("click", "view", "purchase", "signup", "error"))
        .agg(Oracle.out(sum(Oracle.dec(col("value")))))
        .orderBy(col("user_id"))
    },

    // -- non-invertible RANGE frame (min/max over a value band) --------------
    // win_range_frame's sibling for the aggregates subtraction can't
    // rebuild: per-segment min/max over the 1000-wide totalprice band,
    // via BandedWindow's descending suffix pass (the generalized
    // rewrite). Same parallelism argument: a direct rangeBetween is a
    // 5-task ceiling; bands make it #segments × #bands. Row-identity
    // with the direct form is pinned in PropertySpec.
    "win_range_frame_minmax" -> { (s, dir) =>
      val joined = Tables(s, dir, "orders")
        .join(Tables(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
        .select(col("o_orderkey"), col("c_mktsegment"),
          col("o_totalprice").as("totalprice_d"))
      graft.operators.BandedWindow.rangeFrame(joined, Seq("c_mktsegment"),
          "totalprice_d", width = 1000L,
          minName = Some("band_min"), maxName = Some("band_max"))
        .select(col("o_orderkey"), col("c_mktsegment"),
          Oracle.out(Oracle.dec(col("totalprice_d"))).as("totalprice"),
          Oracle.out(col("band_min")).as("band_min"),
          Oracle.out(col("band_max")).as("band_max"))
        .transform(Oracle.totalOrder)
    },

    // -- derived + order-dependent RANGE-frame aggregates --------------------
    // The r6 BandedWindow generalization as a driver-checked query: avg
    // (merged count/sum pair, Spark's decimal Average rounding) and
    // first/last-by-order (min/max(struct(v, payload)) — the payload at
    // the frame's extremal value, payload-tiebroken) over the same
    // 1000-wide totalprice band. DuckDB mirrors the struct comparison
    // with min({'v':…,'p':…}) OVER w.
    "win_range_frame_stats" -> { (s, dir) =>
      val joined = Tables(s, dir, "orders")
        .join(Tables(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
        .select(col("o_orderkey"), col("c_mktsegment"),
          col("o_totalprice").as("totalprice_d"))
      graft.operators.BandedWindow.rangeFrame(joined, Seq("c_mktsegment"),
          "totalprice_d", width = 1000L,
          avgName = Some("band_avg_d"),
          firstName = Some(("first_ok", "o_orderkey")),
          lastName = Some(("last_ok", "o_orderkey")))
        .select(col("o_orderkey"), col("c_mktsegment"),
          Oracle.out(Oracle.dec(col("totalprice_d"))).as("totalprice"),
          Oracle.out(col("band_avg_d")).as("band_avg"),
          col("first_ok"), col("last_ok"))
        .transform(Oracle.totalOrder)
    }
  )

  val oracle: Map[String, String] = Map(
    "win_rank" ->
      """SELECT c_custkey, c_mktsegment,
        |CAST(CAST(c_acctbal AS DECIMAL(18,2)) AS DOUBLE) AS acctbal,
        |ROW_NUMBER() OVER w AS rn, RANK() OVER w AS rk, DENSE_RANK() OVER w AS drk
        |FROM customer
        |WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC, c_custkey ASC)
        |ORDER BY c_mktsegment, rn""".stripMargin,

    "win_frame" ->
      """SELECT o_orderkey, o_custkey, o_orderdate,
        |CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS totalprice,
        |CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER
        |  (PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_total,
        |ROUND(AVG(o_totalprice) OVER
        |  (PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC
        |   ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 4) AS sliding_avg
        |FROM orders
        |ORDER BY o_custkey, o_orderdate, o_orderkey""".stripMargin,

    "win_leadlag" ->
      """SELECT event_id, user_id, ts::TIMESTAMP AS ts, value,
        |LAG(value, 1) OVER w AS prev_v,
        |LEAD(value, 1) OVER w AS next_v,
        |ROUND(value - LAG(value, 1) OVER w, 4) AS delta
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts::TIMESTAMP ASC, event_id ASC)
        |ORDER BY event_id""".stripMargin,

    "win_ntile" ->
      """SELECT c_custkey, CAST(CAST(c_acctbal AS DECIMAL(18,2)) AS DOUBLE) AS acctbal,
        |NTILE(4) OVER w AS quartile,
        |ROUND(PERCENT_RANK() OVER w, 6) AS pct_rank,
        |ROUND(CUME_DIST() OVER w, 6) AS cume
        |FROM customer
        |WINDOW w AS (ORDER BY c_acctbal ASC, c_custkey ASC)
        |ORDER BY c_custkey""".stripMargin,

    "pivot_wide" ->
      """SELECT user_id,
        |CAST(SUM(CASE WHEN event_type = 'click' THEN CAST(value AS DECIMAL(18,2)) END) AS DOUBLE) AS click,
        |CAST(SUM(CASE WHEN event_type = 'view' THEN CAST(value AS DECIMAL(18,2)) END) AS DOUBLE) AS view,
        |CAST(SUM(CASE WHEN event_type = 'purchase' THEN CAST(value AS DECIMAL(18,2)) END) AS DOUBLE) AS purchase,
        |CAST(SUM(CASE WHEN event_type = 'signup' THEN CAST(value AS DECIMAL(18,2)) END) AS DOUBLE) AS signup,
        |CAST(SUM(CASE WHEN event_type = 'error' THEN CAST(value AS DECIMAL(18,2)) END) AS DOUBLE) AS error
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,

    "win_range_frame_minmax" ->
      """SELECT o_orderkey, c_mktsegment,
        |CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS totalprice,
        |CAST(MIN(CAST(o_totalprice AS DECIMAL(18,2))) OVER w AS DOUBLE) AS band_min,
        |CAST(MAX(CAST(o_totalprice AS DECIMAL(18,2))) OVER w AS DOUBLE) AS band_max
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |WINDOW w AS (PARTITION BY c_mktsegment ORDER BY o_totalprice
        |             RANGE BETWEEN 1000 PRECEDING AND CURRENT ROW)
        |ORDER BY o_orderkey, c_mktsegment, totalprice, band_min, band_max""".stripMargin,

    "win_range_frame_stats" ->
      """SELECT o_orderkey, c_mktsegment, totalprice, band_avg,
        |       fb.p AS first_ok, lb.p AS last_ok
        |FROM (
        |  SELECT o_orderkey, c_mktsegment,
        |    CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS totalprice,
        |    -- exact HALF_UP average at scale 6 via hugeint cents, NOT
        |    -- AVG(): DuckDB averages decimals through a double, and a
        |    -- frame whose exact mean ties at the 7th decimal (any
        |    -- 32-row frame with an odd cent sum) then rounds by float
        |    -- error sign while Spark's decimal Average rounds HALF_UP —
        |    -- a scale-down tie of exactly the kind Oracle.scala bans.
        |    -- floor((2*cents*10^4 + n) / 2n) = HALF_UP(cents*10^4/n)
        |    -- for positive sums; /1e6 is one correctly-rounded double
        |    -- division, same as Spark's DECIMAL(22,6) -> DOUBLE cast.
        |    CAST((CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2))*100 AS BIGINT))
        |               OVER w AS HUGEINT)*20000 + COUNT(*) OVER w)
        |         // (2*(COUNT(*) OVER w)) AS DOUBLE)/1e6 AS band_avg,
        |    MIN({'v': CAST(o_totalprice AS DECIMAL(18,2)), 'p': o_orderkey}) OVER w AS fb,
        |    MAX({'v': CAST(o_totalprice AS DECIMAL(18,2)), 'p': o_orderkey}) OVER w AS lb
        |  FROM orders JOIN customer ON o_custkey = c_custkey
        |  WINDOW w AS (PARTITION BY c_mktsegment ORDER BY o_totalprice
        |               RANGE BETWEEN 1000 PRECEDING AND CURRENT ROW))
        |ORDER BY o_orderkey, c_mktsegment, totalprice, band_avg, first_ok, last_ok""".stripMargin
  )
}
