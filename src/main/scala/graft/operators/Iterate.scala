package graft.operators

import org.apache.spark.sql.{DataFrame, SnapShim}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.Statistics
import org.apache.spark.sql.catalyst.plans.physical.{Partitioning, PartitioningCollection}
import org.apache.spark.sql.classic
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions._

/** Iterative DataFrame state: the one snapshot and the one fixed-point
  * loop every iterative operator and accumulating stream sink uses.
  *
  * Per-round state must be materialized (lazy chaining stacks lineage
  * and plan size round over round) and the superseded round released
  * eagerly (a checkpoint's blocks otherwise stay resident until the
  * ContextCleaner happens to GC its RDD, so every round would coexist).
  */
object Iterate {

  /** Eagerly materialize `df` and return a frame whose single leaf is
    * the checkpoint itself, so [[free]] takes this same frame.
    *
    * The leaf guarantees two things a bare `localCheckpoint` does not:
    *   - PARTITIONING: it carries the final adaptive plan's
    *     `outputPartitioning` (with AQE on, `localCheckpoint` records
    *     `UnknownPartitioning`), so a state written hash-partitioned on
    *     a key feeds the next round's key-grouped join or aggregate
    *     without a re-shuffle;
    *   - SIZE: its estimate is min(origin plan's estimate, bytes the
    *     checkpoint stored), read from the block manager master without
    *     a job (or min(origin, `spark.sql.defaultSizeInBytes`) if some
    *     partition has no block, never a partial sum).
    *     `localCheckpoint` copies the origin estimate, so a state a
    *     plan references twice squares its estimate every generation
    *     until the driver livelocks multiplying huge BigIntegers.
    */
  def snap(df: DataFrame): DataFrame = {
    val leaf = df.localCheckpoint().queryExecution.analyzed.asInstanceOf[LogicalRDD]
    val rdd = leaf.rdd
    // the checkpoint job ran df's own plan, so an adaptive plan is final
    val finalPlan = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    val partitioning = firstLeaf(finalPlan.outputPartitioning) match {
      case p if p.numPartitions == rdd.getNumPartitions && (p match {
        case e: Expression => e.references.subsetOf(leaf.outputSet)
        case _ => true
      }) => p
      case _ => leaf.outputPartitioning
    }
    val session = df.sparkSession.asInstanceOf[classic.SparkSession]
    // a partition without a block leaves the stored bytes unknown: fall
    // back to the size Spark assumes for a relation it cannot measure
    val cap = SnapShim.storedBytes(rdd).getOrElse(session.sessionState.conf.defaultSizeInBytes)
    val stats = Statistics(sizeInBytes = leaf.stats.sizeInBytes.min(BigInt(cap)))
    SnapShim.ofPlan(session, leaf.copy(outputPartitioning = partitioning)(
      session, Some(stats), Some(leaf.constraints)))
  }

  private def firstLeaf(p: Partitioning): Partitioning = p match {
    case c: PartitioningCollection => firstLeaf(c.partitionings.head)
    case other => other
  }

  /** Release a superseded snapshot's blocks. Only a frame that is
    * exactly ONE checkpoint leaf (under projections/filters) is freed:
    * a plan with several RDD leaves (a join of two snapshots) does not
    * exclusively own them, and freeing lineage-truncated blocks another
    * live frame reads is an unrecoverable failure later. Such plans,
    * and plans with no RDD leaf, are left untouched.
    */
  def free(df: DataFrame): Unit =
    df.queryExecution.analyzed.collect { case lr: LogicalRDD => lr } match {
      case Seq(only) => only.rdd.unpersist(blocking = false); ()
      case Seq() => ()
      case many =>
        System.err.println(
          s"[iterate] free() skipped: plan has ${many.size} RDD leaves " +
            "(shared ownership — freeing would strand other consumers)")
    }

  /** Iterate `step` from `init` until a round changes nothing, or for
    * `maxRounds` rounds. Returns the last snapped state and the rounds
    * run (a round that finds the fixed point counts).
    *
    * Each round snaps the new state, then takes a one-row digest (row
    * count, bit_xor of per-row xxhash64 — order-independent, and xor
    * cannot overflow under ANSI as a sum would). Different digests
    * prove the state moved; only equal digests run the exact check, an
    * `exceptAll` that with equal counts is multiset equality — so a
    * hash collision costs one extra check, never an early stop. The
    * superseded round is freed once the new one is materialized.
    */
  def fixedPoint(init: DataFrame, maxRounds: Int)
                (step: DataFrame => DataFrame): (DataFrame, Int) = {
    var cur = snap(init)
    var curDigest = digest(cur)
    var rounds = 0
    var converged = false
    while (!converged && rounds < maxRounds) {
      val next = snap(step(cur))
      val nextDigest = digest(next)
      converged = nextDigest == curDigest && next.exceptAll(cur).isEmpty
      free(cur)
      cur = next
      curDigest = nextDigest
      rounds += 1
    }
    (cur, rounds)
  }

  private def digest(df: DataFrame): (Long, Long) = {
    val r = df.agg(
      count(lit(1)),
      coalesce(bit_xor(xxhash64(df.columns.map(c => df.col(s"`$c`")): _*)), lit(0L)))
      .head()
    (r.getLong(0), r.getLong(1))
  }
}
