package org.apache.spark.sql

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.storage.RDDBlockId

/** The two Spark-private calls [[graft.operators.Iterate.snap]] needs. */
object SnapShim {

  /** A DataFrame over a hand-built logical plan (`Dataset.ofRows`). */
  def ofPlan(session: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(session.asInstanceOf[classic.SparkSession], plan)

  /** Bytes (memory + disk) the block managers hold for `rdd`, or None
    * unless every partition has a block. Read from the driver's
    * BlockManagerMaster, which a task updates before it finishes; the
    * status store behind `SparkContext.getRDDStorageInfo` is filled
    * later, from the listener bus, so right after a job it can miss
    * blocks.
    */
  def storedBytes(rdd: RDD[_]): Option[Long] = {
    val blocks = rdd.sparkContext.env.blockManager.master.getStorageStatus
      .toSeq.flatMap(_.rddBlocks.collect {
        case (RDDBlockId(id, part), s) if id == rdd.id => (part, s.memSize + s.diskSize)
      })
    if (blocks.map(_._1).distinct.size == rdd.getNumPartitions) Some(blocks.map(_._2).sum)
    else None
  }
}
