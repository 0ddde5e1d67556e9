package org.apache.spark

import java.util.concurrent.CountDownLatch

import org.apache.spark.scheduler.{SparkListener, SparkListenerBlockUpdated}

/** Holds back the app-status listener queue, the one that fills the
  * store behind `SparkContext.getRDDStorageInfo`, as a busy listener bus
  * would: a block update posted while `body` runs stalls the queue until
  * `body` returns, so the store misses the blocks stored meanwhile.
  */
object StatusQueue {
  def stalled[T](sc: SparkContext)(body: => T): T = {
    val gate = new CountDownLatch(1)
    val hold = new SparkListener {
      override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = gate.await()
    }
    sc.listenerBus.addToStatusQueue(hold)
    try body
    finally {
      gate.countDown()
      sc.listenerBus.removeListener(hold)
    }
  }
}
