package org.apache.spark

import org.apache.spark.storage.BroadcastBlockId

/** Test-only bridge into Spark's `private[spark]` ContextCleaner
  * listener API and the driver's block manager, so the release audit
  * can synchronize on actual cleanup events instead of polling
  * System.gc + sleep (r16 ADVICE: the 75 × 200 ms poll loop was slow
  * and GC-timing flaky) and can see which broadcasts still hold blocks.
  * Lives in the org.apache.spark package purely for access; used only
  * by graft.ReleaseAuditSpec. */
object GraftCleanerHook {

  /** Attach `f`, fired each time the ContextCleaner finishes removing
    * an RDD's or a broadcast's blocks. No-op if the cleaner is off. */
  def onCleaned(sc: SparkContext)(f: => Unit): Unit =
    sc.cleaner.foreach(_.attachListener(new CleanerListener {
      override def rddCleaned(rddId: Int): Unit = f
      override def shuffleCleaned(shuffleId: Int): Unit = ()
      override def broadcastCleaned(broadcastId: Long): Unit = f
      override def accumCleaned(accId: Long): Unit = ()
      override def checkpointCleaned(rddId: Long): Unit = ()
    }))

  /** Ids of the broadcasts whose blocks the driver's block manager
    * still holds (in local mode the one block manager of the app). */
  def liveBroadcasts(sc: SparkContext): Set[Long] =
    sc.env.blockManager.getMatchingBlockIds(_.isBroadcast)
      .collect { case b: BroadcastBlockId => b.broadcastId }.toSet
}
