package org.apache.spark

/** Waits until every queued listener event has been delivered, so a trace
  * read after this call holds the events of every job that has finished. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}

/** Reports each accumulator the ContextCleaner removes after the driver
  * garbage-collected it. */
object AccumulatorCleanup {
  def onCleaned(sc: SparkContext)(f: Long => Unit): Unit =
    sc.cleaner.foreach(_.attachListener(new CleanerListener {
      def rddCleaned(rddId: Int): Unit = ()
      def shuffleCleaned(shuffleId: Int): Unit = ()
      def broadcastCleaned(broadcastId: Long): Unit = ()
      def accumCleaned(accId: Long): Unit = f(accId)
      def checkpointCleaned(rddId: Long): Unit = ()
    }))
}
