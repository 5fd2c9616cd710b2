package org.apache.spark

/** Access to the one package-private Spark call the benchmark needs. */
object DumpBenchBridge {
  /** Blocks until every posted listener event has been delivered, so a
    * traced pass's job and action records are complete when it is read. */
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
