package org.apache.spark

/** The one package-private Spark call the benchmark needs: block until
  * every listener event posted so far has been delivered, so a traced
  * iteration's jobs are all accounted before its numbers are read. */
object BenchBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
