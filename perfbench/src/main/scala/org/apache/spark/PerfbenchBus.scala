package org.apache.spark

/** The one private Spark hook the benchmark needs: wait until every listener
  * event posted so far has been delivered, so a round's jobs and stages are
  * all recorded before its per-layer numbers are read. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
