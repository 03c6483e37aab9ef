package org.apache.spark

/** Access to the listener bus's drain, which Spark keeps package-private:
  * the traced run folds task metrics only after every event of the
  * measured jobs has been delivered. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
