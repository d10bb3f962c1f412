package org.apache.spark

/** Access to the listener bus, which Spark keeps package-private:
  * draining it makes every event of a finished action visible to the
  * benchmark's listener without a sleep.
  */
object GraftBenchBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
