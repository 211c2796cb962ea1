package org.apache.spark

/** The listener bus delivers events asynchronously; the traced run reads
  * its listener's records only after every event posted so far has been
  * handled. `waitUntilEmpty` is package-private to Spark.
  */
object KgbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
