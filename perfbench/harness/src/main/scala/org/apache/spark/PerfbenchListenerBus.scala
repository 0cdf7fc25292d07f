package org.apache.spark

/** Lets the benchmark wait for Spark's asynchronous listener bus to
  * deliver every event before it reads its stage records. The bus is
  * package-private, hence this file's package.
  */
object PerfbenchListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
