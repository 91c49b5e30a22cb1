package org.apache.spark

/** Listener-bus barrier for the benchmark's traced runs: Spark delivers
  * listener events asynchronously, so a tally read right after an action
  * can miss that action's last task and job events. The bus is
  * `private[spark]`, hence this one-method bridge in Spark's package. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
