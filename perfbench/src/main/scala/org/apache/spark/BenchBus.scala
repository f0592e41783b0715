package org.apache.spark

/** The one package-private hook the harness needs: block until every
  * listener event posted so far has been delivered, so counts read after
  * an operation include all of that operation's jobs, stages and tasks. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
