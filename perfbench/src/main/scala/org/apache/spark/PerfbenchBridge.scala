package org.apache.spark

/** The one package-private Spark call the harness needs: block until the
  * listener bus has delivered every event posted so far, so counters read
  * at a phase boundary include that phase's last tasks. */
object PerfbenchBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
