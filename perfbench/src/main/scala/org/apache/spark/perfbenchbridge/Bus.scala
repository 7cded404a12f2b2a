package org.apache.spark.perfbenchbridge

import org.apache.spark.SparkContext

/** The one Spark-internal call the traced run needs: block until the
  * listener bus has delivered every queued event, so each event is
  * attributed to the op that caused it. Lives in Spark's package
  * because `listenerBus` is `private[spark]`. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
