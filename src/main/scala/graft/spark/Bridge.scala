package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Bridge into Spark's column internals (Column <-> catalyst Expression),
  * needed because the converters are private[sql] in Spark 4. */
object GraftBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Blocks until the async listener bus has delivered all queued events
    * (private[spark]; specs need it to count jobs deterministically). */
  def waitListenerBus(sc: org.apache.spark.SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()

  /** Whether a stage writes shuffle output (private[spark]; specs tell
    * AQE's map-stage jobs from collecting jobs by it). */
  def isShuffleMapStage(s: org.apache.spark.scheduler.StageInfo): Boolean =
    s.shuffleDepId.isDefined
}
