package org.apache.spark.sql

import org.apache.spark.SparkContext
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** The two Spark-internal hooks the benchmark's traced run needs. Both
  * are package-private in Spark, hence this file's package.
  *
  *  - `frame` turns a fragment of a pipeline's analyzed plan back into a
  *    DataFrame, so the traced run can materialize the pipeline's own
  *    intermediate layers (batches, completions, recovered triples) and
  *    time each at its boundary without re-assembling the pipeline.
  *  - `drain` waits until the listener bus has delivered every event, so
  *    counters read at a span boundary belong to that span.
  */
object KgBenchInternals {
  def frame(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
