package org.apache.spark.sql.graft

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic

/** Minimal `private[sql]` bridge: turn a resolved LogicalPlan into a
  * DataFrame. `Dataset.ofRows` is the one constructor Spark exposes for
  * extension libraries that add logical operators, and it is
  * `private[sql]` — so this shim lives in an `org.apache.spark.sql`
  * subpackage, the standard pattern every planner-extending library
  * uses (Sedona's `org.apache.spark.sql.sedona_sql`, Delta's
  * `org.apache.spark.sql.delta`, GraphFrames' `org.apache.spark.sql`
  * shims). Nothing else of Spark's internals is touched here; keeping
  * the shim to one call site makes the internal-API surface auditable.
  */
object Bridge {
  def ofRows(spark: org.apache.spark.sql.SparkSession, plan: LogicalPlan): org.apache.spark.sql.DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** The session's stable UUID (`private[sql]` on classic sessions) —
    * the registry key MvRewrite uses so a map key never pins a closed
    * session object.
    */
  def sessionUuid(spark: org.apache.spark.sql.SparkSession): String =
    spark.asInstanceOf[classic.SparkSession].sessionUUID

  /** Block until every event posted so far has reached every listener
    * (`private[spark]`): a job count read after it is exact.
    */
  def drainListenerBus(spark: org.apache.spark.sql.SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()
}
