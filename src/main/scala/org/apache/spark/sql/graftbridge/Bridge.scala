package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** The one internal hand-shake a third-party operator library needs:
  * turning a custom [[LogicalPlan]] back into a user-facing
  * [[DataFrame]]. `Dataset.ofRows` is `private[sql]`, so this bridge
  * lives under `org.apache.spark.sql` — the standard extension-library
  * technique (same access pattern Delta/Iceberg connectors use); no
  * Spark internals are modified or copied.
  */
object Bridge {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** Where the session catalog would place managed table `table` —
    * needed to clear a STALE location left by a prior JVM sharing the
    * warehouse dir (the catalog is in-memory per session, the files
    * are not; `saveAsTable` onto the leftover dir otherwise dies with
    * LOCATION_ALREADY_EXISTS). `sessionState` is `private[sql]`,
    * hence the bridge. */
  def defaultTablePath(spark: SparkSession, table: String): java.net.URI =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.catalog.defaultTablePath(
        org.apache.spark.sql.catalyst.TableIdentifier(table))

  /** Blocks until every listener event posted so far has reached every
    * listener: job-end events arrive asynchronously, so a count read
    * right after an action returns can miss its last jobs.
    * `listenerBus` is `private[spark]`, hence the bridge. */
  def drainListeners(sc: org.apache.spark.SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty(60000L)
}
