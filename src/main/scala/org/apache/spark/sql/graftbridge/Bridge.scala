package org.apache.spark.sql.graftbridge

import org.apache.spark.rdd.RDD
import org.apache.spark.scheduler.SparkListenerEvent
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, Descending, NullsFirst, SortOrder}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Sort, Statistics}
import org.apache.spark.sql.catalyst.plans.physical.Partitioning
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.types.DataType

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

  /** A scan of `rdd` that declares its partitioning and its size in
    * bytes: how a checkpoint states its real layout and size instead of
    * the estimate of the plan that produced it. `LogicalRDD`'s
    * statistics argument takes the session's internal class. */
  def rddRelation(spark: SparkSession, output: Seq[Attribute],
      rdd: RDD[InternalRow], partitioning: Partitioning,
      ordering: Seq[SortOrder], sizeInBytes: BigInt): LogicalPlan =
    LogicalRDD(output, rdd, partitioning, ordering, isStreaming = false)(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession],
      Some(Statistics(sizeInBytes)), None)

  /** The bytes the blocks of `rdd` hold, once every partition is
    * written: read from the block manager master, so it runs no job and
    * does not wait on the listener bus. `blockManager` is
    * `private[spark]`. */
  def heldBytes(rdd: RDD[_]): Option[Long] = {
    import org.apache.spark.storage.RDDBlockId
    val sizes = rdd.sparkContext.env.blockManager.master.getStorageStatus
      .flatMap(_.rddBlocks.collect {
        case (RDDBlockId(id, _), b) if id == rdd.id => b.memSize + b.diskSize
      })
    if (sizes.length >= rdd.getNumPartitions) Some(sizes.sum) else None
  }

  /** Posts `event` to every listener of the active context.
    * `listenerBus` is `private[spark]`. */
  def post(event: SparkListenerEvent): Unit =
    org.apache.spark.SparkContext.getActive.foreach(_.listenerBus.post(event))

  /** The sort key `order` names over `df`, resolved by analysis alone
    * (no job): the key as a column, whether it sorts descending,
    * whether its NULLs sort first, and its type. A column built from a
    * resolved expression is `private[sql]`. */
  def sortKey(df: DataFrame, order: Column): (Column, Boolean, Boolean, DataType) = {
    val o = df.orderBy(order).queryExecution.analyzed
      .collectFirst { case s: Sort => s.order.head }.get
    (org.apache.spark.sql.classic.ExpressionUtils.column(o.child),
      o.direction == Descending, o.nullOrdering == NullsFirst, o.child.dataType)
  }
}
