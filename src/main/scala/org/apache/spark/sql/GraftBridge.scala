package org.apache.spark.sql

import org.apache.spark.scheduler.SparkListenerEvent
import org.apache.spark.sql.catalyst.expressions.{Attribute, Expression}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan,
  RepartitionByExpression, Sort}
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.classic.ClassicConversions.castToImpl
import org.apache.spark.sql.execution.LogicalRDD

/** Minimal bridge into `private[sql]` API: convert between the public
  * Column and a Catalyst Expression (Spark 4 removed the public
  * `new Column(expr)` path), make a DataFrame over a logical plan, and
  * wait for or post to the listener bus. Lives in the
  * org.apache.spark.sql package solely for visibility; no Spark
  * internals are modified.
  */
object GraftBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark, plan)

  /** A DataFrame over `plan`, an analyzed plan shared between calls:
    * the analyzer returns an analyzed plan as it is, and each call gets
    * its own QueryExecution. The root node is copied because a Dataset
    * records its id in a mutable set tagged on its plan's root
    * (`Dataset.DATASET_ID_TAG`): a shared root would collect the id of
    * every DataFrame ever made over it, from every thread. */
  def ofAnalyzed(spark: SparkSession, plan: LogicalPlan): DataFrame = {
    val root =
      plan.makeCopy(plan.productIterator.map(_.asInstanceOf[AnyRef]).toArray)
    root.unsetTagValue(classic.Dataset.DATASET_ID_TAG)
    root.setAnalyzed()
    ofRows(spark, root)
  }

  /** `checkpoint`, a checkpoint of `built`, declaring the layout
    * `built` ends in. A checkpoint is one `LogicalRDD` leaf that
    * declares what the executed plan it was taken from reports; under
    * AQE that is `UnknownPartitioning(0)` and no ordering, so every
    * consumer would shuffle and sort the relation again. When `built`'s
    * analyzed plan is `repartition(n, keys).sortWithinPartitions(order)`
    * and the checkpoint's RDD has those n partitions (AQE can replace an
    * empty result with fewer), the leaf is made again declaring
    * `HashPartitioning(keys, n)` and `order`. `makeCopy` passes the
    * leaf's second parameter list on, so the copy keeps the origin
    * statistics and constraints that the planner sizes joins by. Any
    * other checkpoint is returned as it is. */
  def withLayout(built: DataFrame, checkpoint: DataFrame): DataFrame =
    (built.queryExecution.analyzed, checkpoint.queryExecution.analyzed) match {
      case (Sort(order, false, r: RepartitionByExpression, _), leaf: LogicalRDD)
          if r.optNumPartitions.contains(leaf.rdd.getNumPartitions) =>
        val byId = leaf.output.map(a => a.exprId -> a).toMap
        def onLeaf[E <: Expression](e: E): E =
          e.transform { case a: Attribute => byId.getOrElse(a.exprId, a) }
            .asInstanceOf[E]
        (r.partitioning, order.map(onLeaf)) match {
          case (p: HashPartitioning, o) if (onLeaf(p) +: o)
              .forall(_.references.subsetOf(leaf.outputSet)) =>
            ofRows(checkpoint.sparkSession, leaf.makeCopy(Array(leaf.output,
              leaf.rdd, onLeaf(p), o, Boolean.box(leaf.isStreaming),
              leaf.stream)))
          case _ => checkpoint
        }
      case _ => checkpoint
    }

  /** Blocks until every queued listener event has been delivered. */
  def drainListeners(sc: org.apache.spark.SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()

  /** A listener-bus event that carries no data: a listener that
    * receives it has received every event posted before it (a queue
    * delivers in order). Not written to the event log. */
  final class BusMark extends SparkListenerEvent {
    val seen = new java.util.concurrent.CountDownLatch(1)
    override protected[spark] def logEvent: Boolean = false
  }

  def post(sc: org.apache.spark.SparkContext, e: SparkListenerEvent): Unit =
    sc.listenerBus.post(e)
}
