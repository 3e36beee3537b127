package org.apache.spark.sql.graftglue

import org.apache.spark.SparkContext
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeMap, Expression, SortOrder}
import org.apache.spark.sql.catalyst.plans.QueryPlan
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.plans.physical.{Partitioning, PartitioningCollection, UnknownPartitioning}
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.connector.read.streaming.SparkDataStream
import org.apache.spark.sql.execution.{LogicalRDD, RDDScanExec, SparkPlan, SparkStrategy}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec

/** Column ⇄ catalyst-Expression bridge, plus the other Spark internals
  * the engine reaches (checkpoint partitioning, the listener bus). Spark
  * 4 made these converters private[sql] (the Column API is
  * transport-agnostic now); a child package of org.apache.spark.sql is
  * the sanctioned escape hatch for libraries that ship custom Catalyst
  * expressions. */
object GraftGlue {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Blocks until every posted listener event is delivered: events are
    * posted asynchronously, so a counting listener is read only after a
    * drain. `listenerBus` is private[spark], hence this package. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)

  /** Frees the block-manager storage behind a `localCheckpoint()`ed
    * Dataset. `Dataset.unpersist` only consults the cache manager,
    * which never registered the checkpoint's RDD — the blocks of a
    * superseded checkpoint otherwise linger until the ContextCleaner
    * GCs the RDD (round-17 advice: a best-of-N loop pinned ~N× one
    * leg's corpus). Safe ONLY once the frame's consumers are done:
    * localCheckpoint truncated the lineage, so the data is
    * unrecoverable after this call. */
  def unpersistLocalCheckpoint(df: Dataset[_]): Unit =
    df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
      .queryExecution.analyzed.foreach {
        case l: LogicalRDD => l.rdd.unpersist(blocking = false)
        case _             => ()
      }

  /** The engine's one checkpoint: a `localCheckpoint`, which truncates
    * the lineage (O(1) plan depth across rounds; a frame read by several
    * consumers is computed once) but is NOT fault-tolerant — a lost
    * executor loses the blocks, and nothing can recompute them.
    *
    * `eager = true` runs the frame now and KEEPS its output partitioning,
    * so a frame spread by `key` serves every later same-key aggregate or
    * join with no exchange. A raw `localCheckpoint` under AQE drops it
    * (`LogicalRDD.fromDataset` reads `UnknownPartitioning(0)` off the
    * adaptive wrapper). This re-attaches the FINALIZED plan's partitioning
    * (first leaf of a collection, as `fromDataset` does), renamed
    * positionally to the checkpoint's output — only when it spans more
    * than one partition, matches the RDD's partition count and references
    * only output columns. A one-partition checkpoint (an AQE-coalesced
    * aggregate) keeps none, so AQE can still spread a consumer that
    * expands its rows. `eager = false` is the plain lazy `localCheckpoint`
    * and keeps none; under AQE it still runs the frame's shuffle-map
    * stages at call time. GraphRoundsSpec pins every face. */
  def materialize(df: DataFrame, eager: Boolean = true): DataFrame =
    if (!eager) df.localCheckpoint(eager = false) else {
      val ds = df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
      val ck = ds.localCheckpoint()
      val rel = ck.queryExecution.analyzed match {
        case l: LogicalRDD => l
        case other => throw new IllegalStateException(
          s"materialize: checkpoint planned ${other.nodeName}, not a LogicalRDD")
      }
      // localCheckpoint ran THIS query execution, so an adaptive plan is
      // final here; an unfinalized one would re-run on access — skip it
      val finalPlan = ds.queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => Some(a).filter(_.isFinalPlan).map(_.executedPlan)
        case p => Some(p)
      }
      def leaf(p: Partitioning): Partitioning = p match {
        case c: PartitioningCollection => leaf(c.partitionings.head)
        case q => q
      }
      val kept = finalPlan.map { plan =>
        val toOut = AttributeMap(plan.output.zip(rel.output))
        leaf(plan.outputPartitioning) match {
          case e: Expression => e.transform {
            case a: Attribute => toOut.getOrElse(a, a)
          }.asInstanceOf[Partitioning]
          case q => q
        }
      }.filter {
        case _: UnknownPartitioning => false
        case p => p.numPartitions > 1 && p.numPartitions == rel.rdd.getNumPartitions && (p match {
          case e: Expression => e.references.subsetOf(rel.outputSet)
          case _ => true
        })
      }
      kept.fold(ck.toDF()) { p =>
        org.apache.spark.sql.classic.Dataset.ofRows(ds.sparkSession,
          rel.makeCopy(rel.productIterator.map {
            case _: Partitioning => p
            case a => a.asInstanceOf[AnyRef]
          }.toArray))
      }
    }

  /** Plans a [[materialize]]d checkpoint with a kept partitioning
    * (registered by [[graft.expressions.GraftExtensions]]). */
  object PartitionedRDDScan extends SparkStrategy {
    def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
      case l: LogicalRDD if !l.outputPartitioning.isInstanceOf[UnknownPartitioning] =>
        new PartitionedRDDScanExec(l.output, l.rdd, "ExistingRDD",
          l.outputPartitioning, l.outputOrdering, l.stream) :: Nil
      case _ => Nil
    }
  }

  /** `RDDScanExec` whose canonical form normalizes its partitioning and
    * ordering as it does its output. The plain one keeps their expression
    * ids, so two reads of one checkpoint that a self-join renamed apart
    * (`LogicalRDD.newInstance`) differ, and the exchanges and broadcasts
    * above them are computed twice instead of reused. */
  class PartitionedRDDScanExec(output: Seq[Attribute], rdd: RDD[InternalRow], name: String,
                               partitioning: Partitioning, ordering: Seq[SortOrder],
                               stream: Option[SparkDataStream])
      extends RDDScanExec(output, rdd, name, partitioning, ordering, stream) {
    override def doCanonicalize(): SparkPlan = {
      def norm[T <: Expression](e: T): T = QueryPlan.normalizeExpressions(e, output)
      new PartitionedRDDScanExec(output.map(norm), rdd, "", partitioning match {
        case e: Expression => norm(e).asInstanceOf[Partitioning]
        case q => q
      }, ordering.map(norm), stream)
    }
  }
}
