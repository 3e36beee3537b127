package org.apache.spark.sql.graftglue

import org.apache.spark.SparkContext
import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeMap, Expression}
import org.apache.spark.sql.catalyst.plans.physical.{Partitioning, PartitioningCollection, UnknownPartitioning}
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.execution.LogicalRDD
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

  /** Eager `localCheckpoint()` that KEEPS the frame's output
    * partitioning, so a frame spread by `key` and checkpointed once
    * serves every later same-key aggregate with no exchange.
    *
    * A raw `localCheckpoint` under AQE drops it: `LogicalRDD.fromDataset`
    * reads the partitioning off the `AdaptiveSparkPlanExec` wrapper,
    * which reports `UnknownPartitioning(0)`, so every consumer re-shuffles
    * the checkpoint. This re-attaches the FINALIZED plan's partitioning
    * (the first leaf of a collection, as `fromDataset` does), its
    * attributes renamed positionally to the checkpoint's output as
    * `fromDataset` renames stats — but only when its partition count is
    * the checkpoint RDD's and it references only output columns. An
    * unknown partitioning (e.g. after `coalesce`) stays unknown.
    * GraphRoundsSpec pins both faces, so a Spark upgrade that changes
    * either is noticed. */
  def localCheckpointPartitioned(df: DataFrame): DataFrame = {
    val ds = df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
    val ck = ds.localCheckpoint()
    val rel = ck.queryExecution.analyzed match {
      case l: LogicalRDD => l
      case other => throw new IllegalStateException(
        s"localCheckpointPartitioned: checkpoint planned ${other.nodeName}, not a LogicalRDD")
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
      case p => p.numPartitions == rel.rdd.getNumPartitions && (p match {
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
}
