package org.apache.spark.sql.graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeMap, Expression, SortOrder}
import org.apache.spark.sql.catalyst.plans.physical.{Partitioning, PartitioningCollection}
import org.apache.spark.sql.classic.Dataset
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec

/** An eager local checkpoint that keeps what its rows are known to be
  * partitioned and sorted by.
  *
  * `Dataset.localCheckpoint` builds its `LogicalRDD` from the executed
  * plan's root, and loses that knowledge two ways:
  *  - under adaptive execution the root reports `UnknownPartitioning` and no
  *    ordering;
  *  - otherwise the partitioning names the physical plan's attributes, and
  *    where the optimizer dropped an alias (`FILE_ID AS FILE_ID`) those are
  *    not the checkpoint's output attributes, so nothing downstream matches
  *    them.
  * So a key-grouped input (a stamped SDFITS directory) loses its grouping at
  * the checkpoint, and every later per-key operator shuffles again. This
  * rebuilds the checkpoint's relation with the final plan's partitioning
  * and ordering, rebased onto the checkpoint's output by position.
  * `Dataset.ofRows` is package-private to `org.apache.spark.sql`, hence this
  * package.
  *
  * Keep it to the sites where a measurement shows the kept partitioning
  * pays: carrying an adaptively coalesced partitioning forward can pin later
  * stages to a few partitions.
  */
object KeyedCheckpoint {
  def localCheckpoint(df: DataFrame): DataFrame = {
    val cp = df.localCheckpoint().asInstanceOf[Dataset[_]]
    val finalPlan = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => Some(a.executedPlan).filter(_ => a.isFinalPlan)
      case p => Some(p)
    }
    (cp.logicalPlan, finalPlan) match {
      case (r: LogicalRDD, Some(p)) =>
        val toOutput = AttributeMap(p.output.zip(r.output))
        def rebase[E <: Expression](e: E): E =
          e.transform { case a: Attribute => toOutput.getOrElse(a, a) }.asInstanceOf[E]
        val partitioning = p.outputPartitioning match {
          case c: PartitioningCollection => c.partitionings.head
          case other => other
        }
        val kept = partitioning match {
          case e: Expression => rebase(e).asInstanceOf[Partitioning]
          case other => other
        }
        Dataset.ofRows(cp.sparkSession, r.copy(outputPartitioning = kept,
          outputOrdering = p.outputOrdering.map(rebase[SortOrder]))(cp.sparkSession,
          Some(r.computeStats()), Some(r.constraints)))
      case _ => cp.toDF()
    }
  }
}
