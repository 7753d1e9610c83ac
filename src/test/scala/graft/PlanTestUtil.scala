package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec

/** Shared plan-assertion helper for the plan-contract specs. */
object PlanTestUtil extends AdaptiveSparkPlanHelper {

  /** Final executed plan string (run the query so AQE finalizes; strip
    * the "== Initial Plan ==" echo so nothing is counted twice). */
  def finalPlan(df: DataFrame): String = {
    df.collect()
    df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
  }

  /** Number of KEYED exchanges (hash/range partitioning) in a plan —
    * the shuffles that move data by key. The size-guarded round-robin
    * spread of a degenerate single-row-group scan
    * (TableIO.rebalanceSmall) is excluded on purpose: it exists only
    * while the local input cannot fill the cluster and vanishes at
    * scale, so "row-local" contracts are stated over keyed exchanges. */
  def keyedExchanges(plan: String): Int =
    "Exchange hashpartitioning".r.findAllIn(plan).size +
      "Exchange rangepartitioning".r.findAllIn(plan).size

  /** Column names of every parquet `ReadSchema` in a plan string. */
  def readSchemaColumns(plan: String): Seq[Seq[String]] =
    "ReadSchema: struct<([^>]*)>".r.findAllMatchIn(plan).map(m =>
      m.group(1).split(',').toSeq.map(_.takeWhile(_ != ':'))).toSeq

  /** Input column names of every shuffle exchange in the executed plan,
    * query stages included (run the query first, e.g. via [[finalPlan]]). */
  def exchangeInputColumns(df: DataFrame): Seq[Seq[String]] =
    collect(df.queryExecution.executedPlan) {
      case e: ShuffleExchangeExec => e.child.output.map(_.name)
    }
}
