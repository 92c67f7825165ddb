package org.apache.spark.sql.graftshim

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.Dataset
import org.apache.spark.sql.execution.{LogicalRDD, SQLExecution}

/** The `private[sql]` seam the engine needs: DataFrames over logical
  * nodes that Spark offers no public constructor for. Spark exposes
  * injection points for custom expressions, optimizer rules, and planner
  * strategies via SparkSessionExtensions, but none for a DataFrame over a
  * custom logical node or over an already-executed plan — every
  * third-party whole-operator library bridges this same gap with a
  * shim package under `org.apache.spark.sql`. Two calls live here; every
  * other part of the engine uses public API.
  */
object PlanBridge {
  private def classic(spark: SparkSession) =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]

  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    Dataset.ofRows(classic(spark), plan)

  /** Executes `df`'s plan now, once, and returns a DataFrame whose only
    * leaf is a `LogicalRDD` over that execution's result RDD — what
    * `Dataset.checkpoint` does, minus the storage step.
    *
    * Under AQE, `toRdd` materializes every query stage of the plan
    * (broadcasts and shuffles, including a shuffle at the root) before it
    * returns, so the call runs jobs. When the plan ends in an exchange, the
    * returned RDD reads that shuffle's output: every later action over the
    * result reads the shuffle blocks in one task per partition, and
    * re-runs nothing above them. Nothing is put in storage; lineage stays
    * intact, so a lost shuffle block is recomputed from the inputs. The
    * shuffle files and broadcasts live as long as the returned DataFrame
    * (or a plan over it) is reachable; ContextCleaner frees them after.
    * The statistics of `df`'s optimized plan stand in for the leaf's, so
    * downstream join planning sizes it as it sized `df`.
    */
  def executeOnce(df: DataFrame, name: String): DataFrame = {
    val qe = df.queryExecution
    val session = classic(df.sparkSession)
    val rdd = SQLExecution.withNewExecutionId(qe, Some(name))(qe.toRdd)
    Dataset.ofRows(session,
      LogicalRDD(qe.analyzed.output, rdd)(session, Some(qe.optimizedPlan.stats), None))
  }
}
