package org.apache.spark.sql.graftshim

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.Dataset
import org.apache.spark.sql.execution.{LogicalRDD, SQLExecution}
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.storage.StorageLevel

/** The `private[sql]` seam the engine needs: DataFrames over logical
  * nodes that Spark offers no public constructor for. Spark exposes
  * injection points for custom expressions, optimizer rules, and planner
  * strategies via SparkSessionExtensions, but none for a DataFrame over a
  * custom logical node or over an already-executed plan — every
  * third-party whole-operator library bridges this same gap with a
  * shim package under `org.apache.spark.sql`. Four calls live here; every
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

  /** `df` pinned for as long as a plan over the result is reachable: what
    * `Dataset.persist()` builds, minus the CacheManager entry. The cache is
    * the same lazy, columnar, MEMORY_AND_DISK `InMemoryRelation` (built the
    * first time an action reads it, scanned by `InMemoryTableScan`, lineage
    * intact), but it is reachable only through the returned DataFrame and
    * the plans derived from it. Its cached RDD is registered with
    * ContextCleaner like every persisted RDD, so once the last such plan is
    * unreachable a GC frees the blocks; nothing outside the plan tracks
    * them and no release call is owed. The cached plan is executed the way
    * `CacheManager.cacheQuery` executes it (a session clone with the
    * configs a cache build turns off), so partition counts match a
    * persist(). Pinning a pin returns it unchanged.
    */
  def pin(df: DataFrame): DataFrame = df.queryExecution.analyzed match {
    case _: InMemoryRelation => df
    case plan =>
      val session = classic(df.sparkSession)
      val off = SQLConf.AUTO_BUCKETED_SCAN_ENABLED +:
        (if (session.sessionState.conf.getConf(SQLConf.CAN_CHANGE_CACHED_PLAN_OUTPUT_PARTITIONING)) Nil
         else Seq(SQLConf.ADAPTIVE_EXECUTION_APPLY_FINAL_STAGE_SHUFFLE_OPTIMIZATIONS))
      val cacheSession = org.apache.spark.sql.classic.SparkSession
        .getOrCloneSessionWithConfigsOff(session, off)
      val built = cacheSession.withActive(InMemoryRelation(StorageLevel.MEMORY_AND_DISK,
        cacheSession.sessionState.executePlan(plan), None))
      // No logical output ordering: a self-join re-instances the relation
      // (`newInstance`), which renames the output but keeps the ordering's
      // old attributes, and canonicalizing that copy then fails. The scan's
      // physical ordering comes from the cached plan and is unaffected.
      Dataset.ofRows(session,
        InMemoryRelation(built.output, built.cacheBuilder, Nil, built.statsOfPlanToCache))
  }

  /** Frees, now, the storage at `df`'s plan root: a [[pin]]'s cached
    * blocks or a `localCheckpoint`'s RDD blocks. Anything else is left
    * alone; so is storage `df` merely reads below its root (a loop's
    * round-0 state derives from an adjacency it must not free). For the
    * few callers that know a pin is dead before its DataFrame is: the CC
    * loop's superseded rounds, and the index builders after their eager
    * writes. A released pin rebuilds if it is read again; a released
    * checkpoint has no lineage left and must not be.
    */
  def release(df: DataFrame): Unit = df.queryExecution.analyzed match {
    case r: InMemoryRelation => r.cacheBuilder.clearCache()
    case lr: LogicalRDD => lr.rdd.unpersist(false)
    case _ => ()
  }
}
