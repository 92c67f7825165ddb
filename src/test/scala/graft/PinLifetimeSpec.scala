package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.execution.columnar.InMemoryRelation

import graft.operators.LlmOps
import graft.sinks.SheetsShaped

/** Pinned intermediates live as long as the DataFrame that reads them.
  * The dedup family pins shared scans (`PlanBridge.pin`) and d7's CC loop
  * holds local checkpoints; a library caller runs them and makes no
  * release call. While a result is reachable its storage must survive a
  * GC; once it is dropped, ContextCleaner must return executor storage
  * to where it was (the round-5 finding was a session that accumulated
  * dead blocks until LRU eviction).
  */
class PinLifetimeSpec extends SparkTestBase {

  private def persistentRdds(): Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  /** The storage at the leaves of `df`'s plan: pinned caches and
    * checkpoint RDDs.
    */
  private def storageOf(df: DataFrame): Set[Int] = df.queryExecution.analyzed.collect {
    case r: InMemoryRelation => r.cacheBuilder.cachedColumnBuffers.id
    case l: LogicalRDD => l.rdd.id
  }.toSet

  /** Runs d2 then d7 with no release call and checks, while both results
    * are reachable, that their storage survives a GC and a second count
    * equals the first. The handles die with this frame.
    */
  private def runReachable(): Unit = {
    val d2 = LlmOps.d2DedupMinhash(spark, Sf)
    val d7 = LlmOps.d7DedupResolve(spark, Sf)
    val (n2, n7) = (d2.count(), d7.count())
    val held = storageOf(d2) ++ storageOf(d7)
    assert(storageOf(d2).nonEmpty && storageOf(d7).nonEmpty,
      "expected d2's pins and d7's checkpointed labels at the plan leaves")
    for (_ <- 1 to 3) { System.gc(); Thread.sleep(1000) }
    assert(held.subsetOf(persistentRdds()),
      s"storage of reachable results was freed: ${held -- persistentRdds()}")
    assert(d2.count() === n2 && d7.count() === n7)
  }

  test("d2 and d7 keep their storage while reachable and free it after they drop") {
    val before = persistentRdds()
    runReachable()
    releasedAfterGc((persistentRdds() -- before).isEmpty)
    val leaked = persistentRdds() -- before
    assert(leaked.isEmpty, s"persistent RDDs left after the results dropped: $leaked")
  }

  test("the dedup family leaves CacheManager empty") {
    val cacheManager =
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sharedState.cacheManager
    spark.catalog.clearCache()
    LlmOps.d2DedupMinhash(spark, Sf).count()
    LlmOps.d4NgramJaccard(spark, Sf).count()
    LlmOps.d7DedupResolve(spark, Sf).count()
    // The only persist() calls left: st8's foreachBatch pin and the
    // Sheets upload's, each unpersisted in a finally.
    SparkEntry.queries("st8_stream_upsert")(spark, Sf).count()
    SheetsShaped.upload(spark.range(5).toDF("id"), tempDir("pin_sheets"), "tab")
    assert(cacheManager.isEmpty, "a pin registered a CacheManager entry")
  }
}
