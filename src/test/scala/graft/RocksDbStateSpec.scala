package graft

import graft.streaming.Streaming

/** The production state backend: at 100 TB/day the default in-memory
  * (HDFSBackedStateStore) provider caps state at executor heap; RocksDB
  * spills to local disk and bounds memory, which is why every large
  * stateful deployment runs it. This spec proves the engine's stateful
  * queries (windowed aggregation, dedup) produce IDENTICAL results under
  * the RocksDB provider — state backend choice is config, not semantics.
  */
class RocksDbStateSpec extends SparkTestBase {

  test("windowed aggregation and dedup results are backend-invariant") {
    val defaultAgg = Streaming.tumblingCounts(spark, Sf).collect().toSet
    val defaultDedup = Streaming.streamDedup(spark, Sf).collect().toSet
    val (rocksAgg, rocksDedup) = Sessions.withConf(spark, Streaming.StateStoreProvider -> Streaming.RocksDb) {
      (Streaming.tumblingCounts(spark, Sf).collect().toSet,
        Streaming.streamDedup(spark, Sf).collect().toSet)
    }
    assert(rocksAgg === defaultAgg)
    assert(rocksAgg.nonEmpty)
    assert(rocksDedup === defaultDedup)
    assert(rocksDedup.nonEmpty)
  }
}
