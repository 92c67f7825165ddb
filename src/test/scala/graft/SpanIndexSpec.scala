package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.LlmOps

/** Round-14 additions: the stored span-index READ path
  * (t19b_dup_spans_idx) and the r14 lsh-sweep rework's cap bookkeeping.
  *
  * Index contract (the d7b discipline): a stored form must return
  * EXACTLY its recompute twin's rows, and its stored-side aggregates
  * must read the bucket layout without re-shuffling it.
  */
class SpanIndexSpec extends SparkTestBase {

  private def assertSameRows(a: DataFrame, b: DataFrame): Unit = {
    assert(a.columns.toSeq === b.columns.toSeq)
    assert(a.exceptAll(b).count() === 0)
    assert(b.exceptAll(a).count() === 0)
  }

  test("t19b_dup_spans_idx equals the winnowed recompute") {
    assertSameRows(
      LlmOps.t19bDupSpansIdx(spark, Sf),
      LlmOps.t29WinnowDups(spark, Sf))
    assert(LlmOps.t19bDupSpansIdx(spark, Sf).count() > 0)
    PersistScope.releaseAll()
  }

  test("t19b's cross-doc gate aggregates the stored spans exchange-free") {
    // The index is bucketed on `hash`; the ≥2-docs gate groups on the
    // same key, so the stored side must scan bucketed with no Exchange
    // in front of the aggregate (the WinnowPhashSpec assertion, applied
    // to the read path).
    val prefix = LlmOps.ensureSpanIndex(spark, Sf, None)
    val gate = spark.table(s"${prefix}_spans")
      .groupBy("hash").agg(count(lit(1)).as("nd"))
    gate.count()
    val plan = gate.queryExecution.executedPlan.toString
    assert(plan.contains("Bucketed: true"),
      s"stored spans should scan bucketed under the hash aggregate; plan:\n$plan")
    assert(!plan.contains("Exchange"),
      s"the gate must reuse the bucket distribution; plan:\n$plan")
  }

  test("the whole-corpus span index holds every source's fingerprints") {
    // No excluded source means no exclusion filter at all — the index
    // must keep everything (a dropped source here would silently shrink
    // the index and t19b's oracle would catch it only as a row-count
    // mismatch downstream; this pins the contract directly).
    val prefix = LlmOps.ensureSpanIndex(spark, Sf, None)
    val storedDocs = spark.table(s"${prefix}_spans")
      .select("doc_id").distinct().count()
    val batchPrefix = LlmOps.ensureSpanIndex(spark, Sf, Some(LlmOps.BatchSource))
    val corpusMinusBatchDocs = spark.table(s"${batchPrefix}_spans")
      .select("doc_id").distinct().count()
    assert(storedDocs > corpusMinusBatchDocs,
      "the whole-corpus index must also cover the src0 batch docs")
  }
}
