package graft

import org.apache.spark.sql.DataFrame

import graft.operators.LlmOps

/** Round-12 additions: the maintained CC-label index (d7b), its
  * incremental ingest (d7c), and the consumers that read stored labels
  * instead of re-running resolution (d12b/d13b/q_curation_neardup_idx).
  *
  * The index contract is "pure optimization": every variant must return
  * EXACTLY its full-recompute twin's rows, the stored table must be read
  * through its bucket layout (no re-shuffle of the corpus side), and the
  * consumers must run ZERO CC loops once the snapshot exists.
  */
class LabelIndexSpec extends SparkTestBase {

  private def assertSameRows(a: DataFrame, b: DataFrame): Unit = {
    assert(a.columns.toSeq === b.columns.toSeq)
    assert(a.exceptAll(b).count() === 0)
    assert(b.exceptAll(a).count() === 0)
  }

  test("d7b: the stored label index equals the full d7 recompute") {
    val viaIndex = LlmOps.d7bResolveIdx(spark, Sf)
    val recompute = LlmOps.d7DedupResolve(spark, Sf)
    assertSameRows(viaIndex, recompute)
    assert(viaIndex.count() > 0)
  }

  test("d7c: incremental label ingest equals the full d7 recompute") {
    val viaIngest = LlmOps.d7cResolveIngest(spark, Sf)
    val recompute = LlmOps.d7DedupResolve(spark, Sf)
    assertSameRows(viaIngest, recompute)
    // The ingest must actually MERGE something, or the equality above is
    // vacuous: at least one batch doc must resolve to a non-self label
    // (the fixture plants cross-source near-dups — IncrementalIngestSpec
    // relies on the same property).
    import org.apache.spark.sql.functions.col
    assert(viaIngest.filter(col("doc_id") =!= col("canonical_id")).count() > 0)
  }

  test("d12b/d13b/curation_idx equal their full-recompute twins with zero CC runs") {
    // Warm the snapshot first so the consumer measurements below are
    // steady-state (first touch builds it, which DOES run CC once).
    LlmOps.d7bResolveIdx(spark, Sf).count()
    val before = LlmOps.ccRuns
    assertSameRows(LlmOps.d12bQualityIdx(spark, Sf), LlmOps.d12QualityResolve(spark, Sf))
    assertSameRows(LlmOps.d13bSplitIdx(spark, Sf), LlmOps.d13GroupSplit(spark, Sf))
    assertSameRows(LlmOps.curationNeardupIdx(spark, Sf),
      LlmOps.curationNeardupManifest(spark, Sf))
    // Each FULL-recompute twin above pays one CC loop; the index-side
    // variants must add none — so exactly 3 runs since `before`.
    assert(LlmOps.ccRuns - before === 3,
      "index consumers must read stored labels, never re-run the CC loop")
  }

  test("a doc_id consumer join reads the stored label table through its bucket layout") {
    import org.apache.spark.sql.functions._
    // A bare scan reports "Bucketed: false (disabled by query planner)" —
    // bucketing only engages when an operator exploits the distribution,
    // which is exactly the consumer shape (per-doc attach join).
    val labels = LlmOps.d7bResolveIdx(spark, Sf)
    // A per-doc aggregation needs hash distribution on doc_id; the
    // bucketed layout must satisfy it with NO exchange in front.
    val agged = labels.groupBy("doc_id").agg(count(lit(1)).as("n"))
    agged.count()
    val plan = agged.queryExecution.executedPlan.toString
    assert(plan.contains("Bucketed: true"),
      s"label index should scan bucketed under a doc_id aggregate; plan:\n$plan")
    assert(!plan.contains("Exchange"),
      s"the doc_id aggregate must reuse the bucket distribution; plan:\n$plan")
  }
}
