package graft

import org.apache.spark.sql.catalyst.optimizer.BuildRight
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.functions.count

import graft.operators.Validation

/** J5 reconciliation semantics (webscraper.py:88-96, consumed at
  * planning_center.py:53-58): match → 1, mismatch → 0, key missing from
  * the actual side → 0 (the :96 fall-through).
  */
class ValidationSpec extends SparkTestBase {
  import spark.implicits._

  test("validateCounts: match=1, mismatch=0, missing-from-actual=0") {
    val expected = Seq(("youth", 10L), ("choir", 5L), ("ghost", 3L))
      .toDF("list_name", "expected_count")
    val actual = Seq(("youth", 10L), ("choir", 4L))
      .toDF("list_name", "actual_count")
    val got = Validation.validateCounts(expected, actual, "list_name")
      .collect()
      .map(r => r.getString(0) -> ((r.getLong(2), r.getInt(3))))
      .toMap
    assert(got("youth") === ((10L, 1)))  // counts agree
    assert(got("choir") === ((4L, 0)))   // counts disagree
    assert(got("ghost") === ((0L, 0)))   // never observed → invalid, count 0
  }

  test("validateCounts broadcasts the actual side: no exchange over expected") {
    val expected = Seq(("youth", 2L), ("choir", 5L)).toDF("list_name", "expected_count")
    val actual = Seq(("youth", 1), ("youth", 2), ("choir", 3)).toDF("list_name", "person")
      .groupBy("list_name").agg(count("*").as("actual_count"))
    // The actual side of a real run is an aggregate over a join whose
    // size estimate is far above the broadcast threshold; turning the
    // threshold off stands in for that estimate.
    val threshold = "spark.sql.autoBroadcastJoinThreshold"
    val saved = spark.conf.get(threshold)
    spark.conf.set(threshold, "-1")
    val initial = try Validation.validateCounts(expected, actual, "list_name")
      .queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.initialPlan
        case p => p
      } finally spark.conf.set(threshold, saved)
    val joins = initial.collect { case j: BroadcastHashJoinExec => j }
    assert(joins.size === 1, initial.treeString)
    assert(joins.head.buildSide === BuildRight)
    assert(joins.head.left.collect { case e: Exchange => e }.isEmpty, initial.treeString)
    assert(initial.collect { case j: SortMergeJoinExec => j }.isEmpty)
  }

  test("checkConstraints counts planted violations per rule in one pass") {
    val rows = Seq(
      (1L, Option(10L), 5.0, "F"),
      (2L, None, -1.0, "F"),        // null key + nonpositive price
      (2L, Option(11L), 3.0, "Z"),  // duplicate id + bad status
      (3L, Option(12L), 0.0, "O"))  // nonpositive price (boundary)
      .toDF("id", "custkey", "price", "status")
    val got = Validation.checkConstraints(rows, Seq(
        "null_custkey" -> "custkey is null",
        "nonpositive_price" -> "price <= 0",
        "bad_status" -> "status not in ('F', 'O', 'P')"),
      uniqueKey = Some("id"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getInt(2))).toMap
    assert(got === Map(
      "null_custkey" -> ((1L, 0)),
      "nonpositive_price" -> ((2L, 0)),
      "bad_status" -> ((1L, 0)),
      "dup_id" -> ((1L, 0))))
  }

  test("uniqueness gate counts NULL keys as violations, not as unique") {
    // An all-NULL (or partly NULL) key column previously read as zero
    // duplicates and passed — count(k) and countDistinct(k) both skip
    // NULLs (reviewer finding).
    val rows = Seq(Option(1L), None, None).toDF("id")
    val got = Validation.checkConstraints(rows, Seq.empty, uniqueKey = Some("id"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getInt(2))).toMap
    assert(got === Map("dup_id" -> ((2L, 0))))
  }

  test("overallVerdict: all-valid iff every per-key check passed") {
    val allGood = Seq(("a", 1L, 1L), ("b", 2L, 2L)).toDF("k", "expected_count", "actual_count")
    val oneBad = Seq(("a", 1L, 1L), ("b", 2L, 9L)).toDF("k", "expected_count", "actual_count")
    def verdict(df: org.apache.spark.sql.DataFrame): Int = {
      val v = Validation.validateCounts(
        df.select($"k", $"expected_count"), df.select($"k", $"actual_count"), "k")
      Validation.overallVerdict(v).collect()(0).getInt(0)
    }
    assert(verdict(allGood) === 1)
    assert(verdict(oneBad) === 0)
  }
}
