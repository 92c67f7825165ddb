package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Dual-source count reconciliation — the reference's one correctness idea
  * (dags/tasks/webscraper.py:88-96, consumed at
  * dags/tasks/planning_center.py:53-58): compare an expected count against
  * an independently-computed actual count, per key.
  *
  * Semantics pinned from the reference:
  *  - match        → valid = 1
  *  - mismatch     → valid = 0
  *  - key missing from the actual side → valid = 0 (the `:96` fall-through)
  *
  * The reference re-scans the whole expected dict per key — O(keys²); here
  * it is a single equi-join. Both inputs are post-aggregation (one row per
  * key), so at any scale this join broadcasts: the `actual` side carries a
  * broadcast hint. Without it the join is planned sort-merge, and AQE
  * switches it to a broadcast only after it has shuffled `expected`, one
  * wasted job per validation.
  */
object Validation {

  /** @param expected DataFrame with columns (key, expected_count)
    * @param actual   DataFrame with columns (key, actual_count)
    * @return (key, expected_count, actual_count, valid) — actual_count 0
    *         when the key never showed up (missing → invalid, like `:96`).
    */
  def validateCounts(expected: DataFrame, actual: DataFrame, key: String): DataFrame =
    expected.join(broadcast(actual), Seq(key), "left")
      .select(
        col(key),
        col("expected_count"),
        coalesce(col("actual_count"), lit(0L)).as("actual_count"),
        when(col("actual_count") === col("expected_count"), 1).otherwise(0).as("valid"))

  /** Run-level verdict: 1 iff every per-key check passed (the engine-side
    * aggregate the reference only logged, planning_center.py:53-58).
    */
  def overallVerdict(verdicts: DataFrame): DataFrame =
    verdicts.agg(min(col("valid")).as("all_valid"), count(lit(1)).as("n_checks"))

  /** Declarative data-quality constraint gate — the generalization of the
    * reference's count reconciliation to column-level rules (the check a
    * pipeline runs before shipping a table to training): completeness
    * (null counts), uniqueness (key duplicates), and domain rules, all
    * evaluated in ONE scan as conditional aggregates — no per-rule pass,
    * no shuffle beyond the single two-phase aggregation.
    *
    * `rules` maps a rule name to a boolean violation predicate (SQL
    * text); uniqueness is handled separately because it needs a distinct
    * count, not a row predicate. Output: one row per rule with its
    * violation count and pass flag.
    */
  def checkConstraints(df: DataFrame, rules: Seq[(String, String)],
                       uniqueKey: Option[String] = None): DataFrame = {
    require(rules.nonEmpty || uniqueKey.nonEmpty,
      "checkConstraints needs at least one rule or a uniqueKey")
    // coalesce: over ZERO rows sum() is NULL, which must read as zero
    // violations (pass), matching the uniqueness count's behavior — an
    // empty table satisfies every constraint (reviewer finding).
    val ruleCols = rules.map { case (name, pred) =>
      coalesce(sum(when(expr(pred), 1L).otherwise(0L)), lit(0L)).as(name)
    }
    // count("*"), not count(k): NULL keys are violations too, not
    // invisible — count(k)-countDistinct(k) read an all-NULL key column
    // as zero duplicates and passed the gate (reviewer finding). Every
    // row beyond one per distinct non-null key now counts.
    val uniqCols = uniqueKey.toSeq.map(k =>
      (count(lit(1)) - countDistinct(col(k))).as(s"dup_$k"))
    val cols = ruleCols ++ uniqCols
    val wide = df.agg(cols.head, cols.tail: _*)
    val names = rules.map(_._1) ++ uniqueKey.map(k => s"dup_$k")
    wide.unpivot(Array.empty, names.map(col).toArray, "rule", "n_violations")
      .select(col("rule"), col("n_violations"),
        when(col("n_violations") === 0L, 1).otherwise(0).as("pass"))
  }
}
