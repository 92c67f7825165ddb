package graft.pipeline

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.graftshim.PlanBridge

import graft.functions.Scalars._
import graft.sinks.Sinks

/** The reference pipeline (dags/tasks/planning_center.py:17-58 →
  * csv_operations.py:9-28), re-expressed as ONE declarative Spark plan
  * over reference-shaped tables:
  *
  * {{{
  * lists.filter(contains "Youth")                 -- P1  (:20)
  *   ⋈ list_results on list_id                    -- J1  (:17,32)
  *   ⋈ people on person_id                        -- J2  (:33-34, the N+1 point lookups)
  *   ⟕ first primary email on person_id           -- J3+P4 (:63-65)
  *   ⟕ first primary phone on person_id           -- J4+P4 (:68-70)
  *   → project Person with age/grade derivations  -- P2+F1+F2+F7 (:38-48,73-82)
  * }}}
  *
  * The reference executes this as 1 + 3 HTTP round-trips per person; here
  * it is scans + hash joins (the dimension side broadcasts). The plan's
  * exchanges are the two window shuffles on person_id, the join shuffles
  * Catalyst picks (none when every join broadcasts), and one final hash
  * repartition on person_id.
  *
  * Like the reference, which builds `people_list` once and then counts,
  * validates and writes it (planning_center.py:17-58, csv_operations.py,
  * s3_operations.py), [[buildPeople]] runs the plan once and hands every
  * consumer the same result; see its doc for what that holds and for how
  * long.
  *
  * Determinism strengthening (documented, SURVEY.md §2.6): the reference's
  * "first" email/phone is API return order; we pin pick-first order by
  * (email_id / phone_id).
  */
object ReferencePipeline {

  /** First primary sub-resource row per person: filter(primary) →
    * row_number over (person_id, order by id) = 1. `valueCol` is the
    * attribute the reference extracts (`address` / `national`,
    * planning_center.py:65,70).
    */
  private def firstPrimary(rows: DataFrame, idCol: String, valueCol: String, outName: String): DataFrame = {
    val w = Window.partitionBy("person_id").orderBy(col(idCol))
    rows.filter(col("primary"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("person_id"), col(valueCol).as(outName))
  }

  /** The full extraction query. `asOf` pins "today" for the age math
    * (reference uses date.today(), planning_center.py:76 — pinned for
    * reproducibility, SURVEY.md §7.4.1).
    *
    * Eager: the call runs jobs. It executes the plan once — the scans,
    * broadcasts, window shuffles and joins, ending in a hash repartition
    * on person_id into [[graft.sinks.Sinks.explicitPartitions]]
    * partitions — and returns a Dataset over that shuffle's output
    * ([[org.apache.spark.sql.graftshim.PlanBridge.executeOnce]]). Every
    * action on it (validation, both sinks) reads the shuffle blocks in one
    * task per partition and re-runs nothing of the plan.
    *
    * Nothing is persisted: the shuffle files and broadcasts live while the
    * returned Dataset (or a plan over it) is reachable, ContextCleaner
    * frees them after, and a lost shuffle block is recomputed from the
    * inputs. The inputs are therefore assumed not to change during a run;
    * in exchange, validation and the sinks see the same rows.
    *
    * @param lists       (list_id, list_name)
    * @param listResults (list_id, person_id)
    * @param people      (person_id, name, birthdate 'yyyy-MM-dd' nullable, grade int nullable)
    * @param emails      (person_id, email_id, address, primary)
    * @param phones      (person_id, phone_id, national, primary)
    */
  def buildPeople(
      spark: SparkSession,
      lists: DataFrame,
      listResults: DataFrame,
      people: DataFrame,
      emails: DataFrame,
      phones: DataFrame,
      asOf: String,
      listFilter: String = "Youth"): Dataset[Person] = {
    import spark.implicits._
    val asOfDate = to_date(lit(asOf))
    val plan = lists
      .filter(col("list_name").contains(listFilter))                   // P1
      .join(listResults, "list_id")                                    // J1
      .join(people, "person_id")                                       // J2
      .join(firstPrimary(emails, "email_id", "address", "email"),
        Seq("person_id"), "left")                                      // J3+P4
      .join(firstPrimary(phones, "phone_id", "national", "phone"),
        Seq("person_id"), "left")                                      // J4+P4
      .select(
        col("person_id"),
        col("list_name").as("person_list"),                            // Person.py:10
        col("name"),
        emptyIfNull(col("email")).as("primary_email"),                 // F7 (:65)
        emptyIfNull(col("phone")).as("primary_phone_number"),          // F7 (:70)
        gradeLabel(col("grade")).as("grade"),                          // F2 (:81-82)
        // try_to_date, not to_date: ANSI mode (Spark 4 default) throws on
        // malformed input; the reference maps empty/invalid to '' (:74,78).
        ageLabel(try_to_date(col("birthdate"), "yyyy-MM-dd"), asOfDate).as("age")) // F1 (:73-78)
      .repartition(Sinks.explicitPartitions(spark), col("person_id"))
    PlanBridge.executeOnce(plan, "buildPeople").as[Person]
  }

  /** Per-list actual counts (A1 — len(people_list[name]),
    * planning_center.py:50), for the J5 reconciliation against scraped
    * expected counts (webscraper.py:88-96).
    */
  def actualCounts(people: Dataset[Person]): DataFrame =
    people.groupBy(col("person_list").as("list_name"))
      .agg(count("*").as("actual_count"))

  /** The csv_fmt config semi-join + rename (S6/P6/P7,
    * csv_operations.py:12-19): only configured lists survive, each tagged
    * with its output csv_name. The config is tiny → broadcast inner join
    * (inner ≡ semi here because csv_fmt has one row per list_name).
    */
  def applyCsvFormat(people: Dataset[Person], csvFmt: DataFrame): DataFrame =
    people.toDF().join(
      broadcast(csvFmt.select(col("list_name"), col("csv_name"))),
      people("person_list") === col("list_name"))
      .drop("list_name")
}
