package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart,
  SparkListenerStageCompleted, StageInfo}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.execution.datasources.LogicalRelation

import graft.operators.Validation
import graft.pipeline.ReferencePipeline
import graft.sinks.Sinks

/** Golden end-to-end test of the full reference chain
  * (planning_center.py:17-58 → csv_operations.py:9-28 → sink) on
  * reference-shaped fixtures covering every edge case from FIXTURES.md §2:
  * null birthdate, birthday today/tomorrow vs the pinned as-of, Feb-29,
  * grade 0, person with no email/phone rows, person with two primary
  * emails, "Youth" as a mid-string substring, count match/mismatch and an
  * expected-count name that never appears.
  *
  * The golden CSV bytes are hand-computed from the reference semantics,
  * not captured from a run.
  */
class ReferencePipelineSpec extends SparkTestBase {
  import spark.implicits._

  private val asOf = "2026-06-01"

  private def fixtures = {
    val lists = Seq(
      ("L1", "Youth Group"),
      ("L2", "Adults"),
      ("L3", "Choir Youth Mid")).toDF("list_id", "list_name")
    val listResults = Seq(
      ("L1", "p1"), ("L1", "p2"), ("L1", "p6"),
      ("L2", "p9"),
      ("L3", "p3"), ("L3", "p4"), ("L3", "p5"))
      .toDF("list_id", "person_id")
    val people = Seq(
      ("p1", "Amy Adams", Some("2010-03-15"), Some(5)),
      ("p2", "Bob Brown", None, Some(0)),            // null birthdate, grade 0
      ("p3", "Cal Chen", Some("2012-02-29"), None),  // leap birthdate, null grade
      ("p4", "Dia Diaz", Some("2000-06-01"), Some(12)), // birthday == asOf
      ("p5", "Eli Evans", Some("2000-06-02"), Some(3)), // birthday tomorrow
      ("p6", "Fay Fox", Some("1995-01-01"), Some(1)),
      ("p9", "Zed Zane", Some("1990-01-01"), Some(9)))  // non-Youth list only
      .toDF("person_id", "name", "birthdate", "grade")
    val emails = Seq(
      ("p1", "e2", "amy2@x", true), ("p1", "e1", "amy1@x", true), // two primaries → e1
      ("p2", "e3", "bob@x", false),                               // no primary → ''
      ("p3", "e4", "cal@x", true),
      ("p4", "e5", "dia@x", true),
      ("p5", "e6", "eli@x", true),
      ("p9", "e9", "zed@x", true))
      .toDF("person_id", "email_id", "address", "primary")
    val phones = Seq(
      ("p1", "ph1", "111-1111", true),
      ("p3", "ph3", "333-3333", false),                            // no primary → ''
      ("p4", "ph5", "555-5555", true), ("p4", "ph4", "444-4444", true), // → ph4
      ("p5", "ph6", "666-6666", true))
      .toDF("person_id", "phone_id", "national", "primary")
    (lists, listResults, people, emails, phones)
  }

  private def buildPeople() = {
    val (lists, listResults, people, emails, phones) = fixtures
    ReferencePipeline.buildPeople(spark, lists, listResults, people, emails, phones, asOf)
  }

  /** The five fixture tables as parquet files, read back: the shape the
    * pipeline runs on in production, where a re-run plan re-reads files.
    */
  private lazy val parquetFixtures: Seq[DataFrame] = {
    val dir = tempDir("ref_inputs")
    val (lists, listResults, people, emails, phones) = fixtures
    Seq(lists, listResults, people, emails, phones).zipWithIndex.map { case (df, i) =>
      df.write.parquet(s"$dir/t$i")
      spark.read.parquet(s"$dir/t$i")
    }
  }

  private def buildPeopleFromParquet() = {
    val Seq(lists, listResults, people, emails, phones) = parquetFixtures
    ReferencePipeline.buildPeople(spark, lists, listResults, people, emails, phones, asOf)
  }

  private def expectedCounts =
    Seq(("Youth Group", 3L), ("Choir Youth Mid", 2L), ("Ghost List", 1L))
      .toDF("list_name", "expected_count")

  private def csvFmt =
    Seq(("Youth Group", "youth_roster"), ("Choir Youth Mid", "choir_youth"))
      .toDF("list_name", "csv_name")

  /** Completed stages, collected by a listener. `drain` runs a marker job
    * and waits for its end: the bus delivers events in order, so every
    * stage that completed before the marker has been seen by then.
    */
  private final class StageLog extends SparkListener {
    private val done = new ConcurrentLinkedQueue[StageInfo]()
    @volatile private var markerJob = -1
    @volatile private var markerStages = Set.empty[Int]
    @volatile private var markerEnded = false
    override def onJobStart(e: SparkListenerJobStart): Unit =
      if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == "stage-log-marker")) {
        markerStages = e.stageIds.toSet
        markerJob = e.jobId
      }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      if (e.jobId == markerJob) markerEnded = true
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = done.add(e.stageInfo)

    def drain(): Seq[StageInfo] = {
      markerEnded = false
      val sc = spark.sparkContext
      sc.setJobGroup("stage-log-marker", "stage-log-marker")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 10000000000L
      while (!markerEnded && System.nanoTime() < deadline) Thread.sleep(10)
      assert(markerEnded, "listener bus did not deliver the marker job's end")
      val out = Iterator.continually(done.poll()).takeWhile(_ != null).toList
      out.filterNot(st => markerStages(st.stageId))
    }
  }

  /** A stage reads an input file: it has a file-scan RDD or read input bytes. */
  private def scans(st: StageInfo): Boolean =
    st.rddInfos.exists(_.name.contains("FileScanRDD")) ||
      st.taskMetrics.inputMetrics.bytesRead > 0

  test("pipeline produces the hand-computed Person rows") {
    val got = buildPeople().collect()
      .map(p => p.person_id -> p).toMap
    assert(got.keySet === Set("p1", "p2", "p3", "p4", "p5", "p6"))
    val p1 = got("p1")
    assert(p1.person_list === "Youth Group")
    assert(p1.primary_email === "amy1@x")   // lowest email_id of two primaries
    assert(p1.primary_phone_number === "111-1111")
    assert(p1.grade === "Grade 5")
    assert(p1.age === "16 years")
    val p2 = got("p2")
    assert(p2.primary_email === "")         // non-primary only
    assert(p2.primary_phone_number === "")  // no rows
    assert(p2.grade === "")                 // grade 0 → Python truthiness
    assert(p2.age === "")                   // null birthdate
    assert(got("p3").age === "14 years")    // Feb-29: (6,1) < (2,29) is false
    assert(got("p3").grade === "")          // null grade
    assert(got("p3").primary_phone_number === "")
    assert(got("p4").age === "26 years")    // birthday exactly today counts
    assert(got("p4").primary_phone_number === "444-4444") // lowest phone_id
    assert(got("p5").age === "25 years")    // birthday tomorrow → one less
    assert(got("p6").primary_email === "")  // no email rows at all
    assert(got("p6").age === "31 years")
  }

  test("golden CSV per list: exact header order, ''-not-null, unquoted empties") {
    val out = tempDir("golden_csv")
    Sinks.writeCsvPerList(buildPeople().toDF, out)

    def readListCsv(listName: String): Seq[String] = {
      val dir = Paths.get(out, s"person_list=$listName")
      val csv = Files.list(dir).iterator().asScala
        .filter(_.getFileName.toString.endsWith(".csv")).toSeq
      assert(csv.size === 1, s"expected exactly one CSV file per list in $dir")
      Files.readAllLines(csv.head).asScala.toSeq
    }

    assert(readListCsv("Youth Group") === Seq(
      "name,primary_email,primary_phone_number,grade,age",
      "Amy Adams,amy1@x,111-1111,Grade 5,16 years",
      "Bob Brown,,,,",
      "Fay Fox,,,Grade 1,31 years"))
    assert(readListCsv("Choir Youth Mid") === Seq(
      "name,primary_email,primary_phone_number,grade,age",
      "Cal Chen,cal@x,,,14 years",
      "Dia Diaz,dia@x,444-4444,Grade 12,26 years",
      "Eli Evans,eli@x,666-6666,Grade 3,25 years"))
    // The non-Youth list never materializes (P1 filter before the joins).
    assert(!Files.exists(Paths.get(out, "person_list=Adults")))
  }

  test("J5 reconciliation: match, mismatch, and never-seen list name") {
    val expected = Seq(
      ("Youth Group", 3L),     // matches
      ("Choir Youth Mid", 2L), // actual is 3 → mismatch
      ("Ghost List", 1L))      // never observed → invalid
      .toDF("list_name", "expected_count")
    val actual = ReferencePipeline.actualCounts(buildPeople())
    val verdicts = Validation.validateCounts(expected, actual, "list_name")
      .collect().map(r => r.getString(0) -> r.getInt(3)).toMap
    assert(verdicts === Map("Youth Group" -> 1, "Choir Youth Mid" -> 0, "Ghost List" -> 0))
  }

  test("golden renamed CSV: configured lists land at <base>/<csv_name>.csv") {
    val fmt = Seq(
      ("Youth Group", "youth_roster"),
      ("Choir Youth Mid", "choir_youth"))
      .toDF("list_name", "csv_name")
    val out = tempDir("renamed_csv")
    Sinks.writeCsvRenamed(ReferencePipeline.applyCsvFormat(buildPeople(), fmt), out)
    // Re-run over the same base URI: Hadoop rename returns false on an
    // existing destination, so without the delete-then-rename the second
    // run would silently keep stale files (advisor finding). Running it
    // twice and asserting the same golden bytes proves idempotence.
    Sinks.writeCsvRenamed(ReferencePipeline.applyCsvFormat(buildPeople(), fmt), out)

    // Drop the local ChecksumFileSystem's .crc sidecars — an artifact of
    // RawLocalFileSystem, not of the sink's layout.
    val files = Files.list(Paths.get(out)).iterator().asScala
      .map(_.getFileName.toString).filterNot(_.startsWith(".")).toSet
    assert(files === Set("youth_roster.csv", "choir_youth.csv"))
    assert(Files.readAllLines(Paths.get(out, "youth_roster.csv")).asScala.toSeq === Seq(
      "name,primary_email,primary_phone_number,grade,age",
      "Amy Adams,amy1@x,111-1111,Grade 5,16 years",
      "Bob Brown,,,,",
      "Fay Fox,,,Grade 1,31 years"))
    assert(Files.readAllLines(Paths.get(out, "choir_youth.csv")).asScala.head ===
      "name,primary_email,primary_phone_number,grade,age")
  }

  test("renamed CSV sink recovers from a simulated mid-write failure") {
    // The reference's task-failure semantics (google_sheets.py:103-105:
    // catch, log, re-raise for the orchestrator to retry) collapse here
    // to: a retry of the whole flagship write must converge regardless
    // of what the dead attempt left behind. Simulate the two crash
    // artifacts a mid-promotion death produces — a leftover _staging
    // tree and a half-promoted (corrupt) target file — and prove the
    // re-run restores the exact golden bytes and clears the staging.
    val fmt = Seq(
      ("Youth Group", "youth_roster"),
      ("Choir Youth Mid", "choir_youth"))
      .toDF("list_name", "csv_name")
    val out = tempDir("renamed_csv_retry")
    Sinks.writeCsvRenamed(ReferencePipeline.applyCsvFormat(buildPeople(), fmt), out)
    val golden = Files.readAllLines(Paths.get(out, "youth_roster.csv")).asScala.toSeq

    // Crash artifacts: stale staging with garbage, truncated target.
    val staleDir = Paths.get(out, "_staging", "csv_name=youth_roster")
    Files.createDirectories(staleDir)
    Files.write(staleDir.resolve("part-00000-dead-attempt.csv"),
      "name\nSTALE ROW FROM DEAD ATTEMPT".getBytes("UTF-8"))
    Files.write(Paths.get(out, "youth_roster.csv"),
      "name,primary_email\nTRUNC".getBytes("UTF-8"))

    Sinks.writeCsvRenamed(ReferencePipeline.applyCsvFormat(buildPeople(), fmt), out)

    assert(Files.readAllLines(Paths.get(out, "youth_roster.csv")).asScala.toSeq === golden)
    assert(!Files.exists(Paths.get(out, "_staging")),
      "retry must clear the staging tree")
    val files = Files.list(Paths.get(out)).iterator().asScala
      .map(_.getFileName.toString).filterNot(_.startsWith(".")).toSet
    assert(files === Set("youth_roster.csv", "choir_youth.csv"))
  }

  test("renamed CSV sink is a FULL replace: dropped lists' files are swept") {
    val out = tempDir("renamed_csv_sweep")
    val both = Seq(
      ("Youth Group", "youth_roster"),
      ("Choir Youth Mid", "choir_youth")).toDF("list_name", "csv_name")
    Sinks.writeCsvRenamed(ReferencePipeline.applyCsvFormat(buildPeople(), both), out)
    assert(Files.exists(Paths.get(out, "choir_youth.csv")))
    // Re-run with choir dropped from the config: its file must not keep
    // serving last run's roster as current.
    val onlyYouth = Seq(("Youth Group", "youth_roster")).toDF("list_name", "csv_name")
    Sinks.writeCsvRenamed(ReferencePipeline.applyCsvFormat(buildPeople(), onlyYouth), out)
    assert(Files.exists(Paths.get(out, "youth_roster.csv")))
    assert(!Files.exists(Paths.get(out, "choir_youth.csv")),
      "stale CSV for a de-configured list must be swept")
  }

  test("csv_fmt semi-join + rename keeps only configured lists") {
    val fmt = Seq(("Youth Group", "youth")).toDF("list_name", "csv_name")
    val got = ReferencePipeline.applyCsvFormat(buildPeople(), fmt)
    val rows = got.select("person_id", "csv_name").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(rows.keySet === Set("p1", "p2", "p6"))
    assert(rows.values.toSet === Set("youth"))
  }

  test("buildPeople runs its plan once: no stage after it returns scans an input") {
    parquetFixtures // written and read back before the log starts
    val log = new StageLog
    spark.sparkContext.addSparkListener(log)
    try {
      log.drain()
      val people = buildPeopleFromParquet()
      val build = log.drain()
      assert(build.exists(scans), "the build itself must scan the inputs (detector check)")

      val verdicts = Validation.validateCounts(
        expectedCounts, ReferencePipeline.actualCounts(people), "list_name").collect()
      assert(verdicts.length === 3)
      Sinks.writeCsvRenamed(ReferencePipeline.applyCsvFormat(people, csvFmt),
        tempDir("once_csv"))
      val parquetOut = tempDir("once_parquet")
      Sinks.writeParquet(people.toDF(), parquetOut)
      val consumers = log.drain()
      assert(consumers.nonEmpty)
      assert(consumers.filter(scans).map(_.name).isEmpty,
        "validate and both sinks must read the built result, not the inputs")
      assert(spark.read.parquet(parquetOut).count() === 6)
    } finally spark.sparkContext.removeSparkListener(log)
  }

  test("every consumer's plan reads people through the one executed-RDD leaf") {
    val people = buildPeopleFromParquet()
    val consumers = Seq(
      "validate" -> Validation.validateCounts(
        expectedCounts, ReferencePipeline.actualCounts(people), "list_name"),
      "sink_csv" -> ReferencePipeline.applyCsvFormat(people, csvFmt),
      "sink_parquet" -> people.toDF())
    consumers.foreach { case (name, df) =>
      val leaves = df.queryExecution.optimizedPlan.collectLeaves()
      assert(leaves.count(_.isInstanceOf[LogicalRDD]) === 1, s"$name: $leaves")
      assert(!leaves.exists(_.isInstanceOf[LogicalRelation]),
        s"$name re-plans a file scan: $leaves")
    }
  }

  test("CSV rows are in a total order: duplicate names write the same bytes") {
    // Three people named alike on one list, differing only in later
    // columns. Sorted by (list, name) alone their order was whatever
    // the shuffle delivered; sorted by every written column it is fixed.
    val rows = Seq(
      ("Youth Group", "Ann Lee", "b@x", "", "", ""),
      ("Youth Group", "Ann Lee", "a@x", "555", "", ""),
      ("Youth Group", "Ann Lee", "a@x", "", "Grade 2", "7 years"),
      ("Youth Group", "Bo Ng", "", "", "", ""),
      ("Choir Youth Mid", "Ann Lee", "c@x", "", "", ""))
    val cols = Seq("person_list", "name", "primary_email", "primary_phone_number", "grade", "age")
    val ascending = rows.toDF(cols: _*).repartition(3)
    val descending = rows.reverse.toDF(cols: _*).coalesce(1)
    def written(df: DataFrame): Map[String, Seq[String]] = {
      val out = tempDir("csv_order")
      Sinks.writeCsvPerList(df, out)
      Files.list(Paths.get(out)).iterator().asScala.filter(Files.isDirectory(_)).map { d =>
        val csv = Files.list(d).iterator().asScala
          .filter(_.getFileName.toString.endsWith(".csv")).toSeq
        assert(csv.size === 1)
        d.getFileName.toString -> Files.readAllLines(csv.head).asScala.toSeq
      }.toMap
    }
    val a = written(ascending)
    assert(a === written(descending))
    assert(a("person_list=Youth Group") === Seq(
      "name,primary_email,primary_phone_number,grade,age",
      "Ann Lee,a@x,,Grade 2,7 years",
      "Ann Lee,a@x,555,,",
      "Ann Lee,b@x,,,",
      "Bo Ng,,,,"))
  }
}
