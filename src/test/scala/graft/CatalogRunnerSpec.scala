package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions.{lit, raise_error}

/** [[SparkEntry.run]] is the one loop over catalog names that Verify,
  * Bench and tools.Profile share. A failure is that query's error only,
  * and the runner keeps no handle to a query's result, so what the query
  * pinned is freed once the run is over.
  */
class CatalogRunnerSpec extends SparkTestBase {

  private def persistentRdds(): Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  test("Verify.run records each failure with its class name and writes the other queries") {
    val out = tempDir("verify_run")
    val actionFails: SparkEntry.Query =
      (s, _) => s.range(3).select(raise_error(lit("boom")).as("x"))
    val catalog: Map[String, SparkEntry.Query] = Map(
      "j1_dim_join" -> SparkEntry.queries("j1_dim_join"),
      "x_query_throws" -> ((_, _) => throw new IllegalStateException("broken query")),
      "x_action_fails" -> actionFails,
      "t3_quality_score" -> SparkEntry.queries("t3_quality_score"))
    val names =
      Seq("j1_dim_join", "x_query_throws", "x_action_fails", "x_unknown", "t3_quality_score")
    val errors = Verify.run(spark, Sf, out, names, catalog)

    assert(errors.keys.toSeq === Seq("x_query_throws", "x_action_fails", "x_unknown"))
    assert(errors("x_query_throws") === "IllegalStateException: broken query")
    val thrown = intercept[Exception](
      actionFails(spark, Sf).write.mode("overwrite").parquet(tempDir("verify_raise")))
    assert(errors("x_action_fails").startsWith(thrown.getClass.getSimpleName + ": "),
      errors("x_action_fails"))
    assert(errors("x_action_fails").contains("boom"))
    assert(errors("x_unknown").startsWith("NoSuchElementException: "))
    val json = Files.readString(Paths.get(out, "errors.json"))
    errors.foreach { case (n, msg) =>
      assert(json.contains(s"${Verify.q(n)}: ${Verify.q(msg)}"), json)
    }
    for (n <- Seq("j1_dim_join", "t3_quality_score")) {
      assert(spark.read.parquet(s"$out/$n").count() === SparkEntry.queries(n)(spark, Sf).count(), n)
    }
    assert(!Files.exists(Paths.get(out, "x_action_fails", "_SUCCESS")))
  }

  test("the runner keeps no handle: d2's pins are freed after its run") {
    val before = persistentRdds()
    var pinned = false
    var rows = 0L
    SparkEntry.run(spark, Sf, Seq("d2_dedup_minhash")) { (_, build) =>
      val n = build().count()
      pinned = (persistentRdds() -- before).nonEmpty
      n
    } { (_, r) => rows = r.fold(fail(_), identity) }
    assert(rows > 0)
    assert(pinned, "d2 pinned nothing, so this test shows nothing")
    releasedAfterGc((persistentRdds() -- before).isEmpty)
    val leaked = persistentRdds() -- before
    assert(leaked.isEmpty, s"persistent RDDs left after the run: $leaked")
  }
}
