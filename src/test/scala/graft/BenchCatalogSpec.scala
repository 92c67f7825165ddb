package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pure-name invariants between Bench's protocol sets and the query
  * catalog — no SparkSession needed. A typo'd name in FreshJvmQueries
  * would otherwise silently fall back to in-chunk grading (the exact
  * pollution the set exists to prevent), and a stale baselineTwins or
  * warm-up name would silently stop annotating/warming. Also the pure
  * parts of Bench's protocol: the plan, the audit flags and the parser
  * of a child JVM's stdout.
  */
class BenchCatalogSpec extends AnyFunSuite {

  test("FreshJvmQueries all name real catalog queries") {
    val unknown = Bench.FreshJvmQueries -- SparkEntry.queries.keySet
    assert(unknown.isEmpty, s"not in the catalog: $unknown")
  }

  test("baselineTwins keys and recommended forms all name real catalog queries") {
    val keys = SparkEntry.baselineTwins.keySet -- SparkEntry.queries.keySet
    val vals = SparkEntry.baselineTwins.values.toSet -- SparkEntry.queries.keySet
    assert(keys.isEmpty, s"twin keys not in the catalog: $keys")
    assert(vals.isEmpty, s"recommended forms not in the catalog: $vals")
    // A twin must never recommend itself, and every recommended form
    // should be cheaper machinery, i.e. NOT itself an annotated twin
    // pointing elsewhere (no chains).
    SparkEntry.baselineTwins.foreach { case (k, v) =>
      assert(k != v, s"$k recommends itself")
      assert(!SparkEntry.baselineTwins.contains(v) || SparkEntry.baselineTwins(v) == v,
        s"$k -> $v -> ${SparkEntry.baselineTwins.get(v)} forms a chain")
    }
  }

  test("every warm-up Bench can emit names a real catalog query") {
    val emitted = Bench.warmupsFor(SparkEntry.queries.keys.toSeq).toSet
    val unknown = emitted -- SparkEntry.queries.keySet
    assert(unknown.isEmpty, s"warm-ups not in the catalog: $unknown")
  }

  test("the r15 unverified-flag class grades fresh-JVM from the start") {
    // VERDICT r15 #1: the five worst audit flags the degraded r15 window
    // could not re-verify — removing any of them from the set silently
    // reopens the in-chunk pollution ambiguity.
    val required = Set("q_curation_pipeline", "t11_decontaminate",
      "q_kmeans", "q_semdedup", "sim_pq_topk")
    val missing = required -- Bench.FreshJvmQueries
    assert(missing.isEmpty, s"pollution-class entries missing: $missing")
  }

  test("audit_skipped surfaces in the parsed total line when reruns were skipped") {
    // VERDICT r15 #4: a run with unverified audit flags must not parse
    // identically to a fully audited one.
    assert(Bench.auditSkippedTag(0) === "")
    assert(Bench.auditSkippedTag(47) === ""","audit_skipped":47""")
    // The tag splices into a JSON object — must start with a comma and
    // form a valid key:value pair.
    val line = s"""{"metric":"total","value":1.0${Bench.auditSkippedTag(3)}}"""
    assert(line.contains(""""audit_skipped":3"""))
  }

  // -------------------------------------------------------------------
  // Bench chunk warm-ups: each family's first-touch machinery must be
  // exercised by the child JVM that times it (a missing streaming
  // warm-up puts ~10 s of micro-batch engine startup into the first
  // timed st* query; a missing index build puts the snapshot build into
  // the first timed indexed probe).
  // -------------------------------------------------------------------

  test("bench chunk warm-ups cover the families present in the chunk") {
    // Generic chunk: only the universal warm-up.
    assert(Bench.warmupsFor(Seq("q_tpch_q1", "w2_running_total")) ===
      Seq("j1_dim_join"))
    // Streaming chunk gets the micro-batch engine spin-up.
    assert(Bench.warmupsFor(Seq("st4_stream_join"))
      .contains("st2_sliding_window"))
    // Dedup chunk gets the shingle/join codegen warm-up; the incremental
    // ingest entries additionally get their corpus-index build.
    val dChunk = Bench.warmupsFor(Seq("d2_dedup_minhash", "d5b_index_ingest"))
    assert(dChunk.contains("d4_ngram_jaccard") && dChunk.contains("d5b_index_ingest"))
    // The composed curation query runs the dedup pipeline too.
    assert(Bench.warmupsFor(Seq("q_curation_neardup")).contains("d4_ngram_jaccard"))
    // Indexed triangle probes get the bucketed edge snapshot built.
    assert(Bench.warmupsFor(Seq("q_triangles_adj_idx")).contains("q_triangles_idx"))
    // Unindexed triangle forms don't pay for an index they never read.
    assert(!Bench.warmupsFor(Seq("q_triangles", "q_triangles_adj"))
      .contains("q_triangles_idx"))
  }

  // -------------------------------------------------------------------
  // The fixed protocol's pure parts: the plan, the audit flags and the
  // child-transcript parser.
  // -------------------------------------------------------------------

  test("the plan puts every non-twin query in exactly one bulk chunk or fresh group") {
    val catalog = SparkEntry.queries.keySet
    val p = Bench.plan(catalog, None)
    val placed = p.bulk.flatten ++ p.fresh.flatten
    assert(placed.size === placed.distinct.size, "a query is planned twice")
    assert(placed.toSet === catalog -- SparkEntry.baselineTwins.keySet)
    assert(p.skippedTwins.toSet === SparkEntry.baselineTwins.keySet)
    assert(p.bulk.forall(c => c.nonEmpty && c.size <= Bench.BulkChunkSize))
    assert(p.fresh.forall(g => g.nonEmpty && g.size <= Bench.GroupSize))
    assert(p.fresh.flatten.forall(Bench.FreshJvmQueries.contains))
    assert(!p.bulk.flatten.exists(Bench.FreshJvmQueries.contains))
  }

  test("the plan times a twin only when SPARK_GRAFT_ONLY names it") {
    val twin = SparkEntry.baselineTwins.keys.toSeq.sorted.head
    val p = Bench.plan(SparkEntry.queries.keySet, Some(Set(twin, "j1_dim_join")))
    assert(p.names.toSet === Set(twin, "j1_dim_join"))
    assert(p.skippedTwins.isEmpty)
  }

  test("self-warmed groups deal round robin into the fewest groups") {
    val names = (1 to 17).map(i => f"q$i%02d")
    val gs = Bench.roundRobin(names, 6)
    assert(gs.map(_.size) === Seq(6, 6, 5))
    assert(gs.head.take(2) === Seq("q01", "q04"))
    assert(Bench.roundRobin(Nil, 6).isEmpty)
  }

  test("audit flags need both the ratio and the floor, most suspicious first") {
    val quiet = Map("b" -> 1.0, "c" -> (0.2 / 1.5), "d" -> 0.4, "e" -> 1.0)
    val graded = Map(
      "b" -> 1.9,   // 1.9x
      "c" -> 1.0 / 3, // 2.5x at +0.2 s
      "d" -> 1.0,   // 2.5x, +0.6 s
      "e" -> 3.0,   // 3.0x, +2.0 s
      "f" -> 9.9)   // no quiet median
    assert(Bench.auditFlags(graded, quiet) === Seq("e", "d"))
    assert(Bench.overQuiet(2.5 / 3, 1.0 / 3), "2.5x and +0.5 s is flagged")
    assert(!Bench.overQuiet(1.9, 1.0))
    assert(!Bench.overQuiet(0.2 * 2.5 / 1.5, 0.2 / 1.5))
  }

  test("a transcript without BENCHDONE charges the culprit and reruns the rest") {
    val names = Seq("q_a", "q_b", "q_c", "q_d")
    val lines = Seq(
      "BENCHQ q_a 1.5000 1.5000 3.2000",
      "spark noise on stdout",
      "BENCHE q_b AnalysisException: no such column")
    val t = Bench.parseTranscript(names, lines, 137)
    assert(t.times === Map("q_a" -> 1.5))
    assert(t.reps === Map("q_a" -> Seq(1.5)))
    assert(t.cpu === Map("q_a" -> Seq(3.2)))
    assert(t.errors("q_b") === "AnalysisException: no such column")
    assert(t.errors("q_c").contains("rc=137"))
    assert(t.errors.keySet === Set("q_b", "q_c"))
    assert(t.rerun === Seq("q_d"))
  }

  test("a finished transcript reruns nothing and reads escalated reps") {
    val t = Bench.parseTranscript(Seq("q_a"),
      Seq("BENCHQ q_a 0.8000 2.1000,0.7900,0.8100 4.0,1.6,1.7", "BENCHDONE"), 0)
    assert(t.times === Map("q_a" -> 0.8))
    assert(t.reps("q_a") === Seq(2.1, 0.79, 0.81))
    assert(t.errors.isEmpty && t.rerun.isEmpty)
  }

  test("the shared JSON escaper escapes quotes, backslashes and control chars") {
    assert(Verify.q("a\"b\\c") === "\"a\\\"b\\\\c\"")
    assert(Verify.q("x\ty\nz\u0001") === "\"x\\ty\\nz\\u0001\"")
  }
}
