package graft

import org.apache.spark.sql.DataFrame

import graft.operators.{Relational, Similarity}

/** Plan-shape regression locks: the performance-relevant physical plan
  * properties this engine's 100 TB posture depends on. If a refactor
  * silently turns a broadcast into a shuffle or detaches a pushed
  * filter from the scan, these fail before any benchmark notices.
  */
class PlanSpec extends SparkTestBase {

  private def plan(df: DataFrame): String = df.queryExecution.executedPlan.toString

  test("filters and projections reach the parquet scan (S4, P1)") {
    val s4 = plan(Relational.s4FilteredScan(spark, Sf))
    assert(s4.contains("PushedFilters: [IsNotNull(l_shipdate), LessThan(l_shipdate"))
    assert(s4.contains("ReadSchema: struct<l_orderkey:bigint,l_linenumber:int,l_quantity:double,l_shipdate"))
    val p1 = plan(Relational.p1ContainsFilter(spark, Sf))
    assert(p1.contains("StringContains(p_name,widget)"))
  }

  test("dimension joins broadcast; the fact join does not (J1, flagship)") {
    val j1 = plan(Relational.j1DimJoin(spark, Sf))
    assert("BroadcastHashJoin".r.findAllIn(j1).length === 2)
    assert(!j1.contains("SortMergeJoin"))
    val fl = plan(Relational.flagship(spark, Sf))
    assert("BroadcastHashJoin".r.findAllIn(fl).length >= 3)
  }

  test("top-k plans use bounded operators (W1 group limit, global TakeOrdered)") {
    assert(plan(Relational.w1TopkPerGroup(spark, Sf)).contains("WindowGroupLimit"))
    assert(plan(Relational.topkGlobal(spark, Sf)).contains("TakeOrderedAndProject"))
  }

  test("dedup plans avoid interpreted per-row set ops and lambda generators") {
    import graft.operators.LlmOps
    // d4's intersection sizes are relational (shingle-row join +
    // group-count) — a regression back to per-pair array_intersect
    // (~175 µs/pair interpreted) would re-introduce the round-3 bottleneck.
    val d4 = plan(LlmOps.d4NgramJaccard(spark, Sf))
    assert(!d4.contains("array_intersect"), "d4 must not compute per-pair array_intersect")
    // d2's band generator must be a plain-column explode, not a
    // lambda-bound transform(...) (interpreted, stalls sibling tasks).
    val d2 = plan(LlmOps.d2DedupMinhash(spark, Sf))
    assert(!d2.contains("lambdafunction"), "d2 must not evaluate lambda HOFs per row")
    val d6 = plan(LlmOps.d6SimhashNeardup(spark, Sf))
    assert(!d6.contains("lambdafunction"), "d6 must not evaluate lambda HOFs per row")
  }

  test("subquery + decontamination plans broadcast the small side (q_scalar, t11)") {
    import graft.operators.LlmOps
    // Scalar subquery = broadcast of the one-row aggregate, the probe
    // side a single pruned scan.
    val qs = plan(Relational.qScalarSubquery(spark, Sf))
    assert(qs.contains("BroadcastNestedLoopJoin"))
    assert(!qs.contains("SortMergeJoin"))
    // The benchmark shingle set broadcasts; the corpus-side benchmark
    // filter reaches the scan (DataFilters), so the corpus is never
    // shuffled against the benchmark.
    val t11 = plan(LlmOps.t11Decontaminate(spark, Sf))
    assert(t11.contains("BroadcastHashJoin"))
    assert(t11.contains("(doc_id"), "benchmark id filter should reach the scan")
    assert(!t11.contains("SortMergeJoin"))
  }

  test("new round-5 operators keep their scale shapes (gap fill, PQ, diff)") {
    import graft.operators.{Delta, Similarity => Sim}
    // Gap fill: the customer filter must reach the parquet scan.
    val gf = plan(Relational.qGapFill(spark, Sf))
    assert(gf.contains("LessThanOrEqual(o_custkey,200)"),
      "gap-fill key filter should push to the scan")
    // PQ: both the codebook join and the ADC query-table join broadcast —
    // the corpus-sized side must never shuffle against either.
    val pq = plan(Sim.simPqTopk(spark, Sf))
    assert("BroadcastHashJoin".r.findAllIn(pq).length >= 2,
      s"PQ codebook + ADC joins should both broadcast:\n$pq")
    // Snapshot diff: the join payload is the 32-hex md5, not raw columns —
    // a regression to comparing raw columns would widen the shuffle.
    val sd = plan(Delta.qSnapshotDiff(spark, Sf))
    assert(sd.contains("md5"), "diff should shuffle hashes, not raw columns")
  }

  test("fuzzy match joins on the block key, never a nested loop") {
    val fm = plan(Relational.qFuzzyMatch(spark, Sf))
    assert(!fm.contains("BroadcastNestedLoopJoin") && !fm.contains("CartesianProduct"),
      s"blocked fuzzy match must plan as an equi-join on the block key:\n$fm")
    // The sorted-neighborhood variant's ±W band must stay the
    // explode-to-successor equi-join — stated as an rn inequality it
    // planned as a nested loop over n² pairs (measured 82 s at sf0.1).
    val fn = plan(Relational.qFuzzyMatchName(spark, Sf))
    assert(!fn.contains("BroadcastNestedLoopJoin") && !fn.contains("CartesianProduct"),
      s"sorted-neighborhood fuzzy match must equi-join on rn:\n$fn")
  }

  test("SQL-text TPC-H plans broadcast the dims and never nested-loop") {
    // From SQL alone (no DataFrame hints), Catalyst must still pick
    // broadcasts for region/nation/supplier and hash joins for the
    // fact chain — the join-order stress of the six-table Q5.
    val q5 = plan(Relational.qTpchQ5(spark, Sf))
    assert("BroadcastHashJoin".r.findAllIn(q5).length >= 2, s"expected dim broadcasts:\n$q5")
    assert(!q5.contains("CartesianProduct") && !q5.contains("BroadcastNestedLoopJoin"))
    val q3 = plan(Relational.qTpchQ3(spark, Sf))
    assert(q3.contains("TakeOrderedAndProject"), "Q3's LIMIT must plan bounded")
    // Q10: bounded top-20 (never a global sort) and broadcast dims.
    val q10 = plan(Relational.qTpchQ10(spark, Sf))
    assert(q10.contains("TakeOrderedAndProject"), "Q10's LIMIT must plan bounded")
    assert(q10.contains("BroadcastHashJoin") && !q10.contains("CartesianProduct"))
    // Q18: the HAVING aggregate must run BEFORE the joins (the filtered
    // per-order aggregate is the build side, not the raw fact table) —
    // asserted structurally: the lineitem branch must place its
    // aggregate below the first join, i.e. the filter on the summed
    // quantity appears, and no join input is a raw lineitem scan wider
    // than (l_orderkey, l_quantity).
    val q18 = plan(Relational.qTpchQ18(spark, Sf))
    assert(q18.contains("TakeOrderedAndProject") && !q18.contains("CartesianProduct"))
    // The tree prints top-down (children after parents), so the
    // per-order aggregate sitting BELOW the join is exactly "first
    // Join line precedes first HashAggregate line"; the HAVING cut
    // surviving as a filter on the summed quantity completes the lock.
    val aggIdx = q18.indexOf("HashAggregate")
    val joinIdx = q18.indexOf("Join")
    assert(joinIdx >= 0 && aggIdx > joinIdx,
      s"Q18's per-order aggregate must be a join INPUT, not run after the joins:\n$q18")
    assert(q18.contains("> 210"), s"Q18's HAVING cut must survive in the plan:\n$q18")
  }

  test("interval-overlap join equi-joins on the bucket, never a nested loop") {
    val ij = plan(Relational.qIntervalJoin(spark, Sf))
    assert(!ij.contains("BroadcastNestedLoopJoin") && !ij.contains("CartesianProduct"),
      s"interval join must plan as a bucket equi-join:\n$ij")
  }

  test("runtime bloom filter prunes the probe side of a selective join") {
    // At real scale Spark injects a bloom filter built from the small
    // (filtered) side into the big side's scan — semi-join reduction
    // without a manual step. Locally the size thresholds gate it off;
    // zeroing them shows the engine's joins are ELIGIBLE (equi-join,
    // selective creation side) — the property that matters at 100 TB.
    // applicationSideScanSizeThreshold is a MINIMUM on the probe scan
    // (zero it so the tiny fixture qualifies); creationSideThreshold is
    // a MAXIMUM on the build side (default 10 MB already passes). The
    // rule also skips joins it expects to broadcast — the fixture sides
    // are tiny, so disable auto-broadcast to exercise the shuffle-join
    // path the filter exists for.
    val confs = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val prev = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val df = Tables.lineitem(spark, Sf)
        .join(Tables.orders(spark, Sf).filter(org.apache.spark.sql.functions.col("o_orderpriority") === "1-URGENT"),
          org.apache.spark.sql.functions.col("l_orderkey") === org.apache.spark.sql.functions.col("o_orderkey"))
      val p = df.queryExecution.optimizedPlan.toString
      assert(p.contains("bloom_filter") || p.contains("BloomFilter") || p.contains("might_contain"),
        s"expected a runtime bloom filter on the probe side:\n$p")
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("j10's explicit bloom pre-filter sits on the fact side before the join") {
    val j10 = plan(Relational.j10BloomPrejoin(spark, Sf))
    // The sketch filter must survive into the physical plan as a filter
    // over the orders scan (shuffle-volume cut BEFORE the join), and the
    // exact join must still be there to kill false positives.
    assert(j10.contains("might_contain"), s"bloom pre-filter missing:\n$j10")
    assert(j10.contains("Join") || j10.contains("BroadcastHashJoin"),
      s"exact join after the pre-filter missing:\n$j10")
  }

  test("native rolling_min_hash stays inside whole-stage codegen") {
    import graft.operators.LlmOps
    val df = LlmOps.t13RollingFp(spark, Sf)
    df.collect()
    val p = plan(df)
    val projLine = p.linesIterator.find(l => l.contains("rolling_min_hash") && l.contains("Project"))
    assert(projLine.isDefined, s"no rolling_min_hash projection found in plan:\n$p")
    assert(projLine.get.contains("*("), s"rolling_min_hash projection not codegen'd: ${projLine.get}")
  }

  test("native cosine_milli stays inside whole-stage codegen") {
    val df = Similarity.simTopk(spark, Sf)
    // collect() (not count(), which plans a different query) finalizes
    // THIS df's adaptive plan so codegen stage markers appear.
    df.collect()
    val p = plan(df)
    // In the plan string a codegen'd operator carries a "*(n)" stage
    // prefix; the projection computing cos_milli must have one (the HOF
    // formulation it replaced could not).
    val projLine = p.linesIterator.find(l => l.contains("cosine_milli") && l.contains("Project"))
    assert(projLine.isDefined, s"no cosine_milli projection found in plan:\n$p")
    assert(projLine.get.contains("*("), s"cosine_milli projection not codegen'd: ${projLine.get}")
  }

  test("round-7 operators keep their scale shapes (Q14, k-means, t20, PageRank)") {
    // Q14: the part dimension must broadcast; the month filter must
    // reach the lineitem scan (probe side cut before the join).
    val q14 = plan(Relational.qTpchQ14(spark, Sf))
    assert(q14.contains("BroadcastHashJoin"), s"part dim not broadcast:\n$q14")
    assert(q14.contains("PushedFilters: [IsNotNull(l_shipdate)"),
      s"shipdate pushdown missing:\n$q14")
    // k-means: every per-iteration centroid join must be a broadcast
    // (k·d rows), and nothing may plan as a cartesian/nested loop.
    val km = plan(Similarity.qKmeansCluster(spark, Sf))
    assert("BroadcastHashJoin".r.findAllIn(km).length >= 3,
      s"centroid joins must broadcast in all ${Similarity.KmeansIters} iterations:\n$km")
    assert(!km.contains("CartesianProduct") && !km.contains("BroadcastNestedLoopJoin"))
    // t20: the exact-recount pass must semi-filter via a BROADCAST of
    // the candidate keys BEFORE the counting aggregate.
    val t20 = plan(graft.operators.LlmOps.t20HeavyHitters(spark, Sf))
    assert(t20.contains("BroadcastHashJoin"), s"candidate filter not broadcast:\n$t20")
    // SemDeDup: pairs form ONLY through the cluster equi-join — the
    // corpus cross join must never appear, and the cosine verify must
    // be the native codegen'd expression.
    val sd = plan(Similarity.qSemDedup(spark, Sf))
    assert(!sd.contains("CartesianProduct"), s"semdedup planned a cartesian:\n$sd")
    assert(sd.contains("cosine_milli"), s"native cosine verify missing:\n$sd")
    // PageRank: message passing is equi-joins + aggregates; the only
    // permitted nested-loop is the ONE-ROW broadcast of the node count
    // (crossJoin(broadcast(nDf)) — metadata-sized by construction), so
    // a cartesian over DATA may never appear.
    val pr = plan(graft.operators.Graph.qPagerank(spark, Sf))
    assert(!pr.contains("CartesianProduct"), s"pagerank planned a cartesian:\n$pr")
    assert(pr.contains("BroadcastHashJoin") || pr.contains("SortMergeJoin"),
      s"rank⋈edges must be an equi-join:\n$pr")
  }

  test("round-8 operators keep their scale shapes (t24, t25, t26)") {
    import graft.operators.LlmOps
    // t24: the pair explosion must run over the DISTINCT-WORD aggregate,
    // never join anything — two hash aggregates and a generate, no join
    // operator of any kind in the plan.
    val t24 = plan(LlmOps.t24BpePairs(spark, Sf))
    assert(!t24.contains("Join"), s"t24 must be aggregate-only:\n$t24")
    assert(t24.contains("HashAggregate"), s"t24 should partial-aggregate:\n$t24")
    // t25: inference joins the trained vocabulary back onto the token
    // stream as a BROADCAST (model-as-data); a shuffle join here would
    // re-shuffle the corpus-sized token stream against a small model.
    val t25 = plan(LlmOps.t25Classifier(spark, Sf))
    assert(t25.contains("BroadcastHashJoin"), s"t25 vocab join must broadcast:\n$t25")
    assert(!t25.contains("SortMergeJoin"), s"t25 must not shuffle-join the vocab:\n$t25")
    // t26: the model rides equi-joins, never a nested loop; the bigram
    // stream is persisted so the corpus explodes once.
    val t26 = plan(LlmOps.t26BigramLm(spark, Sf))
    assert(!t26.contains("CartesianProduct") && !t26.contains("BroadcastNestedLoop"),
      s"t26 must stay on equi-joins:\n$t26")
    assert(t26.contains("InMemoryTableScan"),
      s"t26's bigram stream should be persisted and reused:\n$t26")
  }

  test("round-9 operators keep their scale shapes (t27, d2 cap, d11)") {
    import graft.operators.LlmOps
    // t27: the whole point of the pruned model is that scoring becomes a
    // map-side broadcast probe — the corpus-sized bigram stream must
    // never be shuffled against the model.
    val t27 = plan(LlmOps.t27BigramTopk(spark, Sf))
    assert(t27.contains("BroadcastHashJoin"),
      s"t27's pruned model must broadcast:\n$t27")
    // d2 with the bucket cap: the guard must stay an equi-join filter —
    // no nested loop, no cartesian anywhere in the candidate pipeline.
    val d2 = plan(LlmOps.d2DedupMinhash(spark, Sf))
    assert(!d2.contains("CartesianProduct") && !d2.contains("BroadcastNestedLoop"),
      s"d2's capped candidate join must stay equi:\n$d2")
    // d11: wordcount shape — aggregates only, no join operator.
    val d11 = plan(LlmOps.d11BandStats(spark, Sf))
    assert(!d11.contains("Join"), s"d11 must be aggregate-only:\n$d11")
    assert(d11.contains("HashAggregate"), s"d11 should partial-aggregate:\n$d11")
  }
}
