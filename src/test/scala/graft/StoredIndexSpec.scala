package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{LlmOps, Scale, Similarity}

/** Stored indexes (the build-once, probe-many pattern): the shared
  * build-if-absent gate ([[Scale.storedIndex]]), the IVF inverted-list
  * index (sim_ivf_idx / sim_ivf_recall_idx / sim_ivf_ingest) and the
  * triangle-ingest snapshot.
  *
  * The index contract is the d7b one — "pure optimization": every stored
  * form must return EXACTLY its recompute twin's rows, the lists table
  * must be laid out partitioned by pivot (the probe's pruning key), and
  * the ingest must touch only batch-proportional work.
  */
class StoredIndexSpec extends SparkTestBase {

  private def assertSameRows(a: DataFrame, b: DataFrame): Unit = {
    assert(a.columns.toSeq === b.columns.toSeq)
    assert(a.exceptAll(b).count() === 0)
    assert(b.exceptAll(a).count() === 0)
  }

  test("the gate rebuilds a half-built corpus index; d5b_index_ingest rows are unchanged") {
    def rows(): Seq[String] =
      LlmOps.d5bIndexIngest(spark, Sf).collect().map(_.toString).toSeq.sorted
    val before = rows()
    assert(before.nonEmpty, "the fixture plants cross-source near-dups")
    val prefix = LlmOps.ensureCorpusIndex(spark, Sf)
    spark.sql(s"DROP TABLE ${prefix}_shingles")
    assert(spark.catalog.tableExists(s"${prefix}_bands"))
    assert(!spark.catalog.tableExists(s"${prefix}_shingles"))
    // Bands alone must not satisfy the gate: the missing table rebuilds.
    assert(LlmOps.ensureCorpusIndex(spark, Sf) === prefix)
    assert(spark.catalog.tableExists(s"${prefix}_bands"))
    assert(spark.catalog.tableExists(s"${prefix}_shingles"))
    assert(rows() === before)
  }

  test("a second ensureLabelIndex call runs zero CC loops") {
    val prefix = LlmOps.ensureLabelIndex(spark, Sf)
    spark.sql(s"DROP TABLE ${prefix}_labels")
    val before = LlmOps.ccRuns
    assert(LlmOps.ensureLabelIndex(spark, Sf) === prefix)
    assert(LlmOps.ccRuns - before === 1, "the call after the drop must build the labels")
    assert(LlmOps.ensureLabelIndex(spark, Sf) === prefix)
    assert(LlmOps.ccRuns - before === 1, "the second call must read the stored labels")
    assert(spark.table(s"${prefix}_labels").count() > 0)
  }

  test("whole-corpus, batch-excluded and re-versioned indexes get distinct prefixes") {
    val batch = Some(LlmOps.BatchSource)
    val prefixes = Seq(
      LlmOps.ensureSpanIndex(spark, Sf, None), LlmOps.ensureSpanIndex(spark, Sf, batch),
      LlmOps.ensureLabelIndex(spark, Sf), LlmOps.ensureLabelIndex(spark, Sf, batch))
    assert(prefixes.distinct.size === 4, s"prefixes collide: $prefixes")
    // The format version is part of the key: a bumped version names a
    // new index, and its missing table runs the build.
    var built = Seq.empty[String]
    def gate(version: String): String =
      Scale.storedIndex(spark, "fmt_probe", s"$version|$Sf", Nil, Seq("t"))(p => built :+= p)
    val (v1, v2) = (gate("v1"), gate("v2"))
    assert(v1 !== v2)
    assert(Seq(v1, v2).forall(p => p.startsWith("fmt_probe_") && p.length === 18))
    assert(built === Seq(v1, v2))
  }

  test("a corpus rewritten under the same dir rebuilds its index") {
    val dir = tempDir("index_rewrite")
    val docs = spark.read.parquet(s"$Sf/documents.parquet")
    docs.write.parquet(s"$dir/documents.parquet")
    val before = LlmOps.ccRuns
    val first = LlmOps.ensureLabelIndex(spark, dir)
    assert(LlmOps.ensureLabelIndex(spark, dir) === first)
    assert(LlmOps.ccRuns - before === 1)
    // The same dir, new contents: one document fewer.
    docs.filter(col("doc_id") =!= docs.agg(min("doc_id")).head.getLong(0))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val second = LlmOps.ensureLabelIndex(spark, dir)
    assert(second !== first, "a rewritten corpus must name a new index")
    assert(LlmOps.ccRuns - before === 2, "the rewritten corpus must build its labels")
    assert(spark.table(s"${second}_labels").count() ===
      spark.table(s"${first}_labels").count() - 1)
  }

  test("sim_ivf_idx: the stored inverted lists equal the full recompute") {
    val viaIndex = Similarity.simIvfTopkIdx(spark, Sf)
    val recompute = Similarity.simIvfTopk(spark, Sf)
    assertSameRows(viaIndex, recompute)
    assert(viaIndex.count() > 0)
  }

  test("sim_ivf_recall_idx equals the recomputed recall curve") {
    assertSameRows(
      Similarity.simIvfRecallIdx(spark, Sf),
      Similarity.simIvfRecall(spark, Sf))
  }

  test("the lists table is partitioned by pivot — the probe's pruning key") {
    val prefix = Similarity.ensureIvfIndex(spark, Sf)
    val meta = spark.sessionState.catalog.getTableMetadata(
      org.apache.spark.sql.catalyst.TableIdentifier(s"${prefix}_lists"))
    assert(meta.partitionColumnNames === Seq("pivot"),
      s"lists must be partitioned by pivot; got ${meta.partitionColumnNames}")
    // A probe of IvfProbes lists must not need every partition: the
    // stored layout exposes one directory per pivot, and the fixture
    // corpus populates several of them (a single-partition table would
    // make the pruning claim vacuous).
    val nLists = spark.table(s"${prefix}_lists")
      .select("pivot").distinct().count()
    assert(nLists > Similarity.IvfProbes,
      s"fixture must populate more lists than a probe touches; got $nLists")
  }

  test("q_triangles_adj_ingest equals the full rebuild on corpus ∪ batch") {
    import graft.operators.Graph
    // The maintained totals (stored stats + term A + term B) must equal
    // the from-scratch count over ALL lineitem — the same contract the
    // DuckDB oracle enforces at sf0.01; here it is pinned in-process so
    // a future refactor cannot drift between verify runs.
    val maintained = Graph.qTrianglesAdjIngest(spark, Sf)
    val rebuilt = graft.operators.Graph.qTriangles(spark, Sf)
    assertSameRows(maintained, rebuilt)
    // The fixture must actually exercise the delta terms: the batch has
    // to add edges (otherwise the test pins only the stored stats row).
    import spark.implicits._
    val storedEdges = {
      val prefix = Graph.ensureTriIngestIndex(spark, Sf)
      spark.table(s"${prefix}_stats").select("n_edges").as[Long].head()
    }
    val totalEdges = rebuilt.select("n_edges").as[Long].head()
    assert(totalEdges > storedEdges,
      s"batch must add edges: stored $storedEdges vs total $totalEdges")
  }

  test("the ingest's stored tables are bucketed on their probe keys") {
    import graft.operators.Graph
    val prefix = Graph.ensureTriIngestIndex(spark, Sf)
    // Both attach joins key on `node`; the adjacency scan must satisfy
    // a node-keyed aggregate with no exchange in front (the Round12
    // label-index assertion, applied to the graph snapshot).
    val agged = spark.table(s"${prefix}_adj")
      .groupBy("node").agg(count(lit(1)).as("n"))
    agged.count()
    val plan = agged.queryExecution.executedPlan.toString
    assert(plan.contains("Bucketed: true"),
      s"adjacency should scan bucketed under a node aggregate; plan:\n$plan")
    assert(!plan.contains("Exchange"),
      s"the node aggregate must reuse the bucket distribution; plan:\n$plan")
  }

  test("sim_ivf_ingest assigns exactly the batch, matching the full assignment") {
    import spark.implicits._
    val ingest = Similarity.simIvfIngest(spark, Sf)
      .as[(Long, Long)].collect().toMap
    // Batch membership: vec_id ≡ mod−1 (and nothing else).
    assert(ingest.nonEmpty)
    assert(ingest.keys.forall(_ % Similarity.IvfIngestMod == Similarity.IvfIngestMod - 1))
    // Each batch vector's pivot equals what the FULL corpus assignment
    // (the stored index) holds for it — ingest is the same math over
    // fewer rows, never a different answer.
    val prefix = Similarity.ensureIvfIndex(spark, Sf)
    val stored = spark.table(s"${prefix}_lists")
      .select(col("vec_id"), col("pivot"))
      .as[(Long, Long)].collect().toMap
    ingest.foreach { case (vec, piv) =>
      assert(stored(vec) === piv, s"vec $vec: ingest pivot $piv != stored ${stored(vec)}")
    }
  }
}
