package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.PlanBridge

import graft.Tables

/** Graph analytics over relational data — the second graph operator
  * family after [[LlmOps.connectedComponents]] (dedup resolution).
  * Reference scope: the reference has no graph operators; these are the
  * engine-extension analytics a curation/recommendation pipeline runs
  * on the same tables (SURVEY.md §2.11 pattern: every op oracle-checked
  * in exact integer arithmetic).
  */
object Graph {

  /** Power iterations for [[qPagerank]] — a demonstration depth like
    * k-means; production runs more rounds of the same per-iteration
    * plan (with localCheckpoint per round past ~10 iterations, the
    * [[LlmOps.connectedComponents]] lineage lesson).
    */
  val PagerankIters = 3

  /** PageRank over the customer–part purchase graph (who-bought-what,
    * both directions, so every node has degree ≥ 1 and there are no
    * dangling nodes by construction) — the recommendation/centrality
    * primitive. Damping 0.85.
    *
    * Integer discipline: mass lives in NANO units (total 10^9) and
    * every division is an integer floor — r0 = 10^9 div N, teleport =
    * 0.15·10^9 div N, and each edge contribution is
    * (850 · (rank div deg)) div 1000, all operands non-negative so
    * Spark's `div` and DuckDB's `//` agree bit-for-bit. Flooring leaks
    * a little mass per round (deterministically, identically on both
    * engines) — ranking order is unaffected, and the gate hash-matches
    * with zero float tolerance. Node ids disambiguate the bipartite
    * sides arithmetically: customers = 2·custkey, parts = 2·partkey+1.
    *
    * Scale shape per iteration: ranks ⋈ edges equi-join on src, then a
    * map-combinable sum per dst — the canonical message-passing plan.
    * Edges are built once (one orderkey join + distinct) and
    * localCheckpoint'd: the 3 unrolled iterations each re-join the
    * SAME materialized edge blocks instead of re-running the build; at
    * 100 TB the edge table is bucketed by src so the per-iteration
    * join re-shuffles only the (metadata-sized relative to edges) rank
    * table. N and the teleport term ride a broadcast one-row aggregate,
    * never a driver-side count.
    */
  def qPagerank(spark: SparkSession, dir: String): DataFrame = {
    val e0 = Tables.orders(spark, dir)
      .join(Tables.lineitem(spark, dir), col("o_orderkey") === col("l_orderkey"))
      .select((col("o_custkey") * 2).as("src"), (col("l_partkey") * 2 + 1).as("dst"))
      .distinct()
    // Hash-partition on src BEFORE the checkpoint. Two measured effects
    // (×10 corpus: 13.7 → 8.3 s median for the same 3 iterations):
    // (a) the checkpoint stores 32 balanced src-hashed blocks instead of
    // the handful of AQE-coalesced partitions the distinct+union would
    // leave (~3 at 12M edges), so every downstream stage reads the edge
    // blocks at full parallelism; (b) the per-iteration src exchange
    // over those blocks canonicalizes identically each round, so AQE
    // computes it once and ReusedExchange serves iterations 2..k (one
    // plan_id in the final plan). The exchange itself is NOT eliminated
    // — LogicalRDD does not carry the partitioning through — which is
    // why the 100 TB form stores edges BUCKETED by src (see below):
    // bucketing is what makes the per-iteration join genuinely
    // exchange-free, leaving only the nodes-sized rank shuffle.
    val edges = e0.union(e0.select(col("dst").as("src"), col("src").as("dst")))
      .repartition(col("src"))
      .localCheckpoint(true)
    // deg is referenced once per iteration plus the node-count subtree;
    // pin so the degree aggregate over the edge blocks runs once.
    val deg = PlanBridge.pin(
      edges.groupBy(col("src").as("node")).agg(count(lit(1)).as("deg")))
    val nDf = deg.agg(count(lit(1)).as("n"))
    var ranks = deg.crossJoin(broadcast(nDf))
      .select(col("node"), col("deg"), col("n"),
        expr("1000000000L div n").as("rank"))
    for (_ <- 1 to PagerankIters) {
      val contribs = ranks
        .join(edges, col("node") === col("src"))
        .select(col("dst"), expr("(850 * (rank div deg)) div 1000").as("c"))
        .groupBy(col("dst").as("node"))
        .agg(sum("c").as("s"))
      ranks = deg.crossJoin(broadcast(nDf)).join(contribs, "node")
        .select(col("node"), col("deg"), col("n"),
          (expr("150000000L div n") + col("s")).as("rank"))
    }
    ranks.select(col("node"), col("rank").as("rank_nano"))
  }

  /** Q_REC_CLOSURE: bounded transitive closure (2-hop BFS from a seed
    * customer over the purchase graph) through Spark 4's RECURSIVE CTE
    * text surface — "what might this customer buy next" candidate
    * generation (their parts, then those parts' other buyers). Spark
    * 4.1 supports only UNION ALL recursion (UNION-distinct raises
    * UNION_NOT_SUPPORTED_IN_RECURSIVE_CTE), so frontiers are PATHS,
    * not node sets: the hop bound caps the blowup and a min-hop
    * aggregate outside the recursion dedups — fine at bounded depth
    * (rows ∝ Σ frontier degrees), while UNBOUNDED closure at scale
    * stays with [[LlmOps.connectedComponents]]'s linear-frontier loop,
    * which dedups per round. Seed = customer 2 (node 4 in the 2k/2k+1
    * id scheme).
    */
  def qRecClosure(spark: SparkSession, dir: String): DataFrame = {
    Tables.registerAll(spark, dir)
    // Materialize the bipartite purchase edges ONCE: a recursive CTE
    // re-evaluates its inlined subqueries every iteration, so inlining
    // the orders⋈lineitem build here would re-run that join per hop
    // (round-6/7 finding). A pinned view makes each hop an
    // InMemoryRelation probe instead; at 100 TB this is "build the edge
    // table as a real table, recurse over it", which is how any
    // production closure job is shaped anyway. The view is dropped once
    // the query is resolved (its analyzed plan already holds the pin),
    // so the pin lives as long as the returned DataFrame, not the view.
    val o = Tables.orders(spark, dir).select(col("o_orderkey"), col("o_custkey"))
    val l = Tables.lineitem(spark, dir).select(col("l_orderkey"), col("l_partkey"))
    val pairs = o.join(l, col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey"), col("l_partkey"))
    val edges = PlanBridge.pin(
      pairs.select((col("o_custkey") * 2).as("src"), (col("l_partkey") * 2 + 1).as("dst"))
        .union(pairs.select((col("l_partkey") * 2 + 1).as("src"), (col("o_custkey") * 2).as("dst"))))
    edges.createOrReplaceTempView("rec_edges")
    val closure = spark.sql(
      """WITH RECURSIVE r(node, hop) AS (
        |  SELECT CAST(4 AS BIGINT) AS node, 0 AS hop
        |  UNION ALL
        |  SELECT e.dst, r.hop + 1 FROM r
        |  JOIN rec_edges e ON e.src = r.node
        |  WHERE r.hop < 2)
        |SELECT node, CAST(min(hop) AS BIGINT) AS hops FROM r GROUP BY node""".stripMargin)
    spark.catalog.dropTempView("rec_edges")
    closure
  }

  /** Shared pair-build + degree + orientation prefix for the three
    * triangle forms and the edge-index build (reviewer finding: this
    * pipeline used to exist as three verbatim copies, so an edge-build
    * fix had to land in three places). Returns (e0, deg, o): distinct
    * undirected edges, per-node degrees, and the (degree, id)-oriented
    * edge stream carrying d_dst. e0 and deg come back pinned (each
    * is read by several consumers in every caller); o's caching is the
    * caller's choice — the wedge join reads it three times (pin),
    * the index build and adjacency fold read it once or twice (don't).
    * The e0/deg pins pay off even for a caller that consumes `o`
    * exactly once (advisor question): `o`'s OWN plan references e0 six
    * times (twice through the symmetrized union, twice through each deg
    * join's union) and deg twice, so without the pins a single
    * `o.count()` re-runs the lineitem self-join ~6×.
    */
  private def orientedEdges(spark: SparkSession, dir: String)
      : (DataFrame, DataFrame, DataFrame) =
    orientedEdgesOf(Tables.lineitem(spark, dir).select(col("l_orderkey"), col("l_partkey")))

  private def orientedEdgesOf(li: DataFrame)
      : (DataFrame, DataFrame, DataFrame) = {
    val e0 = PlanBridge.pin(
      li.as("a").join(li.as("b"), Seq("l_orderkey"))
        .filter(col("a.l_partkey") < col("b.l_partkey"))
        .select(col("a.l_partkey").as("u"), col("b.l_partkey").as("v"))
        .distinct())
    val e = e0.union(e0.select(col("v").as("u"), col("u").as("v")))
    val deg = PlanBridge.pin(
      e.groupBy(col("u").as("node")).agg(count(lit(1)).as("d")))
    val o = e.join(deg.select(col("node").as("u"), col("d").as("d_u")), "u")
      .join(deg.select(col("node").as("v"), col("d").as("d_v")), "v")
      .filter(col("d_u") < col("d_v") ||
        (col("d_u") === col("d_v") && col("u") < col("v")))
      .select(col("u").as("src"), col("v").as("dst"), col("d_v").as("d_dst"))
    (e0, deg, o)
  }

  /** Triangle counting over the part co-purchase graph (parts are
    * adjacent when lines of the same order ship them), by DEGREE-ORIENTED
    * wedge join — the standard scalable algorithm: orient every edge from
    * its (degree, id)-smaller endpoint to the larger, join a vertex's
    * out-edges with themselves to enumerate wedges, and close each wedge
    * with an equi-join on the oriented third edge. Orientation bounds
    * out-degree by O(√m), so the wedge set is O(m^1.5) worst case instead
    * of Σdeg² — the difference between feasible and not on a skewed
    * 100 TB graph (a hub with degree 10⁶ contributes ZERO wedges at its
    * own rank once oriented away from it). Every join is an equi-join on
    * vertex keys (the inequality is a residual on the wedge pair); the
    * pair-building self-join of lineitem is per-order (bounded by
    * lines-per-order², single-digit here), never global. Each triangle
    * {a,b,c} is counted exactly once: at its (degree, id)-minimal vertex.
    */
  def qTriangles(spark: SparkSession, dir: String): DataFrame = {
    // The edge and oriented-edge tables are each read several times
    // downstream; pin them so the lineitem self-join runs ONCE (the
    // SQL-text formulation re-inlined the CTE chain per reference —
    // ~9 recomputations of the pair-build — and measured 35 s at sf0.1
    // where this plan runs in ~8 s; the closing join is hinted
    // shuffle_hash because sort-merge would SORT the 41M-wedge stream,
    // measured 25 s vs 8.5 s).
    val (e0, deg, o0) = orientedEdges(spark, dir)
    val o = PlanBridge.pin(o0)
    val wedgeClosed = o.as("o1")
      .join(o.as("o2"), col("o1.src") === col("o2.src") &&
        (col("o1.d_dst") < col("o2.d_dst") ||
          (col("o1.d_dst") === col("o2.d_dst") && col("o1.dst") < col("o2.dst"))))
      .join(o.as("o3").hint("shuffle_hash"),
        col("o3.src") === col("o1.dst") && col("o3.dst") === col("o2.dst"))
    wedgeClosed.agg(count(lit(1)).as("n_triangles"))
      .crossJoin(broadcast(deg.agg(count(lit(1)).as("n_nodes"))))
      .crossJoin(broadcast(e0.agg(count(lit(1)).as("n_edges"))))
      .select(col("n_nodes"), col("n_edges"), col("n_triangles"))
  }

  /** Materialize the oriented edge table as a BUCKETED index (the d5b
    * pattern: build once per graph snapshot, query many times). Bucketed
    * by src so the wedge self-join runs exchange-free on the stored
    * layout; the pair-build + degree + orientation work never re-runs
    * per query. At 100 TB the edge index is the graph — every triangle /
    * wedge / motif query starts from it.
    *
    * Bucket count = the session's parallelism (r10 finding): a bucketed
    * table's scan parallelism IS its bucket count, and the wedge
    * self-join — the query's dominant O(m^1.5) work — runs on exactly
    * that many tasks. The original 8 choked the sf1 wedge join to 8 of
    * 32 cores and the "index" LOST to the unindexed 32-way shuffle plan
    * (20.6 s probe vs 14.1 s; with cores-matched buckets the probe wins).
    * A cluster session's parallelism is the fleet's, in the hundreds —
    * the same rule, bigger number. Every stored index follows it.
    */
  def buildEdgeIndex(spark: SparkSession, dir: String, prefix: String): Unit = {
    val (e0, deg, o) = orientedEdges(spark, dir)
    Scale.writeBucketed(o, s"${prefix}_edges", "src", spark.sparkContext.defaultParallelism)
    PlanBridge.release(e0)
    PlanBridge.release(deg)
  }

  /** Stored FORMAT version of both triangle indexes ([[ensureEdgeIndex]],
    * [[ensureTriIngestIndex]]), part of their keys: bump when the
    * orientation or a stored column changes, so a stale on-disk snapshot
    * is never silently reused.
    */
  private[graft] val TriFormatVersion = "v1"

  /** The edge index's prefix, built on first use ([[Scale.storedIndex]]):
    * one bucketed-edge snapshot per corpus dir, shared by every indexed
    * triangle form — the index IS the graph; each physical query shape
    * reads the same stored layout.
    */
  private def ensureEdgeIndex(spark: SparkSession, dir: String): String =
    Scale.storedIndex(spark, "tri_idx", s"$TriFormatVersion|$dir",
      Seq(Tables.path(dir, "lineitem")), Seq("edges"))(
      buildEdgeIndex(spark, dir, _))

  /** [[qTriangles]] over a [[buildEdgeIndex]] snapshot: ONLY the wedge
    * join runs per query — the oriented table is read from its bucketed
    * layout (o1⋈o2 on src needs no exchange), so per-query work drops to
    * the wedge stream itself. Same output contract and the SAME oracle
    * as q_triangles: the index changes where the work happens, never the
    * answer.
    */
  def qTrianglesIndexed(spark: SparkSession, dir: String): DataFrame = {
    val o = spark.table(s"${ensureEdgeIndex(spark, dir)}_edges")
    val wedgeClosed = o.as("o1")
      .join(o.as("o2"), col("o1.src") === col("o2.src") &&
        (col("o1.d_dst") < col("o2.d_dst") ||
          (col("o1.d_dst") === col("o2.d_dst") && col("o1.dst") < col("o2.dst"))))
      .join(o.as("o3").hint("shuffle_hash"),
        col("o3.src") === col("o1.dst") && col("o3.dst") === col("o2.dst"))
    val nNodes = o.select(col("src").as("n")).union(o.select(col("dst").as("n")))
      .distinct().agg(count(lit(1)).as("n_nodes"))
    wedgeClosed.agg(count(lit(1)).as("n_triangles"))
      .crossJoin(broadcast(nNodes))
      .crossJoin(broadcast(o.agg(count(lit(1)).as("n_edges"))))
      .select(col("n_nodes"), col("n_edges"), col("n_triangles"))
  }

  /** [[qTrianglesAdj]] over the [[buildEdgeIndex]] bucketed snapshot —
    * the stated 100 TB form, now coded and plan-locked rather than only
    * documented: the oriented edges come from the src-bucketed stored
    * layout, so the adjacency build (groupBy src) and the first attach
    * join (on src) both run EXCHANGE-FREE on the scan's own partitioning
    * — asserted in Round11Spec. The only data exchange left in the whole
    * count is the O(m) edge stream re-keying onto dst for the second
    * attach (the adjacency side arrives pre-partitioned); per-query work
    * is one bucketed scan + one edge-row shuffle + the codegen'd
    * merge-count, with the pair-build/degree/orientation amortized into
    * the snapshot build like d5b. Same oracle as every other triangle
    * form.
    */
  def qTrianglesAdjIdx(spark: SparkSession, dir: String): DataFrame = {
    val o = spark.table(s"${ensureEdgeIndex(spark, dir)}_edges")
    // Out-neighbor arrays straight off the bucketed layout: the groupBy
    // key IS the bucket column, so no exchange precedes the aggregate,
    // and its output keeps that partitioning for the src attach join.
    val adj = PlanBridge.pin(
      o.groupBy(col("src").as("node"))
        .agg(sort_array(collect_list(col("dst"))).as("nbrs")))
    val perEdge = o
      .join(adj.select(col("node").as("src"), col("nbrs").as("nbrs_u")), "src")
      .join(adj.select(col("node").as("dst"), col("nbrs").as("nbrs_v")), "dst")
      .select(expr("sorted_intersect_count(nbrs_u, nbrs_v)").as("t"))
    val nNodes = o.select(col("src").as("n")).union(o.select(col("dst").as("n")))
      .distinct().agg(count(lit(1)).as("n_nodes"))
    perEdge.agg(coalesce(sum(col("t")), lit(0L)).as("n_triangles"))
      .crossJoin(broadcast(nNodes))
      .crossJoin(broadcast(o.agg(count(lit(1)).as("n_edges"))))
      .select(col("n_nodes"), col("n_edges"), col("n_triangles"))
  }

  // ---------------------------------------------------------------------
  // Incremental edge-index maintenance (r12 verdict #4) — the d7c
  // pattern for the graph family: a batch of NEW orders arrives, its
  // co-purchase edges fold into the stored snapshot at batch-
  // proportional cost, and the maintained triangle count equals the
  // full rebuild (same oracle).
  // ---------------------------------------------------------------------

  /** Batch split for the ingest form: lineitem rows with
    * `l_orderkey % TriBatchMod == 0` are the "new orders" batch
    * (~1/16 of orders); everything else is the stored corpus snapshot.
    */
  val TriBatchMod = 16

  /** Build the corpus-side graph snapshot (batch orders EXCLUDED) as
    * bucketed tables under `prefix`:
    *
    *  - `<prefix>_edges(src, dst)` bucketed by src — the oriented edges;
    *  - `<prefix>_adj(node, nbrs)` bucketed by node — sorted out-
    *    adjacency (both ingest attach joins key on `node`, so the stored
    *    side never re-shuffles);
    *  - `<prefix>_deg(node, d)` bucketed by node — the degrees the
    *    snapshot's orientation used. Ingest re-orients BATCH edges by
    *    these same stored degrees (unseen nodes default to 0), so stored
    *    and new edges share ONE strict total order on vertices —
    *    the correctness requirement for counting each triangle exactly
    *    once; degrees drift as batches land, and a periodic snapshot
    *    rebuild re-optimizes the orientation without changing any count
    *    (the count is orientation-invariant).
    *  - `<prefix>_stats` — one row (n_nodes, n_edges, n_triangles), the
    *    running totals ingest extends.
    */
  def buildTriIngestIndex(spark: SparkSession, dir: String, prefix: String): Unit = {
    val buckets = spark.sparkContext.defaultParallelism
    val corpusLi = Tables.lineitem(spark, dir)
      .filter(col("l_orderkey") % TriBatchMod =!= 0)
      .select(col("l_orderkey"), col("l_partkey"))
    val (e0, deg, o) = orientedEdgesOf(corpusLi)
    Scale.writeBucketed(o.select(col("src"), col("dst")),
      s"${prefix}_edges", "src", buckets)
    Scale.writeBucketed(deg, s"${prefix}_deg", "node", buckets)
    val edges = spark.table(s"${prefix}_edges")
    Scale.writeBucketed(
      edges.groupBy(col("src").as("node"))
        .agg(sort_array(collect_list(col("dst"))).as("nbrs")),
      s"${prefix}_adj", "node", buckets)
    // Snapshot totals via the adjacency-intersect count (the
    // qTrianglesAdj tail) over the just-written layout.
    val adj = spark.table(s"${prefix}_adj")
    val perEdge = edges
      .join(adj.select(col("node").as("src"), col("nbrs").as("nbrs_u")), "src")
      .join(adj.select(col("node").as("dst"), col("nbrs").as("nbrs_v")), "dst")
      .select(expr("sorted_intersect_count(nbrs_u, nbrs_v)").as("t"))
    perEdge.agg(coalesce(sum(col("t")), lit(0L)).as("n_triangles"))
      .crossJoin(broadcast(deg.agg(count(lit(1)).as("n_nodes"))))
      .crossJoin(broadcast(e0.agg(count(lit(1)).as("n_edges"))))
      .select(col("n_nodes"), col("n_edges"), col("n_triangles"))
      .write.format("parquet").mode(org.apache.spark.sql.SaveMode.Overwrite)
      .saveAsTable(s"${prefix}_stats")
    PlanBridge.release(e0)
    PlanBridge.release(deg)
  }

  /** The ingest snapshot's prefix, built on first use ([[Scale.storedIndex]]). */
  private[graft] def ensureTriIngestIndex(spark: SparkSession, dir: String): String =
    Scale.storedIndex(spark, "tri_ing", s"$TriFormatVersion|$dir",
      Seq(Tables.path(dir, "lineitem")), Seq("edges", "adj", "deg", "stats"))(
      buildTriIngestIndex(spark, dir, _))

  /** Q_TRIANGLES_ADJ_INGEST: fold the batch orders' co-purchase edges
    * into the stored snapshot and emit the maintained totals — SAME
    * oracle as q_triangles on the full data (corpus ∪ batch pairs IS the
    * full co-purchase edge set), so the maintenance is provably a pure
    * optimization.
    *
    * The triangle delta is exact by the orientation decomposition: with
    * every edge oriented by one total order, T = Σ_edges |N⁺(u)∩N⁺(v)|;
    * splitting edges into stored ∪ new,
    *
    *   T = T_stored                                   (the stats row)
    *     + Σ_new  |N⁺_full(u) ∩ N⁺_full(v)|           (term A)
    *     + Σ_old  |N⁺_full ∩ N⁺_full| − |N⁺_st ∩ N⁺_st|  (term B),
    *
    * and term B is nonzero ONLY for old edges with an endpoint in S =
    * {sources of new edges} — so per-ingest work is the batch pair build
    * + joins of batch-sized frames against the bucketed adj/edges tables
    * (stored side never re-shuffles; the S filter on stored edges is a
    * broadcast semi-join inside the scan). At 100 TB: work ∝ batch ×
    * O(√m) adjacency lengths, never the corpus.
    */
  def qTrianglesAdjIngest(spark: SparkSession, dir: String): DataFrame = {
    val prefix = ensureTriIngestIndex(spark, dir)
    val edges = spark.table(s"${prefix}_edges")
    val adj = spark.table(s"${prefix}_adj")
    val deg = spark.table(s"${prefix}_deg")
    val stats = spark.table(s"${prefix}_stats")

    // Batch pairs: per-order self-join over the batch lineitems only.
    val li = Tables.lineitem(spark, dir)
      .filter(col("l_orderkey") % TriBatchMod === 0)
      .select(col("l_orderkey"), col("l_partkey"))
    val pairs = li.as("a").join(li.as("b"), Seq("l_orderkey"))
      .filter(col("a.l_partkey") < col("b.l_partkey"))
      .select(col("a.l_partkey").as("u"), col("b.l_partkey").as("v"))
      .distinct()
    // Orient by the SNAPSHOT's (degree, id) key — unseen nodes at 0.
    val smallerU = col("du0") < col("dv0") ||
      (col("du0") === col("dv0") && col("u") < col("v"))
    val oriented = pairs
      .join(deg.select(col("node").as("u"), col("d").as("du")), Seq("u"), "left")
      .join(deg.select(col("node").as("v"), col("d").as("dv")), Seq("v"), "left")
      .select(col("u"), col("v"),
        coalesce(col("du"), lit(0L)).as("du0"),
        coalesce(col("dv"), lit(0L)).as("dv0"))
      .select(
        when(smallerU, col("u")).otherwise(col("v")).as("src"),
        when(smallerU, col("v")).otherwise(col("u")).as("dst"))
    // Only genuinely NEW edges count (a batch order can re-ship a pair
    // the corpus already has) — read several times below, so pinned.
    val newE = PlanBridge.pin(
      oriented.join(edges, Seq("src", "dst"), "left_anti"))
    // Batch-side adjacency: S = sources of new edges (batch-sized, so
    // its joins below broadcast).
    val adjNew = PlanBridge.pin(
      newE.groupBy(col("src").as("node"))
        .agg(sort_array(collect_list(col("dst"))).as("nbrs_new")))
    // Attach stored and FULL (= stored ∪ new, merged sorted) adjacency
    // for one endpoint column. Elements never collide: new edges were
    // anti-joined against stored, so concat + sort is a clean merge.
    val emptyArr = "cast(array() as array<bigint>)"
    def attach(df: DataFrame, keyCol: String, tag: String): DataFrame =
      df.join(adj.select(col("node").as(keyCol), col("nbrs").as(s"__s_$tag")),
          Seq(keyCol), "left")
        .join(broadcast(adjNew.select(col("node").as(keyCol), col("nbrs_new").as(s"__n_$tag"))),
          Seq(keyCol), "left")
        .withColumn(s"stored_$tag", expr(s"coalesce(__s_$tag, $emptyArr)"))
        .withColumn(s"full_$tag",
          expr(s"array_sort(concat(coalesce(__s_$tag, $emptyArr), coalesce(__n_$tag, $emptyArr)))"))
        .drop(s"__s_$tag", s"__n_$tag")
    // Term A: new edges against the full adjacency.
    val termA = attach(attach(newE, "src", "u"), "dst", "v")
      .select(expr("sorted_intersect_count(full_u, full_v)").as("t"))
      .agg(coalesce(sum(col("t")), lit(0L)).as("ta"))
    // Term B: stored edges with an endpoint in S — intersect growth.
    val sNodes = adjNew.select("node")
    val touched = edges
      .join(broadcast(sNodes.select(col("node").as("src"))), Seq("src"), "left_semi")
      .select(col("src"), col("dst"))
      .unionByName(edges
        .join(broadcast(sNodes.select(col("node").as("dst"))), Seq("dst"), "left_semi")
        .select(col("src"), col("dst")))
      .distinct()
    val termB = attach(attach(touched, "src", "u"), "dst", "v")
      .select((expr("sorted_intersect_count(full_u, full_v)") -
        expr("sorted_intersect_count(stored_u, stored_v)")).as("t"))
      .agg(coalesce(sum(col("t")), lit(0L)).as("tb"))
    // Maintained totals.
    val newNodeCnt = newE.select(col("src").as("node"))
      .unionAll(newE.select(col("dst").as("node")))
      .distinct()
      .join(deg, Seq("node"), "left_anti")
      .agg(count(lit(1)).as("n_new_nodes"))
    val newEdgeCnt = newE.agg(count(lit(1)).as("n_new_edges"))
    stats
      .crossJoin(broadcast(termA)).crossJoin(broadcast(termB))
      .crossJoin(broadcast(newNodeCnt)).crossJoin(broadcast(newEdgeCnt))
      .select(
        (col("n_nodes") + col("n_new_nodes")).as("n_nodes"),
        (col("n_edges") + col("n_new_edges")).as("n_edges"),
        (col("n_triangles") + col("ta") + col("tb")).as("n_triangles"))
  }

  /** [[qTriangles]] by EDGE ITERATOR over sorted adjacency lists — same
    * graph, same orientation, same answer (IDENTICAL oracle), different
    * physical shape: instead of materializing the O(m^1.5) wedge stream
    * as ROWS and closing it with a third join (41M shuffled wedge rows at
    * sf0.1), build each vertex's sorted out-neighbor array once
    * (`sort_array(collect_list)` — out-degree is O(√m) after
    * orientation), attach the two endpoint arrays to every oriented edge
    * (two equi-joins, O(m) rows), and count
    * `|N⁺(u) ∩ N⁺(v)|` per edge with the native codegen'd two-pointer
    * merge [[graft.functions.SortedIntersectCount]]. Each triangle
    * {a,b,c} (oriented a→b, a→c, b→c) is counted exactly once, at edge
    * (a,b) — the only edge whose BOTH endpoints point at the third
    * vertex.
    *
    * Scale shape: the intersection work is the same O(Σ_edges
    * (d⁺(u)+d⁺(v))) = O(m^1.5) bound as the wedge join, but it runs as
    * arithmetic inside one whole-stage-codegen'd map + partial-agg stage
    * — the shuffle volume drops from O(m^1.5) wedge ROWS (hashed,
    * buffered, probed by the closing join) to O(m) edge rows carrying
    * packed long arrays, and the third join disappears entirely. The
    * per-edge result folds into a map-side-combined SUM, so the final
    * exchange is one row per partition. Measured at sf0.1: 6.8 s (wedge
    * join) → ~2 s. The adjacency build is one groupBy on the oriented
    * edges; at 100 TB it is a bucketed table by `src` (the
    * [[buildEdgeIndex]] pattern) and both attach joins co-locate on the
    * stored layout.
    */
  def qTrianglesAdj(spark: SparkSession, dir: String): DataFrame = {
    val (e0, deg, o) = orientedEdges(spark, dir)
    // Oriented out-neighbor lists, sorted for the merge-count contract
    // (edges are distinct by construction, so so are the elements).
    // Persisted: read twice (once per attach join).
    val adj = PlanBridge.pin(
      o.groupBy(col("src").as("node"))
        .agg(sort_array(collect_list(col("dst"))).as("nbrs")))
    val perEdge = o
      .join(adj.select(col("node").as("src"), col("nbrs").as("nbrs_u")), "src")
      // Inner join: an edge whose dst has no out-edges closes no
      // triangle — dropping it and contributing 0 are the same thing.
      .join(adj.select(col("node").as("dst"), col("nbrs").as("nbrs_v")), "dst")
      .select(expr("sorted_intersect_count(nbrs_u, nbrs_v)").as("t"))
    perEdge.agg(coalesce(sum(col("t")), lit(0L)).as("n_triangles"))
      .crossJoin(broadcast(deg.agg(count(lit(1)).as("n_nodes"))))
      .crossJoin(broadcast(e0.agg(count(lit(1)).as("n_edges"))))
      .select(col("n_nodes"), col("n_edges"), col("n_triangles"))
  }
}
