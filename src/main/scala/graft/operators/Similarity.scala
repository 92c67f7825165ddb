package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.Tables

/** Similarity search over the `embeddings` table (64-dim float vectors):
  * brute-force cosine top-k as the correctness baseline, and a
  * random-hyperplane LSH bucketed near-neighbor join as the scale path.
  *
  * Cross-engine parity: all vector math runs in double (float arrays are
  * cast first); cosines are exported as integer `cos_milli` =
  * floor(1000·cos + 0.5) and ranking uses (cos_milli, vec_id) so the
  * DuckDB oracle orders identically. Dot products are sequential
  * left-folds over the array in both engines.
  *
  * Scale notes: the brute-force path broadcasts the (small) query set and
  * scans the corpus once — O(|queries|·N) but embarrassingly parallel,
  * the right baseline and the right tool when |queries| is small. The LSH
  * path buckets every vector by an 8-bit hyperplane sign signature and
  * joins within buckets only — candidate generation is an equi-join on
  * the bucket key (shuffle on a uniform 8-bit key), never the O(N²)
  * cross join; exact cosine runs on candidates only. At 100 TB you would
  * raise the bit width / band the signature like MinHash — the plan
  * shape stays identical.
  */
object Similarity {

  /** Double-cast embedding column. */
  private val embExpr = "transform(embedding, x -> cast(x as double))"

  /** Cosine-as-milli via the native codegen'd [[graft.functions.CosineMilli]]
    * expression (registered by GraftExtensions): one fused loop inside
    * whole-stage codegen. Fold order matches [[hofCosMilli]] exactly, so
    * values are bit-identical to the HOF form and the DuckDB oracle.
    */
  private def cosMilli(a: String, b: String): String =
    s"cosine_milli($a, $b)"

  /** The higher-order-function formulation of the same computation —
    * interpreted (lambdas are excluded from codegen), kept as the
    * value-parity reference for SimilaritySpec.
    */
  def hofCosMilli(a: String, b: String): String =
    s"""cast(floor(1000 * (
       |  aggregate(zip_with($a, $b, (x, y) -> x * y), cast(0 as double), (acc, v) -> acc + v)
       |  / (sqrt(aggregate($a, cast(0 as double), (acc, x) -> acc + x * x))
       |     * sqrt(aggregate($b, cast(0 as double), (acc, x) -> acc + x * x)))
       |) + 0.5) as bigint)""".stripMargin

  /** Number of query vectors (lowest vec_ids) for the top-k baseline. */
  val NumQueries = 8

  /** Neighbors returned per query. */
  val TopK = 5

  /** Hyperplane count for the LSH signature (data-derived planes: the
    * first [[NumLshPlanes]] vectors — deterministic, no RNG needed).
    */
  val NumLshPlanes = 8

  /** Minimum cos_milli for a bucketed pair to count as a near-neighbor. */
  val LshThreshold = 200

  // ---------------------------------------------------------------------
  // Brute-force cosine top-k (baseline).
  // ---------------------------------------------------------------------

  /** Exact top-k nearest neighbors by cosine for the query set
    * (vec_id < [[NumQueries]]): broadcast the queries, scan the corpus
    * once, window-rank per query. Rank key is (cos_milli desc, vec_id) —
    * fully deterministic and oracle-stable.
    */
  def simTopk(spark: SparkSession, dir: String): DataFrame = {
    val corpus = Tables.embeddings(spark, dir)
      .select(col("vec_id"), expr(embExpr).as("emb"))
    val queries = Tables.embeddings(spark, dir)
      .filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("query_id"), expr(embExpr).as("qe"))
    val w = Window.partitionBy("query_id").orderBy(col("cos_milli").desc, col("vec_id"))
    corpus.crossJoin(broadcast(queries))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"), expr(cosMilli("qe", "emb")).as("cos_milli"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= TopK)
      .select(col("query_id"), col("rank").cast("long").as("rank"),
        col("vec_id").as("neighbor_id"), col("cos_milli"))
  }

  /** Number of IVF pivots (coarse "centroids") and probes per query. */
  val NumIvfPivots = 8
  val IvfProbes = 2
  val IvfQueries = 4
  val IvfTopK = 3

  /** IVF-style ANN: the other classic scale path besides LSH. The corpus
    * is partitioned into inverted lists by nearest pivot (pivots are the
    * first [[NumIvfPivots]] vectors — deterministic stand-ins for k-means
    * centroids, whose float averaging would be aggregation-order
    * dependent); a query probes its [[IvfProbes]] nearest pivots and
    * exhaustively searches only those lists. Assignment and probing both
    * rank by (cos_milli, pivot id) so every step is oracle-stable.
    *
    * At 100 TB: the inverted lists are the partition layout (write the
    * corpus partitioned by pivot); a query touches probes/pivots of the
    * data. Recall < 1 by design — the exact baseline is [[simTopk]].
    */
  /** Pivot table: the first [[NumIvfPivots]] vectors (pushed-down
    * `vec_id < k` scan — metadata-sized however big the corpus is).
    */
  private def ivfPivots(spark: SparkSession, dir: String): DataFrame =
    Tables.embeddings(spark, dir)
      .filter(col("vec_id") < NumIvfPivots)
      .select(col("vec_id").as("p"), expr(embExpr).as("pe"))

  /** Inverted-list assignment: every vector to its nearest pivot (argmax
    * cosine, ties to the lowest pivot id). Shared by the recompute forms,
    * the index build, and the ingest path (which runs it over the batch
    * only).
    *
    * The argmax rides ONE max() over a packed long — (cm + 1000) · 2¹⁶ +
    * (2¹⁶ − 1 − p) — instead of max(struct(cm, −p)): a struct aggregation
    * buffer is not fixed-width, so the struct form ran the corpus × pivots
    * aggregate as a SortAggregate (r13 plan audit); the packed form
    * hash-aggregates with map-side combine. Exact, not approximate:
    * cm ∈ [−1000, 1000] (cosine milli) and p < [[NumIvfPivots]] ≪ 2¹⁶, so
    * the lexicographic (cm desc, p asc) order is preserved bit-for-bit
    * and the elected pivot — the only consumed output — is unchanged
    * (oracle twins untouched).
    */
  private def ivfAssign(vectors: DataFrame, pivots: DataFrame): DataFrame =
    vectors.crossJoin(broadcast(pivots))
      .select(col("vec_id"), col("emb"),
        ((expr(cosMilli("emb", "pe")) + 1000L) * 65536L +
          (lit(65535L) - col("p"))).as("packed"))
      .groupBy("vec_id", "emb")
      .agg(max("packed").as("best"))
      .select(col("vec_id"), col("emb"),
        (lit(65535L) - col("best") % 65536L).as("pivot"))

  /** Probe table: each query's [[IvfProbes]] nearest pivots, carrying the
    * probe rank `pr` (1 = nearest). `maxPr` widens the rank bound for the
    * recall sweep (probe-all = exhaustive).
    */
  private def ivfProbes(spark: SparkSession, dir: String, maxPr: Int): DataFrame = {
    val wProbe = Window.partitionBy("query_id").orderBy(col("qcm").desc, col("p"))
    Tables.embeddings(spark, dir)
      .filter(col("vec_id") < IvfQueries)
      .select(col("vec_id").as("query_id"), expr(embExpr).as("qe"))
      .crossJoin(broadcast(ivfPivots(spark, dir)))
      .select(col("query_id"), col("qe"), col("p"),
        expr(cosMilli("qe", "pe")).as("qcm"))
      .withColumn("pr", row_number().over(wProbe))
      .filter(col("pr") <= maxPr)
      .select(col("query_id"), col("qe"), col("p").as("pivot"), col("pr"))
  }

  /** Ranked exact search over a (query, candidate) pool — the shared tail
    * of every IVF top-k form.
    */
  private def ivfRank(cands: DataFrame): DataFrame = {
    val wRank = Window.partitionBy("query_id").orderBy(col("cos_milli").desc, col("vec_id"))
    cands
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        expr(cosMilli("qe", "emb")).as("cos_milli"))
      .withColumn("rank", row_number().over(wRank))
      .filter(col("rank") <= IvfTopK)
      .select(col("query_id"), col("rank").cast("long").as("rank"),
        col("vec_id").as("neighbor_id"), col("cos_milli"))
  }

  def simIvfTopk(spark: SparkSession, dir: String): DataFrame = {
    val corpus = Tables.embeddings(spark, dir)
      .select(col("vec_id"), expr(embExpr).as("emb"))
    val assigned = ivfAssign(corpus, ivfPivots(spark, dir))
    ivfRank(ivfProbes(spark, dir, IvfProbes).join(assigned, "pivot"))
  }

  // ---------------------------------------------------------------------
  // Materialized IVF index — the d5b/d7b build-once pattern applied to
  // the similarity family (r12 verdict #3): the corpus×pivots assignment
  // is the ONE heavy step of every IVF query, and it only changes when
  // the corpus snapshot does, so it is written ONCE as a stored table
  // and every probe reads it.
  // ---------------------------------------------------------------------

  /** Build the inverted lists once per corpus snapshot:
    * `<prefix>_lists(vec_id, emb, pivot)` PARTITIONED by pivot — a probe
    * touching [[IvfProbes]] of [[NumIvfPivots]] lists prunes the scan to
    * those partitions (the partition layout IS the index; at 100 TB the
    * pivot count scales with the corpus so each list stays
    * executor-sized, and this table is exactly the layout the corpus
    * would be stored in anyway). The assignment never re-runs per query.
    */
  def buildIvfIndex(spark: SparkSession, dir: String, prefix: String): Unit = {
    val corpus = Tables.embeddings(spark, dir)
      .select(col("vec_id"), expr(embExpr).as("emb"))
    ivfAssign(corpus, ivfPivots(spark, dir))
      .write.partitionBy("pivot").format("parquet")
      .mode(org.apache.spark.sql.SaveMode.Overwrite)
      .saveAsTable(s"${prefix}_lists")
  }

  /** Stored FORMAT version of the inverted lists, part of their key:
    * bump when the embedding encoding, the pivots or the assignment
    * rule change, so a stale on-disk index is never silently reused.
    */
  private[graft] val IvfFormatVersion = "v1"

  /** The inverted lists' prefix, built on first use ([[Scale.storedIndex]]). */
  private[graft] def ensureIvfIndex(spark: SparkSession, dir: String): String =
    Scale.storedIndex(spark, "ivf_idx", s"$IvfFormatVersion|$dir", Seq("lists"))(
      buildIvfIndex(spark, dir, _))

  /** [[simIvfTopk]] over the stored inverted lists: per-query work is the
    * probe ranking (queries × pivots, broadcast) plus an exact scan of
    * the PROBED partitions only — the assignment is never recomputed.
    * Same output contract and the SAME oracle as sim_ivf_topk: the index
    * is a pure optimization, never a semantics change.
    */
  def simIvfTopkIdx(spark: SparkSession, dir: String): DataFrame = {
    val lists = spark.table(s"${ensureIvfIndex(spark, dir)}_lists")
    ivfRank(ivfProbes(spark, dir, IvfProbes).join(lists, "pivot"))
  }

  /** Batch ingest against the stored index: assign ONLY the new vectors
    * (the fixture batch: vec_id ≡ [[IvfIngestMod]]−1 mod [[IvfIngestMod]])
    * to their nearest pivots — the exact rows an append to
    * `<prefix>_lists` would add, at batch-proportional cost (batch scan ×
    * broadcast pivots; the pivot read is a pushed-down vec_id < k scan).
    * Emits (vec_id, pivot) for the batch.
    */
  val IvfIngestMod = 10

  def simIvfIngest(spark: SparkSession, dir: String): DataFrame = {
    // ensureIvfIndex: the ingest's contract is "the index exists and the
    // batch is the only new work" — building here keeps the entry
    // self-contained (first call per corpus pays the build, like d5b).
    ensureIvfIndex(spark, dir)
    val batch = Tables.embeddings(spark, dir)
      .filter(col("vec_id") % IvfIngestMod === IvfIngestMod - 1)
      .select(col("vec_id"), expr(embExpr).as("emb"))
    ivfAssign(batch, ivfPivots(spark, dir))
      .select(col("vec_id"), col("pivot"))
  }

  // ---------------------------------------------------------------------
  // LSH-bucketed near-neighbor join (scale path).
  // ---------------------------------------------------------------------

  /** (vec_id, bucket, emb) with bucket = 8-bit sign pattern of dot
    * products against the plane vectors. The per-vector bucket is an
    * integer SUM of distinct power-of-two terms — associative and
    * commutative, so aggregation order cannot change it.
    */
  private def bucketed(spark: SparkSession, dir: String, idName: String,
                       bucketName: String, embName: String): DataFrame = {
    val planes = Tables.embeddings(spark, dir)
      .filter(col("vec_id") < NumLshPlanes)
      .select(col("vec_id").as("p"), expr(embExpr).as("pe"))
    val e = Tables.embeddings(spark, dir)
      .select(col("vec_id"), expr(embExpr).as("emb"))
    // Native dot_double (codegen'd fused loop) — the HOF zip_with/
    // aggregate formulation it replaces ran interpreted per (vec, plane)
    // row; fold order is identical, so bucket values are unchanged.
    e.crossJoin(broadcast(planes))
      .select(col("vec_id"), col("emb"), col("p"),
        expr("dot_double(emb, pe)").as("d"))
      .groupBy("vec_id", "emb")
      .agg(sum(when(col("d") > 0, expr("shiftleft(1L, p)")).otherwise(0L)).as("bucket"))
      .select(col("vec_id").as(idName), col("bucket").as(bucketName), col("emb").as(embName))
  }

  /** Near-neighbor pairs via LSH buckets: equi-join on the bucket key,
    * exact cosine on the candidates, threshold filter. The two sides are
    * built from independent scans (self-join hygiene).
    */
  def simLshPairs(spark: SparkSession, dir: String): DataFrame = {
    val a = bucketed(spark, dir, "vec_a", "bucket", "ea")
    val b = bucketed(spark, dir, "vec_b", "bucket_b", "eb")
    a.join(b, col("bucket") === col("bucket_b") && col("vec_a") < col("vec_b"))
      .select(col("bucket"), col("vec_a"), col("vec_b"),
        expr(cosMilli("ea", "eb")).as("cos_milli"))
      .filter(col("cos_milli") >= LshThreshold)
  }

  // ---------------------------------------------------------------------
  // Embedding-cosine near-dup dedup (the semantic-dedup family member —
  // d1/d2/d4 catch lexical copies, this catches paraphrases/translations
  // whose EMBEDDINGS collide).
  // ---------------------------------------------------------------------

  /** Minimum cos_milli for an embedding pair to count as a semantic
    * near-duplicate. On a real corpus with true paraphrase pairs this
    * sits ~950; the synthetic fixture's random vectors top out at
    * cos_milli ≈ 467, so the fixture threshold selects its upper tail.
    */
  val EmbedDedupThreshold = 300

  /** D8: embedding-cosine near-dup dedup — candidate pairs from the LSH
    * bucket join ([[simLshPairs]], never all-pairs), kept at
    * [[EmbedDedupThreshold]], then a single-hop canonical election per
    * document: canonical_id = min(doc_id, lowest near-dup neighbor) —
    * the classic "keep a doc iff it has no lower-id near-dup" rule
    * (keep ⇔ canonical_id = doc_id). Transitive-closure resolution is
    * d7's job; the one-hop rule is what large semantic-dedup runs
    * actually apply per batch.
    *
    * Scale shape: bucket equi-join for candidates + one groupBy on
    * doc_id + a left join back to the corpus — all uniform keys; the
    * corpus is touched once.
    */
  def d8EmbedNeardup(spark: SparkSession, dir: String): DataFrame = {
    // Pinned (r16): both directions of the symmetrization read `pairs`,
    // and unpinned the whole LSH pipeline beneath it ran twice.
    val pairs = graft.PersistScope.persisted(simLshPairs(spark, dir)
      .filter(col("cos_milli") >= EmbedDedupThreshold)
      .select(col("vec_a"), col("vec_b")))
    val sym = pairs.select(col("vec_a").as("doc_id"), col("vec_b").as("nb"))
      .unionAll(pairs.select(col("vec_b").as("doc_id"), col("vec_a").as("nb")))
    val neigh = sym.groupBy("doc_id")
      .agg(min("nb").as("min_nb"), count("*").as("n_neardups"))
    Tables.documents(spark, dir).select(col("doc_id"))
      .join(neigh, Seq("doc_id"), "left")
      .select(
        col("doc_id"),
        coalesce(col("n_neardups"), lit(0L)).as("n_neardups"),
        least(col("doc_id"), coalesce(col("min_nb"), col("doc_id"))).as("canonical_id"))
  }

  // ---------------------------------------------------------------------
  // Product quantization (PQ) — the third classic ANN scale path next to
  // LSH buckets and IVF lists: compress each vector to M subspace codes,
  // answer queries from per-query distance TABLES instead of touching
  // raw vectors (asymmetric distance computation, ADC).
  // ---------------------------------------------------------------------

  /** PQ geometry: 64 dims → [[PqSubspaces]] subspaces of 8 dims, coded
    * against [[PqCentroids]] centroids each. Centroids are the first
    * vectors' subvectors — deterministic stand-ins for the k-means
    * codebook (float averaging is aggregation-order dependent; see
    * [[simIvfTopk]]).
    */
  val PqSubspaces = 8
  val PqSubDim = 8
  val PqCentroids = 8
  val PqQueries = 4
  val PqTopK = 3

  /** Element rows quantized to integer millis: (vec_id, dim, xm) with
    * xm = floor(1000·x + 0.5) — float inputs are exact in double, and
    * every distance downstream is then INTEGER arithmetic, so sums are
    * order-independent and the oracle matches bit-for-bit. (PQ over
    * integer-quantized elements is also the realistic production form —
    * the int8 store of [[simQuantizeQ8]] is what large ANN fleets scan.)
    */
  private def elemMilli(spark: SparkSession, dir: String): DataFrame =
    Tables.embeddings(spark, dir)
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("dim", "xf")))
      .select(col("vec_id"), col("dim").cast("long").as("dim"),
        expr("cast(floor(cast(xf as double) * 1000 + 0.5d) as bigint)").as("xm"))

  /** PQ + ADC top-k: encode the corpus as [[PqSubspaces]] argmin-L2
    * codes per vector, build each query's exact subspace→centroid
    * distance table, and rank by the table-summed approximate distance.
    *
    * Scale shape: the codebook (8 vectors' elements) broadcasts; the
    * per-(vec, subspace, centroid) squared-L2 reduce is a map-combinable
    * groupBy on uniform keys; codes are M rows (→ M bytes) per vector —
    * the 32× store compression that lets a 100 TB corpus fit hot. ADC
    * joins the code rows against the BROADCAST query distance tables
    * (Q·M·K rows) and reduces with one integer sum per (query, vector)
    * — the corpus' raw vectors are never read at query time. Recall < 1
    * by design; [[simTopk]] is the exact baseline.
    */
  def simPqTopk(spark: SparkSession, dir: String): DataFrame = {
    val em = elemMilli(spark, dir)
    val cent = em.filter(col("vec_id") < PqCentroids)
      .select(col("vec_id").as("c"), col("dim"), col("xm").as("cx"))
    // Exact squared L2 between every (vector, centroid) pair per subspace:
    // expand ×K against the broadcast codebook, one partial-agg reduce.
    val dist = em
      .join(broadcast(cent), Seq("dim"))
      .groupBy(col("vec_id"), expr(s"dim div $PqSubDim").as("m"), col("c"))
      .agg(sum((col("xm") - col("cx")) * (col("xm") - col("cx"))).as("d"))
    // Codes: argmin distance, ties to the lowest centroid id. Packed-long
    // argmin (d · 2¹⁶ + c) rather than min(struct(d, c)) so the aggregate
    // hash-aggregates (struct buffers force SortAggregate — the r13 plan
    // audit / ivfAssign note). Exact: d ≤ subdim · 2000² < 2³³ (squared
    // milli diffs) and c < PqCentroids ≪ 2¹⁶, so no field can borrow.
    val codes = dist.groupBy("vec_id", "m")
      .agg(min(col("d") * 65536L + col("c")).as("best"))
      .select(col("vec_id"), col("m"), (col("best") % 65536L).as("c"))
    // ADC: each query's distance table is its own dist rows; approximate
    // distance = Σ_m table[m][code[m]] — one integer sum per (query, vec).
    val qdist = dist.filter(col("vec_id") < PqQueries)
      .select(col("vec_id").as("query_id"), col("m"), col("c"), col("d"))
    val w = Window.partitionBy("query_id").orderBy(col("adist"), col("vec_id"))
    codes.join(broadcast(qdist), Seq("m", "c"))
      .filter(col("vec_id") =!= col("query_id"))
      .groupBy("query_id", "vec_id")
      .agg(sum("d").as("adist"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= PqTopK)
      .select(col("query_id"), col("rank").cast("long").as("rank"),
        col("vec_id").as("neighbor_id"), col("adist"))
  }

  // ---------------------------------------------------------------------
  // Int8 quantization (the embedding-store compression path).
  // ---------------------------------------------------------------------

  /** Symmetric int8 quantization per vector: scale s = max|x_i| (exact —
    * float32 inputs are exactly representable as double, abs/max exact),
    * q_i = floor(127·x_i/s + 0.5) ∈ [−127, 127]. At 100 TB this is the
    * 4× memory/bandwidth cut every large embedding store takes before
    * ANN search; dequantized error is bounded by s/254 per dimension
    * (asserted in QuantizeSpec).
    *
    * Emitted as exploded (vec_id, dim, q, scale) ROWS, not an int8
    * array column: integer rows hash-compare exactly against the DuckDB
    * twin. The generator is posexplode of the RAW float array (plain
    * column — lambda generators stall codegen, see LlmOps) with the
    * double cast in the following projection; s comes from a whole-
    * partition window max, one shuffle on vec_id. The 127·x/s + 0.5
    * expression is written identically in the oracle — same IEEE double
    * ops on the same exact inputs, so floor never diverges.
    */
  def simQuantizeQ8(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("vec_id")
    Tables.embeddings(spark, dir)
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("dim", "xf")))
      .select(col("vec_id"), col("dim").cast("long").as("dim"),
        col("xf").cast("double").as("x"))
      .withColumn("scale", max(abs(col("x"))).over(w))
      .select(
        col("vec_id"), col("dim"),
        when(col("scale") === 0d, 0L)
          .otherwise(floor(lit(127.0) * col("x") / col("scale") + lit(0.5)).cast("long"))
          .as("q"),
        col("scale"))
  }

  // ---------------------------------------------------------------------
  // K-means clustering (the SemDeDup / mixture-balancing primitive).
  // ---------------------------------------------------------------------

  /** Clusters and Lloyd iterations for [[qKmeansCluster]]. Three
    * iterations is a demonstration depth — the per-iteration plan is
    * what matters; production runs more rounds of the same plan.
    */
  val KmeansK = 8
  val KmeansIters = 3

  /** Deterministic k-means over the embedding corpus — the clustering
    * step behind semantic dedup (SemDeDup-style: near-dups are sought
    * within a cluster, never across the corpus) and embedding-space
    * mixture balancing. Everything that usually makes k-means
    * non-reproducible is pinned: init is the k smallest vec_ids (no
    * RNG), arithmetic is INTEGER end-to-end, and the argmin tie-breaks
    * on (distance, cid) — so the run is bit-stable on any cluster size,
    * partitioning, or rerun, and the DuckDB oracle replays it exactly.
    *
    * Integer discipline: values are milli-rounded then SHIFTED +1000
    * (embeddings lie in [-1, 1], so shifted values are non-negative —
    * squared distances are shift-invariant, and non-negativity makes
    * Spark's truncating `div` and DuckDB's flooring `//` agree on the
    * centroid mean, the repo's round-half-up primitive). Distances and
    * sums stay well inside long range (≤ 64·1520² per pair).
    *
    * Plan shape per Lloyd iteration, all relational (the round-3
    * lesson: no interpreted lambdas in hot loops):
    *   assign  = (vec,dim) rows ⋈ BROADCAST centroids (k·d = 512 rows)
    *             on dim → partial-aggregated sum of squares per
    *             (vec, cid) → struct-min argmin per vec;
    *   update  = assignment ⋈ (vec,dim) rows on vec_id → k·d-row
    *             aggregate of round-half-up means.
    * At 100 TB: each iteration is one corpus scan, map-side combine
    * everywhere, shuffles carry n·k and n·d keyed rows — never a
    * cross join; the centroid table is metadata-sized throughout. The
    * loop is unrolled (3 iterations), so Catalyst sees one static plan;
    * more iterations would localCheckpoint per round like
    * [[graft.operators.LlmOps.connectedComponents]]. Empty clusters
    * (possible under argmin) simply drop out of the next round on both
    * engines identically.
    */
  def qKmeansCluster(spark: SparkSession, dir: String): DataFrame = {
    // The (vec, dim, val) rows are referenced ~2× per unrolled Lloyd
    // iteration (assign join + centroid update); persist so the scan +
    // explode + shift runs once, not ~6 times (measured 3.5 s → 2.4 s
    // at sf0.1). Registered with PersistScope like every query-scoped
    // intermediate; at cluster scale this is the cached working set a
    // real k-means job would hold across iterations anyway.
    val v = graft.PersistScope.persisted(Tables.embeddings(spark, dir)
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("dim", "xf")))
      .select(col("vec_id"), col("dim").cast("long").as("dim"),
        (round(col("xf").cast("double") * 1000).cast("long") + 1000L).as("val")))
    val init = Tables.embeddings(spark, dir)
      .select("vec_id").orderBy("vec_id").limit(KmeansK)
      .select(col("vec_id"),
        (row_number().over(Window.orderBy("vec_id")) - 1).cast("long").as("cid"))
    var centroids = init.join(v, "vec_id")
      .select(col("cid"), col("dim"), col("val").as("c"))
    var assign: DataFrame = null
    for (i <- 1 to KmeansIters) {
      // Packed-long argmin (dist · 2¹⁶ + cid) for the same reason as
      // ivfAssign/simPqTopk: hash-aggregate instead of SortAggregate,
      // and this one runs once per Lloyd iteration over every point.
      // Exact: dist ≤ dims · 2000² < 2³⁹, cid < KmeansK ≪ 2¹⁶.
      assign = v.join(broadcast(centroids), "dim")
        .groupBy("vec_id", "cid")
        .agg(sum((col("val") - col("c")) * (col("val") - col("c"))).as("dist"))
        .groupBy("vec_id")
        .agg(min(col("dist") * 65536L + col("cid")).as("m"))
        .select(col("vec_id"), (col("m") % 65536L).as("cid"),
          expr("m div 65536").as("dist"))
      if (i < KmeansIters)
        centroids = assign.join(v, "vec_id")
          .groupBy("cid", "dim")
          .agg(expr("(2 * sum(val) + count(1)) div (2 * count(1))").as("c"))
    }
    assign.select(col("vec_id"), col("cid").as("cluster"),
      col("dist").as("dist2"))
  }

  /** Cosine-milli threshold above which two same-cluster vectors count
    * as semantic duplicates in [[qSemDedup]]. The fixture's max
    * pairwise cosine is ~0.513 (organic vectors, no planted dups), so
    * 500 keeps the query's dup branch exercised while a production
    * corpus would run 950+.
    */
  val SemDedupCosMilli = 500L

  /** SemDeDup: semantic deduplication = k-means clustering + exact
    * cosine verification WITHIN each cluster only (Abbas et al. 2023's
    * design) — the composition that makes embedding dedup tractable:
    * the cluster assignment bounds the quadratic; pairs are only ever
    * formed between same-cluster vectors (an equi-join on cluster id,
    * never the corpus cross join), and the exact cosine — the native
    * codegen'd [[graft.functions.CosineMilli]] — runs on those
    * candidates only. A vector is a DUP if a smaller-id same-cluster
    * neighbor sits above the threshold (the d8 one-hop canonical
    * election, deterministic without a second pass). At 100 TB: k
    * scales with corpus size so cluster populations stay bounded, and
    * each cluster's pair generation is local to its shuffle partition —
    * the within-cluster LSH refinement (d8) composes on top unchanged.
    */
  def qSemDedup(spark: SparkSession, dir: String): DataFrame = {
    val assign = qKmeansCluster(spark, dir).select(col("vec_id"), col("cluster"))
    val emb = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
    val withEmb = graft.PersistScope.persisted(assign.join(emb, "vec_id"))
    val a = withEmb.select(col("vec_id").as("vid_a"), col("cluster"),
      col("embedding").as("emb_a"))
    val b = withEmb.select(col("vec_id").as("vid_b"), col("cluster"),
      col("embedding").as("emb_b"))
    val dropped = a.join(b, "cluster")
      .filter(col("vid_a") < col("vid_b"))
      .filter(expr(cosMilli("emb_a", "emb_b")) >= SemDedupCosMilli)
      .select(col("vid_b").as("vec_id"))
      .distinct()
    // Project the output from the PERSISTED frame — joining `assign`
    // here would re-execute the whole unrolled Lloyd plan a second
    // time (reviewer finding).
    withEmb.select(col("vec_id"), col("cluster"))
      .join(dropped.withColumn("dup", lit(1L)), Seq("vec_id"), "left")
      .select(col("vec_id"), col("cluster"),
        coalesce(col("dup"), lit(0L)).as("is_dup"))
  }

  // ---------------------------------------------------------------------
  // ANN recall instrumentation — the tuning evidence for the family.
  // An approximate index without a recall curve is a guess: production
  // tuning picks the probe count / signature width from exactly these
  // tables (run on a bounded audit sample, the way D4SkewSpec pinned the
  // dedup caps).
  // ---------------------------------------------------------------------

  /** Probe counts [[simIvfRecall]] measures. The last entry equals
    * [[NumIvfPivots]] on purpose: probing EVERY list is the exhaustive
    * scan (each vector lives in exactly one inverted list), so the
    * curve's right edge is recall = 1000 by construction — a built-in
    * self-check that the ground truth and the probe pipeline agree.
    */
  val IvfProbeSweep: Seq[Int] = Seq(1, 2, 4, NumIvfPivots)

  /** Recall@[[IvfTopK]] of [[simIvfTopk]] as a function of probe count:
    * one row per entry of [[IvfProbeSweep]] — (probes, n_hits,
    * n_expected, recall_milli), recall_milli = round-half-up
    * 1000·hits/expected, integer on both engines.
    *
    * Relational shape (NO all-pairs anywhere): the candidate table is
    * built ONCE with every (query, corpus vector) pair reachable through
    * the vector's one inverted list, carrying `pr` = the probe rank at
    * which that list is reached; it is persisted, and each sweep point
    * is a filter (pr ≤ P) + window top-k + a semi-join against the
    * exact set (the pr ≤ [[NumIvfPivots]] ranking of the same table).
    * Cost is one corpus×pivots assignment plus one corpus-sized ranked
    * pass per sweep point — at 100 TB the same query runs on a sampled
    * query set against the stored inverted-list layout, and the curve
    * is the artifact a capacity plan reads (committed here as
    * ANN_RECALL.json).
    */
  def simIvfRecall(spark: SparkSession, dir: String): DataFrame = {
    val corpus = Tables.embeddings(spark, dir)
      .select(col("vec_id"), expr(embExpr).as("emb"))
    ivfRecallOver(ivfAssign(corpus, ivfPivots(spark, dir)), spark, dir)
  }

  /** [[simIvfRecall]] over the stored inverted lists — the recall curve a
    * production corpus actually measures (against the layout it serves
    * queries from). Same oracle as sim_ivf_recall: pure optimization.
    */
  def simIvfRecallIdx(spark: SparkSession, dir: String): DataFrame =
    ivfRecallOver(spark.table(s"${ensureIvfIndex(spark, dir)}_lists"), spark, dir)

  private def ivfRecallOver(assigned: DataFrame,
                            spark: SparkSession, dir: String): DataFrame = {
    // Every query × every pivot, ranked: pr = probe order (best first).
    val probes = ivfProbes(spark, dir, NumIvfPivots)
    // Candidate pool: each corpus vector reachable at probe depth `pr`.
    val cand = graft.PersistScope.persisted(
      probes.join(assigned, "pivot")
        .filter(col("vec_id") =!= col("query_id"))
        .select(col("query_id"), col("vec_id"),
          expr(cosMilli("qe", "emb")).as("cm"), col("pr")))
    val wRank = Window.partitionBy("query_id").orderBy(col("cm").desc, col("vec_id"))
    def topk(maxPr: Int): DataFrame = cand
      .filter(col("pr") <= maxPr)
      .withColumn("rk", row_number().over(wRank))
      .filter(col("rk") <= IvfTopK)
      .select(col("query_id"), col("vec_id"))
    val exact = graft.PersistScope.persisted(topk(NumIvfPivots))
    val expected = broadcast(exact.groupBy().agg(count(lit(1)).as("n_expected")))
    IvfProbeSweep.map { pCnt =>
      topk(pCnt).join(exact, Seq("query_id", "vec_id"))
        .groupBy().agg(count(lit(1)).as("n_hits"))
        .crossJoin(expected)
        .select(lit(pCnt.toLong).as("probes"), col("n_hits"), col("n_expected"),
          // Zero guard (advisor finding): a degenerate corpus (≈1 vector,
          // or no candidates at all) yields n_expected = 0 — the ratio
          // must read 0, not null (RecallCurve getLong's NPE), same CASE
          // in the DuckDB twin and in simLshSweep's n_base guard.
          when(col("n_expected") === 0L, 0L)
            .otherwise(expr("(2000 * n_hits + n_expected) div (2 * n_expected)"))
            .as("recall_milli"))
    }.reduce(_ unionAll _)
  }

  /** Plane counts [[simLshSweep]] measures. Candidate sets are NESTED
    * along this axis (bucket equality on the first n planes implies
    * equality on any prefix), so the whole sweep is derived from ONE
    * candidate build at the coarsest width — wider settings are filters
    * over it, never new joins.
    */
  val LshPlaneSweep: Seq[Int] = Seq(4, 6, 8, 10, 12)

  /** Max vectors per COARSEST-width bucket admitted into the sweep's
    * candidate join (advisor finding: this was the one banded family
    * without a join-product cap — at 4 planes the join is ~n²/16 on a
    * non-sampled corpus). Vectors in over-cap coarse buckets are dropped
    * from the sweep and COUNTED (`n_dropped_vecs` on every output row —
    * the winnowOversized discipline: a silent cap reads as full
    * coverage). The cap never binds on a healthy audit sample (16 coarse
    * buckets × cap = 16k vectors); when it binds, the sweep is telling
    * you to sample, which is the documented contract.
    */
  val LshSweepBucketCap = 1000

  /** Signature-width sweep for [[simLshPairs]]: one row per entry of
    * [[LshPlaneSweep]] — (n_planes, n_candidates, n_pairs,
    * retention_milli) where n_candidates counts bucket-colliding pairs,
    * n_pairs those at cos ≥ [[LshThreshold]], and retention_milli is
    * round-half-up 1000·n_pairs / n_pairs at the coarsest width (the
    * audit anchor: by nesting, the coarsest candidate set is the
    * supremum this hash family can reach, so retention reads as
    * recall-vs-4-planes without an all-pairs scan anywhere).
    *
    * Shape (reworked r14, VERDICT r13 #2 — the r13 cap bookkeeping made
    * this the catalog's second most expensive entry): a single
    * dot-product table against the widest plane set (broadcast, 12
    * rows), one per-vector aggregate producing EVERY width's bucket in
    * the same pass, the coarse-bucket population as a WINDOW count over
    * that same table (the window partitions on the coarse key — the
    * exact hash partitioning the candidate self-join needs, so the cap
    * costs no extra aggregate, no broadcast, and no extra exchange:
    * both join sides read the one persisted, already-b4-partitioned
    * frame), one bucket-4 equi-join, then ONE fused aggregate computing
    * every width's candidate and pair count in a single pass over the
    * (never-persisted) candidate stream — the five per-width
    * filter+count passes and the candidate cache of the r13 shape are
    * gone. The quadratic is bounded by the coarsest bucket width by
    * construction; production corpora tune the width UP until the
    * candidate count fits the verify budget — this table is how they
    * find that point.
    */
  def simLshSweep(spark: SparkSession, dir: String): DataFrame = {
    val maxPlanes = LshPlaneSweep.max
    val planes = Tables.embeddings(spark, dir)
      .filter(col("vec_id") < maxPlanes)
      .select(col("vec_id").as("p"), expr(embExpr).as("pe"))
    val e = Tables.embeddings(spark, dir)
      .select(col("vec_id"), expr(embExpr).as("emb"))
    val bucketCols = LshPlaneSweep.map { n =>
      sum(when(col("d") > 0 && col("p") < n, expr("shiftleft(1L, p)"))
        .otherwise(0L)).as(s"b$n")
    }
    val coarseKey = s"b${LshPlaneSweep.min}"
    // Coarse-bucket skew cap (see LshSweepBucketCap): `nvec` rides along
    // as a window count so the keep-filter is a narrow predicate on the
    // same persisted frame the join reads — it feeds both the keep-set
    // and the dropped count without re-running the bucket aggregate or
    // broadcasting a separate keep-set (the r13 shape this replaces).
    val withCnt = graft.PersistScope.persisted(
      e.crossJoin(broadcast(planes))
        .select(col("vec_id"), col("emb"), col("p"),
          expr("dot_double(emb, pe)").as("d"))
        .groupBy("vec_id", "emb")
        .agg(bucketCols.head, bucketCols.tail: _*)
        .withColumn("nvec", count(lit(1)).over(Window.partitionBy(coarseKey))))
    val nDropped = withCnt.groupBy().agg(
      coalesce(sum(when(col("nvec") > LshSweepBucketCap, 1L)), lit(0L))
        .as("n_dropped_vecs"))
    val buckets = withCnt.filter(col("nvec") <= LshSweepBucketCap)
    def side(tag: String) = buckets.select(
      col("vec_id").as(s"vec_$tag") +: col("emb").as(s"emb_$tag") +:
        LshPlaneSweep.map(n => col(s"b$n").as(s"b${n}_$tag")): _*)
    val coarse = LshPlaneSweep.min
    val cand = side("a").join(side("b"),
        col(s"b${coarse}_a") === col(s"b${coarse}_b") &&
          col("vec_a") < col("vec_b"))
      .select(expr(cosMilli("emb_a", "emb_b")).as("cm") +:
        LshPlaneSweep.map(n =>
          (col(s"b${n}_a") === col(s"b${n}_b")).as(s"coll$n")): _*)
    // One pass over the candidate stream: every width's candidate count
    // and above-threshold pair count as parallel conditional sums.
    // coalesce: an EMPTY candidate set yields null sums over zero rows —
    // every count must read 0, not null (oracle parity).
    val fusedCols = LshPlaneSweep.flatMap { n =>
      Seq(
        coalesce(sum(when(col(s"coll$n"), 1L).otherwise(0L)), lit(0L))
          .as(s"cand$n"),
        coalesce(sum(when(col(s"coll$n") && col("cm") >= LshThreshold, 1L)
          .otherwise(0L)), lit(0L)).as(s"pair$n"))
    }
    val fused = cand.groupBy().agg(fusedCols.head, fusedCols.tail: _*)
      .crossJoin(nDropped)
    // The base (= coarsest-width) pair count is one of the fused columns,
    // so the five output rows are five structs over the SAME single row —
    // explode, not five re-aggregations.
    val rows = LshPlaneSweep.map { n =>
      struct(
        lit(n.toLong).as("n_planes"),
        col(s"cand$n").as("n_candidates"),
        col(s"pair$n").as("n_pairs"),
        when(col(s"pair$coarse") === 0L, 0L)
          .otherwise(expr(s"(2000 * pair$n + pair$coarse) div (2 * pair$coarse)"))
          .as("retention_milli"),
        col("n_dropped_vecs"))
    }
    fused.select(explode(array(rows: _*)).as("r")).select(col("r.*"))
  }
}
