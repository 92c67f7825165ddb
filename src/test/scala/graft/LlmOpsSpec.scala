package graft

import graft.operators.LlmOps

/** Recall/behavior tests for the dedup family on PLANTED duplicates (the
  * driver corpus has none): an exact copy, a one-word-changed near-dup,
  * and unrelated filler docs.
  */
class LlmOpsSpec extends SparkTestBase {
  import spark.implicits._

  private val base =
    "the quick brown fox jumps over the lazy dog while the cat naps under a warm blanket near the sunlit porch"
  private val nearDup = base.replace("cat", "owl")
  private val fillers = Seq(
    "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu",
    "one two three four five six seven eight nine ten eleven twelve",
    "red orange yellow green blue indigo violet silver gold bronze copper tin",
    "north south east west up down left right front back inner outer",
    "apple banana cherry date elderberry fig grape honeydew kiwi lemon mango nectarine",
    "stone river mountain valley forest desert ocean island plain plateau canyon cliff",
    "hammer nail saw drill wrench pliers chisel file plane level square clamp")

  private lazy val docsDir: String = {
    val dir = tempDir("llm_docs")
    val texts = Seq(base, base, nearDup) ++ fillers
    texts.zipWithIndex
      .map { case (t, i) => (i.toLong, t, "en", s"src${i % 3}", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  test("d1 exact dedup collapses the exact copy and nothing else") {
    val rows = LlmOps.d1DedupExact(spark, docsDir).collect()
    assert(rows.length === 9) // 10 docs, one exact pair
    val dupGroup = rows.filter(_.getLong(2) == 2L)
    assert(dupGroup.length === 1)
    assert(dupGroup.head.getLong(1) === 0L) // canonical = lowest doc_id
  }

  test("d2 MinHash banding finds the exact and near duplicates with high Jaccard") {
    val pairs = LlmOps.d2DedupMinhash(spark, docsDir).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(pairs((0L, 1L)) === 1000L)       // identical texts
    assert(pairs.contains((0L, 2L)) && pairs((0L, 2L)) >= 700L) // one-word edit
    // No unrelated pair sneaks in with high similarity.
    pairs.collect { case ((a, b), j) if a >= 3 && b >= 3 => j }
      .foreach(j => assert(j < 700L))
  }

  test("d2's jaccard equals a join-and-count over distinct (doc, hash60) rows") {
    // The verify merges per-doc sorted hash sets with the native
    // sorted_intersect_count; recompute every pair here the relational
    // way (distinct rows, join on the hash, count). The left join keeps
    // candidate pairs that share no hash (i = 0) in the comparison.
    import org.apache.spark.sql.functions.{col, count, expr, lit}
    val d2 = LlmOps.d2DedupMinhash(spark, Sf)
    val hashed = LlmOps.shingleRows(spark, Sf)
      .select(col("doc_id"), expr(LlmOps.shingleHash60("shingle")).as("h"))
      .distinct()
    val sizes = hashed.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val pairs = d2.select("doc_a", "doc_b")
    val inter = pairs
      .join(hashed.toDF("doc_a", "h"), "doc_a")
      .join(hashed.toDF("doc_b", "h"), Seq("doc_b", "h"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("i"))
    val expected = pairs.join(inter, Seq("doc_a", "doc_b"), "left")
      .join(sizes.toDF("doc_a", "na"), "doc_a")
      .join(sizes.toDF("doc_b", "nb"), "doc_b")
      .selectExpr("doc_a", "doc_b", "coalesce(i, 0) AS i", "na + nb - coalesce(i, 0) AS u")
      .as[(Long, Long, Long, Long)].collect()
      .map { case (a, b, i, u) => (a, b) -> (2000 * i + u) / (2 * u) }.toMap
    val got = d2.as[(Long, Long, Long)].collect().map { case (a, b, j) => (a, b) -> j }.toMap
    assert(got.nonEmpty, "sf0.001 should yield d2 candidate pairs")
    assert(got === expected)
  }

  test("d5 incremental: new batch (src0) finds its duplicates in the existing corpus") {
    // doc 0 (src0, new) vs doc 1 (src1, exact copy) and doc 2 (src2, near-dup).
    val pairs = LlmOps.d5DedupIncremental(spark, docsDir).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(pairs((0L, 1L)) === 1000L)
    assert(pairs.contains((0L, 2L)) && pairs((0L, 2L)) >= 700L)
    // Asymmetric: only src0 docs appear on the new side.
    assert(pairs.keys.forall(_._1 % 3 == 0))
  }

  test("d7 resolution collapses the planted duplicate group to one canonical id") {
    val labels = LlmOps.d7DedupResolve(spark, docsDir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // docs 0 (base), 1 (exact copy), 2 (near-dup) form one component → 0.
    assert(labels(0L) === 0L)
    assert(labels(1L) === 0L)
    assert(labels(2L) === 0L)
    // fillers stay singletons
    (3L to 9L).foreach(i => assert(labels(i) === i))
  }

  test("d3 SimHash: identical docs hash equal; near-dup within small Hamming distance") {
    val sh = LlmOps.d3Simhash(spark, docsDir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sh(0L) === sh(1L))
    val hamming = java.lang.Long.bitCount(sh(0L) ^ sh(2L))
    assert(hamming <= 8, s"near-dup Hamming distance $hamming too large (32-bit)")
    val hammingUnrelated = java.lang.Long.bitCount(sh(0L) ^ sh(5L))
    assert(hammingUnrelated > hamming, "unrelated doc should be farther than the near-dup")
  }

  test("t1 text stats are exact on a known document") {
    val r = LlmOps.t1TextStats(spark, docsDir).filter($"doc_id" === 3L).collect()(0)
    // "alpha beta ... mu" → 12 tokens, all unique
    assert(r.getLong(1) === 12L)  // n_tokens
    assert(r.getLong(2) === 12L)  // n_uniq_tokens
    assert(r.getLong(4) === (2000L * (r.getLong(3) - 11L) + 12L) / 24L) // avg_token_len_milli
    assert(r.getLong(5) === 1000L) // ttr: all unique
  }

  test("t6 PII scrub redacts planted emails and digit runs") {
    val dir = tempDir("pii_docs")
    val texts = Seq(
      "contact alice at alice.smith+work@example.com or call 5551234 now",
      "no pii here at all just words",
      "see https://example.com/page and mail bob@test.org ref 99887766")
    texts.zipWithIndex
      .map { case (t, i) => (i.toLong, t, "en", "src0", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val rows = LlmOps.t6PiiScrub(spark, dir).collect()
      .map(r => r.getLong(0) ->
        ((r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(rows(0L)._2 === 1L) // one email
    assert(rows(0L)._3 === 0L) // no url
    assert(rows(0L)._4 === 1L) // one digit run
    assert(rows(1L)._2 === 0L && rows(1L)._3 === 0L && rows(1L)._4 === 0L)
    assert(rows(2L)._2 === 1L && rows(2L)._3 === 1L && rows(2L)._4 === 1L)
    // Redaction actually changes the content hash iff PII was present.
    import org.apache.spark.sql.functions.md5
    val raw = spark.read.parquet(s"$dir/documents.parquet")
      .select($"doc_id", md5($"text")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(rows(0L)._1 !== raw(0L))
    assert(rows(1L)._1 === raw(1L)) // untouched doc keeps its hash
  }

  // Fixture for t9/t11: docs 0-9 play the benchmark (BenchmarkDocs = 10);
  // doc 10 is a verbatim copy of benchmark doc 7 (= base), doc 11 is
  // maximally repetitive and shares nothing with the benchmark.
  private lazy val contamDir: String = {
    val dir = tempDir("llm_contam")
    val texts = (fillers :+ base :+ nearDup :+
      "zinc argon xenon krypton radon neon helium boron") ++
      Seq(base, "spam spam spam spam")
    texts.zipWithIndex
      .map { case (t, i) => (i.toLong, t, "en", s"src${i % 3}", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  test("t9 repetition: an all-one-bigram doc scores 1000 milli; varied docs score low") {
    val rows = LlmOps.t9Repetition(spark, contamDir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    // "spam spam spam spam" → 3 bigrams, all the same.
    assert(rows(11L) === ((3L, 3L, 1000L)))
    // The base sentence has no repeated bigram.
    assert(rows(7L)._2 === 1L)
    assert(rows(7L)._3 < 100L)
  }

  test("t10 mixture sample keeps every src0 doc and respects each source's rate") {
    val kept = LlmOps.t10MixtureSample(spark, docsDir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val srcOf = spark.read.parquet(s"$docsDir/documents.parquet")
      .select("doc_id", "source").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val src0 = srcOf.collect { case (id, "src0") => id }.toSet
    assert(src0.subsetOf(kept.map(_._1).toSet)) // rate 100 keeps all
    kept.foreach { case (_, source, bucket) =>
      val rate = if (source == "src0") 100 else if (Set("src1", "src2", "src3")(source)) 50 else 20
      assert(bucket < rate)
    }
  }

  test("t11 decontamination flags the benchmark copy and ignores the disjoint doc") {
    val rows = LlmOps.t11Decontaminate(spark, contamDir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(rows.contains(10L))            // verbatim copy of benchmark doc 7
    assert(rows(10L) > 10L)               // shares (nearly) all of its shingles
    assert(!rows.contains(11L))           // nothing shared
    assert(rows.keySet.forall(_ >= LlmOps.BenchmarkDocs)) // benchmark never flags itself
  }

  test("t13 rolling fingerprints: identical docs collide, unrelated docs differ") {
    val fp = LlmOps.t13RollingFp(spark, contamDir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fp(7L) === fp(10L)) // doc 10 is a verbatim copy of doc 7
    assert(fp(7L) !== fp(0L))  // unrelated filler text
    assert(fp.contains(11L))   // short-but-over-window doc still fingerprints
  }

  test("curation manifest: benchmark and contaminated docs never survive; splits well-formed") {
    val rows = LlmOps.curationManifest(spark, contamDir).collect()
      .map(r => (r.getLong(0), r.getString(3)))
    // Benchmark docs (0-9) and the contaminated copy (10) are excluded
    // by construction; only doc 11 can possibly remain.
    assert(rows.map(_._1).toSet.subsetOf(Set(11L)))
    assert(rows.forall(r => Set("train", "val", "test")(r._2)))
  }

  test("t4 fingerprint: identical docs share both fingerprints") {
    val fp = LlmOps.t4Fingerprint(spark, docsDir).collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getString(2)))).toMap
    assert(fp(0L) === fp(1L))
    assert(fp(0L)._1 !== fp(2L)._1) // near-dup has different exact hash
  }

  test("t31 coverage: the post-aggregate pin equals a per-position recompute") {
    // t31 pins the (doc, hash, position-count) aggregate; recompute the
    // coverage here from the raw per-position rolled rows (n_windows =
    // Σk and the cross-doc gate's distinct by algebra), row for row.
    import org.apache.spark.sql.functions.{col, count, expr, length, lit}
    val rolled = Tables.documents(spark, Sf)
      .filter(length(col("text")) >= LlmOps.SpanWindow)
      .select(col("doc_id"), expr(s"rolling_hashes(text, ${LlmOps.SpanWindow})"))
    val crossDoc = rolled.select("doc_id", "hash").distinct()
      .groupBy("hash").agg(count(lit(1)).as("nd")).filter(col("nd") >= 2)
    val expected = rolled.groupBy("doc_id").agg(count(lit(1)).as("n_windows"))
      .join(rolled.join(crossDoc, "hash").groupBy("doc_id").agg(count(lit(1)).as("n_dup")),
        Seq("doc_id"), "left")
      .selectExpr("doc_id", "n_windows", "coalesce(n_dup, 0) AS n_dup")
      .as[(Long, Long, Long)].collect()
      .map { case (d, n, k) => (d, n, k, (2000 * k + n) / (2 * n)) }.toSet
    val got = LlmOps.t31SpanCoverage(spark, Sf).as[(Long, Long, Long, Long)].collect().toSet
    assert(got.nonEmpty)
    assert(got.exists(_._3 > 0), "sf0.001 should hold cross-doc duplicated windows")
    assert(got === expected)
  }

  test("per-row and aggregating minhash formulations produce identical bands") {
    // st14's stream side computes the signature per row (array HOFs over
    // the carried shingle array); minhashBandsOf computes it through a
    // groupBy. The expressions are shared (LlmOps.perRowMinExprs /
    // bandKeyExprs), but the parity of the two PLANS is the contract the
    // stream gate rests on — a drift means stream docs silently stop
    // colliding with stored corpus bands. Lock it on the real corpus.
    import graft.operators.LlmOps
    val docs = Tables.documents(spark, Sf)
    // Both sides shingle through the SHARED LlmOps.shingleArrayExpr
    // (advisor finding r13: an inline copy here let the shingle layer
    // drift while this test still passed).
    val aggregated = LlmOps.minhashBandsOf(
      docs.selectExpr("doc_id", "split(text, ' ') AS toks")
        .where("size(toks) >= 3")
        .selectExpr("doc_id",
          s"explode(${LlmOps.shingleArrayExpr("toks")}) AS shingle"))
    val perRow = docs
      .selectExpr("doc_id", "split(text, ' ') AS toks")
      .where("size(toks) >= 3")
      .selectExpr("doc_id", s"${LlmOps.shingleArrayExpr("toks")} AS sh")
      // The r15 per-row contract takes the PRE-HASHED array (one
      // hash60 per shingle, eight multiply-shift passes) — the same
      // shape st14's stream side feeds it.
      .selectExpr("doc_id",
        s"transform(array_distinct(sh), x -> ${LlmOps.shingleHash60("x")}) AS sa")
      .selectExpr("doc_id" +: LlmOps.perRowMinExprs("sa"): _*)
      .selectExpr("doc_id",
        s"posexplode(array(${LlmOps.bandKeyExprs.mkString(", ")})) AS (band, bkey)")
    assert(aggregated.exceptAll(perRow).count() === 0)
    assert(perRow.exceptAll(aggregated).count() === 0)
    assert(perRow.count() > 0)
  }

  test("the minhash signature aggregate hash-aggregates (no SortAggregate)") {
    // The r13 int64 signature exists exactly so this aggregate stops
    // being a SortAggregate (min over md5 hex strings has no fixed-width
    // buffer); lock the plan so a future hash-type change can't silently
    // regress the dedup family's dominant operator.
    import graft.operators.LlmOps
    val d2 = LlmOps.d2DedupMinhash(spark, Sf)
    d2.count()
    val plan = d2.queryExecution.executedPlan.toString
    assert(!plan.contains("SortAggregate"),
      s"d2's plan should carry no SortAggregate; plan:\n${plan.take(4000)}")
    assert(plan.contains("HashAggregate"))
  }
}
