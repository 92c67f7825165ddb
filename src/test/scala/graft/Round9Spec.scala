package graft

import org.apache.spark.sql.functions._

import graft.operators.{Graph, LlmOps}

/** Behavioral checks for the round-9 additions: the t27 pruned-broadcast
  * bigram LM, the LSH band-skew guards and the 2-hop closure.
  */
class Round9Spec extends SparkTestBase {
  import spark.implicits._

  private def writeDocs(dir: String, docs: Seq[(Long, String)]): Unit =
    docs.map { case (id, text) => (id, text, "en", "src0", text.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")

  test("t27 prunes to top-K successors: an off-list bigram stops counting") {
    val dir = tempDir("lm_topk")
    // Context 'a' has successors b(x3), c(x2), d(x1). With k=2 only
    // {b, c} survive; doc 3's single 'a d' bigram loses coverage and the
    // doc drops from the output entirely.
    writeDocs(dir, Seq(
      (1L, "a b a b a b"),
      (2L, "a c a c"),
      (3L, "a d")))
    val rows = LlmOps.t27BigramTopk(spark, dir, k = 2).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    // Doc 1 bigrams: ab,ba,ab,ba,ab — ba is context 'b''s only successor
    // (rate 1000); ab rate = milli(3, 6) = 500. Covered: all 5.
    assert(rows(1L)._1 === 5L)
    // Doc 2: ac,ca,ac — ac = milli(2,6) = 333, ca = 1000 (sole successor).
    assert(rows(2L)._1 === 3L)
    assert(!rows.contains(3L), "a doc whose bigrams are all pruned must drop")
  }

  test("t27 with large K equals t26 exactly (pruning is the only difference)") {
    val full = LlmOps.t26BigramLm(spark, Sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val topk = LlmOps.t27BigramTopk(spark, Sf, k = Int.MaxValue).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(topk === full)
  }

  test("LSH band-skew guard: an over-cap boilerplate cluster yields zero pairs, not |cluster|^2") {
    val dir = tempDir("lsh_skew")
    // LshBucketCap+50 copies of one text: every copy lands in the SAME
    // band buckets, so without the guard the candidate join emits
    // ~11k pairs from this cluster alone. Two genuinely-similar docs
    // (small edit) must still pair up — the guard only drops the
    // degenerate bucket, not the mechanism.
    val boiler = (1L to (LlmOps.LshBucketCap + 50L)).map(i =>
      (i, "the quick brown fox jumps over the lazy dog again and again"))
    val pair = Seq(
      (9001L, "completely different unique text about spark partitions and shuffles here"),
      (9002L, "completely different unique text about spark partitions and shuffles there"))
    writeDocs(dir, boiler ++ pair)
    val d2 = LlmOps.d2DedupMinhash(spark, dir).collect()
    assert(!d2.exists(r => r.getLong(0) <= 200L && r.getLong(1) <= 200L),
      "no pair may come from the over-cap cluster")
    assert(d2.exists(r => r.getLong(0) == 9001L && r.getLong(1) == 9002L),
      "the guard must not suppress normal-bucket candidates")
    val d6 = LlmOps.d6SimhashNeardup(spark, dir).collect()
    assert(!d6.exists(r => r.getLong(0) <= 200L && r.getLong(1) <= 200L))
  }

  test("d5 corpus-side cap: a hot corpus bucket stops multiplying the batch") {
    val dir = tempDir("d5_skew")
    // Corpus (src1): LshBucketCap+50 boilerplate copies. Batch (src0):
    // one doc with the same text (lands in the hot bucket — must emit
    // nothing) and one pairing with a single-copy corpus doc (must
    // survive: the guard caps only the hot bucket).
    val boiler = "the quick brown fox jumps over the lazy dog again and again"
    val rows =
      (1L to (LlmOps.LshBucketCap + 50L)).map(i => (i, boiler, "en", "src1", 10L)) ++ Seq(
        (8000L, "completely different unique text about spark partitions and shuffles", "en", "src1", 10L),
        (9000L, boiler, "en", "src0", 10L),
        (9001L, "completely different unique text about spark partitions and shuffles", "en", "src0", 10L))
    rows.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val d5 = LlmOps.d5DedupIncremental(spark, dir).collect()
    assert(!d5.exists(_.getLong(0) == 9000L),
      "the batch doc landing in the over-cap corpus bucket must emit nothing")
    assert(d5.exists(r => r.getLong(0) == 9001L && r.getLong(1) == 8000L),
      "normal-bucket ingest matches must survive the guard")
  }

  test("bandBucketStats flags exactly the over-cap buckets") {
    val dir = tempDir("lsh_stats")
    writeDocs(dir, (1L to (LlmOps.LshBucketCap + 1L)).map(i =>
      (i, "same text every time for all docs in this corpus right here")) :+
      (500L, "a lone unique document that buckets alone"))
    val stats = LlmOps.bandBucketStats(
      LlmOps.minhashBandsOf(LlmOps.shingleRows(spark, dir))).collect()
      .map(r => (r.getLong(2), r.getBoolean(3)))
    val dropped = stats.filter(_._2)
    assert(dropped.nonEmpty, "the hot bucket must be flagged")
    assert(dropped.forall(_._1 == LlmOps.LshBucketCap + 1L))
    assert(stats.filter(!_._2).forall(_._1 <= LlmOps.LshBucketCap))
  }

  test("q_rec_closure returns the 2-hop neighborhood with min-hop dedup") {
    val out = Graph.qRecClosure(spark, Sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out(4L) === 0L, "the seed dedups to hop 0 even if revisited at hop 2")
    assert(out.nonEmpty && out.values.forall(h => h >= 0L && h <= 2L))
    // Hop-1 nodes are exactly the seed customer's parts (odd ids).
    assert(out.filter(_._2 == 1L).keys.forall(_ % 2 == 1))
  }
}
