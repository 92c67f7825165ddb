package graft

import org.apache.spark.sql.functions._

import graft.operators.{LlmOps, Multimodal}

/** Round-11 late additions: winnowing fingerprint selection (t29) and
  * banded perceptual-hash near-dup pairs (m6) — each checked against an
  * in-test brute-force reference, plus t29's MOSS guarantee and its
  * subset relation to t19.
  */
class WinnowPhashSpec extends SparkTestBase {

  // -------------------------------------------------------------------
  // t29: winnowing selection.
  // -------------------------------------------------------------------

  /** The generator's polynomial, brute-forced (same Base/Mod). */
  private def rollHash(text: String, pos: Int, span: Int): Long = {
    import graft.functions.RollingMinHash.{Base, Mod}
    var h = 0L
    var j = 0
    while (j < span) { h = (h * Base + text.charAt(pos + j).toLong) % Mod; j += 1 }
    h
  }

  /** Reference winnow: per window of `window` consecutive starts, the
    * minimal hash, ties to the RIGHTMOST position; deduplicated.
    */
  private def refWinnow(text: String, span: Int, window: Int): Set[(Long, Long)] = {
    val n = text.length - span + 1
    (0 to n - window).map { i =>
      // Rightmost minimum: scan the window and keep <= so later
      // positions win ties.
      var best = i
      (i until i + window).foreach { j =>
        if (rollHash(text, j, span) <= rollHash(text, best, span)) best = j
      }
      (best.toLong, rollHash(text, best, span))
    }.toSet
  }

  test("winnowSelect matches the brute-force reference (min hash, rightmost tie)") {
    import spark.implicits._
    val span = 4
    val window = 3
    // 'abcabcabc…' repeats every 3 chars, so span-4 hashes repeat with
    // period 3 — every window of 3 consecutive starts holds all three
    // distinct hash values exactly once, exercising the tie-free path —
    // while 'aaaaaaaaaa' makes EVERY hash equal, so selection is pure
    // tie-breaking (must pick each window's rightmost position).
    val texts = Seq(11L -> ("abc" * 6), 22L -> ("a" * 10), 33L -> "xqzvbnmklp")
    val docs = texts.toDF("doc_id", "text")
    val got = LlmOps.winnowSelect(docs, span, window)
      .as[(Long, Long, Long)].collect()
      .groupBy(_._1).map { case (id, rows) => id -> rows.map(r => (r._2, r._3)).toSet }
    val want = texts.map { case (id, t) => id -> refWinnow(t, span, window) }.toMap
    assert(got === want)
  }

  test("t29 guarantee: a shared span of length >= SpanWindow + WinnowWindow - 1 is caught") {
    import spark.implicits._
    val dir = tempDir("t29g")
    val shared = (0 until LlmOps.SpanWindow + LlmOps.WinnowWindow - 1)
      .map(i => ('a' + (i * 7) % 26).toChar).mkString
    // Two docs embed the shared run at different offsets inside
    // otherwise-disjoint text; a third doc shares nothing.
    val docs = Seq(
      (1L, "qqqqqqqqqq" + shared + "rrrrrrrrrr"),
      (2L, "zzzz" + shared + "wwwwwwwwwwwwwwwwww"),
      (3L, "0123456789" * 8))
    docs.map { case (id, t) => (id, t, "en", "src0", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    val out = LlmOps.t29WinnowDups(spark, dir).collect()
    assert(out.nonEmpty, "the guaranteed-length shared span was not detected")
    assert(out.forall(_.getLong(1) >= 2))
  }

  test("t29 covers oversized docs via overlapping pre-chunks (r15; was: excluded)") {
    import spark.implicits._
    val dir = tempDir("t29pk")
    val g = LlmOps.SpanWindow + LlmOps.WinnowWindow - 1
    val shared = (0 until g).map(i => ('a' + (i * 7) % 26).toChar).mkString
    // Doc 3 is a 2^20+-char giant whose positions would not fit the
    // packed encoding in one piece. Before r15 it was excluded (a
    // book-length corpus silently lost its longest docs from span
    // dedup); now preChunkSegments covers it, so the shared span —
    // planted at the giant's TAIL, deep past the packing bound AND past
    // the first chunk boundary — counts doc 3 too: n_docs = 3.
    val giant = ("m" * (LlmOps.WinnowPosPack.toInt + 4321 - shared.length)) + shared
    val docs = Seq(
      (1L, "qqqqqqqqqq" + shared + "rrrrrrrrrr"),
      (2L, "zzzz" + shared + "wwwwwwwwwwwwwwwwww"),
      (3L, giant))
    docs.map { case (id, t) => (id, t, "en", "src0", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    val out = LlmOps.t29WinnowDups(spark, dir).collect()
    assert(out.nonEmpty)
    assert(out.exists(_.getLong(1) == 3L),
      "the pre-chunked oversize doc must contribute to the shared span's doc count")
    // The monitor still names the doc that took the pre-chunk path.
    val flagged = LlmOps.winnowOversized(Tables.documents(spark, dir))
      .select("doc_id").as[Long].collect().toSeq
    assert(flagged === Seq(3L))
  }

  test("pre-chunk guarantee holds for a span straddling the first chunk boundary") {
    import spark.implicits._
    val dir = tempDir("t29str")
    val g = LlmOps.SpanWindow + LlmOps.WinnowWindow - 1
    val shared = (0 until g).map(i => ('a' + (i * 11) % 26).toChar).mkString
    val maxLen = (LlmOps.WinnowPosPack - 1).toInt
    val stride = maxLen - g
    // Plant the shared span at global position stride + 5: it ends past
    // segment 0's last char (stride + 5 + g − 1 > maxLen − 1), so ONLY
    // segment 1 (offset = stride) fully contains it — the case the
    // overlap construction exists for.
    val p = stride + 5
    val giant = ("x" * p) + shared + ("y" * 2000)
    assert(giant.length > maxLen)
    val docs = Seq(
      (1L, "aaaaaaaaaa" + shared + "bbbbbbbbbb"),
      (2L, giant))
    docs.map { case (id, t) => (id, t, "en", "src0", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    val out = LlmOps.t29WinnowDups(spark, dir).collect()
    assert(out.nonEmpty, "boundary-straddling guaranteed span was not detected")
    assert(out.exists(_.getLong(1) == 2L))
  }

  test("t29 detects a winnowed subset of t19's duplicated spans on the corpus") {
    import spark.implicits._
    val t19 = LlmOps.t19DupSpans(spark, Sf).select("span_md5").as[String].collect().toSet
    val t29 = LlmOps.t29WinnowDups(spark, Sf).select("span_md5").as[String].collect().toSet
    assert(t29.nonEmpty && t19.nonEmpty)
    assert(t29.subsetOf(t19),
      "every winnowed duplicated span must also be a t19 duplicated span")
    assert(t29.size < t19.size,
      "winnowing must select strictly fewer spans than the every-position pass")
  }

  test("t29b: the span-index ingest equals the full winnowed recompute") {
    val viaIndex = LlmOps.t29bWinnowIngest(spark, Sf)
    val recompute = LlmOps.t29WinnowDups(spark, Sf)
    assert(viaIndex.columns.toSeq === recompute.columns.toSeq)
    assert(viaIndex.exceptAll(recompute).count() === 0)
    assert(recompute.exceptAll(viaIndex).count() === 0)
    assert(viaIndex.count() > 0)
  }

  test("t29b: the stored span table aggregates through its bucket layout") {
    import org.apache.spark.sql.functions._
    val stored = spark.table(
      s"${LlmOps.ensureSpanIndex(spark, Sf, Some(LlmOps.BatchSource))}_spans")
    val agged = stored.groupBy("hash").agg(count(lit(1)).as("nc"))
    agged.count()
    val plan = agged.queryExecution.executedPlan.toString
    assert(plan.contains("Bucketed: true"),
      s"span index should scan bucketed under the hash aggregate; plan:\n$plan")
    assert(!plan.contains("Exchange"),
      s"the per-hash count must reuse the bucket distribution; plan:\n$plan")
  }

  // -------------------------------------------------------------------
  // m6: banded phash near-dup pairs.
  // -------------------------------------------------------------------

  test("m6 equals the brute-force banded-candidate + hamming verify") {
    import spark.implicits._
    val ph = Multimodal.m5ImagePhash(spark, Sf)
      .select("doc_id", "phash").as[(Long, Long)].collect().toMap
    // Reference: the same two 8-bit bands, the same bucket cap, all
    // qualifying pairs, xor popcount <= PhashMaxHamming.
    val bands: Map[(Int, Long), Seq[Long]] = ph.toSeq
      .flatMap { case (id, h) => Seq(((0, h >> 8), id), ((1, h & 255), id)) }
      .groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val candPairs: Set[(Long, Long)] = bands.valuesIterator
      .filter(_.size <= LlmOps.LshBucketCap)
      .flatMap(ids => for (a <- ids; b <- ids if a < b) yield (a, b))
      .toSet
    val want: Set[(Long, Long, Long)] = candPairs
      .filter(p => java.lang.Long.bitCount(ph(p._1) ^ ph(p._2)) <= Multimodal.PhashMaxHamming)
      .map(p => (p._1, p._2, java.lang.Long.bitCount(ph(p._1) ^ ph(p._2)).toLong))
    val got = Multimodal.m6PhashNeardup(spark, Sf)
      .as[(Long, Long, Long)].collect().toSet
    assert(got === want)
    assert(got.nonEmpty, "fixture should contain at least one near-dup image pair")
  }
}
