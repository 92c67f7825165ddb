package graft

import org.apache.spark.sql.functions._

import graft.operators.Relational

/** Behavioral checks for the round-7 operators, each against an
  * INDEPENDENT recomputation (Scala-side simulation or an alternative
  * plan) rather than the shared oracle SQL — the reconciliation idea
  * from SURVEY.md §5.2.5.
  */
class Round7Spec extends SparkTestBase {
  import spark.implicits._

  test("q_triangles equals a brute-force count over the same co-purchase graph") {
    val row = graft.operators.Graph.qTriangles(spark, Sf).collect().head
    val (nNodes, nEdges, nTri) = (row.getLong(0), row.getLong(1), row.getLong(2))
    // Independent recomputation: materialize the edge set in Scala and
    // enumerate closed wedges directly (no orientation machinery at all).
    val pairs = Tables.lineitem(spark, Sf)
      .select(col("l_orderkey"), col("l_partkey")).collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    val edges: Set[(Long, Long)] = pairs.groupBy(_._1).values.flatMap { lines =>
      val ss = lines.map(_._2).distinct.sorted
      for (i <- ss.indices; j <- (i + 1) until ss.length) yield (ss(i), ss(j))
    }.toSet
    val nodes = edges.flatMap(e => Seq(e._1, e._2))
    val adj = edges ++ edges.map(e => (e._2, e._1))
    val expected = edges.toSeq.map { case (a, b) =>
      nodes.count(c => c > b && adj((a, c)) && adj((b, c))).toLong
    }.sum
    assert(nNodes === nodes.size.toLong)
    assert(nEdges === edges.size.toLong)
    assert(nTri === expected, s"oriented wedge count $nTri != brute force $expected")
    assert(nTri > 0, "fixture graph must actually contain triangles")
  }

  test("d10 merges case/punctuation variants that byte-exact d1 keeps apart") {
    val dir = tempDir("norm_docs")
    val docs = Seq(
      (1L, "Hello, World! This is a Test.", "en", "src", 29L),
      (2L, "hello world this is a test", "en", "src", 26L),
      (3L, "HELLO   WORLD — this IS a test?!", "en", "src", 32L),
      (4L, "something else entirely", "en", "src", 23L))
    docs.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val d1 = graft.operators.LlmOps.d1DedupExact(spark, dir).count()
    val d10 = graft.operators.LlmOps.d10NormDedup(spark, dir)
      .collect().map(r => (r.getLong(1), r.getLong(2))).toMap
    assert(d1 === 4L, "byte-exact dedup sees four distinct texts")
    assert(d10 === Map(1L -> 3L, 4L -> 1L),
      s"normalized dedup must fold the three variants onto doc 1, got $d10")
  }

  test("d9 prefix join equals the unfiltered all-pairs join (no false negatives)") {
    val got = graft.operators.LlmOps.d9PrefixJoin(spark, Sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // Brute force in Scala over the same distinct shingle sets.
    val docs = Tables.documents(spark, Sf).select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1))
    val sets = docs.map { case (id, text) =>
      val t = text.split(' ')
      id -> t.sliding(3).filter(_.length == 3).map(_.mkString(" ")).toSet
    }.filter(_._2.nonEmpty)
    val expected = (for {
      i <- sets.indices; j <- (i + 1) until sets.length
      (ida, sa) = if (sets(i)._1 < sets(j)._1) sets(i) else sets(j)
      (idb, sb) = if (sets(i)._1 < sets(j)._1) sets(j) else sets(i)
      inter = (sa & sb).size.toLong
      union = sa.size + sb.size - inter
      if inter * 5 >= 4 * union
    } yield (ida, idb, (2000L * inter + union) / (2 * union))).toSet
    assert(expected.nonEmpty, "fixture must contain qualifying pairs")
    assert(got === expected)
  }

  test("q_winsorize clips both tails and preserves the interior") {
    val rows = graft.operators.Relational.qWinsorize(spark, Sf)
      .select(col("cents"), col("clipped_cents")).collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    // Clipping must engage at BOTH ends (the fixture has outliers)...
    assert(rows.exists { case (c, cl) => cl > c }, "low tail must clip up")
    assert(rows.exists { case (c, cl) => cl < c }, "high tail must clip down")
    // ...but only on the tails: ~5% per side per group, so the clipped
    // fraction stays near 10% overall.
    val nClipped = rows.count { case (c, cl) => cl != c }
    assert(nClipped * 100 <= rows.length * 12,
      s"$nClipped of ${rows.length} rows clipped — bounds are not tail ranks")
  }

  test("indexed triangles equal the recompute form") {
    val direct = graft.operators.Graph.qTriangles(spark, Sf).collect().head
    val indexed = graft.operators.Graph.qTrianglesIndexed(spark, Sf).collect().head
    assert((0 to 2).forall(i => direct.getLong(i) === indexed.getLong(i)),
      s"index changed the answer: $direct vs $indexed")
  }

  test("t23 novelty separates boilerplate from unique text") {
    // Ten docs share the same boilerplate sentence; one doc is unique
    // prose. With the df ≥ 2 floor the shared bigrams are frequent and
    // the unique doc's are rare — novelty must be 0 for the clones and
    // 1000 for the singleton, and a half-boilerplate doc sits between.
    val boiler = "please subscribe to our newsletter for updates"
    val unique = "quantum marmots recalibrate the gradient telescope nightly"
    val half = boiler + " whereupon zeppelins audit crystalline spreadsheets"
    val dir = tempDir("novelty_docs")
    val docs = (1L to 10L).map(i => (i, boiler, "en", "src", boiler.length.toLong)) ++
      Seq((11L, unique, "en", "src", unique.length.toLong),
          (12L, half, "en", "src", half.length.toLong))
    docs.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = graft.operators.LlmOps.t23RareBigrams(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    assert(got(1L) === 0L, "boilerplate clones must score 0")
    assert(got(11L) === 1000L, "a fully unique doc must score 1000")
    assert(got(12L) > 0L && got(12L) < 1000L,
      s"mixed doc must land strictly between, got ${got(12L)}")
  }

  test("a13 mode argmax breaks count ties on the alphabetically first value") {
    // min(struct(-cnt, lang)) must equal the row_number()-over-
    // (cnt DESC, lang)=1 row. Plant an exact tie: src1 has aa=2, bb=2.
    val df = Seq(
      ("src1", "bb"), ("src1", "bb"), ("src1", "aa"), ("src1", "aa"),
      ("src2", "zz"), ("src2", "zz"), ("src2", "aa")).toDF("source", "lang")
    val got = df.groupBy("source", "lang").agg(count(lit(1)).as("cnt"))
      .groupBy("source")
      .agg(min(struct((-col("cnt")).as("neg_cnt"), col("lang"))).as("m"))
      .select(col("source"), col("m.lang").as("mode_lang"),
        (-col("m.neg_cnt")).as("n_docs"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    assert(got === Set(("src1", "aa", 2L), ("src2", "zz", 2L)))
  }

  test("w8 running distinct equals a per-user Scala simulation") {
    val got = Relational.w8RunningDistinct(spark, Sf)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    val events = Tables.events(spark, Sf)
      .select(col("user_id"), col("ts").cast("long").as("t"),
        col("event_id"), col("event_type"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    assert(events.nonEmpty)
    val expected = events.groupBy(_._1).toSeq.flatMap { case (_, evs) =>
      val seen = scala.collection.mutable.Set[String]()
      evs.sortBy(e => (e._2, e._3)).map { e =>
        seen += e._4
        e._3 -> seen.size.toLong
      }.toSeq
    }
    assert(got.size === events.length)
    expected.foreach { case (id, n) => assert(got(id) === n, s"event $id") }
  }

  test("q_group_regression recovers an exact planted slope as a rational") {
    // y = 3x + 40 daily: slope_num/slope_den must equal exactly 3.
    val df = (0 until 200).flatMap { x =>
      Seq((1L, x.toLong, 3L * x + 40L))
    }.toDF("nation", "x", "y")
    val got = df.groupBy("nation")
      .agg(count(lit(1)).as("n_days"),
        sum("x").as("sx"), sum("y").as("sy"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"))
      .select(
        (col("n_days") * col("sxy") - col("sx") * col("sy")).as("num"),
        (col("n_days") * col("sxx") - col("sx") * col("sx")).as("den"))
      .collect().head
    val (num, den) = (got.getLong(0), got.getLong(1))
    assert(den > 0 && num === 3 * den, s"num=$num den=$den")
  }

  test("f16 lambda HOFs agree with a driver-side fold over the same vectors") {
    val rows = Relational.f16Hof(spark, Sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    val raw = Tables.embeddings(spark, Sf)
      .select(col("vec_id"), col("embedding")).collect()
    assert(raw.nonEmpty && rows.size === raw.length)
    raw.foreach { r =>
      val vec = r.getSeq[Float](1)
      val milli = vec.map(x => math.round(x.toDouble * 1000))
      val exp = (
        vec.count(_ > 0f).toLong,
        if (vec.exists(_ > 0.5f)) 1L else 0L,
        milli.sum,
        milli.map(m => m * m).sum)
      assert(rows(r.getLong(0)) === exp, s"vec ${r.getLong(0)}")
    }
  }

  test("j10 bloom pre-join equals the plain exact join") {
    val viaBloom = Relational.j10BloomPrejoin(spark, Sf)
    val plain = Tables.orders(spark, Sf)
      .join(Tables.customer(spark, Sf).filter(col("c_mktsegment") === "BUILDING"),
        col("o_custkey") === col("c_custkey"))
      .select(col("o_orderkey"), col("o_custkey"),
        expr("cast(round(o_totalprice * 100) as bigint)").as("cents"))
    assert(viaBloom.count() === plain.count())
    assert(viaBloom.exceptAll(plain).isEmpty && plain.exceptAll(viaBloom).isEmpty)
  }

  test("m5 phash is perceptual: a one-pixel edit moves ≤ 2 bits, md5 moves entirely") {
    // Two docs, identical but for ONE character inside the pixel
    // section (same n_chars → same geometry). Geometry is chosen so
    // every grid sample hits a DISTINCT pixel (604 chars → w=13, h=5:
    // px = 0,2,5,7,10 and py = 0,1,2,3 all distinct — with h < 4 the
    // four grid rows would alias one pixel row and a single flipped
    // comparison would replicate 4×, reviewer finding), and the edit
    // targets the first byte of SAMPLED pixel (px=2, py=0), grid cell
    // (gx=1, gy=0) — so at most that cell's two horizontal comparisons
    // can flip, while the exact checksum (d1's signal) changes
    // completely. This is the property that makes phash a DEDUP key.
    val base = ("the quick brown fox jumps over the lazy dog " * 20).take(604)
    val edited = base.updated(6, 'Z')
    val dir = tempDir("phash_docs")
    Seq((1L, base, "en", "src", base.length.toLong),
        (2L, edited, "en", "src", edited.length.toLong))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val rows = graft.operators.Multimodal.m5ImagePhash(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val hamming = java.lang.Long.bitCount(rows(1L) ^ rows(2L))
    assert(hamming <= 2, s"one-pixel edit moved $hamming bits")
    val md5s = graft.operators.Multimodal.m1MediaMeta(spark, dir)
      .select(col("doc_id"), col("checksum")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(md5s(1L) !== md5s(2L))
  }

  test("q_pagerank matches a full Scala simulation of the nano-mass power iteration") {
    val got = graft.operators.Graph.qPagerank(spark, Sf)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val e0 = Tables.orders(spark, Sf)
      .join(Tables.lineitem(spark, Sf), col("o_orderkey") === col("l_orderkey"))
      .select((col("o_custkey") * 2).as("src"), (col("l_partkey") * 2 + 1).as("dst"))
      .distinct().collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(e0.nonEmpty)
    val edges = e0 ++ e0.map { case (s, d) => (d, s) }
    val deg = edges.groupBy(_._1).map { case (n, es) => n -> es.size.toLong }
    val n = deg.size.toLong
    var rank: Map[Long, Long] = deg.map { case (node, _) => node -> 1000000000L / n }
    for (_ <- 1 to graft.operators.Graph.PagerankIters) {
      val inbound = edges.groupBy(_._2)
      rank = deg.map { case (node, _) =>
        val s = inbound(node).map { case (u, _) => 850 * (rank(u) / deg(u)) / 1000 }.sum
        node -> (150000000L / n + s)
      }
    }
    assert(got.size === rank.size)
    rank.foreach { case (node, r) => assert(got(node) === r, s"node $node") }
    // Floored mass stays within the unit budget and most of it survives.
    val total = got.values.sum
    assert(total <= 1000000000L && total > 900000000L)
  }

  test("q_kmeans matches a full Scala simulation of the integer Lloyd loop") {
    val got = graft.operators.Similarity.qKmeansCluster(spark, Sf)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    // Independent simulation: same pinned init, shift, argmin tie-break
    // and round-half-up centroid mean, straight Scala collections.
    val vecs = Tables.embeddings(spark, Sf)
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getLong(0) ->
        r.getSeq[Float](1).map(x => math.round(x.toDouble * 1000) + 1000L).toArray)
      .sortBy(_._1)
    assert(vecs.nonEmpty)
    val k = graft.operators.Similarity.KmeansK
    var centroids: Map[Long, Array[Long]] =
      vecs.take(k).zipWithIndex.map { case ((_, v), i) => i.toLong -> v.clone() }.toMap
    var assign: Map[Long, (Long, Long)] = Map.empty
    for (iter <- 1 to graft.operators.Similarity.KmeansIters) {
      assign = vecs.map { case (id, v) =>
        val best = centroids.toSeq.map { case (cid, c) =>
          val d = v.indices.map(i => (v(i) - c(i)) * (v(i) - c(i))).sum
          (d, cid)
        }.min
        id -> ((best._2, best._1))
      }.toMap
      if (iter < graft.operators.Similarity.KmeansIters)
        centroids = assign.toSeq.groupBy(_._2._1).map { case (cid, members) =>
          val vs = members.map { case (id, _) => vecs.find(_._1 == id).get._2 }
          val dim = vs.head.length
          cid -> Array.tabulate(dim) { i =>
            val s = vs.map(_(i)).sum
            (2 * s + vs.size) / (2L * vs.size)
          }
        }
    }
    assert(got.size === vecs.length)
    assign.foreach { case (id, exp) => assert(got(id) === exp, s"vec $id") }
  }
}
