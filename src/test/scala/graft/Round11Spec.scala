package graft

import org.apache.spark.sql.functions._

import graft.operators.{Delta, Graph, LlmOps, Scale}

/** Round-11 additions: BPE merge application (t28), the composed
  * near-dup curation manifest (shared CC pass), the bucketed adjacency
  * triangle form's exchange-free plan lock, checksum layout invariance
  * incl. compaction, and the empty-events rollup guard.
  */
class Round11Spec extends SparkTestBase {

  // -------------------------------------------------------------------
  // t28: BPE merge application.
  // -------------------------------------------------------------------

  test("t28 applies ranked merges with Sennrich leftmost non-overlap semantics") {
    import spark.implicits._
    val dir = tempDir("t28")
    // Hand-computed corpus. Words: abab×3, cd×3, aaa×1, bab×1.
    // Pair counts: ab 7 (6 from abab + 1 from bab), ba 4, cd 3, aa 2 →
    // ranked merges (count desc, a, b): (a,b) (b,a) (c,d) (a,a).
    //  - abab → (a,b) twice → [ab, ab]; (b,a) can NOT fire afterwards
    //    (its left side is the single-char 'b', not the merged 'ab').
    //  - bab  → 'b a b': (a,b) fires on the SECOND pair only (leftmost
    //    scan sees (b,a) first, which is not the rank-1 merge) → [b, ab];
    //    then (b,a) must NOT merge b+ab across the symbol boundary.
    //  - aaa  → (a,a) pairs leftmost non-overlapping → [aa, a].
    //  - cd   → [cd].
    Seq((10L, "abab abab cd"), (20L, "abab cd cd"), (30L, "aaa bab"))
      .map { case (id, t) => (id, t, "en", "src0", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    val out = LlmOps.t28BpeEncode(spark, dir)
      .as[(String, Long, Long)].collect().toSet
    assert(out === Set(
      ("ab", 7L, 2L),   // 3×2 from abab + 1 from bab; 2 distinct words
      ("cd", 3L, 1L),
      ("aa", 1L, 1L),
      ("a", 1L, 1L),    // the unpaired tail of aaa
      ("b", 1L, 1L)))   // bab's prefix, protected from the (b,a) merge
  }

  test("t28 on a merge-free corpus returns single-character symbols") {
    import spark.implicits._
    val dir = tempDir("t28_single")
    // Only 1-char words → zero pair statistics → empty merge list; the
    // fold must return the initial single-char symbolization on both
    // engines (the coalesce([]) note in the oracle).
    Seq((10L, "a b a"), (20L, "b"))
      .map { case (id, t) => (id, t, "en", "src0", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    val out = LlmOps.t28BpeEncode(spark, dir)
      .as[(String, Long, Long)].collect().toSet
    assert(out === Set(("a", 2L, 1L), ("b", 2L, 1L)))
  }

  // -------------------------------------------------------------------
  // Composed near-dup curation: one CC pass, quality-elected survivors.
  // -------------------------------------------------------------------

  test("curationNeardupManifest runs the CC loop once and keeps elected survivors") {
    import spark.implicits._
    val dir = tempDir("cur_nd")
    // The d12 toy: docs 10/20 are near-dups (Jaccard 10/11 ≥ threshold),
    // 20 is longer → higher quality → elected survivor; 30 is a
    // singleton. d1's exact-hash stage would keep ALL three (no exact
    // duplicates exist) — the near-dup stage must drop 10.
    val base = "alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo lima"
    Seq(
      (10L, base),
      (20L, base + " mike"),
      (30L, "november oscar papa quebec romeo sierra tango uniform victor whiskey xray yankee"))
      .map { case (id, t) => (id, t, "en", "src0", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    val ccBefore = LlmOps.ccRuns
    val out = LlmOps.curationNeardupManifest(spark, dir)
    val kept = out.select("doc_id").as[Long].collect().toSet
    // The composition discipline the d12 bench-cost note mandates: the
    // candidate pipeline + CC loop executed ONCE for the whole composed
    // plan, not once per consuming stage.
    assert(LlmOps.ccRuns - ccBefore === 1,
      "composed manifest must share one connected-components pass")
    assert(kept === Set(20L, 30L))
    // Sanity: the exact-dedup manifest keeps the near-dup pair intact.
    val exact = LlmOps.curationManifest(spark, dir)
      .select("doc_id").as[Long].collect().toSet
    assert(exact === Set(10L, 20L, 30L))
  }

  // -------------------------------------------------------------------
  // Bucketed adjacency triangles: answer parity + exchange-free lock.
  // -------------------------------------------------------------------

  // An adaptive plan's toString prints Final AND Initial sections;
  // plan-shape counts must scope to the final one.
  private def finalPlan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)

  test("q_triangles_adj_idx matches the wedge count off the stored layout") {
    val adj = Graph.qTrianglesAdjIdx(spark, Sf).collect()(0)
    val wedge = Graph.qTriangles(spark, Sf).collect()(0)
    assert(adj === wedge)
    assert(adj.getLong(2) > 0, "fixture co-purchase graph must contain triangles")
  }

  test("bucketed adjacency build and src attach run exchange-free") {
    // Disable broadcast so the attach joins exercise the partitioning
    // path the 100 TB claim is about (at fixture scale Catalyst would
    // happily broadcast the adjacency table, which also has no exchange
    // but proves nothing about the stored layout).
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val df = Graph.qTrianglesAdjIdx(spark, Sf)
      df.collect()
      val p = finalPlan(df)
      // Exactly ONE data exchange may appear in the final-plan section:
      // the O(m) edge stream re-keying onto dst for the second attach —
      // the one shuffle the scaladoc promises. The adjacency groupBy
      // runs directly on the bucketed FileScan and the src attach join
      // needs no exchange on either side; the n_nodes distinct lives
      // inside the broadcast build stage, outside this section.
      val exchanges = "Exchange hashpartitioning\\(([a-z_]+)".r
        .findAllMatchIn(p).map(_.group(1)).toSeq
      assert(exchanges === Seq("dst"),
        s"bucketed layout not exchange-free on build/src-attach ($exchanges):\n$p")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  // -------------------------------------------------------------------
  // Checksum: layout invariance, compaction, and the maintenance use.
  // -------------------------------------------------------------------

  test("checksum is byte-identical across file layouts and after compaction") {
    val dir = tempDir("ck_layout")
    val cols = Seq("doc_id", "text", "lang", "source", "n_chars")
    val src = Tables.documents(spark, Sf)
    // Two copies of the same content under deliberately different
    // physical layouts: many small round-robin files vs few key-hashed
    // sorted files — the "compare two 100 TB copies" use case where no
    // sort or join is affordable.
    src.repartition(17).write.parquet(s"$dir/a")
    src.repartition(3, col("source")).sortWithinPartitions("doc_id")
      .write.parquet(s"$dir/b")
    val ha = Delta.tableChecksum(spark.read.parquet(s"$dir/a"), cols).collect()(0)
    val hb = Delta.tableChecksum(spark.read.parquet(s"$dir/b"), cols).collect()(0)
    assert(ha === hb, "same content, different layout must fold identically")
    // The maintenance contract: compaction rewrites files, never content
    // — the checksum is the proof a compaction job did no harm.
    val nFilesBefore = new java.io.File(s"$dir/a").listFiles()
      .count(_.getName.endsWith(".parquet"))
    Scale.compactFiles(spark, s"$dir/a", targetBytes = 64L << 20)
    val nFilesAfter = new java.io.File(s"$dir/a").listFiles()
      .count(_.getName.endsWith(".parquet"))
    assert(nFilesAfter < nFilesBefore, "compaction must actually merge files")
    val hc = Delta.tableChecksum(spark.read.parquet(s"$dir/a"), cols).collect()(0)
    assert(hc === ha, "compaction must preserve content bit-for-bit")
  }

  // -------------------------------------------------------------------
  // Rollup: empty-input guard (advisor finding).
  // -------------------------------------------------------------------

  test("incremental rollup on an empty events table returns empty, not null chaos") {
    val dir = tempDir("rollup_empty")
    Tables.events(spark, Sf).filter(lit(false))
      .write.parquet(s"$dir/events.parquet")
    val out = Scale.qIncrementalRollup(spark, dir)
    assert(out.columns.toSeq ===
      Seq("day", "event_type", "n_events", "total_value_milli"))
    assert(out.isEmpty)
  }

  // -------------------------------------------------------------------
  // d13: leakage-safe group split — near-dup components never straddle
  // train/val/test.
  // -------------------------------------------------------------------

  test("d13 splits by near-dup group where t8's per-doc split would leak") {
    import spark.implicits._
    val dir = tempDir("d13")
    // Docs 8 and 9 are near-dups (shingle Jaccard 10/11 ≥ threshold, the
    // d12 fixture trick). Their PER-DOC hash buckets straddle the split
    // boundary — md5("8") buckets to 96 (test), md5("9") to 60 (train) —
    // which is exactly the eval-leakage case t8 cannot prevent. Doc 30
    // is an unrelated singleton (bucket 35, train).
    val base = "alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo lima"
    Seq((8L, base), (9L, base + " mike"),
      (30L, "november oscar papa quebec romeo sierra tango uniform victor whiskey xray yankee"))
      .map { case (id, t) => (id, t, "en", "src0", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")

    // Precondition: t8 really does straddle this pair — the leak exists.
    val t8 = LlmOps.t8HashSplit(spark, dir)
      .select("doc_id", "split").as[(Long, String)].collect().toMap
    assert(t8(8L) === "test" && t8(9L) === "train",
      "fixture must exhibit the straddle t8 cannot prevent")

    // d13: both members take the CANONICAL id's bucket (min id 8 → 96 →
    // test); the singleton behaves exactly like t8 on its own id.
    val out = LlmOps.d13GroupSplit(spark, dir)
      .select("doc_id", "canonical_id", "bucket", "split")
      .as[(Long, Long, Long, String)].collect().toSet
    assert(out === Set(
      (8L, 8L, 96L, "test"),
      (9L, 8L, 96L, "test"),
      (30L, 30L, 35L, "train")))
    // The no-straddle invariant, stated directly: one split per group.
    assert(out.groupBy(_._2).forall { case (_, rows) =>
      rows.map(_._4).toSet.size == 1 })
  }
}
