package graft

import org.apache.spark.sql.functions._

import graft.operators.Scale

/** The 100 TB claims, checked on the physical plan:
  *  - a bucketed fact×fact join runs with ZERO shuffle exchanges;
  *  - a salted join returns exactly the rows of the plain join.
  */
class ScaleSpec extends SparkTestBase {

  test("bucketed join on the bucket key has no shuffle exchange") {
    Scale.writeBucketed(
      Tables.orders(spark, Sf).select("o_orderkey", "o_custkey", "o_totalprice"),
      "bucketed_orders", "o_orderkey", 8)
    Scale.writeBucketed(
      Tables.lineitem(spark, Sf).select("l_orderkey", "l_quantity"),
      "bucketed_lineitem", "l_orderkey", 8)
    val joined = spark.table("bucketed_orders")
      .join(spark.table("bucketed_lineitem"),
        col("o_orderkey") === col("l_orderkey"))
    assert(joined.count() === Tables.lineitem(spark, Sf).count())
    val plan = joined.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange hashpartitioning"),
      s"bucketed join should not shuffle; plan:\n$plan")
  }

  test("range join matches the naive inequality join, incl. negative domain") {
    import spark.implicits._
    // Points straddle zero so the sign-correct floor-div is exercised:
    // Spark's `div` truncates toward zero, which would misbucket
    // negatives and silently DROP matches near bucket boundaries.
    val points = (-50L to 50L).map(p => (p, s"p$p")).toDF("v", "tag")
    val ranges = Seq(
      (0L, -45L, -20L), (1L, -10L, 12L), (2L, -3L, 3L),
      (3L, 7L, 7L) /* empty: hi not > lo */, (4L, 30L, 61L)).toDF("rid", "lo", "hi")
    val naive = points.join(ranges, col("v") >= col("lo") && col("v") < col("hi"))
      .select("rid", "v")
    val bucketed = Scale.rangeJoin(points, "v", ranges, "lo", "hi", bucketWidth = 7L)
      .select("rid", "v")
    assert(naive.count() > 0)
    assert(bucketed.exceptAll(naive).count() === 0)
    assert(naive.exceptAll(bucketed).count() === 0)
  }

  test("range join plans as an equi-join on the bucket, not a nested loop") {
    import spark.implicits._
    val points = (0L until 1000L).toDF("v")
    val ranges = (0L until 100L).map(r => (r, r * 10, r * 10 + 25)).toDF("rid", "lo", "hi")
    val plan = Scale.rangeJoin(points, "v", ranges, "lo", "hi", bucketWidth = 16L)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      s"range join must not plan a nested loop; plan:\n$plan")
  }

  test("global row numbers: range-partitioned two-pass equals the naive window") {
    import spark.implicits._
    val df = (0L until 10000L).map(i => ((i * 2654435761L) % 100000L, i % 7))
      .toDF("k", "grp").distinct()
    val naive = df.select(col("k"),
      org.apache.spark.sql.functions.row_number().over(
        org.apache.spark.sql.expressions.Window.orderBy("k")).cast("long").as("rn"))
    val scaled = Scale.globalRowNumbers(df, Seq("k"), numPartitions = 8)
      .select(col("k"), col("rn"))
    assert(scaled.exceptAll(naive).count() === 0)
    assert(naive.exceptAll(scaled).count() === 0)
    // The data path is range-partitioned — the whole point: the naive
    // form funnels every row through ONE task.
    val plan = scaled.queryExecution.executedPlan.toString
    assert(plan.contains("rangepartitioning"), s"expected range partitioning:\n$plan")
  }

  test("global row numbers: dense and unique when the range sample subsamples") {
    import spark.implicits._
    // r13 regression: the offsets aggregate and the main pass are two
    // subtrees over the same repartitionByRange, and RangePartitioner
    // seeds its reservoir from the RDD id — at LOW partition counts the
    // sample is a true subsample, so two separate evaluations could draw
    // different bounds and desync __pid↔offset (observed as duplicate
    // and gap rns, and nondeterministic q_fuzzy_match_name output, at 4
    // shuffle partitions). globalRowNumbers now pins ONE materialized
    // partitioning; this asserts the contract where it used to break:
    // few partitions, many rows per bound, several repeated evaluations.
    val df = (0L until 20000L).map(i => (i * 2654435761L) % 1000000007L)
      .toDF("k").distinct()
    (1 to 3).foreach { _ =>
      val rn = Scale.globalRowNumbers(df, Seq("k"), numPartitions = 3)
      val agg = rn.agg(
        org.apache.spark.sql.functions.count(col("rn")),
        org.apache.spark.sql.functions.countDistinct(col("rn")),
        org.apache.spark.sql.functions.min(col("rn")),
        org.apache.spark.sql.functions.max(col("rn"))).collect()(0)
      val n = agg.getLong(0)
      assert(agg.getLong(1) === n, "rn must be unique")
      assert(agg.getLong(2) === 1L && agg.getLong(3) === n, "rn must be dense 1..n")
    }
  }

  test("intervalJoin emits each overlapping pair exactly once, incl. negative coords") {
    import spark.implicits._
    // Overlaps spanning many shared buckets (the duplicate trap), an
    // exact-touch non-overlap (half-open), and negative coordinates
    // (the floor-div trap).
    val a = Seq((1L, 0L, 100L), (2L, -25L, -5L), (3L, 50L, 60L))
      .toDF("a_id", "a_lo", "a_hi")
    val b = Seq((10L, 10L, 90L),   // overlaps a1 across ~8 shared buckets
                (11L, 100L, 120L), // touches a1 at 100 exactly — NOT a match
                (12L, -10L, 1L),   // overlaps a1 and a2, crosses zero
                (13L, 55L, 58L))   // nested inside a3 (and inside a1)
      .toDF("b_id", "b_lo", "b_hi")
    val got = Scale.intervalJoin(a, "a_lo", "a_hi", b, "b_lo", "b_hi", bucketWidth = 10L)
      .select("a_id", "b_id").as[(Long, Long)].collect()
    assert(got.length === got.toSet.size, s"duplicate pairs: ${got.toSeq}")
    assert(got.toSet === Set(
      (1L, 10L), (1L, 12L), (2L, 12L), (3L, 10L), (3L, 13L), (1L, 13L)))
    // Cross-check vs the naive O(n·m) form on the same data.
    val naive = a.crossJoin(b)
      .where(col("a_lo") < col("b_hi") && col("b_lo") < col("a_hi"))
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    assert(got.toSet === naive)
  }

  test("compactFiles merges small files without changing the data") {
    import spark.implicits._
    val dir = tempDir("compact") + "/table"
    // 64 tiny files — the streaming-upsert debris shape.
    (1 to 6400).map(i => (i.toLong, s"v$i")).toDF("id", "v")
      .repartition(64).write.parquet(dir)
    def parts(d: String) = new java.io.File(d).listFiles()
      .count(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
    assert(parts(dir) === 64)
    val before = spark.read.parquet(dir).as[(Long, String)].collect().sorted.toSeq

    // A generous byte target collapses everything into one file.
    val n = graft.operators.Scale.compactFiles(spark, dir, targetBytes = 1L << 30)
    assert(n === 1L && parts(dir) === 1)
    assert(spark.read.parquet(dir).as[(Long, String)].collect().sorted.toSeq === before)
    assert(!new java.io.File(dir + "__compact").exists())
    assert(!new java.io.File(dir + "__old").exists())

    // A tight target keeps several files: ceil(bytes / target).
    val bytes = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.length()).sum
    val n2 = graft.operators.Scale.compactFiles(spark, dir, targetBytes = bytes / 3)
    assert(n2 >= 3L && parts(dir) >= 3)
    assert(spark.read.parquet(dir).as[(Long, String)].collect().sorted.toSeq === before)

    // Crash between the swap renames: data moved aside to __old, table
    // path missing. The retry must restore and then compact normally.
    java.nio.file.Files.move(
      java.nio.file.Paths.get(dir), java.nio.file.Paths.get(dir + "__old"))
    val n3 = graft.operators.Scale.compactFiles(spark, dir, targetBytes = 1L << 30)
    assert(n3 === 1L && parts(dir) === 1)
    assert(spark.read.parquet(dir).as[(Long, String)].collect().sorted.toSeq === before)
    assert(!new java.io.File(dir + "__old").exists())
  }

  test("intervalJoin ≡ naive overlap join over random intervals (property)") {
    import spark.implicits._
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    // Random half-open intervals straddling zero, widths 1..40 around a
    // width-10 bucket — multi-bucket spans, sub-bucket spans, negative
    // and boundary-touching coordinates all arise.
    val gen = for {
      lo <- Gen.chooseNum(-100L, 100L)
      w <- Gen.chooseNum(1L, 40L)
    } yield (lo, lo + w)
    def side(seed: Long, n: Int, p: String) =
      Gen.listOfN(n, gen).apply(Gen.Parameters.default, Seed(seed)).get
        .zipWithIndex.map { case ((lo, hi), i) => (i.toLong, lo, hi) }
        .toDF(s"${p}_id", s"${p}_lo", s"${p}_hi")
    val a = side(7L, 60, "a")
    val b = side(11L, 60, "b")
    val got = Scale.intervalJoin(a, "a_lo", "a_hi", b, "b_lo", "b_hi", bucketWidth = 10L)
      .select("a_id", "b_id").as[(Long, Long)].collect()
    assert(got.length === got.toSet.size, "pairs must be exactly-once")
    val naive = a.crossJoin(b)
      .where(col("a_lo") < col("b_hi") && col("b_lo") < col("a_hi"))
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    assert(got.toSet === naive)
  }

  test("AQE splits a skewed join partition automatically (no manual salting)") {
    // The config-level complement to the manual salting path below: at
    // 100 TB the FIRST answer to join skew is AQE's runtime split, and
    // this locks that the session's AQE settings actually engage it.
    // A child session isolates the aggressive thresholds demo-sized
    // data needs; production keeps the defaults.
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
    s2.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
    s2.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "64KB")
    s2.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "32KB")
    s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    import s2.implicits._
    // One hot key carrying 90% of the fact side among 50 uniform keys.
    val fact = (1 to 200000)
      .map(i => (if (i % 10 != 0) 999L else (i % 50).toLong, i.toLong))
      .toDF("k", "v")
    val dim = (0 to 50).map(_.toLong).union(Seq(999L)).map(k => (k, s"dim_$k"))
      .toDF("k", "name")
    val joined = fact.join(dim, "k")
    // collect() drives THIS DataFrame's QueryExecution — count() would
    // build a different one and leave this plan un-finalized
    // (isFinalPlan=false shows the pre-runtime plan, never skew marks).
    assert(joined.collect().length === 200000)
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("skew=true"),
      s"AQE did not mark the hot partition as skewed:\n${plan.take(2000)}")
  }

  test("q_compact deletes its scratch copy once its result is unreachable") {
    def compactDirs(): Set[String] = {
      val tmp = new java.io.File(System.getProperty("java.io.tmpdir"))
      tmp.listFiles().filter(_.getName.startsWith("graft_compact")).map(_.getName).toSet
    }
    val before = compactDirs()
    // A helper frame, so no result handle outlives it.
    def runAndDrop(): Unit = for (_ <- 1 to 2) Scale.qCompact(spark, Sf).count()
    runAndDrop()
    releasedAfterGc((compactDirs() -- before).isEmpty)
    val leaked = compactDirs() -- before
    assert(leaked.isEmpty,
      s"q_compact left scratch dirs behind after its results dropped: $leaked")
  }

  test("salted join returns exactly the plain join's rows") {
    val orders = Tables.orders(spark, Sf)
    val customer = Tables.customer(spark, Sf)
      .select(col("c_custkey").as("o_custkey"), col("c_mktsegment"))
    val plain = orders.join(customer, "o_custkey")
      .select("o_orderkey", "c_mktsegment")
    val salted = Scale.saltedEquiJoin(orders, customer, "o_custkey",
      salts = 4, bigUniqueCol = "o_orderkey")
      .select("o_orderkey", "c_mktsegment")
    assert(plain.count() === salted.count())
    assert(plain.exceptAll(salted).count() === 0)
    assert(salted.exceptAll(plain).count() === 0)
  }
}
