package graft

import java.util.concurrent.{LinkedBlockingQueue, TimeUnit}

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.types.{StructType, TimestampType}

/** Fixture-drift canary (VERDICT r7 #2): the driver regenerates
  * /root/testdata between rounds and has already changed events.ts's
  * physical parquet type once (TIMESTAMP(NANOS) → timestamp[us]), which
  * silently broke 55 queries. This spec loads EVERY table from ALL
  * THREE sf dirs so the next regeneration breaks one named test here,
  * not dozens of anonymous gate rows.
  */
class TablesSpec extends SparkTestBase {
  import spark.implicits._

  private val sfDirs = Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01",
    "/root/testdata/sf0.1")

  for (dir <- sfDirs; name <- Tables.All) {
    test(s"$name loads and analyzes from $dir") {
      val df = if (name == "events") Tables.events(spark, dir)
               else Tables.load(spark, dir, name)
      // Force analysis + one row of execution; schema drift that the
      // loaders cannot adapt to fails HERE with the table name in the
      // test title.
      assert(df.limit(1).count() >= 0)
    }
  }

  for (dir <- sfDirs) {
    test(s"events.ts analyzes as TIMESTAMP from $dir") {
      assert(Tables.events(spark, dir).schema("ts").dataType === TimestampType)
    }
    test(s"o_orderdate and l_shipdate analyze as TIMESTAMP_NTZ from $dir") {
      import org.apache.spark.sql.types.TimestampNTZType
      assert(Tables.orders(spark, dir).schema("o_orderdate").dataType === TimestampNTZType)
      assert(Tables.lineitem(spark, dir).schema("l_shipdate").dataType === TimestampNTZType)
    }
  }

  /** Loader-visible schema of every fixture table, locked column by
    * column (name, Spark type, nullability) — round-9 canary extension:
    * a driver regeneration that drifts ANY column now fails one named
    * test per table here, instead of surfacing as dozens of anonymous
    * gate failures (the r7 events.ts outage mode). Types are
    * POST-normalization (what queries actually see): events.ts is
    * adapted to `timestamp`, o_orderdate/l_shipdate to `timestamp_ntz`,
    * whatever the parquet footer says.
    */
  private val lockedSchemas: Map[String, Seq[(String, String)]] = Map(
    "region" -> Seq("r_regionkey" -> "int", "r_name" -> "string"),
    "nation" -> Seq("n_nationkey" -> "int", "n_name" -> "string",
      "n_regionkey" -> "int"),
    "customer" -> Seq("c_custkey" -> "bigint", "c_name" -> "string",
      "c_nationkey" -> "int", "c_acctbal" -> "double", "c_mktsegment" -> "string"),
    "supplier" -> Seq("s_suppkey" -> "bigint", "s_name" -> "string",
      "s_nationkey" -> "int", "s_acctbal" -> "double"),
    "part" -> Seq("p_partkey" -> "bigint", "p_name" -> "string",
      "p_brand" -> "string", "p_type" -> "string", "p_size" -> "int",
      "p_retailprice" -> "double"),
    "orders" -> Seq("o_orderkey" -> "bigint", "o_custkey" -> "bigint",
      "o_orderstatus" -> "string", "o_totalprice" -> "double",
      "o_orderdate" -> "timestamp_ntz", "o_orderpriority" -> "string"),
    "lineitem" -> Seq("l_orderkey" -> "bigint", "l_partkey" -> "bigint",
      "l_suppkey" -> "bigint", "l_linenumber" -> "int", "l_quantity" -> "double",
      "l_extendedprice" -> "double", "l_discount" -> "double", "l_tax" -> "double",
      "l_returnflag" -> "string", "l_linestatus" -> "string",
      "l_shipdate" -> "timestamp_ntz"),
    "events" -> Seq("event_id" -> "bigint", "ts" -> "timestamp",
      "user_id" -> "bigint", "event_type" -> "string", "value" -> "double",
      "props" -> "string"),
    "documents" -> Seq("doc_id" -> "bigint", "text" -> "string",
      "lang" -> "string", "source" -> "string", "n_chars" -> "bigint"),
    "embeddings" -> Seq("vec_id" -> "bigint", "embedding" -> "array<float>",
      "label" -> "int"))

  for (dir <- sfDirs; name <- Tables.All) {
    test(s"$name full schema (names, types, nullability) is unchanged in $dir") {
      val df = name match {
        case "events"   => Tables.events(spark, dir)
        case "orders"   => Tables.orders(spark, dir)
        case "lineitem" => Tables.lineitem(spark, dir)
        case other      => Tables.load(spark, dir, other)
      }
      val got = df.schema.fields.toSeq.map(f => f.name -> f.dataType.simpleString)
      assert(got === lockedSchemas(name),
        s"\nfixture drift in $name: loader-visible schema changed — " +
          "if intentional, update lockedSchemas AND audit every query touching the column")
      // All fixture columns are written nullable; a required column would
      // change join/agg null semantics, so lock that too.
      val nonNullable = df.schema.fields.filterNot(_.nullable).map(_.name)
      assert(nonNullable.isEmpty,
        s"fixture drift in $name: columns became non-nullable: ${nonNullable.mkString(", ")}")
    }
  }

  /** Spark jobs that `f` submits, counted by a listener. A marker job run
    * after `f` flushes the listener's queue: its events arrive in order,
    * so every job `f` started is counted once the marker's start is seen.
    */
  private def jobsOf(f: => Unit): Int = {
    val started = new LinkedBlockingQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        started.put(Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.description")))
          .getOrElse(""))
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      f
      spark.sparkContext.setJobDescription("jobs-marker")
      try spark.sparkContext.parallelize(Seq(1), 1).count()
      finally spark.sparkContext.setJobDescription(null)
      Iterator.continually(started.poll(60, TimeUnit.SECONDS))
        .takeWhile { d => assert(d != null, "the marker job never started"); d != "jobs-marker" }
        .size
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("a second load of an unchanged path submits no Spark job and returns the same schema") {
    val dir = tempDir("schema_memo")
    spark.range(3).selectExpr("id", "cast(id as string) as s").write.parquet(s"$dir/t.parquet")
    var first, second: StructType = null
    assert(jobsOf { first = Tables.load(spark, dir, "t").schema } >= 1,
      "the first read of a path infers its schema")
    assert(jobsOf { second = Tables.load(spark, dir, "t").schema } === 0)
    assert(second === first)
  }

  test("overwriting a table with another column set yields the new schema") {
    val dir = tempDir("schema_rewrite")
    spark.range(3).selectExpr("id as a").write.parquet(s"$dir/t.parquet")
    assert(Tables.load(spark, dir, "t").columns.toSeq === Seq("a"))
    spark.range(3).selectExpr("id as b", "id * 2 as c").write.mode("overwrite").parquet(s"$dir/t.parquet")
    assert(Tables.load(spark, dir, "t").columns.toSeq === Seq("b", "c"))
    // A single-file table, the fixtures' layout, rewritten in place.
    def part(sub: String) = new java.io.File(s"$dir/$sub").listFiles()
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).head.toPath
    spark.range(3).selectExpr("id as x").coalesce(1).write.parquet(s"$dir/x")
    spark.range(3).selectExpr("id as y", "id as z").coalesce(1).write.parquet(s"$dir/yz")
    val file = java.nio.file.Paths.get(s"$dir/f.parquet")
    java.nio.file.Files.copy(part("x"), file)
    assert(Tables.load(spark, dir, "f").columns.toSeq === Seq("x"))
    java.nio.file.Files.copy(part("yz"), file, java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    assert(Tables.load(spark, dir, "f").columns.toSeq === Seq("y", "z"))
    assert(Tables.load(spark, dir, "f").count() === 3L)
  }

  test("the schema memo holds one entry per path") {
    val dir = tempDir("schema_entries")
    for (t <- Seq("t", "u")) spark.range(2).toDF(t).write.parquet(s"$dir/$t.parquet")
    for (_ <- 1 to 3; t <- Seq("t", "u")) Tables.load(spark, dir, t)
    spark.range(2).toDF("v").write.mode("overwrite").parquet(s"$dir/t.parquet")
    assert(Tables.load(spark, dir, "t").columns.toSeq === Seq("v"))
    assert(Tables.memoized(spark).filter(_.startsWith(dir)) ===
      Set(s"$dir/t.parquet", s"$dir/u.parquet"))
  }


  test("events loader adapts to the ts physical type (ntz fixture and us fixture agree)") {
    val dir = tempDir("ts_drift")
    // Write a timestamp column via Spark (TIMESTAMP, adjusted-to-UTC):
    // exercises the passthrough/cast branches; the driver fixture
    // (timestamp[us] NTZ) exercises the NTZ branch in every other test.
    Seq((1L, java.sql.Timestamp.valueOf("2024-01-02 03:04:05"), 7L, "click", """{"a":1}"""))
      .toDF("event_id", "ts", "user_id", "event_type", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val loaded = Tables.events(spark, dir)
    assert(loaded.schema("ts").dataType === org.apache.spark.sql.types.TimestampType)
    assert(loaded.count() === 1L)
    val fixture = Tables.events(spark, Sf)
    assert(fixture.schema("ts").dataType === org.apache.spark.sql.types.TimestampType)
  }

  test("registerAll isolates a broken table: the other nine views still work") {
    val dir = tempDir("reg_isolate")
    for (t <- Tables.All if t != "events")
      Tables.load(spark, Sf, t).limit(1).write.mode("overwrite").parquet(s"$dir/$t.parquet")
    // events.parquet exists but ts has an unadaptable type -> loader throws.
    Seq((1L, "not-a-timestamp")).toDF("event_id", "ts")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    try {
      Tables.registerAll(spark, dir)
      assert(spark.sql("SELECT count(*) FROM region").collect().head.getLong(0) === 1L)
      assert(spark.catalog.tableExists("nation"))
      assert(!spark.catalog.tableExists("events"),
        "a broken table must not leave a stale or half-registered view")
    } finally Tables.registerAll(spark, Sf) // restore the shared-session views
  }

  test("normalizeNtz adapts drifted encodings to identical wall-clock NTZ") {
    import org.apache.spark.sql.types.TimestampNTZType
    import spark.implicits._
    val dir = tempDir("ntz_drift")
    // Adjusted-UTC TimestampType fixture (one drift the driver could ship).
    Seq((1L, java.sql.Timestamp.valueOf("2024-03-04 05:06:07")))
      .toDF("k", "d").write.mode("overwrite").parquet(s"$dir/tz.parquet")
    val adapted = Tables.normalizeNtz(spark.read.parquet(s"$dir/tz.parquet"), "d")
    assert(adapted.schema("d").dataType === TimestampNTZType)
    assert(adapted.select(org.apache.spark.sql.functions.date_format(
      org.apache.spark.sql.functions.col("d"), "yyyy-MM-dd HH:mm:ss"))
      .head.getString(0) === "2024-03-04 05:06:07")
  }
}
