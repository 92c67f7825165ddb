package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryException, TimeMode}

import graft.streaming.{Milestones, Streaming}

/** Streaming results must equal their batch twins (the §2.9 contract:
  * AvailableNow + complete output ≡ batch over the same data).
  */
class StreamingSpec extends SparkTestBase {

  private def assertSameRows(stream: DataFrame, batch: DataFrame): Unit = {
    assert(stream.count() > 0)
    assert(stream.exceptAll(batch).count() === 0)
    assert(batch.exceptAll(stream).count() === 0)
  }

  test("tumbling streaming windows equal the batch groupBy-window twin") {
    val batch = Tables.events(spark, Sf)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count("*").as("n_events"),
        sum(expr("cast(round(value * 1000) as bigint)")).as("total_value_milli"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n_events"), col("total_value_milli"))
    assertSameRows(Streaming.tumblingCounts(spark, Sf), batch)
  }

  test("foreachBatch parquet sink holds the final aggregate state") {
    val out = tempDir("stream_sink")
    val written = Streaming.tumblingToParquet(spark, Sf, out)
    val batch = Tables.events(spark, Sf)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count("*").as("n_events"))
      .select(col("window.start").as("window_start"), col("event_type"), col("n_events"))
    assertSameRows(written, batch)
  }

  test("streaming upsert sink replaces only its own partitions") {
    import spark.implicits._
    val out = tempDir("stream_upsert")
    // Pre-seed a partition owned by "another pipeline": event_type values
    // in the stream never include 'seeded', so the upsert must not touch it.
    Seq((java.sql.Timestamp.valueOf("2000-01-01 00:00:00"), "seeded", 7L))
      .toDF("window_start", "event_type", "n_events")
      .write.partitionBy("event_type").mode("append").parquet(out)
    // Partition-column reads append event_type LAST; re-pin the column
    // order since exceptAll compares positionally.
    val written = Streaming.upsertToPartitions(spark, Sf, out)
      .select("window_start", "event_type", "n_events")
    // The foreign partition survived intact...
    val seeded = written.filter(col("event_type") === "seeded")
    assert(seeded.count() === 1)
    assert(seeded.select("n_events").as[Long].head() === 7L)
    // ...and the stream's own partitions hold exactly the batch twin.
    val batch = Tables.events(spark, Sf)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count("*").as("n_events"))
      .select(col("window.start").as("window_start"), col("event_type"), col("n_events"))
    assertSameRows(written.filter(col("event_type") =!= "seeded"), batch)
    // Idempotence: re-running the same window replaces, never duplicates.
    val rerun = Streaming.upsertToPartitions(spark, Sf, out)
      .select("window_start", "event_type", "n_events")
    assertSameRows(rerun.filter(col("event_type") =!= "seeded"), batch)
    assert(rerun.filter(col("event_type") === "seeded").count() === 1)
  }

  test("session streaming windows equal the batch session_window twin") {
    val batch = Tables.events(spark, Sf)
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count("*").as("n_events"))
      .select(
        col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("user_id"), col("n_events"))
    assertSameRows(Streaming.sessionCounts(spark, Sf), batch)
  }

  test("derived stream partitions scale with input bytes, floored and capped") {
    val target = Streaming.StreamBytesPerPartition
    val cap = math.max(4, spark.sparkContext.defaultParallelism)
    // Fixture-sized inputs sit at the measured local-optimum floor (4).
    assert(Streaming.derivedStreamPartitions(spark, 0L) === 4)
    assert(Streaming.derivedStreamPartitions(spark, 2L << 20) === 4)
    // Past the floor the count follows the byte rule (ceil bytes/target),
    // capped at the session's parallelism: an unset conf can never
    // produce more state stores than the session has cores to commit.
    assert(Streaming.derivedStreamPartitions(spark, 6 * target)
      === math.min(6, cap))
    assert(Streaming.derivedStreamPartitions(spark, 6 * target + 1)
      === math.min(7, cap))
    assert(Streaming.derivedStreamPartitions(spark, 100000L * target) === cap)
    // Input bytes come from the path's Hadoop FileSystem listing: a file:
    // URI reads the same recursive size as the bare local path, and a
    // missing path reads 0.
    def bytes(p: String): Long = Tables.listing(spark, p).bytes
    val dir = tempDir("stream_bytes")
    java.nio.file.Files.write(java.nio.file.Paths.get(dir, "a.bin"), new Array[Byte](1000))
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir, "sub"))
    java.nio.file.Files.write(java.nio.file.Paths.get(dir, "sub", "b.bin"), new Array[Byte](234))
    assert(bytes(dir) === 1234L)
    assert(bytes(s"file:$dir") === 1234L)
    assert(bytes(new java.io.File(dir).toURI.toString) === 1234L)
    assert(bytes(s"file:$dir/a.bin") === 1000L)
    assert(bytes(s"file:$dir/missing") === 0L)
    val events = s"$Sf/events.parquet"
    assert(bytes(s"file:$events") > 0L)
    assert(bytes(s"file:$events") === bytes(events))
    // The runner reads the listing the source's schema was read with.
    Streaming.events(spark, Sf)
    assert(Tables.lastListing(spark, events).bytes === bytes(events))
  }

  test("st10 full outer: matched subset equals st4's inner join; sentinels disjoint") {
    val full = Streaming.streamStreamFullOuter(spark, Sf).collect()
    val matched = full.filter(r => r.getLong(0) != -1L && r.getLong(1) != -1L)
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val inner = Streaming.streamStreamJoin(spark, Sf)
      .select(col("signup_id"), col("purchase_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(matched === inner, "full-outer matched rows must equal the inner join")
    // No row may be null-extended on BOTH sides.
    assert(!full.exists(r => r.getLong(0) == -1L && r.getLong(1) == -1L))
    // Null-extended rows exist on each side in the fixture (signups that
    // never converted; purchases with no preceding signup).
    assert(full.exists(r => r.getLong(1) == -1L), "expected unmatched signups")
    assert(full.exists(r => r.getLong(0) == -1L), "expected unmatched purchases")
  }


  test("st13: one Trigger.Once batch yields fresh-state per-user counts") {
    val out = Streaming.st13TtlState(spark, Sf)
    val rows = out.collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    assert(rows.nonEmpty)
    assert(rows.forall(!_._3), "fresh checkpoint: no key may report prior state")
    val expected = Tables.events(spark, Sf).groupBy("user_id").count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(rows.map(r => r._1 -> r._2).toMap === expected)
  }

  /** `events` streamed from `dir` to the end through the runner, read
    * back from a memory sink.
    */
  private def streamedEvents(dir: String, name: String): DataFrame = {
    Streaming.run(spark, dir, "events", Streaming.events(spark, dir))(
      _.format("memory").queryName(name).outputMode("append"))
    spark.table(name)
  }

  test("the file source streams a single file and a multi-file directory with the batch rows") {
    val batch = Tables.events(spark, Sf)
    assertSameRows(streamedEvents(Sf, "src_single_file"), batch)
    // The same rows as four files in an events.parquet directory, the
    // layout files landing over time produce.
    val dir = tempDir("stream_src_dir")
    spark.read.parquet(s"$Sf/events.parquet").repartition(4)
      .write.parquet(s"$dir/events.parquet")
    assert(new java.io.File(s"$dir/events.parquet").list().count(_.endsWith(".parquet")) === 4)
    assertSameRows(streamedEvents(dir, "src_file_dir"), batch)
  }

  test("the runner scopes partitions and state store to its run, also when a batch throws") {
    val keys = Seq("spark.sql.shuffle.partitions", Streaming.StateStoreProvider,
      Streaming.Aqe, Streaming.NoDataBatches)
    def confs = keys.map(spark.conf.getAll.get)
    val before = confs
    val milestones = Streaming.transformOf(spark, Streaming.events(spark, Sf),
      new Milestones.MilestoneProcessor, TimeMode.None())
    def scopedIn(plan: DataFrame): Seq[Option[String]] = {
      var inside = Seq.empty[Option[String]]
      Streaming.run(spark, Sf, "events", plan)(_.outputMode("append")
        .foreachBatch { (b: DataFrame, _: Long) =>
          inside = keys.map(b.sparkSession.conf.getOption)
          b.count(); ()
        })
      inside
    }
    // The sf0.001 corpus derives the floor of 4 state partitions; a
    // transformWithState plan keeps its no-data batches (the default).
    assert(scopedIn(milestones) === Seq(Some("4"), Some(Streaming.RocksDb), Some("false"), Some("true")))
    assert(confs === before)
    // st5's dedup evicts silently, so its run has no no-data batches.
    assert(scopedIn(Streaming.dedupKeys(spark, Sf)).drop(2) === Seq(Some("false"), Some("false")))
    assert(confs === before)
    for (plan <- Seq(milestones, Streaming.dedupKeys(spark, Sf))) {
      val failed = intercept[StreamingQueryException] {
        Streaming.run(spark, Sf, "events", plan)(_.outputMode("append")
          .foreachBatch { (_: DataFrame, _: Long) => throw new IllegalStateException("batch failed") })
      }
      assert(failed.getCause.getMessage.contains("batch failed"), failed)
      assert(confs === before)
    }
  }

  test("only plans whose state eviction emits run a trailing no-data batch") {
    def batches(plan: DataFrame): Int =
      Streaming.run(spark, Sf, "events", plan)(_.outputMode("append")
        .foreachBatch { (b: DataFrame, _: Long) => b.count(); () })
        .recentProgress.map(_.batchId).distinct.length
    // st4's inner join and st5's dedup: the data batch only.
    assert(batches(Streaming.signupsJoin(spark, Sf, "inner")) === 1)
    assert(batches(Streaming.dedupKeys(spark, Sf)) === 1)
    // st7 and st10 emit unmatched rows, st12 fires its timers, in the
    // trailing batch.
    for (outer <- Seq("leftOuter", "fullOuter"))
      assert(batches(Streaming.signupsJoin(spark, Sf, outer)) === 2, outer)
    assert(batches(Streaming.inactivityOf(spark, Sf)) === 2)
  }

  test("st11 runs on the RocksDB state store while st1 and st5 keep the heap store") {
    def stateMetrics(plan: DataFrame, mode: String): Set[String] =
      Streaming.run(spark, Sf, "events", plan)(_.outputMode(mode)
        .foreachBatch { (b: DataFrame, _: Long) => b.count(); () })
        .recentProgress.flatMap(_.stateOperators).flatMap(_.customMetrics.keySet.asScala).toSet
    val st1 = stateMetrics(Streaming.tumblingAgg(spark, Sf,
      sum(expr("cast(round(value * 1000) as bigint)")).as("total_value_milli")), "complete")
    val st5 = stateMetrics(Streaming.dedupKeys(spark, Sf), "append")
    val st11 = stateMetrics(Streaming.transformOf(spark, Streaming.events(spark, Sf),
      new Milestones.MilestoneProcessor, TimeMode.None()), "append")
    def rocks(metrics: Set[String]) = metrics.exists(_.startsWith("rocksdb"))
    assert(rocks(st11), st11)
    for (heap <- Seq(st1, st5)) {
      assert(heap.contains("loadedMapCacheHitCount"), heap)
      assert(!rocks(heap), heap)
    }
  }
}
