package graft.streaming

import java.util.concurrent.atomic.AtomicInteger

import scala.reflect.runtime.universe.TypeTag

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Deduplicate,
  DeduplicateWithinWatermark, Distinct, FlatMapGroupsInPandasWithState, FlatMapGroupsWithState,
  Join, LogicalPlan, TransformWithState, TransformWithStateInPySpark}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, OutputMode, StatefulProcessor, StreamingQuery, TimeMode, Trigger}
import org.apache.spark.sql.types.StructType

/** Structured Streaming over the `events` table (SURVEY.md §2.9 / M6).
  * The reference is a weekly batch with no streaming semantics; these are
  * the engine's streaming extension, kept deterministic for the oracle:
  *
  *  - source: [[fileStream]], a file stream over `<dir>/<table>.parquet`,
  *    a single file (the fixtures) or a directory of files landing over
  *    time, read through a one-alternative brace glob on any Hadoop
  *    filesystem; schema pinned from the batch read's schema memo
  *    ([[graft.Tables.read]]), events ts nanos → micros exactly like
  *    Tables.events;
  *  - one runner, [[run]]: state-store partitions derived from the
  *    source's bytes, the RocksDB provider for transformWithState plans
  *    only, AQE off for stateful plans, no trailing no-data batch where
  *    it cannot emit a row, a throwaway checkpoint and
  *    Trigger.AvailableNow (process everything currently available, then
  *    stop — a deterministic, resumable batch-over-stream run, the
  *    pattern a 100 TB backfill would use), all scoped to the one run;
  *  - watermark declared on every aggregation (state-eviction contract —
  *    with AvailableNow + complete output it does not drop finals, so
  *    results equal the batch twin);
  *  - two sinks: the memory sink in complete mode for bounded aggregates
  *    ([[inMemory]]) and an executor-side parquet append for data-sized
  *    output ([[appended]]); the foreachBatch writers of st8 show the
  *    production shape (any batch sink per micro-batch).
  *
  * Each query returns the post-run result as a DataFrame so the driver's
  * Verify/oracle machinery treats streaming like any other operator;
  * DuckDB twins: time_bucket for tumbling, a 2-way window union for
  * sliding, gap-islands SQL for session windows.
  */
object Streaming {

  private val runId = new AtomicInteger(0)

  /** Streaming scratch (checkpoint dirs full of state-store files,
    * append outputs) is deleted at JVM exit ([[graft.Scratch]]);
    * checkpoints are per-run throwaways by design (a resumable job
    * passes its OWN checkpointLocation, see StreamingResumeSpec).
    */
  private def scratchDir(prefix: String): String = graft.Scratch.dir(prefix).toString

  /** File stream over `<dir>/<table>.parquet`, a single file or a
    * directory. The file source refuses a plain FILE path (it sets
    * `basePath` to the path, which must be a directory), but it sets
    * `basePath` only for a non-glob path, and the one-alternative brace
    * glob `<dir>/{<table>.parquet}` matches exactly that file or that
    * directory — so no staging, on any Hadoop filesystem. Spark's batch
    * reader globs the same path, so a glob character in `dir` is no new
    * exposure. The schema is the batch read's ([[graft.Tables.read]]):
    * inferred once per listing of the path, not once per stream.
    */
  private[graft] def fileStream(spark: SparkSession, dir: String, table: String): DataFrame =
    spark.readStream
      .schema(graft.Tables.read(spark, graft.Tables.path(dir, table)).schema)
      .parquet(s"$dir/{$table.parquet}")

  /** [[fileStream]] over events with the batch loader's ts normalization
    * (the ts physical type drifts across fixture generations).
    */
  private[graft] def events(spark: SparkSession, dir: String): DataFrame =
    graft.Tables.normalizeEventTs(fileStream(spark, dir, "events"))

  private val ShufflePartitions = "spark.sql.shuffle.partitions"
  private[graft] val StateStoreProvider = "spark.sql.streaming.stateStore.providerClass"
  private[graft] val RocksDb = "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
  private[graft] val Aqe = "spark.sql.adaptive.enabled"
  private[graft] val NoDataBatches = "spark.sql.streaming.noDataMicroBatches.enabled"

  /** Whether `p` keeps streaming state: the operators Spark's
    * unsupported-operation check counts as stateful (its own test is
    * private).
    */
  private def stateful(p: LogicalPlan): Boolean = p match {
    case j: Join => j.left.isStreaming && j.right.isStreaming
    case _: Aggregate | _: Distinct | _: Deduplicate | _: DeduplicateWithinWatermark |
         _: FlatMapGroupsWithState | _: FlatMapGroupsInPandasWithState |
         _: TransformWithState | _: TransformWithStateInPySpark => p.isStreaming
    case _ => false
  }

  /** A stateful operator whose state eviction never emits a row: a
    * deduplication drops expired keys and an inner stream-stream join
    * drops expired rows; neither outputs anything for them. Outer joins
    * emit their unmatched rows, aggregates and session windows their
    * closed groups, and the `*WithState` operators their timers, at
    * eviction, so those keep the trailing no-data batch.
    */
  private def evictsSilently(p: LogicalPlan): Boolean = p match {
    case _: Deduplicate | _: DeduplicateWithinWatermark => true
    case j: Join => j.joinType == Inner
    case _ => false
  }

  /** Runs `streamed`, a stream over `<dir>/<table>.parquet`, to the end
    * of `trigger` into `sink`, and returns the finished query (its
    * progress and state-operator metrics). Scoped to this one run, and
    * restored afterwards even when a batch throws:
    *
    *  - `spark.sql.shuffle.partitions`, which fixes the state-store count,
    *    from the source's input bytes ([[derivedStreamPartitions]]): the
    *    sum of the lengths in the listing the source's schema was read
    *    with ([[graft.Tables.lastListing]]), so the path is not walked
    *    again;
    *  - the RocksDB state-store provider, only when the plan holds a
    *    transformWithState (that API refuses the heap store; every other
    *    stateful operator keeps the heap store, the measured faster one
    *    at harness scale, or whatever provider the caller set);
    *  - AQE off when the plan holds a stateful operator. Spark turns it
    *    off for those plans anyway, their foreachBatch writes included,
    *    so st5's write plan is the same with and without the scope; the
    *    scope only spares `ResolveWriteToStream`'s warning (Spark 4.1's
    *    `MicroBatchExecution` logs its own "Disabling AQE" for every
    *    stateful plan, whatever the conf). Stateless plans (st14) keep
    *    the session's AQE for their foreachBatch writes;
    *  - no no-data micro-batches when the plan holds a stateful operator
    *    and every one evicts silently ([[evictsSilently]]): after the
    *    last data batch, AvailableNow would run one more batch only to
    *    advance the watermark and evict state, and for these plans that
    *    batch emits no row (st5 ran it at 69 ms after its 215 ms data
    *    batch, on 4 CPUs). Every other stateful plan keeps it, since
    *    there it is the batch that emits the evicted rows.
    *
    * A fresh scratch checkpoint goes with every run.
    */
  private[graft] def run(spark: SparkSession, dir: String, table: String, streamed: DataFrame,
                         trigger: Trigger = Trigger.AvailableNow())
                        (sink: DataStreamWriter[Row] => DataStreamWriter[Row]): StreamingQuery = {
    val bytes = graft.Tables.lastListing(spark, graft.Tables.path(dir, table)).bytes
    val states = streamed.queryExecution.analyzed.collect { case p if stateful(p) => p }
    val rocks = states.exists(_.isInstanceOf[TransformWithState])
    graft.Sessions.withConf(spark,
      Seq(ShufflePartitions -> derivedStreamPartitions(spark, bytes).toString) ++
        (if (rocks) Seq(StateStoreProvider -> RocksDb) else Nil) ++
        (if (states.nonEmpty) Seq(Aqe -> "false") else Nil) ++
        (if (states.nonEmpty && states.forall(evictsSilently)) Seq(NoDataBatches -> "false")
         else Nil): _*) {
      val q = sink(streamed.writeStream)
        .option("checkpointLocation", scratchDir("graft_ckpt"))
        .trigger(trigger)
        .start()
      q.awaitTermination()
      q
    }
  }

  /** The memory sink, complete mode, for bounded aggregates: [[run]]
    * `agged` over events and return the final table.
    */
  private def inMemory(spark: SparkSession, dir: String, agged: DataFrame): DataFrame = {
    val name = s"graft_stream_${runId.incrementAndGet()}"
    run(spark, dir, "events", agged)(_.format("memory").queryName(name).outputMode("complete"))
    val result = spark.table(name)
    // The memory sink holds the whole aggregate in DRIVER memory behind
    // the temp view. The resolved plan already holds the sink, so drop
    // the view now: the data then lives exactly as long as the result,
    // and views do not pile up run after run.
    spark.catalog.dropTempView(name)
    result
  }

  /** Append mode → parquet for DATA-SIZED streaming output
    * (stream-stream join matches, dedup keys, transformWithState rows):
    * each micro-batch's newly emitted rows are appended as executor-side
    * parquet writes, then the result is re-read — the driver never
    * materializes the output (round-5 finding: st4/st7 returned join
    * results through a driver memory sink, the one driver bottleneck
    * left at 100×).
    */
  private def appended(spark: SparkSession, dir: String, table: String, streamed: DataFrame,
                       trigger: Trigger = Trigger.AvailableNow()): DataFrame = {
    val outDir = scratchDir("graft_stream_out")
    run(spark, dir, table, streamed, trigger)(_.outputMode("append")
      .foreachBatch { (batch: DataFrame, _: Long) => batch.write.mode("append").parquet(outDir) })
    readBack(spark, outDir, streamed.schema)
  }

  /** A sink's parquet output re-read with the streamed `schema`, or an
    * empty frame of it when no batch ever created `outDir` (every batch
    * empty, never pre-seeded); a created but footer-less dir reads empty
    * through the explicit schema. Checked through the path's Hadoop
    * `FileSystem`, like [[graft.Tables.listing]].
    */
  private def readBack(spark: SparkSession, outDir: String, schema: StructType): DataFrame = {
    val path = new org.apache.hadoop.fs.Path(outDir)
    if (path.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(path))
      spark.read.schema(schema).parquet(outDir)
    else spark.createDataFrame(new java.util.ArrayList[Row](), schema)
  }

  /** ST14: streaming near-duplicate gate — the dedup family's ingest
    * loop run IN-FLIGHT: each arriving document (source = 'src0', the
    * same "new batch" d5 models) is shingled, minhash-banded, and
    * band-joined against the STORED corpus index
    * ([[graft.operators.LlmOps.ensureCorpusIndex]]'s bucketed band +
    * shingle-set tables), with the exact Jaccard verified against the
    * stored shingle sets — d5b's incremental ingest as a stream.
    *
    * Contract: one ALERT row per (new_doc, existing_doc, band)
    * collision, with the exact `jaccard_milli` on every row —
    * deliberately at-least-once per colliding band rather than
    * distinct-per-pair, because pair-level dedup would need unbounded
    * stream state (`dropDuplicates` keyed on an ever-growing pair set);
    * the consumer's batch compaction dedups alerts with ONE exact
    * shuffle, the engine's standard split between in-flight signal and
    * batch truth. The parquet-append sink is itself at-least-once on a
    * replayed micro-batch (appends are not idempotent), so a retried
    * run can emit MORE than NumBands rows per pair — the per-band row
    * count is a clean-run property, never part of the contract; only
    * "≥ 1 alert per colliding band, exact jaccard on every row" is.
    * Everything here is map work + stream-static
    * broadcast-able joins: NO stream state at all, so the query runs at
    * any corpus scale with constant memory.
    *
    * The stream side computes its signature PER ROW (array HOFs over
    * the carried shingle array — bounded per document, the multimodal
    * m3 "bounded lambda at ingest" precedent) rather than through
    * minhashBandsOf's groupBy, which would be a stateful streaming
    * aggregation; the two formulations produce byte-identical band keys
    * (min over the same 60-bit seeded hashes — the r13 int64 signature).
    * The expressions are LlmOps.perRowMinExprs/bandKeyExprs, shared with
    * minhashBandsOf itself, so the stream side cannot silently drift
    * from the stored corpus bands (LlmOpsSpec locks the parity).
    */
  def st14StreamNeardup(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.LlmOps
    val prefix = LlmOps.ensureCorpusIndex(spark, dir)
    // Shared with minhashBandsOf (single source of truth — the two
    // formulations drifting apart would silently stop stream/corpus
    // band collisions; LlmOpsSpec locks the parity).
    // The seeded mins run over the PRE-HASHED array `sa` (min over the
    // distinct set equals min over the shingle multiset), so the stream
    // side pays one md5 per shingle and eight multiply-shift HOFs —
    // the same r15 hash-bank shape as the batch side.
    val bandKeys = LlmOps.bandKeyExprs
    val incoming = fileStream(spark, dir, "documents")
      .filter(col("source") === LlmOps.BatchSource)
      .select(col("doc_id").as("new_doc"), split(col("text"), " ").as("toks"))
      .filter(size(col("toks")) >= 3)
      .select(col("new_doc"), expr(LlmOps.shingleArrayExpr("toks")).as("sh"))
      .select(col("new_doc"),
        expr("array_sort(transform(array_distinct(sh), x -> " +
          LlmOps.shingleHash60("x") + "))").as("sa"))
      .select(col("new_doc") +: col("sa") +:
        LlmOps.perRowMinExprs("sa").map(expr): _*)
      .select(col("new_doc"), col("sa"),
        posexplode(array(bandKeys.map(expr): _*)).as(Seq("band", "bkey")))
    val corpusBands = spark.table(s"${prefix}_bands")
      .select(col("doc_id").as("existing_doc"), col("band").as("band_c"),
        col("bkey").as("bkey_c"))
    // No broadcast hints: the static sides are re-planned per
    // micro-batch, so the planner broadcasts them while they fit (the
    // fixture case) and falls back to a shuffled join against the
    // bucketed index layout when a 100 TB corpus outgrows any broadcast.
    val alerts = incoming
      .join(corpusBands,
        col("band") === col("band_c") && col("bkey") === col("bkey_c"))
      .join(spark.table(s"${prefix}_shingles").toDF("existing_doc", "sb"),
        "existing_doc")
      .withColumn("i", expr("sorted_intersect_count(sa, sb)"))
      .select(col("new_doc"), col("existing_doc"), col("band").cast("long").as("band"),
        expr(LlmOps.milli("i", "size(sa) + size(sb) - i")).as("jaccard_milli"))
    appended(spark, dir, "documents", alerts)
  }

  /** Scale-adaptive state-store partition count (r17, VERDICT r16 #5),
    * from a source's input bytes (0 for a missing or unreadable path, so
    * the count floors): stateful streaming creates one state store per
    * shuffle partition,
    * and each store costs real per-batch overhead (commit + snapshot per
    * store per micro-batch — a stream-stream join holds FOUR stores per
    * partition). The count is sized to the source's INPUT BYTES — one
    * state partition per [[StreamBytesPerPartition]] of input, floored
    * at 4 and capped at the session's defaultParallelism — rather than a
    * constant tuned for either local mode or the cluster (guide §2:
    * partitions sized to bytes, not cores). The floor of 4 is the
    * r16/r17 measured local optimum: the r17 full-family interleaved A/B
    * at sf0.1 (10 queries × 2-vs-4, 3 warm reps) read 2 partitions as a
    * LOSS for the aggregation family (st1 0.87→0.97 s, st3 1.29→1.53,
    * st8 1.03→1.21) and only a wash for the stream-stream joins (st7
    * 2.04→1.92, st10 2.05→1.98), so the byte rule only ever scales the
    * default UP from the measured floor; at 100 TB it yields thousands
    * of partitions, capped by the session's actual parallelism — no
    * silent serialization into 4 state stores.
    */
  private[graft] val StreamBytesPerPartition: Long = 16L << 20

  private[graft] def derivedStreamPartitions(spark: SparkSession, srcBytes: Long): Int = {
    val byData = (srcBytes + StreamBytesPerPartition - 1) / StreamBytesPerPartition
    val cap = math.max(4L, spark.sparkContext.defaultParallelism.toLong)
    math.max(4L, math.min(byData, cap)).toInt
  }

  /** The production sink path: foreachBatch gives each micro-batch to
    * the full batch writer API (parquet here — any batch sink works:
    * JDBC, object store, multi-sink fan-out). With complete output
    * mode each batch carries the whole aggregate state, so
    * overwrite-per-batch leaves the final state on disk. Returns the
    * written result re-read.
    */
  def tumblingToParquet(spark: SparkSession, dir: String, outDir: String): DataFrame = {
    val agged = tumblingAgg(spark, dir)
    run(spark, dir, "events", agged)(_.outputMode("complete")
      .foreachBatch { (batch: DataFrame, _: Long) => batch.write.mode("overwrite").parquet(outDir) })
    readBack(spark, outDir, agged.schema)
  }

  /** Tumbling 1-hour windows per event_type over the events stream:
    * `window_start`, `event_type`, `n_events` and then the `extra`
    * aggregates. st1 adds a value sum; the two foreachBatch sinks write
    * the bare count.
    */
  private[graft] def tumblingAgg(spark: SparkSession, dir: String, extra: Column*): DataFrame = {
    val agged = events(spark, dir)
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count("*").as("n_events"), extra: _*)
    agged.select(col("window.start").as("window_start") +: agged.columns.tail.toSeq.map(col): _*)
  }

  /** ST8: streaming UPSERT sink — foreachBatch routed through the K6
    * dynamic-partition-overwrite writer ([[graft.sinks.Sinks
    * .overwritePartitions]]): each micro-batch replaces ONLY the
    * partitions it carries and leaves every other partition of the
    * target table untouched. This closes the incremental-ingest loop
    * end-to-end (stream → partition-scoped table maintenance): a plain
    * overwrite sink would delete partitions owned by other
    * sources/backfills, an append sink would duplicate reprocessed
    * windows — partition-scoped overwrite is the idempotent middle.
    * Returns the target table re-read (partition column last).
    */
  def upsertToPartitions(spark: SparkSession, dir: String, outDir: String): DataFrame = {
    val agged = tumblingAgg(spark, dir)
    run(spark, dir, "events", agged)(_.outputMode("complete").foreachBatch { (batch: DataFrame, _: Long) =>
      // Two actions per batch (emptiness probe + write): pin the batch
      // so the micro-batch aggregation runs once, not twice (reviewer
      // finding; the standard persist-around-foreachBatch pattern).
      val pinned = batch.persist()
      try {
        if (!pinned.isEmpty)
          graft.sinks.Sinks.overwritePartitions(pinned, outDir, Seq("event_type"))
      } finally pinned.unpersist(false)
    })
    readBack(spark, outDir, agged.schema)
  }

  /** ST1: tumbling 1-hour windows per event_type: count + value sum. */
  def tumblingCounts(spark: SparkSession, dir: String): DataFrame =
    // value sums as integer MILLIS (per-event round, then sum): a
    // 2-dp-rounded double sum is order-dependent in its last ULP, and
    // the oracle compares floats exactly — the repo-wide integer-milli
    // discipline applies to streaming aggregates too (reviewer finding).
    inMemory(spark, dir, tumblingAgg(spark, dir,
      sum(expr("cast(round(value * 1000) as bigint)")).as("total_value_milli")))

  /** Sliding 1-hour windows every 30 minutes, per event_type. */
  def slidingCounts(spark: SparkSession, dir: String): DataFrame = {
    val agged = events(spark, dir)
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour", "30 minutes"), col("event_type"))
      .agg(count("*").as("n_events"))
    inMemory(spark, dir, agged)
      .select(col("window.start").as("window_start"), col("event_type"), col("n_events"))
  }

  /** The stream-stream join family's plan (st4 inner, st7 left outer,
    * st10 full outer): each purchase matched to signups of the same user
    * within the preceding 7 days. Both sides carry watermarks; the
    * time-range condition bounds the join state Spark must hold
    * (without it, stream-stream state grows forever). Matches are
    * data-sized, so the family runs through [[appended]].
    */
  private def signupsToPurchases(spark: SparkSession, dir: String, joinType: String): DataFrame =
    appended(spark, dir, "events", signupsJoin(spark, dir, joinType))

  /** [[signupsToPurchases]]'s plan. */
  private[graft] def signupsJoin(spark: SparkSession, dir: String, joinType: String): DataFrame = {
    val signups = events(spark, dir)
      .filter(col("event_type") === "signup")
      .select(col("event_id").as("signup_id"), col("user_id").as("s_user"),
        col("ts").as("s_ts"))
      .withWatermark("s_ts", "10 minutes")
    val purchases = events(spark, dir)
      .filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id").as("p_user"),
        col("ts").as("p_ts"))
      .withWatermark("p_ts", "10 minutes")
    signups.join(purchases,
      col("s_user") === col("p_user") &&
        col("p_ts") >= col("s_ts") &&
        col("p_ts") <= col("s_ts") + expr("INTERVAL 7 DAYS"),
      joinType)
  }

  /** ST4: stream-stream inner join with event-time bounds. Inner join +
    * AvailableNow emits exactly the batch join's rows, so the DuckDB twin
    * is a plain range self-join. Inner matches emit as they arrive, so
    * the run is one data batch with no trailing no-data batch ([[run]]).
    */
  def streamStreamJoin(spark: SparkSession, dir: String): DataFrame =
    signupsToPurchases(spark, dir, "inner")
      .select(col("signup_id"), col("purchase_id"),
        col("s_user").as("user_id"), col("s_ts"), col("p_ts"))

  /** ST7: stream-stream LEFT OUTER join with event-time bounds — the
    * semantics st4's inner join can't express: a signup with no purchase
    * in its 7-day window still emits, null-extended, once the watermark
    * proves no match can arrive. This is the funnel/abandonment query
    * (signups that never converted) as an incremental computation.
    *
    * The contract being exercised: an outer match is emittable only
    * after the GLOBAL watermark (min over both streams' watermarks,
    * Spark's default multi-watermark policy) passes the left row's last
    * possible match time (s_ts + 7 days). AvailableNow runs the
    * data batch, then a final no-data batch in which the advanced
    * watermark evicts-and-emits those unmatched rows — so signups
    * younger than 7 days + 10 min before the stream's end correctly
    * do NOT emit (their window is still open; a longer-running stream
    * would emit them later). The DuckDB twin states the same cutoff
    * explicitly: NOT EXISTS ∧ s_ts + 7 days < min(max s_ts, max p_ts)
    * − 10 min. Null-extended columns are coalesced to -1 sentinels ON
    * BOTH SIDES so the hash compare never meets a NULL.
    */
  def streamStreamLeftJoin(spark: SparkSession, dir: String): DataFrame =
    signupsToPurchases(spark, dir, "leftOuter")
      .select(col("signup_id"), col("s_user").as("user_id"), col("s_ts"),
        coalesce(col("purchase_id"), lit(-1L)).as("purchase_id"),
        coalesce(unix_millis(col("p_ts")), lit(-1L)).as("p_ms"))

  /** ST10: stream-stream FULL OUTER join — completes the stream-join
    * family (st4 inner, st7 left): BOTH unmatched sides emit
    * null-extended once the watermark closes their match window. The
    * eviction rules differ per side, and that asymmetry is the point:
    *  - an unmatched SIGNUP emits when the watermark passes the last
    *    possible purchase time it could match (s_ts + 7 days) — same
    *    rule as st7;
    *  - an unmatched PURCHASE emits when the watermark passes p_ts
    *    itself: the range condition implies a matching signup has
    *    s_ts ∈ [p_ts − 7d, p_ts], so once no signup ≤ p_ts can still
    *    arrive, the purchase is provably unmatched.
    * The DuckDB twin states both cutoffs explicitly against the global
    * watermark (min of the two streams' max-ts − 10 min). Null-extended
    * columns are −1-coalesced on both sides so the hash compare never
    * meets a NULL. Join state at scale is bounded by the 7-day range on
    * the signup side and by the watermark delay on the purchase side —
    * the same state bound st4 documents, held on both stores.
    */
  def streamStreamFullOuter(spark: SparkSession, dir: String): DataFrame =
    signupsToPurchases(spark, dir, "fullOuter")
      .select(
        coalesce(col("signup_id"), lit(-1L)).as("signup_id"),
        coalesce(col("purchase_id"), lit(-1L)).as("purchase_id"),
        coalesce(col("s_user"), col("p_user")).as("user_id"),
        coalesce(unix_millis(col("s_ts")), lit(-1L)).as("s_ms"),
        coalesce(unix_millis(col("p_ts")), lit(-1L)).as("p_ms"))

  /** ST5's plan: the (event_type, user_id, minute) keys of the events
    * stream, deduplicated within the watermark.
    */
  private[graft] def dedupKeys(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir)
      .select(col("event_type"), col("user_id"),
        date_trunc("minute", col("ts")).as("minute"))
      .withWatermark("minute", "10 minutes")
      .dropDuplicatesWithinWatermark("event_type", "user_id", "minute")

  /** ST5: streaming ingestion dedup — the at-ingest half of the dedup
    * family (d1 is the batch half): duplicate events dropped as they
    * stream in, keyed on (event_type, user_id, minute bucket).
    * `dropDuplicatesWithinWatermark` bounds the dedup state: a key is
    * held only until the watermark passes its event time + delay — the
    * production contract for an unbounded 100 TB/day ingest, where plain
    * dropDuplicates would accumulate state forever.
    *
    * Determinism for the oracle: only the KEY columns are emitted (not
    * the winning representative row), and the single-file fixture is one
    * AvailableNow micro-batch — no state eviction mid-run, and no
    * trailing no-data batch ([[run]]: dedup eviction emits nothing) — so
    * the output equals the batch `SELECT DISTINCT` twin exactly. Across
    * real multi-batch runs, re-emission after the horizon is the
    * documented semantics, not a bug. Surviving keys are data-sized, so
    * they take [[appended]], not the driver memory sink.
    */
  def streamDedup(spark: SparkSession, dir: String): DataFrame =
    appended(spark, dir, "events", dedupKeys(spark, dir)).select("event_type", "user_id", "minute")

  /** ST8: the streaming upsert sink as an oracle-checked query — run
    * [[upsertToPartitions]] into a fresh target and return the table it
    * maintains. With AvailableNow over the fixture the maintained table
    * equals the batch tumbling aggregate, so the DuckDB twin is the
    * time_bucket groupBy — the correctness statement that
    * partition-scoped overwrite composes to exactly-once table
    * maintenance.
    */
  def st8StreamUpsert(spark: SparkSession, dir: String): DataFrame = {
    val out = scratchDir("graft_st8") + "/table"
    upsertToPartitions(spark, dir, out)
      .select(col("window_start"), col("event_type"), col("n_events"))
  }

  /** ST9: the typed custom-state sessionizer
    * ([[Sessionize.sessions]], flatMapGroupsWithState) as an
    * oracle-checked query — the §2.10 custom-state escape hatch held to
    * the same DuckDB gaps-and-islands twin as the built-in
    * session_window (st3), not just to a ScalaTest equivalence.
    */
  def st9SessionizeCustom(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Sessionize.sessions(spark,
        graft.Tables.events(spark, dir)
          .select(col("user_id"), col("ts")).as[Sessionize.Ev])
      .toDF()
      .select(col("session_start"), col("session_end"), col("user_id"), col("n_events"))
  }

  /** ST6: stream-static enrichment join — the most common production
    * streaming shape: events stream joined to a batch dimension table
    * (customer segments) at ingest. The static side is re-planned per
    * micro-batch as a BROADCAST hash join, so unlike the stream-stream
    * join (st4) there is NO join state to bound — the only state is the
    * downstream windowed aggregate. At 100 TB/day this is how dimension
    * enrichment runs: broadcast the dim, never shuffle the stream.
    */
  def streamStaticJoin(spark: SparkSession, dir: String): DataFrame = {
    val dim = graft.Tables.customer(spark, dir)
      .select(col("c_custkey").as("user_id"), col("c_mktsegment").as("segment"))
    val agged = events(spark, dir)
      .withWatermark("ts", "10 minutes")
      .join(broadcast(dim), "user_id")
      .groupBy(window(col("ts"), "1 hour"), col("segment"), col("event_type"))
      .agg(count("*").as("n_events"))
    inMemory(spark, dir, agged)
      .select(col("window.start").as("window_start"), col("segment"),
        col("event_type"), col("n_events"))
  }

  /** 30-minute-gap session windows per user: start, end (last event +
    * gap), event count. Session state is the canonical
    * mapGroupsWithState-class workload expressed with the built-in
    * session_window operator (built-ins first, SURVEY.md §2.10).
    */
  def sessionCounts(spark: SparkSession, dir: String): DataFrame = {
    val agged = events(spark, dir)
      .withWatermark("ts", "10 minutes")
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count("*").as("n_events"))
    inMemory(spark, dir, agged)
      .select(
        col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("user_id"), col("n_events"))
  }

  /** The transformWithState family's plan (st11-st13): `evs`, any
    * (streaming) events frame with (user_id, ts, event_id), grouped by
    * user and run through `processor` in append mode. The API runs only
    * on the RocksDB state store, which [[run]] scopes for these plans —
    * also simply the right default at scale: per-user state for every
    * user ever seen outlives any executor heap. MilestonesSpec feeds it
    * a hand-staged multi-batch stream.
    */
  private[graft] def transformOf[R <: Product : TypeTag](
      spark: SparkSession, evs: DataFrame,
      processor: StatefulProcessor[Long, Milestones.MEv, R], timeMode: TimeMode): DataFrame = {
    import spark.implicits._
    evs.select(col("user_id"), col("ts"), col("event_id"))
      .as[Milestones.MEv]
      .groupByKey(_.user_id)
      .transformWithState(processor, timeMode, OutputMode.Append())
      .toDF()
  }

  /** ST11: per-user count milestones via Spark 4's transformWithState —
    * see [[Milestones]] for the processor and the determinism contract.
    * Append mode through the executor-side parquet sink; output rows ∝
    * events/Step.
    */
  def st11Milestones(spark: SparkSession, dir: String): DataFrame =
    appended(spark, dir, "events",
      transformOf(spark, events(spark, dir), new Milestones.MilestoneProcessor, TimeMode.None()))

  /** ST12: inactivity (churn) detection via EVENT-TIME TIMERS in
    * transformWithState — see [[Milestones.InactivityProcessor]]. The
    * watermark drives emission: a user's row appears when the
    * watermark passes their last event + 30 min, i.e. WITHOUT any
    * further input for that key. With AvailableNow the final watermark
    * settles at max(ts) − 10 min, so exactly the users whose last
    * event is older than (max − 10 min − 30 min) emit — the
    * deterministic contract the DuckDB twin states; still-active
    * users' state would emit on the next day's run.
    */
  def st12Inactivity(spark: SparkSession, dir: String): DataFrame =
    appended(spark, dir, "events", inactivityOf(spark, dir))

  /** ST12's plan. Its timers fire in the trailing no-data batch. */
  private[graft] def inactivityOf(spark: SparkSession, dir: String): DataFrame =
    transformOf(spark, events(spark, dir).withWatermark("ts", "10 minutes"),
      new Milestones.InactivityProcessor, TimeMode.EventTime())

  /** ST13: TTL-expiring per-user counters — see
    * [[Milestones.TtlCountProcessor]] for the semantics and the
    * Trigger.Once requirement (state TTL forces
    * TimeMode.ProcessingTime, which never quiesces under AvailableNow).
    */
  def st13TtlState(spark: SparkSession, dir: String): DataFrame =
    appended(spark, dir, "events",
      transformOf(spark, events(spark, dir), new Milestones.TtlCountProcessor, TimeMode.ProcessingTime()),
      // Trigger.Once is deprecated in favor of AvailableNow, but
      // AvailableNow is exactly what CANNOT terminate here (see the
      // processor scaladoc) — the deprecation is wrong for this shape.
      (Trigger.Once(): @annotation.nowarn("cat=deprecation")))
}
