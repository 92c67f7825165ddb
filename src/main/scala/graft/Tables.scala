package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Loaders for the driver-generated parquet corpus (TESTDATA.md).
  *
  * One method per table; every query in the engine reads through here so
  * path handling, and any future source swap (s3a://, bucketed tables,
  * DSv2), is a one-line change. At 100 TB these would be partitioned /
  * bucketed table reads — the API stays the same.
  */
object Tables {
  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  def region(spark: SparkSession, dir: String): DataFrame    = load(spark, dir, "region")
  def nation(spark: SparkSession, dir: String): DataFrame    = load(spark, dir, "nation")
  def customer(spark: SparkSession, dir: String): DataFrame  = load(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame  = load(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame      = load(spark, dir, "part")
  def orders(spark: SparkSession, dir: String): DataFrame =
    normalizeNtz(load(spark, dir, "orders"), "o_orderdate")
  def lineitem(spark: SparkSession, dir: String): DataFrame =
    normalizeNtz(load(spark, dir, "lineitem"), "l_shipdate")
  /** events.ts has drifted across fixture generations — TIMESTAMP(NANOS)
    * in some, timestamp[us] in others — so the loader adapts to the footer
    * schema instead of hard-coding one physical type (a source upstream of
    * an ingest pipeline re-encodes at will; a loader that assumes one
    * encoding is a production outage waiting to happen):
    *
    *  - LongType: the session reads TIMESTAMP(NANOS) as raw long nanos
    *    (nanosAsLong=true in [[Sessions]] keeps the scan vectorized);
    *    truncate to microsecond timestamps with integer `div`, not `/` —
    *    ns-since-epoch exceeds 2^53, so double division loses precision.
    *    DuckDB's TIMESTAMP cast truncates ns identically.
    *  - TimestampNTZType: timestamp[us] with isAdjustedToUTC=false; cast
    *    to session-local TimestampType (the session is pinned UTC, so the
    *    cast is an identity relabel and the DuckDB naive-timestamp oracle
    *    stays aligned).
    *  - TimestampType: passthrough.
    */
  def events(spark: SparkSession, dir: String): DataFrame =
    normalizeEventTs(load(spark, dir, "events"))

  /** Shared by the batch loader above and [[graft.streaming.Streaming]]'s
    * file-stream source (both read the same fixture and need the same
    * adaptation — round-7 finding: the shim lived in two places and both
    * hard-coded one physical type).
    */
  private[graft] def normalizeEventTs(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    df.schema("ts").dataType match {
      case LongType         => df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType => df.withColumn("ts", col("ts").cast(TimestampType))
      case TimestampType    => df
      case other => throw new IllegalStateException(
        s"events.ts: unsupported parquet type $other (expected nanos-as-long, timestamp_ntz, or timestamp)")
    }
  }

  /** Same drift adaptation for the date-like columns whose current
    * fixture encoding is timestamp[us] NTZ (o_orderdate, l_shipdate) —
    * normalized to TIMESTAMP_NTZ so query output types are stable across
    * fixture regenerations. All three branches agree on wall-clock time
    * because the session is pinned UTC; only the NTZ branch fires today,
    * the others are the insurance the r7 events outage showed is needed.
    */
  private[graft] def normalizeNtz(df: DataFrame, c: String): DataFrame = {
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    df.schema(c).dataType match {
      case TimestampNTZType => df
      case TimestampType    => df.withColumn(c, col(c).cast(TimestampNTZType))
      case LongType         =>
        df.withColumn(c, timestamp_micros(expr(s"$c div 1000")).cast(TimestampNTZType))
      case other => throw new IllegalStateException(
        s"$c: unsupported parquet type $other (expected nanos-as-long, timestamp_ntz, or timestamp)")
    }
  }
  def documents(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "embeddings")

  /** [[documents]] with the scan's map-side parallelism restored when the
    * fixture cannot provide it. Parquet splits at row-group granularity;
    * the test corpora are ONE row group per table, so the scan — and,
    * through persist's partition-preservation, every downstream map stage
    * over cached derivations — runs in a single task. For the text-heavy
    * dedup family (tokenize → 3-gram explode → 8 md5 banks → map-side
    * partial aggregation) that single task was ~70 % of d2's wall at
    * sf0.1 (two 1-task ~1 s stages inside a 2.8 s query, r11 profile).
    *
    * The gate keeps this scale-honest: it fires only when the scan's
    * split count is under half the session parallelism, i.e. total input
    * ≲ cores/2 × maxPartitionBytes — a few GB at most — so the cost when
    * it fires is one hash exchange of a small table, and at 100 TB
    * (thousands of row groups, split count ≫ cores) it is the identity.
    * Hash on doc_id rather than round-robin: doc_id is unique (uniform,
    * no skew), it skips round-robin's defensive full-row sort, and with
    * shuffle.partitions == cores the groupBy(doc_id) aggregations
    * immediately downstream reuse the partitioning instead of
    * re-shuffling.
    */
  def documentsSpread(spark: SparkSession, dir: String): DataFrame = {
    val docs = documents(spark, dir)
    if (underParallel(spark, dir, docs))
      docs.repartition(spark.sparkContext.defaultParallelism, col("doc_id"))
    else docs
  }

  /** Whether `dir`'s documents scan yields too few splits to feed the
    * session's cores. Memoized per (session, dir): the answer depends
    * only on the file layout, and the probe itself costs a full physical
    * planning pass (`.rdd` compiles the scan) — measured at ~0.2 s,
    * which doubled the sub-second map-only queries when paid per call.
    * Corpora are immutable snapshots (the d5b index makes the same
    * assumption), so the memo never goes stale within a session.
    */
  private val spreadMemo =
    new java.util.concurrent.ConcurrentHashMap[(String, String, Int), Boolean]()
  private def underParallel(spark: SparkSession, dir: String, docs: DataFrame): Boolean =
    // defaultParallelism is part of the computed predicate, so it is part
    // of the key (advisor finding): under dynamic allocation the core
    // count can move mid-session, and a memo frozen at first probe would
    // keep answering for a cluster shape that no longer exists.
    spreadMemo.computeIfAbsent(
      (spark.sparkContext.applicationId, dir, spark.sparkContext.defaultParallelism),
      _ => docs.rdd.getNumPartitions * 2 < spark.sparkContext.defaultParallelism)
  // Deliberately NOT offered for embeddings: the vector corpus is ~1 MB
  // at fixture scale and its queries are iterative (k-means, PQ), so a
  // 32-way spread multiplied per-task scheduling overhead instead of
  // unlocking map work — measured r11 as a ~0.4 s REGRESSION on
  // q_kmeans/q_semdedup. The same measurement discipline decides WHICH
  // documents consumers call documentsSpread: the exchange + extra
  // stage cost ~0.2 s fixed, so map-only single-pass queries (t1-t6,
  // t13-t16, token-frequency aggregates) measured as pure loss and read
  // plain documents, while the shingle/rolling-hash/join families
  // (d2-d7 via shingleRows, t18/t19/t29, t23, t25) measured 1.3-2.2×
  // wins and keep it. The gate earns its exchange only when the
  // single-threaded map work dwarfs it.

  /** All corpus tables, by name. */
  val All: Seq[String] = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  /** Register every table as a temp view so plain spark.sql text works
    * against the corpus (the "switch to this library" path for SQL
    * users; views are metadata only — nothing is read until queried).
    *
    * Failures are isolated per table: a loader that cannot analyze one
    * table (schema drift, missing file) must not take down views over the
    * other nine — queries that never touch the broken table keep working.
    * A query that DOES reference the broken table gets a bare
    * TABLE_OR_VIEW_NOT_FOUND (the view is dropped, the load error is not
    * re-thrown at use), so the root cause is recorded two ways: a stderr
    * line with the exception class + message, and [[lastRegisterFailures]]
    * for harnesses to consult programmatically.
    */
  def registerAll(spark: SparkSession, dir: String): Unit = {
    val failures = All.flatMap { name =>
      try {
        val df = if (name == "events") events(spark, dir) else load(spark, dir, name)
        df.createOrReplaceTempView(name)
        None
      } catch {
        case e: Exception =>
          spark.catalog.dropTempView(name) // stale prior view would silently serve old data
          Some(name -> e)
      }
    }
    lastRegisterFailures = failures.toMap
    failures.foreach { case (name, e) =>
      System.err.println(s"graft.Tables.registerAll: view '$name' not registered " +
        s"(queries touching it will see TABLE_OR_VIEW_NOT_FOUND): " +
        s"${e.getClass.getName}: ${e.getMessage}")
    }
  }

  /** Per-table load failures from the most recent [[registerAll]] call
    * (empty when all ten views registered) — the discoverable root cause
    * behind any later TABLE_OR_VIEW_NOT_FOUND on a fixture view.
    *
    * PROCESS-GLOBAL, last-writer-wins (advisor finding): concurrent
    * [[registerAll]] calls — two sessions, or one session over two dirs —
    * clobber each other here, so a harness reading this after its own
    * call may see another run's failure map. All in-repo harnesses
    * (Verify/Bench/tools.Profile) are single-session and call
    * registerAll once before reading, which is the supported use; a
    * multi-session caller should treat this as best-effort diagnostics
    * only (temp views themselves are per-session and unaffected).
    */
  @volatile var lastRegisterFailures: Map[String, Exception] = Map.empty
}
