package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Loaders for the driver-generated parquet corpus (TESTDATA.md).
  *
  * One method per table; every query in the engine reads through here so
  * path handling, and any future source swap (s3a://, bucketed tables,
  * DSv2), is a one-line change. At 100 TB these would be partitioned /
  * bucketed table reads — the API stays the same.
  *
  * Every read goes through [[read]], the one answer to "what is at this
  * path": one [[Listing]] of the path (names, lengths and modification
  * times through its Hadoop `FileSystem`) and a schema memo stamped
  * with it. Spark's own `spark.read.parquet(path)` runs a one-task
  * schema-inference job per call, even when nothing changed since the
  * last read; with the memo only the first read of a path in a session,
  * and the first read after the path changes, pays it. A warm probe over
  * a documents corpus on 4 CPUs timed resolve-and-plan at a median of
  * 43.7 ms with inference against 6.8 ms with the schema given; the
  * listing itself is one `FileSystem` walk of the path, and the memo
  * holds one listing and one schema per path.
  */
object Tables {
  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    read(spark, path(dir, name))

  /** Where table `name` of corpus `dir` lives. */
  private[graft] def path(dir: String, name: String): String = s"$dir/$name.parquet"

  /** What is at a path: every file under it, or the path itself when it
    * is a file, as (qualified path, length, modification time), read
    * through the path's Hadoop `FileSystem`, so `s3a://`, `hdfs://` and
    * `file:` URIs list like a bare local path. Empty when the path is
    * missing or unreadable.
    */
  private[graft] final case class Listing(files: Seq[(String, Long, Long)]) {
    def bytes: Long = files.iterator.map(_._2).sum
    /** A short digest of the whole listing, for keys that must change
      * when any file is added, removed, resized or rewritten.
      */
    lazy val stamp: String = java.security.MessageDigest.getInstance("MD5")
      .digest(files.mkString("\n").getBytes("UTF-8")).map("%02x".format(_)).mkString
  }

  private[graft] def listing(spark: SparkSession, path: String): Listing =
    try {
      val p = new org.apache.hadoop.fs.Path(path)
      val it = p.getFileSystem(spark.sparkContext.hadoopConfiguration).listFiles(p, true)
      val files = Seq.newBuilder[(String, Long, Long)]
      while (it.hasNext) {
        val f = it.next()
        files += ((f.getPath.toString, f.getLen, f.getModificationTime))
      }
      Listing(files.result().sorted)
    } catch { case _: Exception => Listing(Nil) }

  /** The schema memo: per session (weakly held, so a stopped session's
    * entries go with it), one (listing, schema) entry per path — the
    * schema Spark inferred when the path last read with that listing.
    */
  private val schemas = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession,
      java.util.concurrent.ConcurrentHashMap[String, (Listing, StructType)]]())

  private def schemasOf(spark: SparkSession) =
    schemas.computeIfAbsent(spark, _ => new java.util.concurrent.ConcurrentHashMap())

  /** The paths the schema memo holds for `spark`, one entry each. */
  private[graft] def memoized(spark: SparkSession): Set[String] =
    schemasOf(spark).keySet.asScala.toSet

  /** `spark.read.parquet(path)` without the repeat inference job: lists
    * the path once, and when the memo's entry for it carries the same
    * listing, reads with `spark.read.schema(memoized)`. On a miss or a
    * changed listing it runs Spark's own inferring read, stores that
    * read's schema under the new listing and returns that read itself
    * (re-resolving it with the schema given would pay planning twice on
    * every miss). A missing or empty path is never memoized, so Spark
    * raises its own error for it.
    */
  private[graft] def read(spark: SparkSession, path: String): DataFrame =
    readListed(spark, path)._1

  private def readListed(spark: SparkSession, path: String): (DataFrame, Listing) = {
    val listed = listing(spark, path)
    val memo = schemasOf(spark)
    Option(memo.get(path)).filter(_._1 == listed && listed.files.nonEmpty) match {
      case Some((_, schema)) => (spark.read.schema(schema).parquet(path), listed)
      case None =>
        val df = spark.read.parquet(path)
        if (listed.files.nonEmpty) memo.put(path, (listed, df.schema))
        (df, listed)
    }
  }

  /** The listing `path` was last read with in this session ([[read]]), or
    * a fresh one when the memo has none: what the plan over it was
    * resolved against, without walking the path again.
    */
  private[graft] def lastListing(spark: SparkSession, path: String): Listing =
    Option(schemasOf(spark).get(path)).map(_._1).getOrElse(listing(spark, path))

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
    val (docs, listed) = readListed(spark, path(dir, "documents"))
    if (underParallel(spark, listed, docs))
      docs.repartition(spark.sparkContext.defaultParallelism, col("doc_id"))
    else docs
  }

  /** Whether a documents scan over `listed` yields too few splits to feed
    * the session's cores. Memoized per (session, listing stamp): the
    * answer depends only on the file layout, and the probe itself costs
    * a full physical planning pass (`.rdd` compiles the scan) — measured
    * at ~0.2 s, which doubled the sub-second map-only queries when paid
    * per call. A corpus rewritten under the same dir lists differently,
    * so it is probed again rather than answered from the old layout.
    */
  private val spreadMemo =
    new java.util.concurrent.ConcurrentHashMap[(String, String, Int), Boolean]()
  private def underParallel(spark: SparkSession, listed: Listing, docs: DataFrame): Boolean =
    // defaultParallelism is part of the computed predicate, so it is part
    // of the key (advisor finding): under dynamic allocation the core
    // count can move mid-session, and a memo frozen at first probe would
    // keep answering for a cluster shape that no longer exists.
    spreadMemo.computeIfAbsent(
      (spark.sparkContext.applicationId, listed.stamp, spark.sparkContext.defaultParallelism),
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
    * re-thrown at use), so the root cause goes to stderr: one line per
    * failed table with the exception class + message.
    */
  def registerAll(spark: SparkSession, dir: String): Unit =
    All.foreach { name =>
      try {
        val df = if (name == "events") events(spark, dir) else load(spark, dir, name)
        df.createOrReplaceTempView(name)
      } catch {
        case e: Exception =>
          spark.catalog.dropTempView(name) // stale prior view would silently serve old data
          System.err.println(s"graft.Tables.registerAll: view '$name' not registered " +
            s"(queries touching it will see TABLE_OR_VIEW_NOT_FOUND): " +
            s"${e.getClass.getName}: ${e.getMessage}")
      }
    }
}
