package graft.operators

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.PlanBridge

/** Scale-out join utilities — the two techniques the 100 TB posture
  * notes throughout this engine keep referring to, as concrete API:
  *
  *  - **Bucketing** (SURVEY.md §4): pre-partition both sides of a hot
  *    fact×fact join on the join key at write time; subsequent equi-joins
  *    read co-located buckets and need NO shuffle exchange at all
  *    (asserted on the physical plan in ScaleSpec). This is the answer to
  *    "the J2 shuffle becomes the bottleneck at 100 TB".
  *
  *  - **Key salting**: when a join key is heavily skewed beyond what AQE's
  *    skew-join splitting handles, explode the small side k ways and
  *    scatter the big side across the k salts — the hot key's rows spread
  *    over k tasks. Deterministic salt (hash of a unique column mod k),
  *    no RNG.
  */
object Scale {

  /** Write `df` as a bucketed+sorted table on `key` — the one-time
    * layout cost that removes the per-query join shuffle.
    */
  def writeBucketed(df: DataFrame, table: String, key: String, numBuckets: Int): Unit =
    df.write
      .bucketBy(numBuckets, key)
      .sortBy(key)
      .format("parquet")
      .mode(SaveMode.Overwrite)
      .saveAsTable(table)

  /** Build-if-absent gate shared by every stored index (the corpus band
    * index, the label, span, IVF and both triangle indexes): returns the
    * index's table prefix `family + "_" + md5(key + stamps).take(8)` and
    * runs `build(prefix)` first when any `<prefix>_<table>` is missing.
    *
    * Contract:
    *  - An index is built once per snapshot of its inputs and probed
    *    many times. `reads` names the input paths the build reads, and
    *    the [[graft.Tables.Listing]] stamp of each (names, lengths and
    *    modification times) is part of the name, so a corpus rewritten
    *    under the same dir names a new index and rebuilds it instead of
    *    being served the old one. The stamp costs one `FileSystem`
    *    listing per input per call. Indexes of earlier snapshots stay in
    *    the warehouse until the session's warehouse dir goes.
    *  - `key` holds the family's stored FORMAT version, the corpus dir
    *    and the excluded batch source if there is one. A format change
    *    bumps the version, so the gate sees a new name and rebuilds
    *    instead of silently probing a stale-format index (probes would
    *    stop colliding and return empty with no error).
    *  - Every table gates the build: a crash between two writes would
    *    otherwise leave one table present and the other missing for good.
    *  - Builds write with `SaveMode.Overwrite` ([[writeBucketed]]), so
    *    re-running one over a half-built index heals it.
    *  - Bucketed builders size their bucket count to the session's
    *    default parallelism: a bucketed table's scan and probe-join
    *    parallelism IS its bucket count (see [[Graph.buildEdgeIndex]]).
    */
  def storedIndex(spark: SparkSession, family: String, key: String, reads: Seq[String],
                  tables: Seq[String])(build: String => Unit): String = {
    val stamped = key + reads.map(p => "|" + graft.Tables.listing(spark, p).stamp).mkString
    val prefix = family + "_" + java.security.MessageDigest.getInstance("MD5")
      .digest(stamped.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(8)
    if (tables.exists(t => !spark.catalog.tableExists(s"${prefix}_$t"))) build(prefix)
    prefix
  }

  /** Sign-correct floor division SQL (Spark's `div` truncates toward
    * zero, which disagrees with interval coverage on negative values —
    * e.g. epoch offsets before 1970). Shared by [[rangeJoin]] and
    * [[intervalJoin]] so the bucket arithmetic can never diverge.
    */
  private def floorDivExpr(c: String, width: Long): String =
    s"(($c div ${width}L) - (CASE WHEN $c % ${width}L < 0 THEN 1 ELSE 0 END))"

  /** Explode a half-open interval [lo, hi) to every width-`w` bucket it
    * covers (last covered bucket is floor((hi-1)/w): hi is exclusive).
    */
  private def bucketExplode(df: DataFrame, lo: String, hi: String, w: Long): DataFrame =
    df.withColumn("__bucket",
      explode(expr(s"sequence(${floorDivExpr(lo, w)}, ${floorDivExpr(s"($hi - 1)", w)})")))

  /** Point-in-interval range join as a bucketed equi-join — the scale
    * path for joins whose ONLY predicate is a range containment
    * (`lo <= point < hi`). Naively planned, such a join is a
    * BroadcastNestedLoopJoin (fine when one side is tiny, O(n×m) when
    * both are large). Here both sides are mapped onto fixed-width
    * buckets — each point to the single bucket it falls in, each range
    * exploded to every bucket it overlaps — so the join becomes a plain
    * shuffled equi-join on the bucket id with the exact containment
    * re-checked after the match. No all-pairs work anywhere; cost scales
    * with (#points + #ranges × avg buckets per range).
    *
    * `bucketWidth` tunes replication vs selectivity: pick it near the
    * typical range width so a range explodes to ~2 buckets. Bucket ids
    * use a sign-correct floor division (Spark's `div` truncates toward
    * zero, which would disagree with interval coverage on negative
    * values — e.g. epoch offsets before 1970).
    *
    * Intervals are half-open `[lo, hi)`; rows with a NULL point or
    * bound never match (the containment predicate is null-rejecting),
    * matching SQL inequality-join semantics.
    */
  def rangeJoin(points: DataFrame, pointCol: String,
                ranges: DataFrame, loCol: String, hiCol: String,
                bucketWidth: Long): DataFrame = {
    require(bucketWidth > 0, s"bucketWidth must be positive, got $bucketWidth")
    val pb = points.withColumn("__bucket", expr(floorDivExpr(pointCol, bucketWidth)))
    val rb = bucketExplode(ranges, loCol, hiCol, bucketWidth)
    pb.join(rb, Seq("__bucket"))
      .where(col(pointCol) >= col(loCol) && col(pointCol) < col(hiCol))
      .drop("__bucket")
  }

  /** INTERVAL×INTERVAL overlap join — [[rangeJoin]]'s big sibling: both
    * sides are ranges, the match predicate is half-open overlap
    * (`aLo < bHi AND bLo < aHi`). Same bucketization (each interval
    * explodes to the fixed-width buckets it covers, equi-join on the
    * bucket id, exact predicate re-checked), plus one extra trick: a
    * pair whose overlap spans k shared buckets would match k times, so
    * the join keeps only the FIRST shared bucket —
    * `max(aStartBucket, bStartBucket)` — emitting every overlapping
    * pair exactly once WITHOUT a distinct (no second shuffle, no
    * data-sized dedup state; the winning bucket is computable from the
    * row itself, which is what makes it free).
    *
    * Caller aliases the two sides apart. Cost scales with
    * Σ buckets-per-interval on each side plus true matches per bucket —
    * never |A|×|B|. Pick `bucketWidth` near the typical interval width
    * so each explodes to ~2 buckets.
    */
  def intervalJoin(a: DataFrame, aLo: String, aHi: String,
                   b: DataFrame, bLo: String, bHi: String,
                   bucketWidth: Long): DataFrame = {
    require(bucketWidth > 0, s"bucketWidth must be positive, got $bucketWidth")
    bucketExplode(a, aLo, aHi, bucketWidth)
      .join(bucketExplode(b, bLo, bHi, bucketWidth), Seq("__bucket"))
      .where(col(aLo) < col(bHi) && col(bLo) < col(aHi))
      .where(col("__bucket") === greatest(
        expr(floorDivExpr(aLo, bucketWidth)), expr(floorDivExpr(bLo, bucketWidth))))
      .drop("__bucket")
  }

  /** Global row numbering WITHOUT the single-partition trap. The naive
    * `row_number() OVER (ORDER BY k)` has an empty PARTITION BY — Spark
    * plans one task holding the entire dataset, the canonical way a
    * query that passed at 60k rows dies at 100 TB. The scalable form is
    * two declarative passes over a range-partitioned sort:
    *
    *  1. range-partition + sort by the key; per-partition row counts
    *     (a tiny aggregate — one row per partition);
    *  2. cumulative counts → each partition's global offset (a window
    *     over the partition-id table: metadata-sized, single task is
    *     CORRECT there); broadcast-join the offsets back and add the
    *     within-partition row_number.
    *
    * Numbers are 1-based in total `sortCols` order. With a unique sort
    * key the result is independent of where the range sampler happens
    * to place partition boundaries. One wide sort (the unavoidable
    * cost of a total order) + one metadata aggregate — no stage ever
    * sees more than its partition.
    *
    * The range-partitioned frame is PERSISTED before fan-out — a
    * correctness requirement, not a perf tweak (r13 finding): the
    * offsets aggregate and the main pass are two plan subtrees, and
    * RangePartitioner seeds its reservoir sample from the RDD id, so two
    * separate evaluations of the same repartitionByRange can draw
    * DIFFERENT partition bounds whenever the sample is a true subsample
    * of the data (at 4 shuffle partitions over 1.5k rows: observed
    * duplicate/gap rns and nondeterministic q_fuzzy_match_name output;
    * at 32 partitions the sample happened to cover every row, which is
    * why this never fired before). The cache (MEMORY_AND_DISK — spilled,
    * never recomputed) pins ONE materialized partitioning that both
    * subtrees read; exchange reuse alone is not guaranteed across the
    * aggregate/window boundary.
    */
  def globalRowNumbers(df: DataFrame, sortCols: Seq[String],
                       numPartitions: Int = 0): DataFrame = {
    val n = if (numPartitions > 0) numPartitions
      else df.sparkSession.sessionState.conf.numShufflePartitions
    val keys = sortCols.map(col)
    val parted = PlanBridge.pin(
      df.repartitionByRange(n, keys: _*)
        .sortWithinPartitions(keys: _*)
        .withColumn("__pid", spark_partition_id()))
    val offsets = parted.groupBy("__pid").count()
      .withColumn("__offset",
        coalesce(sum("count").over(
          org.apache.spark.sql.expressions.Window.orderBy("__pid")
            .rowsBetween(Long.MinValue, -1)), lit(0L)))
      .select("__pid", "__offset")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("__pid").orderBy(keys: _*)
    parted.join(broadcast(offsets), "__pid")
      .withColumn("rn", row_number().over(w) + col("__offset"))
      .drop("__pid", "__offset")
  }

  /** Bit-interleave expression for two pre-scaled non-negative ints in
    * [0, 2^bits): the Z-order (Morton) curve value. Pure shifts/adds —
    * codegen-friendly, no UDF.
    */
  private def zExpr(a: String, b: String, bits: Int): String =
    (0 until bits).flatMap { i =>
      Seq(s"shiftleft(shiftright($a, $i) & 1, ${2 * i + 1})",
        s"shiftleft(shiftright($b, $i) & 1, ${2 * i})")
    }.mkString(" + ")

  /** Z-ordered file layout: cluster `df` on the Morton interleave of TWO
    * columns so parquet min/max stats prune files for predicates on
    * EITHER column — the data-layout-as-index technique for the second
    * and third filter column, where partitioning (the first coarse
    * index, PartitionPruningSpec) has already been spent. A single-column
    * sort gives perfect pruning on that column and none on any other;
    * the Z-curve makes each file a small rectangle in (A, B) space, so a
    * point/range query on either dimension overlaps few rectangles.
    *
    * Columns are first normalized to [0, 2^bits) by linear min/max
    * scaling (one tiny aggregate, broadcast back — no window, no
    * single-task trap). Linear scaling assumes roughly uniform value
    * spread; a production engine samples range bounds instead (what
    * `repartitionByRange`'s sampler does) so heavy skew still yields
    * balanced rectangles. Then: range-partition on the z-value into
    * `numFiles` tasks, sort within partitions, write. Cost = one extra
    * shuffle at WRITE time; every subsequent multi-predicate scan pays
    * less I/O — the classic write-once/read-many trade.
    */
  def writeZOrdered(df: DataFrame, out: String, colA: String, colB: String,
                    numFiles: Int, bits: Int = 16): Unit = {
    val n = (1L << bits) - 1
    val bounds = df.agg(
      min(colA).cast("long").as("__loA"), max(colA).cast("long").as("__hiA"),
      min(colB).cast("long").as("__loB"), max(colB).cast("long").as("__hiB"))
    // Scaling runs in DOUBLE: `(v - lo) * 65535` in Long overflows for
    // any column spanning more than 2^47 (e.g. microsecond timestamps
    // over a few years), silently garbling the curve (reviewer finding).
    // Doubles cannot overflow here, the mapping stays monotone, and
    // layout quality is indifferent to sub-ULP rounding; the clamp pins
    // the max value onto the last cell.
    def scale(c: String, lo: String, hi: String): String =
      s"cast(least(${n}L, cast(floor((cast($c as double) - cast($lo as double)) * $n.0 " +
        s"/ (cast($hi as double) - cast($lo as double) + 1.0)) as bigint)) as bigint)"
    df.crossJoin(broadcast(bounds))
      .withColumn("__za", expr(scale(colA, "__loA", "__hiA")))
      .withColumn("__zb", expr(scale(colB, "__loB", "__hiB")))
      .withColumn("__z", expr(zExpr("__za", "__zb", bits)))
      .repartitionByRange(numFiles, col("__z"))
      .sortWithinPartitions("__z")
      .drop("__z", "__za", "__zb", "__loA", "__hiA", "__loB", "__hiB")
      .write.mode(SaveMode.Overwrite).parquet(out)
  }

  /** Small-file compaction — the table-maintenance job every long-lived
    * 100 TB dataset needs: streaming upserts, per-key sinks, and
    * incremental ingests all shed small files, and a scan's task count
    * (and the namenode/listing cost) degrades with the file count, not
    * the byte count. Rewrites a parquet directory into
    * ceil(bytes / targetBytes) files sized from the CURRENT on-disk
    * footprint (a filesystem metadata sum — no data read to plan).
    *
    * The rewrite stages into `<dir>__compact` then swaps via two
    * metadata renames, so a reader never observes a HALF-WRITTEN
    * directory; a crash before the swap leaves the original untouched,
    * and a crash between the two renames is repaired on retry (the
    * entry-point recovery restores `__old`). The instant between the
    * renames is the residual exposure on a plain filesystem —
    * production closes it by swapping a catalog pointer, not a
    * directory name. Merging many
    * files into fewer uses shuffle-free `coalesce`; growing the file
    * count (splitting oversized files) needs a `repartition` shuffle.
    * Row order within files is not part of the contract —
    * layout-sensitive tables recompact via [[writeZOrdered]] instead.
    */
  def compactFiles(spark: org.apache.spark.sql.SparkSession, dir: String,
                   targetBytes: Long): Long = {
    require(targetBytes > 0, s"targetBytes must be positive, got $targetBytes")
    val path = new org.apache.hadoop.fs.Path(dir)
    val fs = path.getFileSystem(spark.sessionState.newHadoopConf())
    // Crash recovery (reviewer finding): a death BETWEEN the two swap
    // renames below leaves the data only under __old and the table path
    // missing — restore it first so the retry (and any reader racing
    // it) finds the table. On an FS without atomic directory swap the
    // instant between the renames is the residual exposure; production
    // closes it by swapping a catalog/manifest pointer instead of the
    // directory name.
    val old = new org.apache.hadoop.fs.Path(dir + "__old")
    if (!fs.exists(path) && fs.exists(old) && !fs.rename(old, path))
      throw new java.io.IOException(s"compaction recovery: failed to restore $old to $path")
    val bytes = fs.getContentSummary(path).getLength
    val nFiles = math.max(1L, (bytes + targetBytes - 1) / targetBytes)
    val staging = new org.apache.hadoop.fs.Path(dir + "__compact")
    val df = spark.read.parquet(dir)
    val current = df.rdd.getNumPartitions
    val sized =
      if (nFiles.toInt < current) df.coalesce(nFiles.toInt)
      else df.repartition(nFiles.toInt)
    sized.write.mode(SaveMode.Overwrite).parquet(staging.toString)
    fs.delete(old, true)
    if (!fs.rename(path, old))
      throw new java.io.IOException(s"compaction: failed to move $path aside")
    if (!fs.rename(staging, path)) {
      // Roll back: the original directory is still intact under __old.
      fs.rename(old, path)
      throw new java.io.IOException(s"compaction: failed to promote $staging")
    }
    fs.delete(old, true)
    nFiles
  }

  /** Key-skew profile — the pre-flight diagnostic you run BEFORE choosing
    * between a plain shuffled join, AQE skew splitting, and
    * [[saltedEquiJoin]]: per-key counts reduced to one summary row
    * (distinct keys, total rows, min/max/p50/p99 per-key count, and
    * `skew_milli` = max-key-count / mean-key-count ×1000 — 1000 means
    * perfectly uniform; ≳10000 means the hottest key is 10× the mean and
    * a plain shuffle will straggle).
    *
    * Cost: one map-combinable groupBy on the key, then a single-row
    * aggregate over the (already small) per-key counts — safe to run on
    * the full 100 TB input. Exact percentiles here are over #keys rows,
    * not #data rows; swap in approx_percentile if the KEY cardinality
    * itself is huge.
    */
  def skewProfile(df: DataFrame, key: String): DataFrame =
    df.groupBy(col(key)).agg(count(lit(1)).as("cnt"))
      .agg(
        count(lit(1)).as("n_keys"),
        sum("cnt").as("n_rows"),
        min("cnt").as("min_cnt"),
        max("cnt").as("max_cnt"),
        expr("percentile(cnt, 0.5)").as("p50_cnt"),
        expr("percentile(cnt, 0.99)").as("p99_cnt"))
      // decimal(38,0) product: the Long form max_cnt·1000·n_keys wraps
      // negative once keys×max-count passes ~9e15 — reachable exactly at
      // the full-corpus scale this profile advertises (reviewer finding).
      // IntegralDivide on decimals returns a BIGINT; the DuckDB twin's
      // HUGEINT arithmetic is identical.
      .withColumn("skew_milli",
        expr("cast(cast(max_cnt as decimal(38,0)) * 1000 * n_keys div n_rows as bigint)"))

  /** Skew-resistant equi-join of a large (skewed) side against a smaller
    * side: `big` is salted by hash(`bigUniqueCol`) mod `salts`, `small`
    * is replicated once per salt, and the join key becomes
    * (key, salt). Result rows are identical to `big.join(small, key)` —
    * only the partitioning changes. `small` grows ×salts, so pick salts
    * to balance the hot key against the replication cost.
    */
  def saltedEquiJoin(big: DataFrame, small: DataFrame, key: String,
                     salts: Int, bigUniqueCol: String): DataFrame = {
    val saltedBig = big.withColumn("__salt", pmod(hash(col(bigUniqueCol)), lit(salts)))
    val repSmall = small.withColumn("__salt", explode(expr(s"sequence(0, ${salts - 1})")))
    saltedBig.join(repSmall, Seq(key, "__salt")).drop("__salt")
  }

  /** `q_compact`: [[compactFiles]] as an oracle-checked query — fragment
    * the orders table into 64 small files (the post-ingest state),
    * compact, and return the compacted table. The oracle twin reads the
    * SAME rows straight from the source, so the correctness gate itself
    * proves the maintenance rewrite is invisible to readers.
    */
  def qCompact(spark: org.apache.spark.sql.SparkSession, dir: String): DataFrame = {
    val scratch = graft.Scratch.dir("graft_compact")
    val table = s"$scratch/orders"
    graft.Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_orderstatus"),
        expr("cast(round(o_totalprice * 100) as bigint)").as("cents"))
      .repartition(64)
      .write.mode(SaveMode.Overwrite).parquet(table)
    compactFiles(spark, table, targetBytes = 8L << 20)
    graft.Scratch.deleteWhenUnread(spark.read.parquet(table), scratch)
  }

  /** `q_incremental_rollup`: incremental aggregate maintenance — THE
    * daily-pipeline pattern at 100 TB: never re-aggregate the full
    * history; keep a materialized rollup of closed days and merge it with
    * a recomputation of only the open tail. Three scale properties this
    * query pins:
    *
    *  1. The historical scan reads the ROLLUP (rows ∝ days × event
    *     types), not the event history (rows ∝ events) — at scale that is
    *     the difference between megabytes and the whole lake.
    *  2. The delta recompute filters `day >= cutoff` BEFORE aggregation;
    *     on a date-partitioned events table that predicate is partition
    *     pruning, so the tail job's input is ∝ the tail, not the history.
    *  3. The merge re-aggregates PARTIAL aggregates (sum of counts, sum
    *     of sums) — only algebraic aggregates survive this pattern, which
    *     is why the rollup stores count + sum and derives averages at
    *     read time rather than storing them.
    *
    * The oracle twin is the flat full-history GROUP BY: the gate proves
    * maintained-rollup + tail ≡ recompute-everything, which is the
    * invariant an incremental production pipeline must hold.
    */
  def qIncrementalRollup(spark: org.apache.spark.sql.SparkSession, dir: String): DataFrame = {
    val ev = graft.Tables.events(spark, dir)
      .select(
        to_date(col("ts")).as("day"),
        col("event_type"),
        expr("cast(round(value * 1000) as bigint)").as("value_milli"))
    // Deterministic split: the last 3 calendar days are the "open tail"
    // being re-ingested; everything before is served from the rollup.
    // The cutoff is COLLECTED (one driver action on a one-row aggregate —
    // the same bounded-driver-work budget as d7's convergence counts) and
    // inlined as a literal: a literal date predicate reaches the scan as
    // a static pushed filter / partition-pruning predicate, where the
    // in-plan broadcast-join form would not prune anything.
    val cutoffRow = ev.agg(date_sub(max(col("day")), 2).as("cutoff_day")).first()
    // Empty events table → max(day) is NULL → no cutoff exists. Return
    // the (empty) flat aggregate directly instead of threading an
    // untyped null literal through the two filters (advisor finding:
    // `lit(null) < day` is never true but the plan it builds is
    // ill-typed noise, and a later getDate dereference would NPE).
    if (cutoffRow.isNullAt(0))
      return ev.groupBy("day", "event_type")
        .agg(count(lit(1)).as("n_events"), sum("value_milli").as("total_value_milli"))
    val cutoffDay = cutoffRow.getDate(0)
    val scratch = graft.Scratch.dir("graft_rollup")
    val table = s"$scratch/daily_rollup"
    // Materialize the closed-days rollup partitioned BY DAY: the layout a
    // maintained table needs so the next increment can overwrite only the
    // partitions it touches (Sinks.overwritePartitions' contract).
    ev.filter(col("day") < lit(cutoffDay))
      .groupBy("day", "event_type")
      .agg(count(lit(1)).as("n_events"), sum("value_milli").as("total_value_milli"))
      .write.mode(SaveMode.Overwrite).partitionBy("day").parquet(table)
    // The explicit schema makes the read well-defined even when every day
    // falls inside the tail window (tiny fixtures): zero data files is
    // then an empty relation, not an infer-schema error — and it pins the
    // partition column to DATE rather than trusting directory-name
    // inference.
    val rollupSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("event_type", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("n_events", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("total_value_milli", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("day", org.apache.spark.sql.types.DateType)))
    val maintained = graft.Scratch.deleteWhenUnread(
      spark.read.schema(rollupSchema).parquet(table), scratch)
    val delta = ev.filter(col("day") >= lit(cutoffDay))
      .groupBy("day", "event_type")
      .agg(count(lit(1)).as("n_events"), sum("value_milli").as("total_value_milli"))
    maintained.unionByName(delta)
      .groupBy("day", "event_type")
      .agg(
        sum("n_events").as("n_events"),
        sum("total_value_milli").as("total_value_milli"))
  }
}
