package graft.tools

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Bench, Sessions, Tables}

/** Dev tool: replicate a driver fixture N× with referential-integrity-
  * preserving key remapping, producing an sf1-equivalent corpus for the
  * scale sweep (VERDICT round-6/7 item: every 100 TB claim was argued
  * from plan shape + sf0.1 measurements; this closes the missing decade).
  *
  * Usage: runMain graft.tools.ScaleUp <srcSfDir> <outDir> [replicas=10]
  *
  * Each replica i shifts every key family by i × (1 + max key of the
  * source), so joins land exactly as in the source (orders⋈lineitem,
  * customer⋈orders, events.user_id, documents⋈embeddings by id) and no
  * cross-replica key ever collides. Dims (region, nation) are copied
  * unscaled — as at any TPC-H scale factor. The time axis is kept: 10×
  * the rows in the same window is 10× event density, which is what a
  * bigger deployment looks like (and stresses windows/sessionization
  * correctly). documents.text gets a per-replica suffix token so
  * replicas are NEAR-duplicates (distinct shingle sets, high Jaccard) —
  * the realistic dup structure for the dedup and similarity families —
  * rather than byte-identical copies that exact-dedup would collapse.
  */
object ScaleUp {
  def main(args: Array[String]): Unit = {
    val src = args(0)
    val out = args(1)
    val replicas = if (args.length > 2) args(2).toInt else 10
    val (_, cpus) = Bench.env()
    val spark = Sessions.local(cpus)

    def maxOf(df: DataFrame, c: String): Long = {
      // max() over an empty table is NULL → getLong NPEs with an opaque
      // trace (advisor finding); fail fast with the column name instead.
      val row = df.agg(max(col(c))).head()
      require(!row.isNullAt(0),
        s"ScaleUp: source table has no rows for key column '$c' — " +
          "cannot derive a replica shift from a partial fixture")
      row.getLong(0) + 1
    }

    val orders = Tables.orders(spark, src)
    val custShift = maxOf(Tables.customer(spark, src), "c_custkey")
    val suppShift = maxOf(Tables.supplier(spark, src), "s_suppkey")
    val partShift = maxOf(Tables.part(spark, src), "p_partkey")
    val orderShift = maxOf(orders, "o_orderkey")
    val eventShift = maxOf(Tables.events(spark, src), "event_id")
    val userShift = maxOf(Tables.events(spark, src), "user_id")
    val docShift = maxOf(Tables.documents(spark, src), "doc_id")
    val vecShift = maxOf(Tables.embeddings(spark, src), "vec_id")

    /** df × replicas with the listed long columns shifted per replica. */
    def rep(df: DataFrame, shifts: (String, Long)*): DataFrame = {
      val withR = df.crossJoin(
        broadcast(spark.range(replicas).toDF("__r")))
      shifts.foldLeft(withR) { case (d, (c, s)) =>
        d.withColumn(c, col(c) + col("__r") * s)
      }
    }

    // Output file count (r10 finding): the fixture tables are single
    // parquet files with one row group, so every map-heavy stage
    // (tokenize, minhash md5s, simhash bit-math) ran on ONE core until
    // its first exchange — a file-layout artifact, not an engine
    // property; at 100 TB a scan has thousands of row groups and map
    // parallelism is free. Writing the scaled corpus as ~32 files per
    // fact table restores the realistic layout. Dims stay single-file.
    val outFiles = sys.env.getOrElse("SPARK_GRAFT_OUT_FILES", "32").toInt

    def write(df: DataFrame, name: String, files: Int = outFiles): Unit =
      df.drop("__r").repartition(files).write.mode(SaveMode.Overwrite)
        .parquet(s"$out/$name.parquet")

    // Dims: copied unscaled.
    write(Tables.region(spark, src), "region", files = 1)
    write(Tables.nation(spark, src), "nation", files = 1)

    write(rep(Tables.customer(spark, src), "c_custkey" -> custShift), "customer")
    write(rep(Tables.supplier(spark, src), "s_suppkey" -> suppShift), "supplier")
    write(rep(Tables.part(spark, src), "p_partkey" -> partShift), "part")
    write(rep(orders,
      "o_orderkey" -> orderShift, "o_custkey" -> custShift), "orders")
    write(rep(Tables.lineitem(spark, src),
      "l_orderkey" -> orderShift, "l_partkey" -> partShift,
      "l_suppkey" -> suppShift), "lineitem")
    // ts is re-encoded as timestamp_ntz to match the driver fixture's
    // physical type (advisor finding): Tables.events normalizes ts to
    // session-local TimestampType, which Spark writes back as
    // isAdjustedToUTC=true — DuckDB reads that as TIMESTAMPTZ and an
    // oracle run on a non-UTC host would drift in wall-clock. The
    // session is pinned UTC, so the cast is an identity relabel.
    write(rep(Tables.events(spark, src),
      "event_id" -> eventShift, "user_id" -> userShift)
      .withColumn("ts", col("ts").cast("timestamp_ntz")), "events")
    // replicas == 1 is a pure RE-LAYOUT (multi-file copy of the source,
    // byte-identical rows) for apples-to-apples base-scale sweeps; the
    // near-dup suffix only makes sense when there are real replicas.
    val docs = rep(Tables.documents(spark, src), "doc_id" -> docShift)
    write(
      if (replicas == 1) docs
      else docs
        .withColumn("text", concat(col("text"), lit(" r"), col("__r")))
        .withColumn("n_chars", length(col("text")).cast("long")),
      "documents")
    write(rep(Tables.embeddings(spark, src), "vec_id" -> vecShift), "embeddings")

    println(s"[scaleup] wrote ${replicas}x $src -> $out")
    spark.stop()
  }
}
