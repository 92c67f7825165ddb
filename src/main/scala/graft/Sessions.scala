package graft

import org.apache.spark.sql.SparkSession

/** One place for local SparkSession construction so every entry point
  * (Verify, Bench, ScalaTest) runs with identical semantics-relevant config.
  *
  *  - UTC session timezone: all reference date logic is timezone-explicit
  *    (SURVEY.md §7.4.5; the DAG's MST is connectivity, not semantics).
  *  - shuffle.partitions = cpu count, not the 200 default — local[N] has no
  *    use for 200 reducers; on a real cluster this would be sized to
  *    executors × cores (or left to AQE coalescing).
  *  - nanosAsLong: events.ts is parquet TIMESTAMP(NANOS), which the
  *    vectorized reader rejects; reading nanos as long (then truncating to
  *    micros in [[Tables.events]]) keeps the scan vectorized. Set here at
  *    session build — NOT inside a table loader — so no query mutates
  *    session state mid-plan (round-1 finding).
  *  - `file:` filesystem: [[graft.fs.NioLocalFileSystem]] (the
  *    `FileSystem` API: sinks, parquet/CSV writes) and
  *    [[graft.fs.NioLocalFs]] (the `FileContext` API: streaming offsets,
  *    commits, metadata and state-store files). Without a native Hadoop
  *    library the stock classes fork `chmod` for every created file,
  *    directory and `.crc` side file, and `readlink` twice per
  *    `FileContext` rename. One perfbench `stream` run (5 passes) forked
  *    1,013 `chmod` and 2,080 `readlink`, one `etl_ref` run 617 `chmod`;
  *    with the binding both are done in-process and those runs fork
  *    neither (Spark's own `rm -rf` spawns remain). On Spark's classpath
  *    the unbound `FileSystem` is Hive's `ProxyLocalFileSystem` over
  *    Hadoop's `LocalFileSystem`. Its scope is the `file:` scheme only;
  *    checksums, rename semantics and the checkpoint manager are the stock
  *    ones, and a sticky-bit permission or a real symlink falls back to
  *    the stock code. A `file:` FileSystem that some code caches before
  *    this session is built (`FileSystem.get` keys its cache on scheme and
  *    user, not on the configuration) keeps the stock class.
  */
object Sessions {
  // getOrCreate returns any existing session and silently IGNORES the
  // configs below, so short-circuit first: this avoids creating an
  // orphan warehouse temp dir per call (reviewer finding), and makes
  // the semantics explicit — the FIRST builder in a JVM fixes the
  // session config for everyone after (which is the point of
  // centralizing construction here).
  def local(cpus: String): SparkSession =
    SparkSession.getDefaultSession.filter(s => !s.sparkContext.isStopped)
      .getOrElse(build(cpus))

  /** Runs `f` with each of `settings` set on the session's runtime
    * config, then restores every key, also when `f` throws: the value it
    * had before, or unset when it was unset before.
    */
  def withConf[T](spark: SparkSession, settings: (String, String)*)(f: => T): T = {
    val before = spark.conf.getAll
    settings.foreach { case (k, v) => spark.conf.set(k, v) }
    try f finally settings.foreach { case (k, _) =>
      before.get(k) match {
        case Some(v) => spark.conf.set(k, v)
        case None => spark.conf.unset(k)
      }
    }
  }

  private def build(cpus: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", cpus)
      // Managed-table warehouse (bucketed tables in Scale) goes to a temp
      // dir, never the working directory.
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft_warehouse").toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      // Coalesce shuffle partitions by SIZE, not up to core count: with
      // the default parallelismFirst=true every tiny shuffle still runs
      // 32 reduce tasks, and per-task fixed overhead dominates small
      // stages (measured: 32 one-record tasks costing 0.2-1 s EACH in
      // aged sessions — the d7 label-propagation loop paid it 6 stages ×
      // 2 actions per round). Size-based coalescing is also the
      // production setting: at 100 TB it yields ~advisory-sized reduce
      // partitions instead of one-per-core.
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
      // Size-based coalescing targets the advisory size; the 64 MB
      // default would fold this harness's mid-size CPU-heavy shuffles
      // (hundreds of kB serialized, but md5/join/window work per row)
      // into ONE task. 2 MB keeps ~10-25 reduce tasks for those while
      // one-record shuffles still collapse to a single task. This is
      // local-harness sizing, like shuffle.partitions above — a cluster
      // deployment sizes advisory bytes to its executor memory instead.
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "2m")
      // State-store maintenance (snapshot upload / old-version cleanup)
      // is a background tick meant for long-running streams; in this
      // harness every streaming query finishes in seconds, so the
      // default 60 s tick fires either inside a LATER query's timed
      // window or while the session tears down — the latter observed
      // once as a JVM SIGSEGV in RocksDB's statistics
      // (getTickerCountLocked) racing provider close at the end of a
      // full Verify run. Pushing the interval past any harness run's
      // lifetime removes the race; a production deployment keeps the
      // default, because there maintenance has real work to do.
      .config("spark.sql.streaming.stateStore.maintenanceInterval", "1h")
      .config("spark.ui.enabled", "false")
      .config("spark.hadoop.fs.file.impl", classOf[graft.fs.NioLocalFileSystem].getName)
      .config("spark.hadoop.fs.AbstractFileSystem.file.impl", classOf[graft.fs.NioLocalFs].getName)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
