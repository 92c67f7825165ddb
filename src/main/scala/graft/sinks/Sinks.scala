package graft.sinks

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Output half of the reference pipeline (K1-K3):
  *
  *  - K1 (csv_operations.py:20-24): header CSV per list, column-pruned to
  *    the exact allowlist and order `name,primary_email,
  *    primary_phone_number,grade,age` (csv_operations.py:10); extra
  *    fields dropped (extrasaction='ignore' ≡ the select).
  *  - K2 (s3_operations.py:8-13): the sink takes a base URI — a local
  *    path in tests, `s3a://planningcenter/CSVs` in production — same
  *    code path; object-store vs filesystem is Hadoop-FS config, not
  *    engine logic.
  *  - K3 (google_sheets.py:33-36): full-replace semantics =
  *    SaveMode.Overwrite.
  *  - K4 (google_sheets.py:47-60) is a documented no-op: Spark's lazy
  *    evaluation recomputes derived values by construction.
  *
  * Scale notes: one file per list via a hash repartition on the
  * partition column (each key hashes to exactly one task); rows inside a
  * file are sorted by the key and then every written column, a total
  * order — the reference's CSV row order was API return order
  * (csv_operations.py:23), pinned here for reproducibility, and a sort on
  * (key, name) alone left equal names in shuffle-arrival order. The
  * repartition's count is [[explicitPartitions]], so the lists are
  * written by that many tasks. At 100 TB you would drop the per-key
  * single-file constraint (let each list produce many files) by removing
  * the repartition — the layout contract (`person_list=<name>/`
  * directories) is unchanged.
  *
  * The parquet sink writes one part file per non-empty input partition:
  * over [[graft.pipeline.ReferencePipeline.buildPeople]]'s result that is
  * up to [[explicitPartitions]] files, not one.
  */
object Sinks {

  /** The CSV field allowlist, in exact reference order
    * (csv_operations.py:10). person_id/person_list are pruned (P3).
    */
  val PersonCsvColumns: Seq[String] =
    Seq("name", "primary_email", "primary_phone_number", "grade", "age")

  /** The partition count of every by-key repartition on the reference
    * pipeline's path (buildPeople's final shuffle and the CSV sinks'):
    * `spark.sql.shuffle.partitions`, given explicitly. A repartition by
    * column alone leaves the count to AQE, whose size-based coalescing
    * folds a result this small (a few MB) back into one task.
    */
  def explicitPartitions(spark: SparkSession): Int =
    spark.conf.get("spark.sql.shuffle.partitions").toInt

  /** The shared CSV write contract (header, '' unquoted — matching
    * Python csv.writer's QUOTE_MINIMAL output for '',
    * csv_operations.py:21-23 — one file per key via the repartition,
    * in-file sort on the key then every written column), encoded ONCE for
    * both CSV sinks.
    */
  private def writePartitionedCsv(df: DataFrame, keyCol: String, uri: String): Unit =
    df
      .select(col(keyCol) +: PersonCsvColumns.map(col): _*)
      .repartition(explicitPartitions(df.sparkSession), col(keyCol))
      .sortWithinPartitions((keyCol +: PersonCsvColumns).map(col): _*)
      .write
      .partitionBy(keyCol)
      .option("header", true)
      .option("emptyValue", "")
      .mode(SaveMode.Overwrite)
      .csv(uri)

  /** K1+K2+K3: header CSV per list under `baseUri/person_list=<name>/`. */
  def writeCsvPerList(people: DataFrame, baseUri: String): Unit =
    writePartitionedCsv(people, "person_list", baseUri)

  /** P7's output half (csv_operations.py:19, s3_operations.py:11): each
    * CONFIGURED list — the output of
    * [[graft.pipeline.ReferencePipeline.applyCsvFormat]], which carries
    * `csv_name` — lands at `baseUri/<csv_name>.csv`, the reference's
    * `CSVs/{csv_fmt[name]}.csv` layout. Written distributed (partitioned
    * staging, one file per list via the repartition), then promoted to
    * the renamed targets with filesystem metadata renames — no data moves
    * through the driver. Works against any Hadoop FS (local, s3a).
    */
  def writeCsvRenamed(peopleWithCsvName: DataFrame, baseUri: String): Unit = {
    val staging = s"$baseUri/_staging"
    writePartitionedCsv(peopleWithCsvName, "csv_name", staging)
    val stagingPath = new org.apache.hadoop.fs.Path(staging)
    val basePath = new org.apache.hadoop.fs.Path(baseUri)
    val fs = stagingPath.getFileSystem(
      peopleWithCsvName.sparkSession.sessionState.newHadoopConf())
    // FULL replace: destination mirrors THIS run. Stale .csv files from
    // lists that dropped out of csv_fmt (or emptied) previously survived
    // forever and kept serving last run's roster as current (reviewer
    // finding). Sweep happens AFTER the staging write succeeds, so a
    // failed write never destroys the previous outputs.
    fs.listStatus(basePath)
      .filter(st => st.isFile && st.getPath.getName.endsWith(".csv"))
      .foreach(st => fs.delete(st.getPath, false))
    fs.listStatus(stagingPath).filter(_.isDirectory).foreach { d =>
      // Spark escapes partition-path names with Hive %XX escaping —
      // unescapePathName is its exact inverse. URLDecoder was not: it
      // also turned '+' into a space, corrupting filenames (reviewer
      // finding).
      val name = org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
        .unescapePathName(d.getPath.getName.stripPrefix("csv_name="))
      val parts = fs.listStatus(d.getPath)
        .map(_.getPath).filter(_.getName.startsWith("part-"))
      // The repartition above guarantees one task per key, but confs
      // like maxRecordsPerFile can still split a task's output; promote
      // only ever publishes ONE file per tab, so more than one is a
      // loud error, never a silent truncation (reviewer finding).
      if (parts.length > 1)
        throw new java.io.IOException(
          s"staging for '$name' produced ${parts.length} part files; " +
            "the renamed-CSV sink publishes exactly one file per list " +
            "(is spark.sql.files.maxRecordsPerFile set?)")
      parts.headOption.foreach { part =>
        val dest = new org.apache.hadoop.fs.Path(baseUri, s"$name.csv")
        // Hadoop rename returns false (does not throw) when the target
        // exists — on a re-run that would silently keep stale data —
        // and on any other failure. Delete-then-rename, and surface
        // a failed promotion instead of swallowing it.
        fs.delete(dest, false)
        if (!fs.rename(part, dest))
          throw new java.io.IOException(
            s"failed to promote $part to $dest (rename returned false)")
      }
    }
    fs.delete(stagingPath, true)
  }

  /** Generic columnar sink (parquet) with the same path abstraction —
    * what the engine's own outputs use. Partition columns optional.
    */
  def writeParquet(df: DataFrame, baseUri: String, partitionCols: Seq[String] = Nil): Unit =
    write(df, baseUri, "parquet", partitionCols)

  /** Format-parametric sink: parquet / orc / json / csv through one code
    * path (format is config, like the URI scheme). CSV gets headers so
    * it round-trips.
    */
  def write(df: DataFrame, baseUri: String, format: String,
            partitionCols: Seq[String] = Nil): Unit = {
    var w = df.write.mode(SaveMode.Overwrite).format(format)
    if (format == "csv") w = w.option("header", true)
    (if (partitionCols.nonEmpty) w.partitionBy(partitionCols: _*) else w).save(baseUri)
  }

  /** K6: dynamic partition overwrite — replace ONLY the partitions the
    * batch contains, leave every other partition untouched. This is the
    * production incremental-sink contract (an ingest window rewrites its
    * own day/source partitions; a full Overwrite would silently DELETE
    * the rest of the table — the classic data-loss footgun). Static vs
    * dynamic is a session conf; scoping it here, around this one write,
    * keeps the engine's other overwrite sinks (K3 full-replace
    * semantics) untouched.
    */
  def overwritePartitions(df: DataFrame, baseUri: String,
                          partitionCols: Seq[String]): Unit = {
    require(partitionCols.nonEmpty, "dynamic overwrite needs partition columns")
    // Scoped as a WRITER OPTION, not a session-conf set/restore: two
    // concurrent callers on one session (two foreachBatch sinks) could
    // interleave set/restore so one write ran in STATIC mode and deleted
    // every partition not in its batch — the exact footgun this method
    // exists to prevent (reviewer finding). The option is per-write and
    // takes precedence over the session conf.
    df.write.mode(SaveMode.Overwrite).format("parquet")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(partitionCols: _*).save(baseUri)
  }
}
