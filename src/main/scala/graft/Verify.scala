package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  *
  * Failure discipline (round-1 finding: a broken query silently vanished
  * from the correctness results): any query that throws is recorded in
  * <outDir>/errors.json as name → message, so absence of an output dir is
  * never silent. The run itself continues — one broken query must not
  * hide the results of the others.
  */
object Verify {

  /** JSON string literal: escapes backslash, quote and ALL control chars
    * (<0x20) — a tab or CR in hand-written SQL would otherwise make the
    * oracle compare's json.load fail and silently drop every result.
    * Bench's JSON line and sidecar use it too.
    */
  private[graft] def q(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** Writes each of `names` from `catalog` to `<outDir>/<name>` as one
    * parquet file through [[SparkEntry.run]], then `oracle_sql.json` and
    * `errors.json`. Returns the errors, name → message, in run order.
    */
  def run(spark: SparkSession, sfDir: String, outDir: String, names: Seq[String],
          catalog: Map[String, SparkEntry.Query] = SparkEntry.queries): Map[String, String] = {
    new java.io.File(outDir).mkdirs()
    val errors = scala.collection.immutable.ListMap.newBuilder[String, String]
    SparkEntry.run(spark, sfDir, names, catalog) { (name, build) =>
      build().coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
    } {
      case (name, Left(msg)) =>
        errors += name -> msg.take(500)
        System.err.println(s"[verify] FAILED $name — $msg")
      case _ => ()
    }
    val errs = errors.result()
    def obj(m: Iterable[(String, String)]): String =
      m.map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), obj(SparkEntry.oracleSql))
    Files.writeString(Paths.get(s"$outDir/errors.json"), obj(errs))
    if (errs.nonEmpty) {
      System.err.println(s"[verify] ${errs.size} quer${if (errs.size == 1) "y" else "ies"} FAILED: ${errs.keys.mkString(", ")}")
    }
    errs
  }

  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // Optional third arg: comma-separated query-name filter (dev iteration).
    val names = args.lift(2).map(_.split(",").toSeq)
      .getOrElse(SparkEntry.queries.keys.toSeq).sorted
    val (_, cpus) = Bench.env()
    val spark = Sessions.local(cpus)
    val errors = try run(spark, sfDir, outDir, names) finally spark.stop()
    if (errors.nonEmpty) sys.exit(1)
  }
}
