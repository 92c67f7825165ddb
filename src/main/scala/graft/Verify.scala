package graft

import java.nio.file.{Files, Paths}

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

  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // Optional third arg: comma-separated query-name filter (dev iteration).
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else None
    val (_, cpus) = Bench.env()
    val spark = Sessions.local(cpus)
    new java.io.File(outDir).mkdirs()
    val errors = scala.collection.mutable.LinkedHashMap[String, String]()
    val selected = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
    selected.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        val msg = s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(500)}"
        errors(name) = msg
        System.err.println(s"[verify] FAILED $name — $msg")
      } finally {
        // A query's pins and checkpoint blocks live as long as its
        // result, which is dropped here; the cache-table hammer covers
        // anything a query cached by name.
        spark.catalog.clearCache()
      }
    }
    def obj(m: Iterable[(String, String)]): String =
      m.map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), obj(SparkEntry.oracleSql))
    Files.writeString(Paths.get(s"$outDir/errors.json"), obj(errors))
    if (errors.nonEmpty) {
      System.err.println(s"[verify] ${errors.size} quer${if (errors.size == 1) "y" else "ies"} FAILED: ${errors.keys.mkString(", ")}")
    }
    spark.stop()
    if (errors.nonEmpty) sys.exit(1)
  }
}
