package graft

/** `tools.Profile time` output is what tools/timelog.py parses; `audit`
  * prints one AUDIT line per name, an unknown one included.
  */
class ProfileSpec extends SparkTestBase {

  test("Profile time prints a TIME line that matches timelog.py's pattern") {
    val src = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("tools/timelog.py")), java.nio.charset.StandardCharsets.UTF_8)
    val pattern = """LINE = re\.compile\(r"([^"]+)"\)""".r.findFirstMatchIn(src)
      .getOrElse(fail("no LINE pattern in tools/timelog.py")).group(1)
    val lines = scala.collection.mutable.ArrayBuffer[String]()
    tools.Profile.time(spark, Sf, Seq("j1_dim_join"), reps = 1)(lines += _)
    assert(lines.size === 1)
    val m = java.util.regex.Pattern.compile(pattern).matcher(lines.head.trim)
    assert(m.matches(), lines.head)
    assert(m.group(1) === "j1_dim_join")
    assert(m.group(4).toLong === SparkEntry.queries("j1_dim_join")(spark, Sf).count())
    assert(m.group(5) != null, "cpu= column missing")
  }

  test("Profile audit prints one AUDIT line per name and an ERROR line for an unknown one") {
    val lines = scala.collection.mutable.ArrayBuffer[String]()
    tools.Profile.audit(spark, Sf, Seq("j1_dim_join", "no_such_query"))(lines += _)
    assert(lines.size === 2, lines)
    assert(lines(0) === "AUDIT j1_dim_join              cart=0 smj=0 bnlj=0 sortAgg=0 " +
      "objAgg=0 scans=scan:customer.parquet=1,scan:nation.parquet=1,scan:region.parquet=1")
    assert(lines(1).startsWith("AUDIT no_such_query ERROR NoSuchElementException: "), lines(1))
  }
}
