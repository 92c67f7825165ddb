package graft

/** `tools.Profile time` output is what tools/timelog.py parses. */
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
}
