package graft

import scala.sys.process.{Process, ProcessLogger}

import org.scalatest.funsuite.AnyFunSuite

/** The Python tools' own tests, run from the repo root: `ProfileSpec`
  * holds `tools/timelog.py`'s TIME pattern, and `tools/perf_ab.py`
  * summarizes every A/B run, so both suites must keep passing.
  */
class ToolScriptsSpec extends AnyFunSuite {

  for (script <- Seq("tools/test_timelog.py", "tools/test_perf_ab.py"))
    test(s"python3 $script passes") {
      val log = new StringBuilder
      val rc = Process(Seq("python3", script))
        .!(ProcessLogger(l => log ++= l += '\n', l => log ++= l += '\n'))
      assert(rc === 0, log.toString)
    }
}
