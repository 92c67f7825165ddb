package graft

import scala.sys.process.{Process, ProcessLogger}

import org.scalatest.funsuite.AnyFunSuite

/** The Python tools' own tests, run from the repo root: `ProfileSpec`
  * holds `tools/timelog.py`'s TIME pattern, `tools/perf_ab.py`
  * summarizes every A/B run and `perfbench/verify.py` checks every
  * benchmark output, so all three suites must keep passing. Each runs
  * in under a second and writes only temp dirs.
  */
class ToolScriptsSpec extends AnyFunSuite {

  for (script <- Seq("tools/test_timelog.py", "tools/test_perf_ab.py", "perfbench/test_verify.py"))
    test(s"python3 $script passes") {
      val log = new StringBuilder
      val rc = Process(Seq("python3", script))
        .!(ProcessLogger(l => log ++= l += '\n', l => log ++= l += '\n'))
      assert(rc === 0, log.toString)
    }
}
