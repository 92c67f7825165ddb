package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Scaladoc attaches only the LAST doc comment before a definition, so a
  * doc block closed and directly followed by another orphans the first:
  * it documents nothing and vanishes from the generated docs.
  */
class ScaladocSpec extends AnyFunSuite {

  test("no scaladoc block under src/main is directly followed by another") {
    val root = Paths.get("src/main")
    assert(Files.isDirectory(root), s"run from the repository root (cwd ${Paths.get("").toAbsolutePath})")
    val sources: Seq[Path] = scala.util.Using.resource(Files.walk(root)) { st =>
      st.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
    }
    val stacked = sources.flatMap { f =>
      val lines = Files.readAllLines(f).asScala.map(_.trim).toIndexedSeq
      lines.indices.drop(1).collect {
        case i if lines(i - 1).endsWith("*/") && lines(i).startsWith("/**") => s"$f:${i + 1}"
      }
    }
    assert(stacked.isEmpty, s"stacked scaladoc blocks (the first is orphaned):\n${stacked.mkString("\n")}")
  }
}
