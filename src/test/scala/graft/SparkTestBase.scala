package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session for all suites: one local SparkSession (getOrCreate —
  * sbt runs suites in one forked JVM, so every suite reuses it; nobody
  * stops it). Same semantics-relevant config as Verify/Bench via
  * [[Sessions]].
  */
trait SparkTestBase extends AnyFunSuite {
  lazy val spark: SparkSession = Sessions.local("4")

  /** sf0.001 corpus — smallest driver fixture, for tests that want real
    * tables rather than in-memory rows.
    */
  val Sf = "/root/testdata/sf0.001"

  /** Runs a GC once a second until `released` holds or 60 s pass, and
    * returns `released`. Pins and scratch dirs are freed by ContextCleaner
    * and Cleaner threads once a GC finds them unreachable; Spark's
    * listener threads can still hold the last plan for a moment after
    * an action, so one GC straight after it is not enough.
    */
  def releasedAfterGc(released: => Boolean): Boolean = {
    val deadline = System.nanoTime() + 60L * 1000000000L
    while (!released && System.nanoTime() < deadline) {
      System.gc()
      Thread.sleep(1000)
    }
    released
  }

  def tempDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString
}
