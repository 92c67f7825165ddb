package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{ExplainMode, SparkPlan}

import graft.{Bench, Sessions, SparkEntry}

/** The one profiling entry point over the [[SparkEntry]] catalog.
  *
  * {{{
  * tools/run.sh graft.tools.Profile time [q1,q2,...]      warm medians, TIME lines
  * tools/run.sh graft.tools.Profile time --list           catalog names, one a line
  * tools/run.sh graft.tools.Profile plan q1,q2,... [--final] [--out DIR TAG]
  * tools/run.sh graft.tools.Profile audit [q1,q2,...]     plan pathology + scan counts
  * }}}
  *
  * Corpus and CPU count come from SPARK_GRAFT_SF_DIR / SPARK_GRAFT_CPUS
  * with [[Bench]]'s defaults; `time` runs SPARK_GRAFT_REPS (default 3)
  * warm reps after one untimed warm-up. No name list = the whole
  * catalog. Not part of the library surface.
  */
object Profile {

  def main(args: Array[String]): Unit = {
    val outAt = args.indexOf("--out")
    val out = if (outAt < 0) None else {
      require(args.length > outAt + 2, "--out needs DIR and TAG")
      Some((args(outAt + 1), args(outAt + 2)))
    }
    val positional = args.zipWithIndex.collect {
      case (a, i) if !a.startsWith("--") && (outAt < 0 || i < outAt || i > outAt + 2) => a
    }
    if (positional.headOption.contains("time") && args.contains("--list")) {
      // Lets tools/sweep_quiet.sh chunk the catalog across fresh JVMs
      // without a query list anywhere outside SparkEntry.
      SparkEntry.queries.keys.toSeq.sorted.foreach(println)
      return
    }
    val names = positional.lift(1)
      .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(SparkEntry.queries.keys.toSeq.sorted)
    val (dir, cpus) = Bench.env()
    val run: SparkSession => Unit = positional.headOption match {
      case Some("time") =>
        val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "3").toInt
        require(reps >= 1, s"SPARK_GRAFT_REPS must be >= 1, got $reps")
        spark => time(spark, dir, names, reps)(println)
      case Some("plan") if positional.length >= 2 =>
        spark => plan(spark, dir, names, args.contains("--final"), out)
      case Some("audit") => spark => audit(spark, dir, names)
      case _ =>
        System.err.println("usage: Profile time [q1,...] | time --list | " +
          "plan q1,... [--final] [--out DIR TAG] | audit [q1,...]")
        sys.exit(2)
    }
    val spark = Sessions.local(cpus)
    try run(spark) finally spark.stop()
  }

  /** Warm per-query medians: one untimed warm-up rep, then `reps` timed
    * reps through [[Bench.timedRep]] (the rep Bench grades). Emits one
    * `TIME name median= s reps= rows= cpu=` line per query — the line
    * tools/timelog.py parses. Per-rep DIAG attribution and each rep's
    * heaviest STAGEs go to stderr, so the TIME protocol stays clean.
    */
  private[graft] def time(spark: SparkSession, dir: String, names: Seq[String],
                          reps: Int)(emit: String => Unit): Unit = {
    val tally = new StageTally
    spark.sparkContext.addSparkListener(tally)
    try names.foreach { name =>
      val fn = SparkEntry.queries.getOrElse(name, sys.error(s"unknown query: $name"))
      val timed = (0 to reps).map { i =>
        val s0 = snapshot()
        val r = Bench.timedRep(spark, dir, fn)
        // A slow rep with cpu ~ wall*threads is real work (plan/spill);
        // low cpu + high host steal is hypervisor contention; low cpu +
        // high iowait is disk stalls; high gc is heap pressure. The
        // counters span the rep plus its untimed pin release.
        if (i > 0) System.err.println(diagLine(name, i, r.wallSec, s0))
        // Listener events land async; give the bus a beat before draining
        // so a rep's stages aren't attributed to its successor.
        Thread.sleep(200)
        tally.drain(6).foreach(l => System.err.println(s"STAGE $name rep=$i $l"))
        r
      }.tail
      val med = timed.map(_.wallSec).sorted.apply(timed.size / 2)
      emit(f"TIME $name%-24s median=$med%7.3f s  " +
        s"reps=${timed.map(r => f"${r.wallSec}%.3f").mkString(",")}  " +
        s"rows=${timed.head.rows}  cpu=${timed.map(r => f"${r.cpuSec}%.3f").mkString(",")}")
      // Without a collection between queries, dead blocks from earlier
      // queries surface as multi-second mixed GCs inside a later query's
      // timed window (q_triangles 19 s aged vs 5.6 s fresh).
      spark.catalog.clearCache()
      System.gc()
    } finally spark.sparkContext.removeSparkListener(tally)
  }

  /** Formatted physical plan per query, to stdout or to `DIR/<q>_TAG.txt`
    * (the plans/ evidence layout). `runFinal` runs the query first so
    * the plan is the adaptive FINAL plan — the only view that shows
    * which exchanges AQE actually kept.
    */
  private def plan(spark: SparkSession, dir: String, names: Seq[String],
                   runFinal: Boolean, out: Option[(String, String)]): Unit = {
    out.foreach { case (d, _) => java.nio.file.Files.createDirectories(java.nio.file.Paths.get(d)) }
    names.foreach { q =>
      try {
        val df = SparkEntry.queries(q)(spark, dir)
        if (runFinal) df.count()
        val txt = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
        out match {
          case Some((d, tag)) =>
            val path = java.nio.file.Paths.get(d, s"${q}_$tag.txt")
            java.nio.file.Files.write(path, txt.getBytes(java.nio.charset.StandardCharsets.UTF_8))
            System.err.println(s"[profile] wrote $path")
          case None => println(s"===== $q\n$txt")
        }
      } catch { case e: Throwable =>
        System.err.println(s"[profile] $q FAILED: ${e.getClass.getSimpleName}: ${e.getMessage}")
      } finally spark.catalog.clearCache()
    }
  }

  /** One `AUDIT` line per query over its initial physical plan:
    *
    *  - join/aggregate pathology counts: CartesianProduct, SortMergeJoin,
    *    BroadcastNestedLoopJoin, and aggregates that could not
    *    hash-aggregate. SortAggregate means a non-fixed-width buffer
    *    (min/max over strings — the r13 minhash-signature finding);
    *    ObjectHashAggregate is expected where collect_set-style aggs
    *    appear. Known-and-kept sortAgg rows: a13_mode / j4 (tiny inputs)
    *    and the d12/curation quality election (the hash-shaped
    *    alternative measured slower; see d12From's scaladoc).
    *  - `scans=`: REAL parquet scans by table, Generate and Window nodes,
    *    counted on the plan TREE. Each distinct cached relation's build
    *    is walked once (prefixed `cached/`), however many
    *    InMemoryTableScans read it, so a table scanned more often than
    *    the query's shape needs is work the query really re-runs (the
    *    unpinned-branch class t19/t29 had).
    */
  private def audit(spark: SparkSession, dir: String, names: Seq[String]): Unit =
    names.foreach { name =>
      try {
        val plan = SparkEntry.queries(name)(spark, dir).queryExecution.executedPlan
        val p = plan.toString
        def n(node: String) = node.r.findAllIn(p).length
        println(f"AUDIT $name%-24s cart=${n("CartesianProduct")} smj=${n("SortMergeJoin")} " +
          s"bnlj=${n("BroadcastNestedLoopJoin")} sortAgg=${n("SortAggregate")} " +
          s"objAgg=${n("ObjectHashAggregate")} scans=${scanCounts(plan).mkString(",")}")
      } catch { case e: Throwable =>
        println(s"AUDIT $name ERROR ${e.getClass.getSimpleName}: ${e.getMessage}")
      } finally spark.catalog.clearCache()
    }

  private def scanCounts(plan: SparkPlan): Seq[String] = {
    import org.apache.spark.sql.execution.{FileSourceScanExec, GenerateExec}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.columnar.{InMemoryRelation, InMemoryTableScanExec}
    import org.apache.spark.sql.execution.window.WindowExec
    val seenCaches = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[InMemoryRelation, java.lang.Boolean]())
    def walk(p: SparkPlan): Seq[String] =
      p.collect {
        case s: FileSourceScanExec =>
          Seq("scan:" + s.relation.location.rootPaths.headOption.map(_.getName).getOrElse("?"))
        case g: GenerateExec => Seq(s"gen:${g.boundGenerator.getClass.getSimpleName}")
        case _: WindowExec => Seq("win")
        case im: InMemoryTableScanExec =>
          if (seenCaches.add(im.relation)) walk(im.relation.cachedPlan).map("cached/" + _)
          else Seq.empty
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      }.flatten
    walk(plan).groupBy(identity).map { case (k, vs) => s"$k=${vs.size}" }.toSeq.sorted
  }

  // ---- per-rep attribution (stderr) ----------------------------------

  /** Process CPU, JVM GC, /proc/self/stat user/sys + page faults, and
    * host /proc/stat steal/iowait/busy — the competing explanations of a
    * slow rep (the r9/r10 sweeps saw identical reps swing 5-10x with
    * benign GC logs). Steal and iowait are invisible to the JVM: wall
    * grows while cpu/gc do not. Zeros where /proc is unreadable.
    */
  private final case class Snap(cpuNs: Long, gcMs: Long, steal: Long, iowait: Long,
                                busy: Long, utime: Long, stime: Long, minflt: Long,
                                majflt: Long)

  private def firstLine(path: String): String =
    try scala.util.Using.resource(scala.io.Source.fromFile(path))(_.getLines().next())
    catch { case _: Exception => "" }

  private def snapshot(): Snap = {
    import scala.jdk.CollectionConverters._
    val gcMs = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum
    // /proc/stat cpu line: user nice system idle iowait irq softirq steal
    val host = firstLine("/proc/stat").trim.split("\\s+").drop(1).flatMap(_.toLongOption)
    def h(i: Int) = if (host.length > i) host(i) else 0L
    // /proc/self/stat after the parenthesised comm: state(0) ... minflt(7)
    // majflt(9) utime(11) stime(12).
    val stat = firstLine("/proc/self/stat")
    val self = stat.substring(stat.lastIndexOf(')') + 1).trim.split(" ")
      .map(_.toLongOption.getOrElse(0L))
    def s(i: Int) = if (self.length > i) self(i) else 0L
    Snap(math.max(0L, (Bench.processCpuSec() * 1e9).toLong), gcMs, h(7), h(4),
      h(0) + h(1) + h(2), s(11), s(12), s(7), s(9))
  }

  /** Jiffy counts are USER_HZ=100 summed over every CPU of the host. */
  private def diagLine(name: String, rep: Int, wallSec: Double, s0: Snap): String = {
    val s1 = snapshot()
    def j(a: Long, b: Long) = (a - b) / 100.0
    f"DIAG $name%-24s rep=$rep wall=$wallSec%7.3f cpu=${(s1.cpuNs - s0.cpuNs) / 1e9}%8.3f " +
      f"gc=${(s1.gcMs - s0.gcMs) / 1e3}%6.3f steal=${j(s1.steal, s0.steal)}%7.2f " +
      f"iowait=${j(s1.iowait, s0.iowait)}%6.2f hostbusy=${j(s1.busy, s0.busy)}%8.2f " +
      f"usr=${j(s1.utime, s0.utime)}%7.2f sys=${j(s1.stime, s0.stime)}%7.2f " +
      s"minflt=${s1.minflt - s0.minflt} majflt=${s1.majflt - s0.majflt}"
  }

  /** Per-stage task totals since the last drain. Same stages + same task
    * counts + fatter run time = slower identical tasks (JIT/alloc); extra
    * tasks on one stage = AQE skew split or retry; extra stages = the
    * physical plan flipped between reps.
    */
  private final case class Stage(name: String, tasks: Int, runMs: Long,
                                 memSpill: Long, diskSpill: Long, peakExecMem: Long)

  private final class StageTally extends org.apache.spark.scheduler.SparkListener {
    private val stages = new java.util.concurrent.ConcurrentHashMap[Int, Stage]()
    override def onStageCompleted(
        sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
      val info = sc.stageInfo
      val m = Option(info.taskMetrics)
      stages.merge(info.stageId,
        Stage(info.name.takeWhile(_ != '\n'), info.numTasks,
          m.map(_.executorRunTime).getOrElse(0L),
          m.map(_.memoryBytesSpilled).getOrElse(0L),
          m.map(_.diskBytesSpilled).getOrElse(0L),
          m.map(_.peakExecutionMemory).getOrElse(0L)),
        (a, b) => Stage(a.name, a.tasks + b.tasks, a.runMs + b.runMs,
          a.memSpill + b.memSpill, a.diskSpill + b.diskSpill,
          math.max(a.peakExecMem, b.peakExecMem)))
    }
    /** Top-k stages completed since the last drain, by executor run time. */
    def drain(k: Int): Seq[String] = {
      import scala.jdk.CollectionConverters._
      val snap = stages.asScala.toSeq.sortBy(-_._2.runMs).take(k)
      stages.clear()
      snap.map { case (id, s) =>
        f"id=$id tasks=${s.tasks} run=${s.runMs / 1e3}%.1fs " +
          f"spillMem=${s.memSpill >> 20}M spillDisk=${s.diskSpill >> 20}M " +
          f"peakExec=${s.peakExecMem >> 20}M ${s.name.take(48)}"
      }
    }
  }
}
