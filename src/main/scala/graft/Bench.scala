package graft

import scala.jdk.CollectionConverters._

import Verify.q

/** Benchmark entry: times every SparkEntry query at the configured scale
  * factor and prints ONE JSON line for the grading harness (`{"metric":"total",...}`,
  * the last stdout line, preceded by `queries_part` lines listing every
  * graded query). A failed query is reported under "errors", never given a
  * fabricated seconds entry, and the process exits nonzero.
  *
  * The protocol is fixed; the parent JVM never builds a SparkSession. It
  * forks child JVMs (`graft.Bench --chunk q1,q2,.. [--selfwarm]`, same JVM
  * flags and classpath) that each start a session, run the untimed
  * warm-ups [[Bench.warmupsFor]] names, and print one `BENCHQ`/`BENCHE`
  * line per query as soon as it is timed, then `BENCHDONE`.
  *
  *  1. '''Bulk.''' Queries outside [[Bench.FreshJvmQueries]] run in chunks
  *     of [[Bench.BulkChunkSize]], one warm rep each. A rep over
  *     [[Bench.InSituRatio]]× its quiet median (and [[Bench.AuditFloor]] s
  *     over it) is the chunk's first, cold execution of that code: it
  *     escalates in place to two more reps and grades their mean, at most
  *     [[Bench.MaxEscalations]] times per chunk.
  *  2. '''Singles.''' The codegen-pollution class, [[Bench.FreshJvmQueries]],
  *     runs in self-warmed groups of at most [[Bench.GroupSize]] (round
  *     robin, so family members land apart): an untimed run of each query,
  *     then median-of-3 (one rep at or under [[Bench.RepThreshold]] s) —
  *     the protocol QUIET_MEDIANS.json is built with.
  *  3. '''Audit.''' Every grade over [[Bench.AuditRatio]]× its quiet median
  *     and [[Bench.AuditFloor]] s over it reruns, most suspicious first, in
  *     self-warmed groups of [[Bench.GroupSize]]; the grade becomes
  *     min(graded, rerun). An entry still over the line stays flagged in
  *     the sidecar's `quiet_audit`.
  *
  * '''Deadline.''' A child starts only while [[Bench.DefaultBudgetSec]]
  * minus the elapsed wall covers its estimate ([[Bench.ChildOverheadSec]]
  * plus quiet median × reps per query). A bulk or singles group that does
  * not fit stays untimed and the total line carries `"partial":true`; an
  * audit group that does not fit adds to `"audit_skipped"`. The sidecar's
  * budget notes name both.
  *
  * '''Crashes.''' A child that exits before `BENCHDONE` charges the first
  * unreported query with an error naming the exit code; the rest of its
  * chunk reruns in a fresh child.
  *
  * '''Output.''' Baseline twins ([[SparkEntry.baselineTwins]]) are graded
  * only when SPARK_GRAFT_ONLY names them; the sidecar carries their quiet
  * medians. A provisional total line (at most every 84 s) and a sidecar
  * refresh follow each child, and a SIGTERM hook kills live children and
  * flushes a partial total, so a timed-out run still leaves a parseable
  * artifact. Per-rep wall and process CPU (`reps`, `cpu_reps`), the audit
  * and a host pretouch probe land in the BENCH_DETAIL sidecar.
  */
object Bench {

  /** Self-warmed groups take median-of-3 only past this first rep (s). */
  val RepThreshold = 0.2

  /** Audit trigger: graded > AuditRatio × quiet median… */
  val AuditRatio = 2.0

  /** …AND graded − quiet > AuditFloor seconds (sub-second jitter on tiny
    * queries cannot move the grade). Also the in-place escalation floor.
    */
  val AuditFloor = 0.3

  /** In-place escalation trigger for the one-rep bulk pass: a single warm
    * rep is the query's first execution in its chunk JVM, and cold codegen
    * reads as a 1.3–2.0× inflation the 2.0× audit would not catch.
    */
  val InSituRatio = 1.5

  /** Escalations allowed per bulk chunk, so a degraded host costs a
    * bounded number of extra reps.
    */
  val MaxEscalations = 8

  /** Queries per bulk child JVM. */
  val BulkChunkSize = 50

  /** Queries per self-warmed child JVM (singles and audit reruns). */
  val GroupSize = 6

  /** Wall budget (s) for the whole run. The grading harness wraps
    * `timeout 900` around sbt, whose startup takes ~25 s before Bench's
    * clock starts.
    */
  val DefaultBudgetSec = 840

  /** Estimated fixed wall of one child JVM (start, session, warm-ups),
    * used only by the deadline rule.
    */
  val ChildOverheadSec = 40.0

  /** Deadline-rule seconds per rep for a query with no quiet median. */
  val UnknownQuietSec = 1.0

  /** Graded in self-warmed groups: composed index-consumer / streaming /
    * multi-stage queries whose in-chunk timings inflate 2–10× from codegen
    * profile pollution — after related queries run in the same JVM, C2
    * recompiles their shared expression classes on polluted profiles and
    * the reps burn real CPU without converging (q_curation_neardup_idx
    * graded 6.4 s in-chunk vs 2.57 s quiet; t19 19.8 s vs 2.1 s with the
    * same process CPU).
    */
  val FreshJvmQueries: Set[String] = Set(
    "d13_group_split", "q_curation_neardup", "q_curation_neardup_idx",
    "q_curation_coverage",
    "d7c_resolve_ingest", "t29b_winnow_ingest",
    "st2_sliding_window", "st3_session_window",
    "t17_inverted_index", "q_fuzzy_match_name",
    "q_triangles", "q_triangles_idx", "q_triangles_adj", "q_triangles_adj_idx",
    "q_triangles_adj_ingest", "sim_ivf_idx",
    "t19_dup_spans", "d12_quality_resolve",
    "q_curation_pipeline", "t11_decontaminate", "q_kmeans", "q_semdedup",
    "sim_pq_topk")

  /** `"audit_skipped":n` for the parsed total line when n audit reruns
    * could not be funded; empty when every flag got its rerun.
    */
  private[graft] def auditSkippedTag(n: Int): String =
    if (n > 0) s""","audit_skipped":$n""" else ""

  /** Untimed warm-up queries and the chunk contents that need them: each
    * exercises machinery whose first-touch cost would otherwise land in
    * the first timed query of its family. j1 (parquet reader, codegen,
    * shuffle) always runs; st2 spins up the Structured Streaming
    * micro-batch engine (~10 s); d4 JITs the shingle window / distinct /
    * multi-key join codegen shapes shared across the dedup family (~2× on
    * the first timed d* query); d5b builds the corpus index so its timed
    * entry measures steady-state ingest; q_triangles_idx builds the
    * bucketed edge snapshot so the timed indexed probes measure the probe,
    * not the build.
    */
  private[graft] def warmupsFor(names: Seq[String]): Seq[String] = {
    val b = Seq.newBuilder[String]
    b += "j1_dim_join"
    if (names.exists(_.startsWith("st"))) b += "st2_sliding_window"
    if (names.exists(n => n.startsWith("d") || n.startsWith("q_curation")))
      b += "d4_ngram_jaccard"
    if (names.exists(n => n == "d5_dedup_incremental" || n == "d5b_index_ingest"
        || n == "st14_stream_neardup"))
      b += "d5b_index_ingest"
    if (names.exists(n => n == "q_triangles_idx" || n == "q_triangles_adj_idx"))
      b += "q_triangles_idx"
    // The label-index consumers: one warm-up builds the bucketed label
    // snapshot so their timed entries measure steady-state reads, and
    // d7c additionally builds its corpus-minus-batch snapshot pair.
    if (names.exists(n => n == "d7b_resolve_idx" || n == "d12b_quality_idx"
        || n == "d13b_split_idx" || n == "q_curation_neardup_idx"
        || n == "q_curation_coverage"))
      b += "d7b_resolve_idx"
    if (names.contains("d7c_resolve_ingest")) b += "d7c_resolve_ingest"
    if (names.contains("t29b_winnow_ingest")) b += "t29b_winnow_ingest"
    if (names.contains("q_triangles_adj_ingest")) b += "q_triangles_adj_ingest"
    // The span-index consumer reads the stored winnow fingerprints — one
    // warm-up builds the snapshot so the timed probe measures the read.
    if (names.contains("t19b_dup_spans_idx")) b += "t19b_dup_spans_idx"
    // The stored-inverted-list consumers: one warm-up builds the
    // partitioned lists table so their timed entries measure the probe /
    // batch assignment, not the snapshot build.
    if (names.exists(n => n == "sim_ivf_idx" || n == "sim_ivf_recall_idx"
        || n == "sim_ivf_ingest"))
      b += "sim_ivf_idx"
    b.result()
  }

  /** Run `names` untimed. A failed warm-up is reported on stderr; the
    * timed run of that query reports its own error.
    */
  private def runUntimed(spark: org.apache.spark.sql.SparkSession,
                         sfDir: String, names: Seq[String]): Unit =
    SparkEntry.run(spark, sfDir, names)((_, build) => build().count()) {
      case (n, Left(msg)) => System.err.println(s"[bench] warm-up $n FAILED: $msg")
      case _ => ()
    }

  /** Whole-process CPU seconds (all threads, user+sys) — the per-rep
    * delta separates "host stalled" (wall ≫ cpu/threads) from "real
    * work" without a second measurement session. -1 when the platform
    * bean is unavailable.
    */
  private[graft] def processCpuSec(): Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean match {
      case os: com.sun.management.OperatingSystemMXBean =>
        val t = os.getProcessCpuTime
        if (t < 0) -1.0 else t / 1e9
      case _ => -1.0
    }

  /** One timed rep's wall seconds, process-CPU seconds and row count. */
  private[graft] final case class Rep(wallSec: Double, cpuSec: Double, rows: Long)

  /** The one timed rep Bench grades and tools.Profile reports: build the
    * query and `count()` it inside the timed window. The result is
    * dropped on return; its pins are freed by a later GC of
    * [[SparkEntry.run]], outside the window, so a pin-heavy query's
    * reading never includes unpinning its working set.
    */
  private[graft] def timedRep(build: () => org.apache.spark.sql.DataFrame): Rep = {
    val c0 = processCpuSec()
    val t0 = System.nanoTime()
    val rows = build().count()
    val wall = (System.nanoTime() - t0) / 1e9
    val cpu = if (c0 < 0) -1.0 else processCpuSec() - c0
    Rep(wall, cpu, rows)
  }

  /** Child mode: time `names` through [[SparkEntry.run]] and print, as
    * each query finishes, `BENCHQ name graded rep,rep,.. cpu,cpu,..` or
    * `BENCHE name message`, then `BENCHDONE`. Stdout carries only these lines (Spark logs go to
    * stderr, which the parent inherits). Bulk chunks (`selfWarm` false)
    * take one rep and escalate in place; self-warmed groups take
    * median-of-3.
    */
  private def childMain(sfDir: String, cpus: String, names: Seq[String],
                        selfWarm: Boolean): Unit = {
    val quiet: Map[String, Double] =
      if (selfWarm) Map.empty else quietMedians(sfDir).getOrElse(Map.empty)
    val spark = Sessions.local(cpus)
    runUntimed(spark, sfDir, warmupsFor(names))
    if (selfWarm) runUntimed(spark, sfDir, names)
    var escalationsLeft = MaxEscalations
    SparkEntry.run(spark, sfDir, names) { (name, build) =>
      def rep(): Rep = timedRep(build)
      val r1 = rep()
      val escalate = !selfWarm && escalationsLeft > 0 && quiet.get(name).exists(qm =>
        r1.wallSec > InSituRatio * qm && r1.wallSec - qm > AuditFloor)
      if (escalate) escalationsLeft -= 1
      val rs =
        if (escalate || (selfWarm && r1.wallSec > RepThreshold)) Seq(r1, rep(), rep())
        else Seq(r1)
      // An escalated entry drops its cold first rep and grades the mean
      // of the two warm reps; otherwise the median.
      val graded =
        if (escalate) (rs(1).wallSec + rs(2).wallSec) / 2
        else rs.map(_.wallSec).sorted.apply(rs.size / 2)
      f"BENCHQ $name $graded%.4f ${rs.map(r => f"${r.wallSec}%.4f").mkString(",")} " +
        rs.map(r => f"${r.cpuSec}%.4f").mkString(",")
    } { (name, r) =>
      println(r.fold(msg => s"BENCHE $name ${msg.take(200).replace('\n', ' ').replace('\r', ' ')}",
        identity))
      System.out.flush()
    }
    println("BENCHDONE")
    System.out.flush()
    spark.stop()
    // Errors are the parent's to aggregate into a nonzero exit.
    sys.exit(0)
  }

  /** What the parent learns from one child's stdout. `rerun` is the part
    * of the chunk a crashed child never reached.
    */
  private[graft] final case class Transcript(
      times: Map[String, Double], reps: Map[String, Seq[Double]],
      cpu: Map[String, Seq[Double]], errors: Map[String, String],
      rerun: Seq[String])

  /** Parse a child's stdout `lines` for chunk `names` and its exit code
    * `rc`. Without `BENCHDONE`, the first unreported name is charged with
    * the crash and the unreported rest is returned for a fresh child.
    */
  private[graft] def parseTranscript(names: Seq[String], lines: Seq[String],
                                     rc: Int): Transcript = {
    val times = Map.newBuilder[String, Double]
    val reps = Map.newBuilder[String, Seq[Double]]
    val cpu = Map.newBuilder[String, Seq[Double]]
    val errors = scala.collection.mutable.LinkedHashMap[String, String]()
    var done = false
    def nums(s: String): Seq[Double] = s.split(",").toSeq.map(_.toDouble)
    lines.foreach { line =>
      line.split(" ", 3) match {
        case Array("BENCHQ", n, rest) =>
          val f = rest.split(" ")
          times += n -> f(0).toDouble
          if (f.length > 1) reps += n -> nums(f(1))
          if (f.length > 2) cpu += n -> nums(f(2))
        case Array("BENCHE", n, msg) => errors(n) = msg
        case Array("BENCHDONE") => done = true
        case _ => () // stray stdout line
      }
    }
    val t = times.result()
    val missing = names.filterNot(n => t.contains(n) || errors.contains(n))
    val rerun =
      if (done) {
        missing.foreach(n => errors(n) = "child JVM finished without reporting it")
        Nil
      } else missing match {
        case culprit +: rest =>
          errors(culprit) = s"child JVM exited rc=$rc before reporting it"
          rest
        case _ => Nil
      }
    Transcript(t, reps.result(), cpu.result(), errors.toMap, rerun)
  }

  /** The fixed plan: bulk chunks and self-warmed groups over the sorted
    * catalog (filtered by `only`), plus the baseline twins left out. Twins
    * are graded only when `only` names them.
    */
  private[graft] final case class Plan(bulk: Seq[Seq[String]], fresh: Seq[Seq[String]],
                                       skippedTwins: Seq[String]) {
    def names: Seq[String] = bulk.flatten ++ fresh.flatten
  }

  private[graft] def plan(catalog: Iterable[String], only: Option[Set[String]]): Plan = {
    val named = catalog.toSeq.sorted.filter(n => only.forall(_.contains(n)))
    val skippedTwins =
      if (only.isDefined) Nil else named.filter(SparkEntry.baselineTwins.contains)
    val (fresh, regular) =
      named.filterNot(skippedTwins.toSet).partition(FreshJvmQueries.contains)
    Plan(regular.grouped(BulkChunkSize).toSeq, roundRobin(fresh, GroupSize), skippedTwins)
  }

  /** Split `names` into the fewest groups of at most `size`, dealing
    * round robin so adjacent (same-family) names land in different groups.
    */
  private[graft] def roundRobin(names: Seq[String], size: Int): Seq[Seq[String]] =
    if (names.isEmpty) Nil
    else {
      val n = math.ceil(names.size.toDouble / size).toInt
      names.zipWithIndex.groupBy(_._2 % n).toSeq.sortBy(_._1).map(_._2.map(_._1))
    }

  /** Over the audit line: > AuditRatio × quiet and > AuditFloor s over. */
  private[graft] def overQuiet(graded: Double, quiet: Double): Boolean =
    graded > AuditRatio * quiet && graded - quiet > AuditFloor

  /** Graded entries over the audit line, largest graded/quiet ratio first. */
  private[graft] def auditFlags(graded: collection.Map[String, Double],
                                quiet: Map[String, Double]): Seq[String] =
    graded.toSeq.collect { case (n, v) if quiet.get(n).exists(overQuiet(v, _)) =>
      (n, v / quiet(n))
    }.sortBy { case (n, r) => (-r, n) }.map(_._1)

  private def javaBin: String = new java.io.File(new java.io.File(
    System.getProperty("java.home"), "bin"), "java").getAbsolutePath

  /** Host-health pretouch probe: wall seconds to start a JVM that commits
    * and pre-faults a 2 GB heap. ~0.3–1 s on a healthy host; kernel fault
    * storms inflate it 10–50×. -1 when the probe failed to launch.
    */
  private def hostProbeSec(): Double =
    try {
      val t0 = System.nanoTime()
      val p = new java.lang.ProcessBuilder(
        javaBin, "-Xms2g", "-Xmx2g", "-XX:+AlwaysPreTouch", "-version")
        .redirectErrorStream(true).start()
      p.getInputStream.readAllBytes()
      p.waitFor()
      (System.nanoTime() - t0) / 1e9
    } catch { case _: Throwable => -1.0 }

  /** Probe reading below which the host counts as healthy. */
  val HealthyProbeSec = 1.5

  /** Child JVMs currently running — the SIGTERM flush hook destroys them
    * so a harness timeout never leaves orphans burning the host.
    */
  private val liveChildren =
    new java.util.concurrent.CopyOnWriteArrayList[java.lang.Process]()

  private[graft] def reapChildren(): Unit = {
    liveChildren.forEach(p => if (p.isAlive) p.destroy())
    liveChildren.clear()
  }

  /** Fork one child JVM over `names` with the parent's own JVM flags and
    * classpath, and parse its stdout. A failed spawn charges every name.
    */
  private def forkChild(names: Seq[String], selfWarm: Boolean): Transcript =
    try {
      val cmd = Seq(javaBin) ++
        java.lang.management.ManagementFactory.getRuntimeMXBean.getInputArguments.asScala ++
        Seq("-cp", System.getProperty("java.class.path"),
          "graft.Bench", "--chunk", names.mkString(",")) ++
        (if (selfWarm) Seq("--selfwarm") else Nil)
      val pb = new java.lang.ProcessBuilder(cmd: _*)
      pb.redirectError(java.lang.ProcessBuilder.Redirect.INHERIT)
      val proc = pb.start()
      liveChildren.add(proc)
      val out =
        try scala.io.Source.fromInputStream(proc.getInputStream).getLines().toList
        finally { proc.waitFor(); liveChildren.remove(proc) }
      val t = parseTranscript(names, out, proc.exitValue())
      if (t.rerun.nonEmpty)
        System.err.println(s"[bench] child JVM exited rc=${proc.exitValue()} before " +
          s"BENCHDONE — ${t.rerun.size} unreported queries rerun in a fresh child")
      t
    } catch { case e: Throwable =>
      val msg = s"child spawn failed: ${e.getClass.getSimpleName}: ${e.getMessage}"
      System.err.println(s"[bench] $msg")
      Transcript(Map.empty, Map.empty, Map.empty, names.map(_ -> msg).toMap, Nil)
    }

  /** Parse the flat name→seconds map out of QUIET_MEDIANS.json
    * (SPARK_GRAFT_QUIET_MEDIANS overrides the path; tools/timelog.py
    * writes it). Left = why it's unusable.
    */
  private def quietMedians(sfDir: String): Either[String, Map[String, Double]] = {
    val path = sys.env.getOrElse("SPARK_GRAFT_QUIET_MEDIANS", "QUIET_MEDIANS.json")
    val f = new java.io.File(path)
    if (!f.isFile) Left(s"skipped: $path not found")
    else {
      val txt = new String(java.nio.file.Files.readAllBytes(f.toPath),
        java.nio.charset.StandardCharsets.UTF_8)
      val quietSf = """"sf":\s*"([^"]+)"""".r.findFirstMatchIn(txt).map(_.group(1))
      if (!quietSf.contains(sfDir))
        Left(s"skipped: quiet medians cover ${quietSf.getOrElse("?")}, bench ran $sfDir")
      else {
        // Slice ONLY the medians_sec object (to its closing brace): sibling
        // maps (cpu_medians_sec) have same-named keys. A file without
        // medians_sec is a skip, never a scan of unrelated header numbers.
        val from = txt.indexOf("\"medians_sec\"")
        if (from < 0) Left(s"skipped: medians_sec not found in $path")
        else {
          val to = txt.indexOf("}", from) match { case -1 => txt.length; case i => i }
          val medsTxt = txt.substring(from, to)
          Right(""""([A-Za-z0-9_]+)":\s*([0-9][0-9.eE+-]*)""".r
            .findAllMatchIn(medsTxt)
            .map(m => m.group(1) -> m.group(2).toDouble).toMap - "medians_sec")
        }
      }
    }
  }

  /** (corpus dir, local-mode CPU count) from SPARK_GRAFT_SF_DIR and
    * SPARK_GRAFT_CPUS, with the defaults every graft main shares
    * (Bench, Verify and the tools).
    */
  private[graft] def env(): (String, String) = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    (sfDir, cpus)
  }

  def main(args: Array[String]): Unit = {
    val (sfDir, cpus) = env()

    // Child mode, parsed before anything session-related.
    val chunkIdx = args.indexOf("--chunk")
    if (chunkIdx >= 0) {
      val names = args(chunkIdx + 1).split(",").map(_.trim).filter(_.nonEmpty).toSeq
      childMain(sfDir, cpus, names, selfWarm = args.contains("--selfwarm"))
      return
    }

    val benchStart = System.nanoTime()
    def elapsedSec: Double = (System.nanoTime() - benchStart) / 1e9
    val budgetSec = DefaultBudgetSec.toDouble

    val probeSec = hostProbeSec()
    System.err.println(f"[bench] host pretouch probe: $probeSec%.2fs " +
      s"(healthy < $HealthyProbeSec)")

    // Optional subset filter (dev iteration / the sf1 sweep); the driver
    // never sets it. Loud when active, and marked in the JSON ("subset",
    // a smaller n_queries) so a leaked variable never passes as a full
    // sweep. Empty tokens are dropped; a filter matching nothing is an
    // error, not an empty sweep.
    val only: Option[Set[String]] =
      sys.env.get("SPARK_GRAFT_ONLY")
        .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
        .filter(_.nonEmpty)
    only.foreach { s =>
      val matched = SparkEntry.queries.keySet.count(s.contains)
      if (matched == 0) {
        System.err.println(s"[bench] ERROR: SPARK_GRAFT_ONLY matches no catalog " +
          s"query (requested: ${s.toSeq.sorted.mkString(",")})")
        sys.exit(2)
      }
      System.err.println(s"[bench] WARNING: SPARK_GRAFT_ONLY active — timing " +
        s"$matched of ${SparkEntry.queries.size} queries; " +
        "this is NOT a full-catalog sweep")
    }

    val thePlan = plan(SparkEntry.queries.keys, only)
    val catalog = thePlan.names
    val skippedTwins = thePlan.skippedTwins
    if (skippedTwins.nonEmpty)
      System.err.println(s"[bench] baseline twins verify-only this run " +
        s"(name them in SPARK_GRAFT_ONLY to grade): ${skippedTwins.mkString(",")}")

    // Concurrent maps: the SIGTERM flush hook reads these while the main
    // thread may still be writing.
    val times = scala.collection.concurrent.TrieMap[String, Double]()
    val errors = scala.collection.concurrent.TrieMap[String, String]()
    val repsDetail = scala.collection.concurrent.TrieMap[String, Seq[Double]]()
    val cpuDetail = scala.collection.concurrent.TrieMap[String, Seq[Double]]()
    val budgetNotes = new java.util.concurrent.CopyOnWriteArrayList[String]()
    // Planned queries the deadline left untimed: the total line is then
    // marked partial, never read as a faster full run.
    val untimed = new java.util.concurrent.CopyOnWriteArrayList[String]()
    @volatile var auditNote = "pending: run interrupted before the audit phase"
    @volatile var auditSkippedCount = 0
    final case class Audit(graded: Double, quiet: Double, reruns: Seq[Double],
                           used: Double, flagged: Boolean)
    val auditEntries = scala.collection.concurrent.TrieMap[String, Audit]()

    val quietOrNote = quietMedians(sfDir)
    val quietMap: Map[String, Double] = quietOrNote.getOrElse(Map.empty)

    // ---- Emission (shared by the normal exit and the SIGTERM hook) ---
    def sec(v: Double, decimals: Int): String = {
      val pow = math.pow(10, decimals).toLong
      val c = math.round(v * pow)
      if (decimals == 0) c.toString
      else s"${c / pow}.${s"%0${decimals}d".format(c % pow)}"
    }
    val detailPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_DETAIL", "BENCH_DETAIL.json")

    /** Print the queries_part lines + the final total line and write the
      * sidecar. `partial` marks an incomplete snapshot ("partial":true; the
      * total covers everything timed so far). `provisional`: total line +
      * sidecar only, no queries_part lines and no stderr error replay —
      * called after every child so the harness's last-line parse finds a
      * fresh total wherever a harness timeout lands (when the harness TERMs
      * the sbt wrapper, sbt's output pump dies with it, so only lines
      * printed before the kill are sure to be captured).
      */
    def emit(partial: Boolean, provisional: Boolean = false,
             lineOut: Boolean = true): Unit = {
      val snapshot = times.readOnlySnapshot().toMap
      val errSnap = errors.readOnlySnapshot().toMap
      // Full error detail goes to stderr; the JSON line carries a
      // truncated form so failures can never blow the line budget.
      if (!provisional) errSnap.toSeq.sortBy(_._1).foreach { case (k, v) =>
        System.err.println(s"[bench] FAILED $k — $v") }
      def errsJson(maxMsg: Int): String =
        if (errSnap.isEmpty) ""
        else errSnap.toSeq.sortBy(_._1)
          .map { case (k, v) => s"${q(k)}:${q(v.take(maxMsg))}" }
          .mkString(""","errors":{""", ",", "}")
      val total = snapshot.values.sum
      val partialTag = (if (partial)
        s""","partial":true,"n_timed":${snapshot.size},"n_planned":${catalog.size}"""
        else "") + auditSkippedTag(auditSkippedCount)
      def build(decimals: Int, counts: Boolean, maxMsg: Int,
                topK: Int = Int.MaxValue): String = {
        // When even whole-second full listings blow the budget, keep only
        // the SLOWEST topK entries; the total still covers everything and
        // n_queries records the full count.
        val kept =
          if (topK >= snapshot.size) snapshot.toSeq.sortBy(_._1)
          else snapshot.toSeq.sortBy { case (_, v) => -v }.take(topK).sortBy(_._1)
        val qs = kept.map { case (k, v) => s"${q(k)}:${sec(v, decimals)}" }.mkString("{", ",", "}")
        val tail =
          if (counts || topK < snapshot.size)
            s""","n_queries":${snapshot.size},"n_errors":${errSnap.size}""" else ""
        val subset = if (only.isDefined)
          s""","subset":true,"n_catalog":${SparkEntry.queries.size}""" else ""
        s"""{"metric":"total","value":${sec(total, 2)},"unit":"sec","queries":$qs${errsJson(maxMsg)}$tail$subset$partialTag,"sf":"$sfDir"}"""
      }
      val protocol =
        s"bulk: forked chunks of <=$BulkChunkSize queries, 1 warm rep, escalating in " +
        s"place on a >${InSituRatio}x quiet outlier to two more warm reps graded by " +
        s"their mean (<=$MaxEscalations per chunk); fresh_jvm_queries: self-warmed " +
        s"forked groups of <=$GroupSize, median-of-3 past ${RepThreshold}s; audit: " +
        s"one pass rerunning >${AuditRatio}x quiet outliers in self-warmed groups of " +
        s"<=$GroupSize, graded min(graded, rerun); a child starts only while the " +
        s"${budgetSec.toLong}s wall budget covers its estimate (see Bench.scala scaladoc)"
      val detailJson = {
        val sortedTimes = snapshot.toSeq.sortBy(_._1)
        def obj(rows: Seq[String]): String = rows.mkString("{\n", ",\n", "\n}")
        def arr(vs: Seq[Double]): String = vs.map(sec(_, 3)).mkString("[", ",", "]")
        val qs = obj(sortedTimes.map { case (k, v) => s"  ${q(k)}: ${sec(v, 3)}" })
        val es = obj(errSnap.toSeq.sortBy(_._1).map { case (k, v) => s"  ${q(k)}: ${q(v)}" })
        val rd = obj(sortedTimes.map { case (k, _) => s"  ${q(k)}: ${arr(repsDetail.getOrElse(k, Nil))}" })
        val cd = obj(sortedTimes.map { case (k, _) => s"  ${q(k)}: ${arr(cpuDetail.getOrElse(k, Nil))}" })
        val au = obj(auditEntries.readOnlySnapshot().toSeq.sortBy(_._1).map { case (k, a) =>
          s"  ${q(k)}: {\"graded\": ${sec(a.graded, 3)}, \"quiet\": ${sec(a.quiet, 3)}, " +
            s"\"reruns\": ${arr(a.reruns)}, \"used\": ${sec(a.used, 3)}, \"flagged\": ${a.flagged}}" })
        val freshGraded = snapshot.keys.toSeq.sorted.filter(FreshJvmQueries.contains)
        // Twins left out carry their committed quiet medians so the
        // recompute-vs-index comparison stays readable; graded twins
        // appear under "queries" like everything else.
        val twinNames = SparkEntry.baselineTwins.keys.toSeq.sorted
        val twins = obj(SparkEntry.baselineTwins.toSeq.sortBy(_._1)
          .map { case (k, v) => s"  ${q(k)}: ${q(v)}" })
        val twinQuiet = obj(twinNames
          .flatMap(n => quietMap.get(n).map(v => s"  ${q(n)}: ${sec(v, 3)}")))
        val twinSecs =
          if (skippedTwins.nonEmpty) skippedTwins.flatMap(quietMap.get).sum
          else twinNames.flatMap(snapshot.get).sum
        val budget = {
          val notes = budgetNotes.toArray.toSeq.map(v => q(v.toString)).mkString("[", ",", "]")
          val probe = s"""{"sec": ${sec(probeSec, 2)}, "healthy": ${probeSec >= 0 && probeSec < HealthyProbeSec}}"""
          s"""{"budget_sec": ${budgetSec.toLong}, "elapsed_sec": ${sec(elapsedSec, 1)}, "host_probe": $probe, "notes": $notes}"""
        }
        s"""{
"metric": "total",
"value": ${sec(total, 3)},
"unit": "sec",
"protocol": ${q(protocol)},
"n_queries": ${snapshot.size},
"n_errors": ${errSnap.size},${if (partial) s"""
"partial": true,
"n_catalog_planned": ${catalog.size},""" else ""}${if (only.isDefined) s"""
"subset": true,
"n_catalog": ${SparkEntry.queries.size},""" else ""}
"sf": ${q(sfDir)},
"budget": $budget,
"fresh_jvm_queries": ${freshGraded.map(q).mkString("[", ",", "]")},
"baseline_twins": {"graded": ${catalog.exists(SparkEntry.baselineTwins.contains)}, "excluded_from_grading": ${skippedTwins.nonEmpty},
  "quiet_total_sec": ${sec(twinSecs, 3)}, "quiet_sec": $twinQuiet,
  "recommended_form": $twins,
  "note": "full-recompute comparison baselines — oracle-gated in Verify; graded only when SPARK_GRAFT_ONLY names them; quiet_sec from QUIET_MEDIANS.json"},
"quiet_audit": {"note": ${q(auditNote)}, "entries": $au},
"queries": $qs,
"reps": $rd,
"cpu_reps": $cd,
"errors": $es
}"""
      }
      try {
        java.nio.file.Files.write(java.nio.file.Paths.get(detailPath),
          detailJson.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      } catch { case e: Throwable => System.err.println(s"[bench] sidecar write failed: $e") }
      def chunkLines(maxLen: Int): Seq[String] = {
        val entries = snapshot.toSeq.sortBy(_._1).map { case (k, v) => s"${q(k)}:${sec(v, 2)}" }
        val chunks = scala.collection.mutable.ArrayBuffer(scala.collection.mutable.ArrayBuffer[String]())
        var len = 0
        entries.foreach { e =>
          if (len + e.length + 1 > maxLen && chunks.last.nonEmpty) {
            chunks += scala.collection.mutable.ArrayBuffer[String]()
            len = 0
          }
          chunks.last += e; len += e.length + 1
        }
        val n = chunks.size
        chunks.zipWithIndex.map { case (c, i) =>
          s"""{"metric":"queries_part","part":${i + 1},"of":$n,"queries":${c.mkString("{", ",", "}")}}"""
        }.toSeq
      }
      // The harness keeps a ~2000-char stdout tail and parses its last
      // line, so the line must stay under that budget: centiseconds
      // first, then drop the count fields, then deciseconds, then shrink
      // error messages, then whole seconds, then slowest-K truncation —
      // the final total-only variant always fits.
      val line = Seq(
        build(2, true, 120), build(2, false, 120), build(1, false, 120),
        build(1, false, 20), build(0, false, 20),
        build(1, false, 20, 80), build(1, false, 20, 60), build(1, false, 20, 40),
        build(1, false, 20, 25))
        .find(_.length <= 1960).getOrElse(build(1, false, 0, 0))
      if (!provisional) chunkLines(1800).foreach(println)
      if (lineOut) { println(line); System.out.flush() }
    }
    // A fresh sidecar after every child; a provisional total line on
    // stdout at most every budget/10 s, so the last line is never older
    // than ~90 s without flooding the captured tail.
    val provisionalIntervalSec = budgetSec / 10
    val lastProvisionalNs = new java.util.concurrent.atomic.AtomicLong(benchStart)
    def emitProgress(): Unit = {
      val now = System.nanoTime()
      val due = (now - lastProvisionalNs.get) / 1e9 >= provisionalIntervalSec
      if (due) lastProvisionalNs.set(now)
      emit(partial = true, provisional = true, lineOut = due)
    }

    // SIGTERM flush: when the harness's wall clock expires it TERMs the
    // process tree; this hook turns whatever was timed into a parseable
    // partial artifact. A no-op once the normal path has emitted.
    val emitted = new java.util.concurrent.atomic.AtomicBoolean(false)
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      if (emitted.compareAndSet(false, true)) {
        reapChildren()
        budgetNotes.add(s"SIGTERM flush at ${sec(elapsedSec, 1)}s — partial artifact")
        emit(partial = true)
      }
    }, "bench-partial-flush"))

    // ---- The deadline rule and the forked runner -----------------------
    def estimate(names: Seq[String], selfWarm: Boolean): Double =
      ChildOverheadSec +
        names.map(quietMap.getOrElse(_, UnknownQuietSec)).sum * (if (selfWarm) 4 else 1)
    /** Run `group` in fresh children until every name is reported; each
      * child starts only if the budget left covers its estimate. Returns
      * the names no child was started for.
      */
    def runGroup(group: Seq[String], selfWarm: Boolean)(take: Transcript => Unit): Seq[String] = {
      var left = group
      while (left.nonEmpty && estimate(left, selfWarm) <= budgetSec - elapsedSec) {
        val t = forkChild(left, selfWarm)
        take(t)
        left = t.rerun
        emitProgress()
      }
      left
    }
    def grade(t: Transcript): Unit = {
      times ++= t.times; errors ++= t.errors; repsDetail ++= t.reps; cpuDetail ++= t.cpu
    }

    // ---- Phases 1 and 2: bulk chunks, then self-warmed groups ----------
    val timedGroups = thePlan.bulk.map(_ -> false) ++ thePlan.fresh.map(_ -> true)
    timedGroups.foreach { case (group, selfWarm) =>
      val skipped = runGroup(group, selfWarm)(grade)
      if (skipped.nonEmpty) {
        skipped.foreach(untimed.add)
        budgetNotes.add(s"untimed (deadline, ${sec(elapsedSec, 0)}s elapsed): " +
          skipped.mkString(","))
        System.err.println(s"[bench] DEADLINE: ${skipped.size} queries left untimed")
      }
    }

    // ---- Phase 3: quiet-median audit, one pass -------------------------
    auditNote = quietOrNote match {
      case Left(note) => note
      case Right(quiet) =>
        val flags = auditFlags(times, quiet)
        val reruns = scala.collection.mutable.Map[String, Seq[Double]]()
        val unaudited = scala.collection.mutable.ArrayBuffer[String]()
        flags.grouped(GroupSize).foreach { g =>
          System.err.println(s"[bench] AUDIT: re-running ${g.mkString(",")} self-warmed")
          unaudited ++= runGroup(g, selfWarm = true) { t =>
            t.times.foreach { case (n, v) =>
              reruns(n) = reruns.getOrElse(n, Nil) :+ v
              // The rerun's reps and CPU replace the graded ones when the
              // rerun becomes the grade.
              if (v < times(n)) {
                t.reps.get(n).foreach(repsDetail(n) = _)
                t.cpu.get(n).foreach(cpuDetail(n) = _)
              }
            }
            t.errors.foreach { case (n, msg) =>
              System.err.println(s"[bench] AUDIT rerun of $n failed ($msg) — keeping graded value")
            }
          }
        }
        flags.foreach { n =>
          val used = (times(n) +: reruns.getOrElse(n, Nil)).min
          auditEntries(n) = Audit(times(n), quiet(n), reruns.getOrElse(n, Nil), used,
            overQuiet(used, quiet(n)))
          times(n) = used
        }
        auditSkippedCount = unaudited.size
        if (unaudited.nonEmpty)
          budgetNotes.add(s"unaudited (deadline): ${unaudited.mkString(",")}")
        s"${flags.size} flagged of ${times.size} graded " +
          s"(>${AuditRatio}x quiet and >${AuditFloor}s over); " +
          s"${auditEntries.count(_._2.flagged)} still flagged after reruns" +
          (if (unaudited.nonEmpty) s"; ${unaudited.size} rerun(s) skipped for the deadline" else "")
    }

    if (emitted.compareAndSet(false, true)) emit(partial = !untimed.isEmpty)
    if (errors.nonEmpty) sys.exit(1)
  }
}
