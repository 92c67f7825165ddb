package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.hashing.MurmurHash3

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.types.StructType

import graft.{PersistScope, Sessions, SparkEntry, Tables}
import graft.operators.{LlmOps, Validation}
import graft.pipeline.{Person, ReferencePipeline}
import graft.sinks.Sinks

/** Closed-loop benchmark harness: one client, each operation issued after the
  * previous one returned. A run sets the session up once, from process start
  * to a ready session with every input registered, makes one cold pass over
  * the workload's operations and one settling pass (the JIT is still
  * compiling the hot paths; it counts in no median), then repeats warm
  * passes until `--seconds` have elapsed and at least three (four when
  * traced) have run. Every operation materializes its whole output
  * (collects all rows and columns, or writes the workload's sink); the
  * output's fingerprint and, for the cold pass, the rows themselves are kept
  * for the correctness check, which runs after the pass, outside the timed
  * window and after the pass's listener counts are taken.
  *
  * With `--trace 1` the warm passes alternate between untraced and traced;
  * traced passes attach the listeners and record spans around every call
  * into a layer, so the difference between the two kinds of pass is the
  * tracing overhead.
  *
  * Usage: PerfBench --workload W --data DIR --out DIR --seconds S --trace 0|1 --cpus N
  *        --as-of YYYY-MM-DD --start-ms EPOCH_MS
  * `--start-ms` is when the caller launched the JVM; set-up is timed from it.
  * Writes `result.json` (and `spans.json` when traced) under `--out`.
  */
object PerfBench {

  /** What an operation produced, computed after its timed window. */
  final case class OpOut(rows: Long, fingerprint: String,
                         result: Option[(Array[Row], StructType)] = None,
                         extra: Map[String, Double] = Map.empty)

  /** `run` does the timed work and returns the untimed output check. */
  final case class Op(name: String, run: Ctx => () => OpOut)

  final class Ctx(val spark: SparkSession, val dir: String, val out: String, val asOf: String,
                  val tracer: Tracer) {
    /** The reference pipeline's people, built by `validate` for the sinks. */
    var people: Dataset[Person] = _
    /** Seconds by kind (call / plan / exec) and by layer for the current op. */
    val kinds = mutable.Map[String, Double]().withDefaultValue(0.0)
    val layers = mutable.Map[String, Double]().withDefaultValue(0.0)
    val kindCounts = mutable.Map[String, Map[String, Double]]()

    def time[T](kind: String, layer: String, name: String)(body: => T): T = {
      val (v, s, counts) = tracer.span(layer, name)(body)
      kinds(kind) += s
      layers(layer) += s
      if (counts.nonEmpty) kindCounts(kind) = add(kindCounts.getOrElse(kind, Map.empty), counts)
      v
    }
    def table(name: String): DataFrame = spark.table(name)
  }

  private def add(a: Map[String, Double], b: Map[String, Double]): Map[String, Double] =
    (a.keySet ++ b.keySet).map(k => k -> (a.getOrElse(k, 0.0) + b.getOrElse(k, 0.0))).toMap

  // ---------------------------------------------------------------- outputs

  /** Order-insensitive 128-bit multiset hash of a set of lines. */
  private final class Multiset {
    private var n = 0L
    private var sum = 0L
    private var xor = 0L
    def add(s: String): Unit = {
      val h = (MurmurHash3.stringHash(s, 0x9747b28c).toLong << 32) ^
        (MurmurHash3.stringHash(s, 0x5bd1e995).toLong & 0xffffffffL)
      n += 1; sum += h; xor ^= h * 0x9e3779b97f4a7c15L
    }
    def rows: Long = n
    override def toString: String = f"$n:$sum%016x:$xor%016x"
  }

  private def rowsOut(rows: Array[Row], schema: StructType): OpOut = {
    val m = new Multiset
    rows.foreach(r => m.add(r.toSeq.map(String.valueOf).mkString("\u0001")))
    OpOut(m.rows, m.toString, Some((rows, schema)))
  }

  private def walk(dir: String): Seq[Path] = {
    val root = Paths.get(dir)
    if (!Files.exists(root)) Nil
    else scala.util.Using.resource(Files.walk(root))(_.iterator.asScala
      .filter(p => Files.isRegularFile(p) && !p.getFileName.toString.startsWith(".")).toList)
  }

  private def sinkExtra(dir: String): Map[String, Double] = {
    val files = walk(dir).filterNot(_.getFileName.toString.startsWith("_"))
    Map("files_written" -> files.size.toDouble, "bytes_written" -> files.map(Files.size(_)).sum.toDouble)
  }

  /** The CSV sink's files: every line of every file, keyed by file name. */
  private def csvOut(dir: String): OpOut = {
    val m = new Multiset
    walk(dir).filter(_.toString.endsWith(".csv")).foreach { p =>
      val name = p.getFileName.toString
      Files.readAllLines(p).asScala.foreach(l => m.add(name + "\u0001" + l))
    }
    OpOut(m.rows, m.toString, extra = sinkExtra(dir))
  }

  // ------------------------------------------------------------- workloads

  private val queries = SparkEntry.queries

  private def query(name: String, layer: String = "query",
                    extra: Array[Row] => Map[String, Double] = _ => Map.empty): Op = Op(name, c => {
    val df = c.time("call", layer, name)(queries(name)(c.spark, c.dir))
    c.time("plan", "plan", name)(df.queryExecution.executedPlan)
    val rows = c.time("exec", "exec", name)(df.collect())
    () => rowsOut(rows, df.schema).copy(extra = extra(rows))
  })

  /** d2's candidate pairs that pass verification: Jaccard at or above the
    * engine's near-duplicate threshold.
    */
  private def verifiedPairs(rows: Array[Row]): Map[String, Double] = Map("verified_pairs" ->
    rows.count(r => Option(r.getAs[Any]("jaccard_milli"))
      .exists(_.toString.toDouble >= LlmOps.ResolveThreshold)).toDouble)

  /** An index build through its build-if-absent gate; the tables are dropped
    * before every pass, so every pass builds. Checked by the row count of
    * the table it wrote; the consumers check the contents.
    */
  private def build(name: String, table: String, gate: Ctx => String): Op = Op(name, c => {
    val prefix = c.time("call", "index", name)(gate(c))
    () => {
      val n = c.spark.table(s"${prefix}_$table").count()
      OpOut(n, n.toString)
    }
  })

  final case class Workload(tables: Seq[String], ops: Seq[Op], beforePass: Ctx => Unit = _ => ())

  private val tpchTables = Seq("region", "nation", "customer", "supplier", "part", "orders", "lineitem")

  val workloads: Map[String, Workload] = Map(
    "tpch" -> Workload(tpchTables, Seq(1, 5, 13, 18).map(i => query(s"q_tpch_q$i"))),
    "curation" -> Workload(
      Seq("documents", "embeddings"),
      build("build_label_index", "labels", c => LlmOps.ensureLabelIndex(c.spark, c.dir)) +:
        Seq(query("d2_dedup_minhash", extra = verifiedPairs), query("d7b_resolve_idx"),
          query("t3_quality_score")),
      beforePass = c => c.spark.catalog.listTables().collect()
        .filter(t => !t.isTemporary)
        .foreach(t => c.spark.sql(s"DROP TABLE IF EXISTS `${t.name}`"))),
    "stream" -> Workload(Seq("events"),
      Seq("st1_tumbling_window", "st5_stream_dedup", "st11_milestones").map(query(_, "streaming"))),
    "etl_ref" -> Workload(
      Seq("lists", "list_results", "people", "emails", "phones", "expected_counts", "csv_fmt"),
      Seq(
        Op("validate", c => {
          val people = c.time("call", "pipeline", "buildPeople")(ReferencePipeline.buildPeople(
            c.spark, c.table("lists"), c.table("list_results"), c.table("people"),
            c.table("emails"), c.table("phones"), c.asOf))
          c.people = people
          val v = c.time("call", "validation", "validateCounts")(Validation.validateCounts(
            c.table("expected_counts"), ReferencePipeline.actualCounts(people), "list_name"))
          c.time("plan", "plan", "validate")(v.queryExecution.executedPlan)
          val rows = c.time("exec", "validation", "validate")(v.collect())
          () => rowsOut(rows, v.schema).copy(
            extra = Map("mismatches" -> rows.count(_.getAs[Int]("valid") == 0).toDouble))
        }),
        Op("sink_csv", c => {
          val dir = s"${c.out}/sink/csv"
          c.time("exec", "sinks", "writeCsvRenamed")(Sinks.writeCsvRenamed(
            ReferencePipeline.applyCsvFormat(c.people, c.table("csv_fmt")), dir))
          () => csvOut(dir)
        }),
        Op("sink_parquet", c => {
          val dir = s"${c.out}/sink/people"
          c.time("exec", "sinks", "writeParquet")(Sinks.writeParquet(c.people.toDF(), dir))
          () => {
            val n = c.spark.read.parquet(dir).count()
            OpOut(n, n.toString, extra = sinkExtra(dir))
          }
        })))
  )

  // ------------------------------------------------------------------ run

  private val cpuBean = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private def cpuNow: Double = cpuBean.getProcessCpuTime / 1e9

  private def storedBytes(spark: SparkSession): Long =
    spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum

  def main(argv: Array[String]): Unit = {
    val opt = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val wl = workloads(opt("workload"))
    val (dataDir, outDir) = (opt("data"), opt("out"))
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    val cpus = opt("cpus")
    val execCounters = new ExecCounters
    val streamCounters = new StreamCounters
    var spark: SparkSession = null
    val tracer = new Tracer(traced, s"${opt("workload")}-${ProcessHandle.current.pid}",
      () => Option(spark).filterNot(_.sparkContext.isStopped).map(_.sparkContext),
      execCounters, streamCounters)

    // Set-up: from the JVM's launch to a ready session with every input
    // registered.
    tracer.active = traced
    val (session, sessionS, _) = tracer.span("sessions", "Sessions.local")(Sessions.local(cpus))
    spark = session
    val (_, tablesS, _) = tracer.span("tables", "register")(wl.tables.foreach { t =>
      val df = if (t == "events") Tables.events(spark, dataDir) else Tables.load(spark, dataDir, t)
      df.createOrReplaceTempView(t)
    })
    val setupS = (System.currentTimeMillis() - opt("start-ms").toLong) / 1e3
    val setup = Map("total_s" -> setupS, "session_s" -> sessionS, "tables_s" -> tablesS)
    val ctx = new Ctx(spark, dataDir, outDir, opt("as-of"), tracer)

    val passes = mutable.ArrayBuffer[String]()
    val dumped = mutable.Set[String]()
    var passIdx = 0

    def runPass(tracePass: Boolean, settle: Boolean = false): Unit = {
      tracer.pass = passIdx
      tracer.active = tracePass
      if (tracePass) {
        spark.sparkContext.addSparkListener(execCounters)
        spark.streams.addListener(streamCounters)
        streamCounters.resetState()
      }
      wl.beforePass(ctx)
      val passStart = if (tracePass) tracer.counts() else Map.empty[String, Double]
      val runs = wl.ops.map { op =>
        ctx.kinds.clear(); ctx.layers.clear(); ctx.kindCounts.clear()
        val cpu0 = cpuNow
        val t0 = System.nanoTime()
        val (check, error) =
          try (Some(tracer.span("op", op.name)(op.run(ctx))._1), None)
          catch { case e: Throwable => (None, Some(s"${e.getClass.getName}: ${e.getMessage}")) }
        val total = (System.nanoTime() - t0) / 1e9
        val cpu = cpuNow - cpu0
        val cached = if (tracePass) storedBytes(spark) else 0L
        PersistScope.releaseAll()
        var leaked = 0L
        if (tracePass) {
          // unpersist is asynchronous: give the block manager a moment.
          val deadline = System.nanoTime() + 2000000000L
          leaked = storedBytes(spark)
          while (leaked > 0 && System.nanoTime() < deadline) { Thread.sleep(20); leaked = storedBytes(spark) }
        }
        (op, check, error, Map[String, Any](
          "name" -> op.name, "total_s" -> total, "cpu_s" -> cpu,
          "kinds" -> ctx.kinds.toMap, "layers" -> ctx.layers.toMap,
          "kind_counts" -> ctx.kindCounts.toMap,
          "cached_bytes" -> cached, "leaked_bytes" -> leaked))
      }
      val passCounts = if (tracePass) {
        val end = tracer.counts()
        spark.sparkContext.removeSparkListener(execCounters)
        spark.streams.removeListener(streamCounters)
        end.map { case (k, v) =>
          // Peak memory and state gauges are levels, not sums.
          k -> (if (k == "peak_exec_mem_bytes" || k.startsWith("stream.state_")) v else v - passStart.getOrElse(k, 0.0))
        }
      } else Map.empty[String, Double]
      // The output checks run after the pass's counts are taken, so their own
      // jobs and reads count in no metric.
      val opsJson = runs.map { case (op, check, error, timing) =>
        val (outcome, checkError) =
          try (check.map(_()), None)
          catch { case e: Throwable => (None, Some(s"check: ${e.getClass.getName}: ${e.getMessage}")) }
        outcome.flatMap(_.result).foreach { case (rows, schema) =>
          if (dumped.add(op.name))
            spark.createDataFrame(rows.toList.asJava, schema).coalesce(1)
              .write.mode("overwrite").parquet(s"$outDir/dump/${op.name}")
        }
        Json.value(timing ++ Map(
          "rows" -> outcome.map(_.rows).getOrElse(-1L),
          "fingerprint" -> outcome.map(_.fingerprint),
          "extra" -> outcome.map(_.extra).getOrElse(Map.empty),
          "error" -> error.orElse(checkError)))
      }
      passes += Json.obj("pass" -> passIdx, "traced" -> tracePass, "settle" -> settle,
        "ops" -> opsJson.map(RawJson), "counts" -> passCounts)
      passIdx += 1
    }

    runPass(tracePass = false)
    runPass(tracePass = false, settle = true)
    val warmStart = System.nanoTime()
    val minWarm = if (traced) 4 else 3
    var warm = 0
    while (warm < minWarm || (System.nanoTime() - warmStart) / 1e9 < seconds) {
      // Untraced and traced passes in ABBA order, so JIT warm-up biases neither.
      runPass(tracePass = traced && (warm % 4 == 1 || warm % 4 == 2))
      warm += 1
    }

    val probes = if (traced) Probes.layerProbes(spark, dataDir, opt("workload"), tracer) else Map.empty[String, Double]
    val oracle = wl.ops.flatMap(op => SparkEntry.oracleSql.get(op.name).map(op.name -> _)).toMap
    Files.writeString(Paths.get(s"$outDir/result.json"), Json.obj(
      "workload" -> opt("workload"), "cpus" -> cpus, "tables" -> wl.tables, "setup" -> setup,
      "passes" -> passes.map(RawJson), "probes" -> probes, "oracle" -> oracle))
    if (traced) Files.writeString(Paths.get(s"$outDir/spans.json"), tracer.json)
    spark.stop()
  }
}

/** A value already rendered as JSON. */
final case class RawJson(json: String)
