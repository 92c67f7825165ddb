package graft.perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.{SparkContext, Success}
import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Execution-layer counters, summed over every task and job the session runs
  * while the listener is attached.
  */
final class ExecCounters extends SparkListener {
  val jobs, stages, tasks, failedTasks = new AtomicLong
  val taskRunMs, taskCpuNs, gcMs = new AtomicLong
  val shuffleWrite, shuffleRead, spill, peakExecMem = new AtomicLong
  val bytesRead, rowsRead, bytesWritten, rowsWritten = new AtomicLong

  override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = stages.incrementAndGet()
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    if (e.reason != Success) failedTasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      taskRunMs.addAndGet(m.executorRunTime)
      taskCpuNs.addAndGet(m.executorCpuTime)
      gcMs.addAndGet(m.jvmGCTime)
      shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      peakExecMem.accumulateAndGet(m.peakExecutionMemory, (a, b) => math.max(a, b))
      bytesRead.addAndGet(m.inputMetrics.bytesRead)
      rowsRead.addAndGet(m.inputMetrics.recordsRead)
      bytesWritten.addAndGet(m.outputMetrics.bytesWritten)
      rowsWritten.addAndGet(m.outputMetrics.recordsWritten)
    }
  }

  def snapshot: Map[String, Double] = Map(
    "jobs" -> jobs.get.toDouble, "stages" -> stages.get.toDouble,
    "tasks" -> tasks.get.toDouble, "failed_tasks" -> failedTasks.get.toDouble,
    "task_run_s" -> taskRunMs.get / 1e3, "task_cpu_s" -> taskCpuNs.get / 1e9,
    "gc_s" -> gcMs.get / 1e3, "shuffle_write_bytes" -> shuffleWrite.get.toDouble,
    "shuffle_read_bytes" -> shuffleRead.get.toDouble, "spill_bytes" -> spill.get.toDouble,
    "peak_exec_mem_bytes" -> peakExecMem.get.toDouble,
    "bytes_read" -> bytesRead.get.toDouble, "rows_read" -> rowsRead.get.toDouble,
    "bytes_written" -> bytesWritten.get.toDouble, "rows_written" -> rowsWritten.get.toDouble)
}

/** Streaming-layer counters from query progress events. State rows and state
  * memory are taken from each query's last progress (the state it ended
  * with).
  */
final class StreamCounters extends StreamingQueryListener {
  val batches, inputRows, batchMs, commitMs, lateRows = new AtomicLong
  private val lastState = mutable.Map[java.util.UUID, (Long, Long)]()

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    batches.incrementAndGet()
    inputRows.addAndGet(p.numInputRows)
    batchMs.addAndGet(p.batchDuration)
    val d = p.durationMs
    commitMs.addAndGet(Seq("walCommit", "commitOffsets", "commitBatch")
      .map(k => Option(d.get(k)).map(_.longValue).getOrElse(0L)).sum)
    val ops = p.stateOperators
    lateRows.addAndGet(ops.map(_.numRowsDroppedByWatermark).sum)
    synchronized {
      lastState(p.id) = (ops.map(_.numRowsTotal).sum, ops.map(_.memoryUsedBytes).sum)
    }
  }

  def snapshot: Map[String, Double] = synchronized {
    Map(
      "batches" -> batches.get.toDouble, "input_rows" -> inputRows.get.toDouble,
      "batch_s" -> batchMs.get / 1e3, "commit_s" -> commitMs.get / 1e3,
      "late_rows_dropped" -> lateRows.get.toDouble,
      "state_rows" -> lastState.values.map(_._1).sum.toDouble,
      "state_mem_bytes" -> (if (lastState.isEmpty) 0.0 else lastState.values.map(_._2).max.toDouble))
  }

  /** Forget the per-query state seen so far (called at the start of a pass). */
  def resetState(): Unit = synchronized { lastState.clear() }
}

/** One span per call into a layer: name, start, end, parent and run id, plus
  * the listener counters taken at its two boundaries. Spans stay in memory
  * and are written out once, at the end of the run.
  */
final case class Span(id: Int, parent: Int, layer: String, name: String, pass: Int,
                      startNs: Long, endNs: Long, counts: Map[String, Double])

final class Tracer(val enabled: Boolean, runId: String, sc: () => Option[SparkContext],
                   exec: ExecCounters, stream: StreamCounters) {

  private val spans = mutable.ArrayBuffer[Span]()
  private var stack: List[Int] = Nil
  private var nextId = 0
  var pass: Int = -1
  /** Whether the current pass records spans (the traced run alternates). */
  var active: Boolean = false

  /** Listener totals after draining the bus (empty before a session exists). */
  def counts(): Map[String, Double] = sc() match {
    case Some(c) =>
      org.apache.spark.perfbench.ListenerDrain(c)
      exec.snapshot ++ stream.snapshot.map { case (k, v) => s"stream.$k" -> v }
    case None => Map.empty
  }

  /** Run `body`, returning its value, its wall seconds and the change in the
    * listener counters; records a span when the pass is traced.
    */
  def span[T](layer: String, name: String)(body: => T): (T, Double, Map[String, Double]) = {
    if (!(enabled && active)) {
      val t0 = System.nanoTime()
      val v = body
      return (v, (System.nanoTime() - t0) / 1e9, Map.empty)
    }
    val id = nextId
    nextId += 1
    val parent = stack.headOption.getOrElse(-1)
    val c0 = counts()
    stack = id :: stack
    val t0 = System.nanoTime()
    var t1 = t0
    val v = try body finally {
      t1 = System.nanoTime()
      stack = stack.tail
    }
    val delta = counts().map { case (k, x) => k -> (x - c0.getOrElse(k, 0.0)) }.filter(_._2 != 0.0)
    spans += Span(id, parent, layer, name, pass, t0, t1, delta)
    (v, (t1 - t0) / 1e9, delta)
  }

  def json: String = spans.map { s =>
    Json.obj("run" -> runId, "id" -> s.id, "parent" -> s.parent, "layer" -> s.layer,
      "name" -> s.name, "pass" -> s.pass, "start_ns" -> s.startNs, "end_ns" -> s.endNs,
      "counts" -> s.counts)
  }.mkString("[\n", ",\n", "\n]\n")
}

/** Minimal JSON writer for the harness's result file. */
object Json {
  def value(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => value(x)
    case s: String => quote(s)
    case r: RawJson => r.json
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => value(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => m.map { case (k, x) => quote(k.toString) + ":" + value(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(value).mkString("[", ",", "]")
    case other => quote(other.toString)
  }
  def obj(kv: (String, Any)*): String = value(kv.toMap)
  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }
}

/** Measurements the traced run takes once, after its passes, from outside
  * the timed window.
  */
object Probes {
  import org.apache.spark.sql.SparkSession
  import org.apache.spark.sql.functions._
  import graft.Tables
  import graft.operators.LlmOps

  def layerProbes(spark: SparkSession, dir: String, workload: String, tracer: Tracer): Map[String, Double] =
    if (workload != "curation") Map.empty
    else {
      tracer.pass = -2
      // The registered native kernels, each over the whole curation input,
      // through a noop sink (the median of three runs).
      val docs = Tables.documents(spark, dir).selectExpr(
        s"rolling_min_hash(text, ${LlmOps.RollingWindow})",
        s"mix64(doc_id, ${LlmOps.MixA(0)}L, ${LlmOps.MixB(0)}L)")
      val vecs = Tables.embeddings(spark, dir)
        .selectExpr("transform(embedding, x -> cast(x as double)) AS e")
        .selectExpr("cosine_milli(e, e)")
      val kernel = (0 until 3).map { _ =>
        tracer.span("functions", "kernels") {
          docs.write.format("noop").mode("overwrite").save()
          vecs.write.format("noop").mode("overwrite").save()
        }._2
      }.sorted.apply(1)
      // LSH band-collision candidates (pairs sharing a kept bucket) and the
      // largest bucket, from the band-occupancy monitor.
      val stats = tracer.span("query", "d11_band_stats")(LlmOps.d11BandStats(spark, dir)
        .agg(
          sum(when(!col("dropped"), col("n_docs") * (col("n_docs") - 1) / 2).otherwise(0)),
          max(col("n_docs")))
        .collect().head)._1
      Map("functions.kernel_s" -> kernel,
        "lsh.candidate_pairs" -> Option(stats.get(0)).map(_.toString.toDouble).getOrElse(0.0),
        "lsh.max_bucket" -> Option(stats.get(1)).map(_.toString.toDouble).getOrElse(0.0))
    }
}
