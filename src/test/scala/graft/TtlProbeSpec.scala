package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.Encoders
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StatefulProcessor, TTLConfig, TimeMode, TimerValues, Trigger, ValueState}

import graft.streaming.Streaming

/** transformWithState TTL probe (SURVEY.md §7.5.4): state declared with a
  * TTLConfig must be GONE on a later run of the SAME checkpoint after the
  * TTL elapses, while a non-TTL state declared by the same processor
  * survives. Round 7's attempt stalled (minutes of per-batch setup,
  * never quiesced); this isolates the shape to find the cost.
  */
object TtlProbe {
  final case class In(k: Long, v: Long)
  final case class Out(k: Long, ttl_seen: Boolean, keep_seen: Boolean)

  class Processor(ttlMs: Long) extends StatefulProcessor[Long, In, Out] {
    @transient private var ttlState: ValueState[Long] = _
    @transient private var keepState: ValueState[Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      ttlState = getHandle.getValueState[Long]("ttl_v", Encoders.scalaLong,
        TTLConfig(java.time.Duration.ofMillis(ttlMs)))
      keepState = getHandle.getValueState[Long]("keep_v", Encoders.scalaLong,
        TTLConfig.NONE)
    }

    override def handleInputRows(key: Long, rows: Iterator[In],
                                 tv: TimerValues): Iterator[Out] = {
      val out = Out(key, ttlState.exists(), keepState.exists())
      rows.foreach { r => ttlState.update(r.v); keepState.update(r.v) }
      Iterator.single(out)
    }
  }
}

class TtlProbeSpec extends SparkTestBase {
  import spark.implicits._

  test("TTL state expires across runs on one checkpoint; non-TTL state survives") {
    val srcDir = Paths.get(tempDir("ttl_src"))
    val ckpt = tempDir("ttl_ckpt")
    def stage(name: String, mtime: Long): Unit = {
      val scratch = tempDir(s"ttl_stage_$name")
      Seq((1L, 10L), (2L, 20L)).toDF("k", "v")
        .coalesce(1).write.mode("overwrite").parquet(scratch)
      // Files.list holds an open directory handle until the stream is
      // closed — close it before the copy below.
      val listing = Files.list(Paths.get(scratch))
      val part =
        try listing.toArray.map(_.toString).filter(p => p.endsWith(".parquet")).head
        finally listing.close()
      val dst = srcDir.resolve(s"$name.parquet")
      Files.copy(Paths.get(part), dst)
      Files.setLastModifiedTime(dst, java.nio.file.attribute.FileTime.fromMillis(mtime))
    }

    // State partition count is baked into the checkpoint at first run;
    // 2 keys need 2 partitions, not 32 RocksDB instances per batch.
    Sessions.withConf(spark, Streaming.StateStoreProvider -> Streaming.RocksDb,
      "spark.sql.shuffle.partitions" -> "2") {
      val outDir = tempDir("ttl_out")
      def runOnce(ttlMs: Long): Set[(Long, Boolean, Boolean)] = {
        val schema = spark.read.parquet(srcDir.toString).schema
        val stream = spark.readStream.schema(schema).parquet(srcDir.toString)
        val out = stream.as[TtlProbe.In]
          .groupByKey(_.k)
          .transformWithState(new TtlProbe.Processor(ttlMs),
            TimeMode.ProcessingTime(), OutputMode.Append())
          .toDF()
        // Parquet sink, not memory: the memory sink refuses checkpoint
        // RECOVERY, and the whole point of this probe is a second run on
        // the same checkpoint.
        val q = out.writeStream.format("parquet")
          .option("path", outDir)
          .outputMode("append")
          .option("checkpointLocation", ckpt)
          // NOT AvailableNow: with TimeMode.ProcessingTime the operator
          // reports "needs another batch" after EVERY batch (processing
          // time always advances), so AvailableNow loops empty batches
          // forever — observed 1868 epochs in 6.5 min before a kill.
          // Trigger.Once runs exactly one micro-batch and terminates.
          .trigger(Trigger.Once())
          .start()
        q.awaitTermination()
        // The file sink ACCUMULATES across runs — read back everything
        // and let the caller diff (runs are distinguishable by content).
        spark.read.parquet(outDir).collect()
          .map(r => (r.getLong(0), r.getBoolean(1), r.getBoolean(2))).toSet
      }

      val ttlMs = 2000L
      stage("b0", 1000000L)
      val first = runOnce(ttlMs)
      // Fresh state: neither variable exists for either key.
      assert(first === Set((1L, false, false), (2L, false, false)))

      Thread.sleep(ttlMs + 1500L)
      stage("b1", 2000000L)
      val second = runOnce(ttlMs)
      // Run 2's rows: the TTL'd variable aged out between runs while the
      // non-TTL one kept its value through the same checkpoint.
      assert(second === first ++ Set((1L, false, true), (2L, false, true)),
        s"expected ttl_seen=false / keep_seen=true after expiry, got ${second -- first}")
    }
  }
}
