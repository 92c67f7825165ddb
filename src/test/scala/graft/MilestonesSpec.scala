package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{TimeMode, Trigger}

import graft.streaming.{Milestones, Streaming}

/** Proves st11's ValueState survives micro-batch boundaries: a user
  * with 15 events in batch 1 and 10 in batch 2 crosses milestones at
  * global events #10 and #20 — a processor that restarted its count per
  * batch would instead flag batch 2's own 10th event (#25).
  */
class MilestonesSpec extends SparkTestBase {
  import spark.implicits._

  test("milestone count state carries across micro-batches") {
    val srcDir = Paths.get(tempDir("ms_src"))
    def stage(ids: Seq[Long], name: String, mtime: Long): Unit = {
      val scratch = tempDir(s"ms_stage_$name")
      ids.map(i => (7L, java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(1000 + i)), i))
        .toDF("user_id", "ts", "event_id")
        .coalesce(1).write.mode("overwrite").parquet(scratch)
      val part = Files.list(Paths.get(scratch)).toArray.map(_.toString)
        .filter(p => p.endsWith(".parquet") && !p.contains("_SUCCESS")).head
      val dst = srcDir.resolve(s"$name.parquet")
      Files.copy(Paths.get(part), dst)
      Files.setLastModifiedTime(dst, java.nio.file.attribute.FileTime.fromMillis(mtime))
    }
    stage(1L to 15L, "b0", 1000000L)
    stage(16L to 25L, "b1", 2000000L)

    Sessions.withConf(spark, Streaming.StateStoreProvider -> Streaming.RocksDb) {
      val schema = spark.read.parquet(srcDir.toString).schema
      val stream = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(srcDir.toString)
      val out = Streaming.transformOf(spark, stream, new Milestones.MilestoneProcessor, TimeMode.None())
      val q = out.writeStream.format("memory").queryName("ms_test")
        .outputMode("append")
        .option("checkpointLocation", tempDir("ms_ckpt"))
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      val got = spark.table("ms_test")
        .select(col("milestone"), col("event_id")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got === Set((10L, 10L), (20L, 20L)))
    }
  }
}
