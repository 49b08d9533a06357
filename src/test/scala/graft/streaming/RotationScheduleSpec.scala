package graft.streaming

import java.nio.file.Files
import java.time.ZoneId

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.SparkTestBase
import graft.core.PipelineConfig
import graft.partition.DefaultPartitioner
import graft.sink.JsonFormat

/** R4: wallclock scheduled rotation aligned to the configured timezone's
  * day boundary — the reference's `getNextTimeAdjustedByDay` semantics
  * (`TopicPartitionWriter.java:371-384`, timezone from the partitioner
  * config at `:127-132`; the README demo uses Asia/Shanghai).
  */
class RotationScheduleSpec extends SparkTestBase {

  private val shanghai = ZoneId.of("Asia/Shanghai")
  private val h = 3600L * 1000

  test("24h schedule in Asia/Shanghai rotates at Shanghai midnight") {
    // 2026-08-12T05:00Z = 13:00 Asia/Shanghai (UTC+8, no DST).
    // Start of that Shanghai day = 2026-08-11T16:00Z; +24h = next local
    // midnight — NOT 24h after "now".
    val now = 1786856400000L // 2026-08-12T05:00:00Z
    val startOfDay = 1786809600000L // 2026-08-11T16:00:00Z = Shanghai 00:00
    assert(RotationSchedule.nextTimeAdjustedByDay(now, 24 * h, shanghai)
      == startOfDay + 24 * h)
  }

  test("sub-day schedule fires at day-aligned multiples of the interval") {
    val startOfDay = 1786809600000L // Shanghai midnight
    // 13:00 local, 8h interval → boundaries 00/08/16 local → next is 16:00
    val now = startOfDay + 13 * h
    assert(RotationSchedule.nextTimeAdjustedByDay(now, 8 * h, shanghai)
      == startOfDay + 16 * h)
    // exactly ON a boundary → the NEXT one (strictly after now)
    assert(RotationSchedule.nextTimeAdjustedByDay(startOfDay + 8 * h, 8 * h, shanghai)
      == startOfDay + 16 * h)
    // one ms before a boundary → that boundary
    assert(RotationSchedule.nextTimeAdjustedByDay(startOfDay + 8 * h - 1, 8 * h, shanghai)
      == startOfDay + 8 * h)
  }

  test("alignment differs by timezone for the same instant") {
    val now = 1786856400000L // 2026-08-12T05:00:00Z
    val nextUtc = RotationSchedule.nextTimeAdjustedByDay(now, 24 * h, ZoneId.of("UTC"))
    val nextSh = RotationSchedule.nextTimeAdjustedByDay(now, 24 * h, shanghai)
    assert(nextUtc == 1786924800000L) // 2026-08-13T00:00:00Z
    assert(nextSh == 1786896000000L)  // 2026-08-12T16:00:00Z = Shanghai midnight
    assert(nextUtc - nextSh == 8 * h) // the zone offset
  }

  test("DST gap day: next boundary is still the zone's (shorter) local day") {
    // America/New_York, 2026-03-08: 02:00 EST jumps to 03:00 EDT — the
    // local day is 23h. 24h schedule from 12:00 local that day must fire
    // at the NEXT local midnight (23h of elapsed wallclock), not +24h.
    val ny = ZoneId.of("America/New_York")
    val noonLocal = java.time.ZonedDateTime.of(2026, 3, 8, 12, 0, 0, 0, ny)
    val nextMidnight = java.time.ZonedDateTime.of(2026, 3, 9, 0, 0, 0, 0, ny)
    assert(RotationSchedule.nextTimeAdjustedByDay(
      noonLocal.toInstant.toEpochMilli, 24 * h, ny)
      == nextMidnight.toInstant.toEpochMilli)
  }

  test("a failing cycle is recorded and the schedule keeps running") {
    // mkCycle throws twice (storage outage outlasting D4 retries), then
    // succeeds: the loop must survive the failures and still count the
    // eventual success.
    val attempts = new java.util.concurrent.atomic.AtomicInteger(0)
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val stream = MemoryStream[(String, Int, Long)]
    stream.addData(("t", 0, 0L))
    val rot = RotationSchedule.schedule(
      () => {
        if (attempts.incrementAndGet() <= 2)
          throw new java.io.IOException("storage outage")
        stream.toDF().writeStream
          .format("noop")
          .option("checkpointLocation",
            Files.createTempDirectory("graft-failck").toString)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
      },
      periodMs = 30, zone = shanghai)
    try {
      assert(rot.awaitCycles(1), "schedule died instead of surviving failed cycles")
      assert(rot.failures >= 2)
      assert(rot.lastFailure.exists(_.getMessage == "storage outage"))
    } finally rot.stop()
  }

  test("start refuses a rotation schedule and names startScheduled") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val cfg = PipelineConfig(flushSize = 1000, rotateScheduleIntervalMs = 50)
    val stream = MemoryStream[(String, Int, Long, Long)]
    val records = stream.toDF().toDF("topic", "partition", "offset", "a")
    val e = intercept[IllegalArgumentException] {
      ParityPipeline.start(records, cfg, DefaultPartitioner, JsonFormat(),
        Files.createTempDirectory("graft-nosched").toString,
        Files.createTempDirectory("graft-nosched-ckpt").toString,
        payload = to_json(struct(col("a")))).stop()
    }
    assert(e.getMessage.contains("startScheduled"))
  }

  test("scheduled drains: each aligned boundary runs one AvailableNow cycle") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val base = Files.createTempDirectory("graft-sched")
    val ckpt = Files.createTempDirectory("graft-sched-ckpt")
    val cfg = PipelineConfig(flushSize = 1000,
      rotateScheduleIntervalMs = 50, rotateScheduleTimezone = "Asia/Shanghai")
    val stream = MemoryStream[(String, Int, Long, Long)]
    stream.addData((0 until 10).map(o => ("t", 0, o.toLong, o * 10L)): _*)
    val records = stream.toDF().toDF("topic", "partition", "offset", "a")
    val rot = ParityPipeline.startScheduled(
      records, cfg, DefaultPartitioner, JsonFormat(),
      base.toString, ckpt.toString,
      payload = to_json(struct(col("a"))))
    try {
      assert(rot.awaitCycles(1), "first scheduled drain did not run")
      assert(listFiles(base).contains(f"topics/t/partition=0/t+0+${0}%010d.json"))
      stream.addData(("t", 0, 10L, 100L))
      val c = rot.cycles
      assert(rot.awaitCycles(c + 1), "second scheduled drain did not run")
      assert(listFiles(base).contains(f"topics/t/partition=0/t+0+${10}%010d.json"))
    } finally rot.stop()
  }
}
