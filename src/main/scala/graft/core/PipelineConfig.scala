package graft.core

/** Configuration for the parity pipeline — the reference's config surface
  * (`OSSSinkConnectorConfiguration.java:66-86` + storage-common keys read at
  * `TopicPartitionWriter.java:107-137`) re-expressed as a typed case class.
  * No reflection plug-ins: formats and partitioners are sealed-trait
  * registries ([[graft.sink.OutputFormat]], [[graft.partition.Partitioner]]).
  */
final case class PipelineConfig(
    /** `flush.size`: commit a file every N records per encoded partition
      * (`TopicPartitionWriter.java:134,231-237`). */
    flushSize: Int,
    /** `rotate.interval.ms`: event-time rotation; -1 = disabled
      * (`TopicPartitionWriter.java:343-346`). */
    rotateIntervalMs: Long = -1L,
    /** `rotate.schedule.interval.ms`: wallclock rotation; -1 = disabled.
      * Boundaries are aligned to the start of day in
      * [[rotateScheduleTimezone]] (`TopicPartitionWriter.java:359-384`,
      * next boundary via `getNextTimeAdjustedByDay`) — see
      * [[graft.streaming.RotationSchedule]]. */
    rotateScheduleIntervalMs: Long = -1L,
    /** `timezone` (storage-common partitioner key, read for scheduling at
      * `TopicPartitionWriter.java:127-132`): the day-alignment zone for
      * scheduled rotation. The reference demo uses Asia/Shanghai
      * (README.md:178). */
    rotateScheduleTimezone: String = "UTC",
    /** `topics.dir` path prefix (`TopicPartitionWriter.java:268-285`). */
    topicsDir: String = "topics",
    /** `filename.offset.zero.pad.width` (`TopicPartitionWriter.java:272-274`). */
    zeroPadWidth: Int = 10,
    /** Directory / in-filename delimiters (`storage.common` keys). */
    dirDelim: String = "/",
    fileDelim: String = "+",
    /** `schema.compatibility` (README.md:127-141). */
    compatibility: graft.schema.SchemaCompat.Mode = graft.schema.SchemaCompat.None_,
    /** `retry.backoff.ms` (`OSSSinkConnectorConfiguration.java`, default
      * 5000): pause before retrying a failed storage write — see
      * [[Retry]]. */
    retryBackoffMs: Long = 5000L,
    /** In-task write attempts per file before the failure escalates to
      * Spark's task retry (D4's platform layer). */
    writeMaxAttempts: Int = 3)

object PipelineConfig {
  /** The reference quick-start demo settings (README.md:153,169-179). */
  val demo: PipelineConfig = PipelineConfig(flushSize = 10000, rotateIntervalMs = 30000)
}
