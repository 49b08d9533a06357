package graft.streaming

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

import graft.core.PipelineConfig
import graft.partition.{Partitioner, RecordTimestamp, TimestampExtractor}
import graft.schema.SchemaCompat
import graft.sink._

/** End-to-end parity pipeline (SURVEY.md §3): Kafka topic → canonical
  * record DataFrame → partition-encoded, rotation-grouped, offset-named
  * files — the reference's single dataflow
  * (`OSSSinkTask.put` → `TopicPartitionWriter` → OSS) as one Structured
  * Streaming query.
  *
  * Delivery semantics mapping (SURVEY.md §2.6):
  *   - D2 offset ownership → the streaming checkpoint's offsets/commits
  *     WALs (`checkpointLocation`), replacing `preCommit`
  *     (`OSSSinkTask.java:196-208`)
  *   - D3 idempotent replay → deterministic names + overwrite-create in
  *     [[OffsetNamedSink]]; a replayed epoch rewrites the same names with
  *     the same records (byte-identical for json, bytes and avro)
  *   - D4 retries → `spark.task.maxFailures` + query restart policy
  *   - D5 backpressure → `maxOffsetsPerTrigger` (declarative pause/resume)
  *   - D6 rebalance → Kafka source + checkpoint recovery, no code
  *   - R4 wallclock rotation → timezone-day-aligned scheduled drains
  *     ([[startScheduled]] / [[RotationSchedule]],
  *     `rotate.schedule.interval.ms`, `TopicPartitionWriter.java:359-384`);
  *     [[start]] runs continuously and takes no schedule
  */
object ParityPipeline {

  /** S1: the Kafka source — same record shape the Connect runtime hands
    * `put()` (`OSSSinkTask.java:160-175`): key/value binary, topic,
    * partition, offset, timestamp. Requires spark-sql-kafka on the
    * classpath at runtime (not bundled in this container — covered by the
    * memory/file-source test path, which produces the identical shape).
    */
  def kafkaSource(spark: SparkSession, bootstrapServers: String, topics: String,
                  maxOffsetsPerTrigger: Option[Long] = None): DataFrame = {
    val r = spark.readStream
      .format("kafka")
      .option("kafka.bootstrap.servers", bootstrapServers)
      .option("subscribe", topics)
      .option("startingOffsets", "earliest")
    maxOffsetsPerTrigger.foreach(n => r.option("maxOffsetsPerTrigger", n)) // D5
    r.load()
  }

  /** S4 value converters: Kafka bytes → typed payload column.
    * `value.converter` analogs (README.md:100-108): ByteArray = value
    * as-is; String = cast; Json = from_json(cast, schema).
    */
  object Converters {
    def byteArray: Column = col("value")
    def string: Column = col("value").cast("string")
    def json(schema: StructType): Column = from_json(col("value").cast("string"), schema)
  }

  /** Start the streaming parity sink. `payload` is the serialized-record
    * column (see [[OffsetNamedSink.writeBatch]]); `format` picks the
    * writer. Exactly-once: checkpoint + deterministic names. A
    * `rotate.schedule.interval.ms` runs through [[startScheduled]].
    */
  def start(
      records: DataFrame,
      cfg: PipelineConfig,
      partitioner: Partitioner,
      format: OutputFormat,
      baseDir: String,
      checkpointDir: String,
      payload: Column,
      extractor: TimestampExtractor = RecordTimestamp,
      queryName: String = "graft-parity-sink"): StreamingQuery = {
    require(cfg.rotateScheduleIntervalMs <= 0,
      "start has no rotate.schedule.interval.ms; use startScheduled for day-aligned rotation")
    sinkQuery(records, cfg, partitioner, format, baseDir, checkpointDir, payload, extractor,
      queryName, Trigger.ProcessingTime(0L))
  }

  /** R4 faithful form: scheduled rotation aligned to the day boundary of
    * `cfg.rotateScheduleTimezone` — a 24h schedule in Asia/Shanghai drains
    * and rotates at Shanghai midnight, matching the reference's
    * `getNextTimeAdjustedByDay` behavior. Each boundary runs one
    * `Trigger.AvailableNow` cycle against the same checkpoint; between
    * boundaries nothing runs. Exactly-once is unchanged (checkpoint WALs +
    * deterministic file names).
    */
  def startScheduled(
      records: DataFrame,
      cfg: PipelineConfig,
      partitioner: Partitioner,
      format: OutputFormat,
      baseDir: String,
      checkpointDir: String,
      payload: Column,
      extractor: TimestampExtractor = RecordTimestamp,
      queryName: String = "graft-parity-sink-scheduled",
      clock: () => Long = () => System.currentTimeMillis(),
      sleeper: Long => Unit = Thread.sleep): RotationSchedule.ScheduledRotation = {
    require(cfg.rotateScheduleIntervalMs > 0,
      "startScheduled requires rotate.schedule.interval.ms > 0")
    RotationSchedule.schedule(
      () => sinkQuery(records, cfg, partitioner, format, baseDir, checkpointDir, payload,
        extractor, queryName, Trigger.AvailableNow()),
      cfg.rotateScheduleIntervalMs,
      java.time.ZoneId.of(cfg.rotateScheduleTimezone),
      clock, sleeper)
  }

  /** The streaming query both entries run: each micro-batch through [[writeMicroBatch]]. */
  private def sinkQuery(records: DataFrame, cfg: PipelineConfig, partitioner: Partitioner,
                        format: OutputFormat, baseDir: String, checkpointDir: String,
                        payload: Column, extractor: TimestampExtractor, queryName: String,
                        trigger: Trigger): StreamingQuery =
    records.writeStream
      .queryName(queryName)
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        writeMicroBatch(batch, cfg, partitioner, format, baseDir, payload, extractor)
        ()
      }
      .start()

  /** One micro-batch through the parity sink — also the direct entry the
    * batch tests use (`foreachBatch` body, `TopicPartitionWriter.write()`
    * analog).
    */
  def writeMicroBatch(
      batch: DataFrame,
      cfg: PipelineConfig,
      partitioner: Partitioner,
      format: OutputFormat,
      baseDir: String,
      payload: Column,
      extractor: TimestampExtractor = RecordTimestamp): OffsetNamedSink.BatchResult =
    OffsetNamedSink.writeBatch(batch, cfg, partitioner, format, baseDir, payload, extractor)

  /** R5 schema-change rotation for a batch of (schemaId → payload-struct)
    * records: NONE rotates files on every schema change (schema id joins
    * the file-group key); BACKWARD/FULL project everything up to the
    * newest schema in the batch; FORWARD projects down to the oldest
    * (README.md:127-141, `TopicPartitionWriter.java:217-228`).
    */
  def writeEvolving(
      batch: DataFrame,
      schemas: Map[Int, StructType],
      schemaIdCol: Column,
      cfg: PipelineConfig,
      partitioner: Partitioner,
      format: OutputFormat,
      baseDir: String,
      toPayload: DataFrame => Column): OffsetNamedSink.BatchResult = {
    // Parquet writes ONLY the `payload` struct (the same record content
    // toPayload serializes for the byte formats) — never the batch's
    // scratch/routing columns.
    require(batch.columns.contains("payload"),
      "writeEvolving expects a `payload` struct column")
    def land(df: DataFrame, extraGroupCols: Seq[Column]): OffsetNamedSink.BatchResult =
      OffsetNamedSink.writeBatch(df, cfg, partitioner, format, baseDir,
        if (format.isInstanceOf[ParquetFormat]) struct(col("payload")) else toPayload(df),
        extraGroupCols = extraGroupCols)
    // E2: the payload struct projected onto `target` by SchemaCompat's field rule
    def projected(target: StructType): DataFrame = batch.withColumn("payload", struct(
      SchemaCompat.projectFields(batch.schema("payload").dataType.asInstanceOf[StructType],
        target)(col("payload").getField): _*))
    cfg.compatibility match {
      case SchemaCompat.None_ =>
        // Rotation happens on every schema CHANGE (TopicPartitionWriter
        // .java:217-222): group by the run of consecutive same-schema
        // records, not by the schema id itself — a schema that comes back
        // later must start a fresh file.
        val w = Window.partitionBy("topic", "partition").orderBy("offset")
        val changed = when(
          lag(schemaIdCol, 1).over(w).isNull || lag(schemaIdCol, 1).over(w) =!= schemaIdCol,
          1).otherwise(0)
        val withRun = batch.withColumn("__schemaRun",
          sum(changed).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        land(withRun, Seq(col("__schemaRun")))
      case SchemaCompat.Backward | SchemaCompat.Full =>
        land(projected(schemas(schemas.keys.max)), Nil)
      case SchemaCompat.Forward =>
        land(projected(schemas(schemas.keys.min)), Nil)
    }
  }
}
