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
  *     [[start]] keeps the simpler continuous `Trigger.ProcessingTime`
  *     cadence for pipelines that don't need day alignment
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
    * writer. Exactly-once: checkpoint + deterministic names.
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
    val trigger =
      if (cfg.rotateScheduleIntervalMs > 0)
        Trigger.ProcessingTime(cfg.rotateScheduleIntervalMs) // R4
      else Trigger.ProcessingTime(0L)
    records.writeStream
      .queryName(queryName)
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        writeMicroBatch(batch, cfg, partitioner, format, baseDir, payload, extractor)
        ()
      }
      .start()
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
      () => records.writeStream
        .queryName(queryName)
        .option("checkpointLocation", checkpointDir)
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          writeMicroBatch(batch, cfg, partitioner, format, baseDir, payload, extractor)
          ()
        }
        .start(),
      cfg.rotateScheduleIntervalMs,
      java.time.ZoneId.of(cfg.rotateScheduleTimezone),
      clock, sleeper)
  }

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
    format match {
      case p: ParquetFormat =>
        // Honor `payload` for parquet exactly like the other formats: a
        // struct column → its FIELDS are the file schema; lit(null)
        // (NullType) → the whole batch row is the payload.
        batch.select(payload.as("__p")).schema.head.dataType match {
          case st: StructType =>
            val inner = st.fieldNames.toSeq
            val routing = Seq("topic", "partition", "offset", "timestamp")
              .filter(batch.columns.contains)
            // refuse shadowing rather than silently grouping/naming files
            // by a payload field — offsetsToCommit computed from a payload
            // 'offset' would corrupt the exactly-once contract
            val clash = inner.intersect(routing)
            require(clash.isEmpty,
              s"parquet payload struct fields $clash collide with Kafka routing " +
                "columns; rename them in the payload (e.g. payload_offset)")
            val flat = batch
              .select(routing.map(col) :+ payload.as("__p"): _*)
              .select(routing.map(col) ++ inner.map(f => col(s"__p.`$f`")): _*)
            OffsetNamedSink.writeBatchParquet(
              flat, cfg, partitioner, p, baseDir, inner, extractor)
          case org.apache.spark.sql.types.NullType =>
            OffsetNamedSink.writeBatchParquet(
              batch, cfg, partitioner, p, baseDir, batch.schema.fieldNames.toSeq, extractor)
          case other => throw new IllegalArgumentException(
            s"parquet payload must be a struct column or lit(null), got $other")
        }
      case other =>
        OffsetNamedSink.writeBatch(batch, cfg, partitioner, other, baseDir, payload, extractor)
    }

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
    // parquet needs the rename-based writer; the streamed byte writer
    // throws for it — dispatch per format like writeMicroBatch does.
    // Parquet writes ONLY the `payload` struct (the same record content
    // toPayload serializes for the byte formats) — never the batch's
    // scratch/routing columns.
    require(batch.columns.contains("payload"),
      "writeEvolving expects a `payload` struct column")
    def dispatch(df: DataFrame, extraGroupCols: Seq[Column]): OffsetNamedSink.BatchResult =
      format match {
        case p: ParquetFormat =>
          OffsetNamedSink.writeBatchParquet(
            df, cfg, partitioner, p, baseDir, Seq("payload"),
            extraGroupCols = extraGroupCols)
        case other =>
          OffsetNamedSink.writeBatch(
            df, cfg, partitioner, other, baseDir, toPayload(df),
            extraGroupCols = extraGroupCols)
      }
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
        dispatch(withRun, Seq(col("__schemaRun")))
      case SchemaCompat.Backward | SchemaCompat.Full =>
        dispatch(projectPayload(batch, schemas(schemas.keys.max)), Nil)
      case SchemaCompat.Forward =>
        dispatch(projectPayload(batch, schemas(schemas.keys.min)), Nil)
    }
  }

  /** Project the `payload` struct column of `batch` onto `target`
    * (cast(null) is already null, so a plain cast per field suffices).
    */
  private def projectPayload(batch: DataFrame, target: StructType): DataFrame =
    batch.withColumn("payload", struct(
      target.fields.toSeq.map(f =>
        col("payload").getField(f.name).cast(f.dataType).as(f.name)): _*))
}
