package graft.sink

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.hadoop.mapreduce.{Job, TaskAttemptID}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Expression, UnsafeProjection}
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.util.SerializableConfiguration

import graft.core.{PipelineConfig, Retry}
import graft.partition.{Partitioner, RecordTimestamp, TimestampExtractor}

/** The parity sink: offset-exact, deterministically-named file commits
  * (SURVEY.md §2.4 R1–R7, §2.6 D1–D3, §4.2).
  *
  * The reference's 405-line `TopicPartitionWriter` state machine
  * (`storage/TopicPartitionWriter.java:144-155,179-212`) becomes one
  * shuffle plus one executor loop per batch:
  *
  *   - routing  (P*): one derived column `__enc` (`encodePartition`,
  *     `TopicPartitionWriter.java:194`)
  *   - R2 event-time rotation: `__tb = floor(ts/interval)` joins the
  *     writer key (`TopicPartitionWriter.java:343-346`)
  *   - R3 partition-change rotation: implicit — `__enc` is part of the key
  *   - R5 schema-change rotation: an `extraGroupCols` schema-id column
  *     `__xg` (NONE mode); BACKWARD/FORWARD project via
  *     [[graft.schema.SchemaCompat.project]] upstream instead
  *   - R1 flush.size: the loop walks each writer-key group in offset order
  *     and rolls a file every `flushSize` rows
  *     (`TopicPartitionWriter.java:231-237`)
  *   - D1 offset-exact naming: each file is named by its first offset,
  *     `<topic>+<partition>+<zero-padded start><ext>`
  *     (`TopicPartitionWriter.java:268-285`)
  *   - D3 idempotent replay: names are pure functions of the data, files
  *     are overwrite-created (`OSSStorage.java:78-90`), so re-running a
  *     batch rewrites the same names holding the same records. The bytes
  *     are identical too for json and bytes. An avro file starts from a
  *     random sync marker, and parquet footers list each column chunk's
  *     encodings in an order that can differ between JVMs (parquet-mr
  *     keeps them in a hash set), so a replayed avro or parquet file may
  *     differ from the original in those bytes.
  *
  * Scale: the only shuffle is `repartition` on the writer key (topic,
  * partition, `__enc`, `__tb`, `__xg`), sorted by offset within
  * partitions — one pass, so 1000 executors write 1000 key groups
  * concurrently and the loop holds at most one file's rows (json, bytes
  * and avro, up to [[RetryBufferRows]]) or none (parquet). The same job
  * returns one manifest row per written file; nothing else reaches the
  * driver.
  *
  * Works against any Hadoop FileSystem URI — `file:/` in tests, `oss://`
  * with hadoop-aliyun on the classpath (`OSSStorage.java:48-57` analog).
  */
object OffsetNamedSink {

  /** Max rows buffered per file for the in-task D4 retry; files larger
    * than this stream without buffering (their retry layer is Spark's
    * task re-execution over the deterministic, overwrite-created names).
    */
  private[sink] val RetryBufferRows = 100000

  /** One committed file: full path + record count + offset range. */
  final case class CommittedFile(path: String, records: Long, startOffset: Long, endOffset: Long)

  /** Per (topic, partition) next-offset-to-commit — the `preCommit`
    * contract (`OSSSinkTask.java:196-208`, `TopicPartitionWriter.java:330,396-400`).
    */
  final case class BatchResult(files: Seq[CommittedFile], offsetsToCommit: Map[(String, Int), Long])

  /** Writes one file's rows (which it must drain) to a path relative to
    * the sink's base directory.
    */
  private type FileWriter = (String, Iterator[InternalRow]) => Unit

  // Column layout of the rows the write loop reads: the writer key, the
  // file's directory and name prefix, the record offset, then the payload.
  private val KeyWidth = 5
  private val DirCol = 5
  private val PrefixCol = 6
  private val OffsetCol = 7
  private val PayloadCol = 8

  /** Byte-writer path (JSON F1 / ByteArray F2 / Avro F3): each file's rows
    * are appended in offset order through a Hadoop FS stream — the
    * executor-side analog of `RecordWriter.write`, one open stream at a
    * time per task.
    *
    * `payload` must be: a string column (JSON), a binary column
    * (ByteArray), or a struct column (Avro).
    */
  def writeBatch(
      df: DataFrame,
      cfg: PipelineConfig,
      partitioner: Partitioner,
      format: OutputFormat,
      baseDir: String,
      payload: Column,
      extractor: TimestampExtractor = RecordTimestamp,
      extraGroupCols: Seq[Column] = Nil): BatchResult = {
    require(!format.isInstanceOf[ParquetFormat], "use writeBatchParquet for parquet")
    val rows = prepare(df, cfg, partitioner, extractor, extraGroupCols, Seq(payload))
    val structType = rows.schema(PayloadCol).dataType match {
      case st: StructType => st
      case _ => null
    }
    val conf = new SerializableConfiguration(df.sparkSession.sparkContext.hadoopConfiguration)
    val (attempts, backoffMs) = (cfg.writeMaxAttempts, cfg.retryBackoffMs)
    // records = payload rows actually written: tombstones are skipped
    land(rows, cfg, format.extension, countNulls = false) { () =>
      var fs: FileSystem = null
      var avroSchema: org.apache.avro.Schema = null
      val toRow = if (structType == null) null else CatalystTypeConverters.createToScalaConverter(structType)
      // One whole-file write attempt: open (overwrite-create,
      // OSSStorage.java:78-90), append every row, close.
      def writeOnce(path: String, fileRows: Iterator[InternalRow]): Unit = {
        val p = new Path(baseDir, path)
        if (fs == null) fs = p.getFileSystem(conf.value)
        var out: java.io.OutputStream = null
        var avro: org.apache.avro.file.DataFileWriter[org.apache.avro.generic.GenericRecord] = null
        val raw = new java.io.BufferedOutputStream(fs.create(p, true), 1 << 16)
        try {
          format match {
            case j: JsonFormat => out = j.compression.wrap(raw)
            case b: ByteArrayFormat => out = b.compression.wrap(raw)
            case a: AvroFormat =>
              if (avroSchema == null) avroSchema = AvroSupport.toAvroSchema(structType)
              avro = AvroSupport.containerWriter(raw, avroSchema, a.codecFactory)
            case _: ParquetFormat => ()
          }
          fileRows.foreach { r =>
            // null payloads (Kafka tombstones) are skipped, not written —
            // one delete marker must not poison the whole micro-batch
            if (!r.isNullAt(PayloadCol)) format match {
              case j: JsonFormat =>
                out.write(r.getUTF8String(PayloadCol).getBytes); out.write(j.lineSeparator)
              case b: ByteArrayFormat =>
                out.write(r.getBinary(PayloadCol)); out.write(b.separator)
              case _: AvroFormat =>
                val rec = toRow(r.getStruct(PayloadCol, structType.length)).asInstanceOf[Row]
                avro.append(AvroSupport.toGenericRecord(rec, structType, avroSchema))
              case _: ParquetFormat => ()
            }
          }
        } finally {
          if (avro != null) avro.close() else if (out != null) out.close() else raw.close()
        }
      }
      // One FILE is the retry unit, like the reference's record buffer +
      // retry.backoff.ms (TopicPartitionWriter.java:158-171): a file
      // whose rows fit in RetryBufferRows is buffered and the whole
      // write retries on IOException (overwrite-create makes a partial
      // file from a failed attempt harmless). A larger file streams
      // straight through WITHOUT the in-task retry — the single-pass
      // iterator can't be replayed, and buffering it would regress the
      // writer from O(1) to O(file) heap — so its failures escalate
      // directly to Spark's task retry, where the deterministic names +
      // overwrite-create replay the whole partition idempotently.
      (path: String, fileRows: Iterator[InternalRow]) => {
        val buf = scala.collection.mutable.ArrayBuffer.empty[InternalRow]
        while (buf.size < RetryBufferRows && fileRows.hasNext) buf += fileRows.next().copy()
        if (fileRows.hasNext) writeOnce(path, buf.iterator ++ fileRows)
        else Retry.withBackoff(attempts, backoffMs)(writeOnce(path, buf.iterator))
      }
    }
  }

  /** Parquet path (F4/F5): Spark's own parquet writer factory
    * (`ParquetFileFormat.prepareWrite`, with the same `compression`
    * option) writes each file under a hidden per-attempt temp name in its
    * target directory, and the task renames it to its offset name. This
    * replaces `AvroParquetWriter` (`ParquetAvroRecordWriterProvider.java:78-87`)
    * with the engine-native columnar writer (row-group/page/codec via the
    * usual `parquet.block.size` / `spark.sql.parquet.compression.codec`
    * confs). Every row is a record: `records` counts null payload fields
    * too.
    */
  def writeBatchParquet(
      df: DataFrame,
      cfg: PipelineConfig,
      partitioner: Partitioner,
      format: ParquetFormat,
      baseDir: String,
      payloadCols: Seq[String],
      extractor: TimestampExtractor = RecordTimestamp,
      extraGroupCols: Seq[Column] = Nil): BatchResult = {
    val rows = prepare(df, cfg, partitioner, extractor, extraGroupCols, payloadCols.map(col))
    val dataSchema = StructType(rows.schema.fields.drop(PayloadCol))
    val options = Map("compression" -> format.codec)
    val job = Job.getInstance(df.sparkSession.sessionState.newHadoopConfWithOptions(options))
    val factory = new ParquetFileFormat().prepareWrite(df.sparkSession, job, options, dataSchema)
    val conf = new SerializableConfiguration(job.getConfiguration)
    val payloadRefs: Seq[Expression] = dataSchema.fields.toSeq.zipWithIndex.map { case (f, i) =>
      BoundReference(PayloadCol + i, f.dataType, f.nullable)
    }
    val (attempts, backoffMs) = (cfg.writeMaxAttempts, cfg.retryBackoffMs)
    land(rows, cfg, format.extension, countNulls = true) { () =>
      val toPayload = UnsafeProjection.create(payloadRefs)
      (path: String, fileRows: Iterator[InternalRow]) => {
        val target = new Path(baseDir, path)
        val tmp = new Path(target.getParent, s".${target.getName}.${java.util.UUID.randomUUID}.tmp")
        val fs = target.getFileSystem(conf.value)
        val writer = factory.newInstance(tmp.toString, dataSchema,
          new TaskAttemptContextImpl(conf.value, new TaskAttemptID()))
        try {
          try fileRows.foreach(r => writer.write(toPayload(r))) finally writer.close()
        } catch { case e: Throwable => fs.delete(tmp, false); throw e }
        // D4: the rename is one object-store metadata RPC — retry
        // transient failures with the same backoff as data writes. The
        // body is IDEMPOTENT: if a prior attempt applied server-side
        // before its response was lost (source gone, target present),
        // it's recognized as success rather than deleting the
        // just-committed target; and Hadoop rename signals failure by
        // returning false, which must become an IOException or the retry
        // (and the whole batch) would silently report success on a lost
        // file. The temp file sits in the target's directory, so the
        // directory already exists.
        Retry.withBackoff(attempts, backoffMs) {
          if (!(fs.exists(target) && !fs.exists(tmp))) {
            if (fs.exists(target)) fs.delete(target, false)
            if (!fs.rename(tmp, target))
              throw new java.io.IOException(s"rename $tmp -> $target returned false")
          }
        }
      }
    }
  }

  /** The batch in the loop's column layout, shuffled once by writer key
    * and sorted by offset within each key group. Input must carry `topic`
    * (string), `partition` (int), `offset` (long), plus whatever the
    * partitioner, extractor and payload reference.
    */
  private def prepare(
      df: DataFrame,
      cfg: PipelineConfig,
      partitioner: Partitioner,
      extractor: TimestampExtractor,
      extraGroupCols: Seq[Column],
      payload: Seq[Column]): DataFrame = {
    val timeBucket =
      if (cfg.rotateIntervalMs > 0)
        floor(unix_millis(extractor.ts) / cfg.rotateIntervalMs).cast("long")
      else lit(0L)
    val key = Seq("__topic", "__partition", "__enc", "__tb", "__xg").map(col)
    df.withColumn("__enc", partitioner.encodePartition)
      .select(Seq(
        col("topic").as("__topic"), col("partition").as("__partition"), col("__enc"),
        timeBucket.as("__tb"),
        (if (extraGroupCols.nonEmpty) concat_ws("", extraGroupCols: _*) else lit("")).as("__xg"),
        concat_ws(cfg.dirDelim, lit(cfg.topicsDir), col("topic"), col("__enc")).as("__dir"),
        concat(col("topic"), lit(cfg.fileDelim), col("partition").cast("string"),
          lit(cfg.fileDelim)).as("__prefix"),
        col("offset").as("__offset")) ++ payload: _*)
      .repartition(key: _*)
      .sortWithinPartitions(key :+ col("__offset"): _*)
  }

  /** The one write job: per task, `openWriter` builds a [[FileWriter]];
    * the loop walks each key group in offset order, hands it every
    * `flushSize` rows as one file named by its first offset, and returns
    * `(path, topic, partition, records, lo, hi)` per file, from which the
    * driver builds the [[BatchResult]]. `countNulls` says whether a row
    * with a null payload counts as a written record.
    */
  private def land(rows: DataFrame, cfg: PipelineConfig, extension: String, countNulls: Boolean)(
      openWriter: () => FileWriter): BatchResult = {
    val keyRefs: Seq[Expression] = rows.schema.fields.toSeq.take(KeyWidth).zipWithIndex.map {
      case (f, i) => BoundReference(i, f.dataType, f.nullable)
    }
    val (flushSize, pad, dirDelim) = (cfg.flushSize, cfg.zeroPadWidth, cfg.dirDelim)
    val qe = rows.queryExecution
    // an SQL execution, as for any Dataset action: the tasks see the
    // session's SQL confs (the parquet writer reads some of them there)
    val files = SQLExecution.withNewExecutionId(qe, Some("graft-sink")) {
      qe.toRdd.mapPartitions { it =>
        val write = openWriter()
        val keyOf = UnsafeProjection.create(keyRefs)
        val in = it.buffered
        Iterator.continually(in).takeWhile(_.hasNext).map { _ =>
          val first = in.head
          val key = keyOf(first).copy()
          val topic = first.getUTF8String(0).toString
          val partition = first.getInt(1)
          val lo = first.getLong(OffsetCol)
          // Spark's lpad: zero-pad to `pad` characters, truncate if longer
          val start = lo.toString
          val padded = if (start.length >= pad) start.take(pad) else "0" * (pad - start.length) + start
          val path = first.getUTF8String(DirCol).toString + dirDelim +
            first.getUTF8String(PrefixCol).toString + padded + extension
          var (n, records, hi) = (0, 0L, lo)
          write(path, new Iterator[InternalRow] {
            def hasNext: Boolean = n < flushSize && in.hasNext && keyOf(in.head) == key
            def next(): InternalRow = {
              val r = in.next()
              n += 1
              hi = r.getLong(OffsetCol)
              if (countNulls || !r.isNullAt(PayloadCol)) records += 1
              r
            }
          })
          (path, topic, partition, records, lo, hi)
        }
      }.collect()
    }
    val offsets = files
      .groupBy { case (_, t, pt, _, _, _) => (t, pt) }
      .map { case (k, fs) => k -> (fs.map(_._6).max + 1) } // offset + 1: TopicPartitionWriter.java:330
    BatchResult(files.map { case (p, _, _, n, lo, hi) => CommittedFile(p, n, lo, hi) }.toSeq.sortBy(_.path),
      offsets)
  }
}
