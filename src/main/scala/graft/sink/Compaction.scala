package graft.sink

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.core.PipelineConfig
import graft.partition.{Partitioner, RecordTimestamp, TimestampExtractor}
import graft.sources.LandedFiles

/** Small-files compaction for a landed parquet lake — the nightly pass a
  * production 100 TB sink needs and the reference connector leaves to the
  * reader (its `flush.size`-bounded objects are write-once,
  * `OSSSinkTask` never revisits them). Many small offset-named files per
  * encoded partition become few large ones, preserving every invariant
  * the sink established:
  *
  *   - CONTENT: the compacted lake holds exactly the same records (the
  *     spec asserts set equality, and parquet re-encoding is lossless).
  *   - NAMING (D1): outputs use the same
  *     `<topic><delim><partition><delim><paddedStartOffset>.parquet`
  *     scheme via the same [[OffsetNamedSink.writeBatch]] writer,
  *     so readers ([[LandedFiles]]) parse provenance identically and a
  *     file's name still pins its first offset.
  *   - IDEMPOTENCE (D3): group membership is a pure function of
  *     (partitioner encoding, offsets, target flush size), so a re-run
  *     rewrites the same records under identical names and deletes
  *     nothing. A crash between write and delete converges on re-run:
  *     surviving outputs are recognized (overwrite-create), coexisting
  *     old+new duplicates collapse under the (topic, partition, offset)
  *     primary-key dedup, and stale inputs are swept.
  *
  * NOT transactional: between the write and the delete sweep a concurrent
  * reader sees records twice (offset-dedup on read, or a manifest layer,
  * is the cure — out of scope here, as for most object-store lakes).
  * Concurrent WRITERS are safe, though: the delete sweep is pinned to the
  * snapshot of files the compaction actually read (`landed.inputFiles`,
  * taken from the scan's own file index) — a file landed by a concurrent
  * ingest after the input scan is not in the snapshot and is never
  * deleted, so its records cannot be lost.
  *
  * Scale shape: ONE distributed job — scan → repartition by writer key →
  * write and rename in the task (the sink's own shuffle and loop); the
  * driver touches only O(#files) metadata for the delete sweep.
  *
  * The landed payload must carry the record `offset` column (the parity
  * pipeline's parquet format writes it by default): per-row offsets are
  * what make deterministic re-grouping — and therefore idempotent
  * compaction — possible at all.
  */
object Compaction {

  final case class CompactionResult(
      batch: OffsetNamedSink.BatchResult,
      deletedFiles: Seq[String])

  /** Compact all landed parquet under `baseDir/<topicsDir>` into files of
    * `cfg.flushSize` records (pass a cfg with the COMPACTION target —
    * typically 10-100× the ingest flush size). `payloadCols` are the
    * record columns to carry (must include `offset`); `partitioner` must
    * be the one the lake was written with, so re-derived directory
    * encodings match the existing layout.
    */
  def compactParquet(
      spark: SparkSession,
      baseDir: String,
      cfg: PipelineConfig,
      partitioner: Partitioner,
      payloadCols: Seq[String],
      extractor: TimestampExtractor = RecordTimestamp,
      format: ParquetFormat = ParquetFormat()): CompactionResult = {
    require(payloadCols.contains("offset"),
      "compaction needs the record offset column to re-group deterministically")

    // (topic, partition, offset) is the record's primary key and the sink
    // is idempotent, so any two landed copies of a key are identical —
    // dedup restores exactly-once input when a prior compaction crashed
    // between its write and its delete sweep (old and new files coexist
    // and every record in a surviving old file is also in a new one).
    val landed = LandedFiles.readParquet(spark, baseDir, cfg.topicsDir, cfg.fileDelim)
      .withColumn("topic", col("_topic"))
      .withColumn("partition", col("_kafka_partition"))
      .dropDuplicates(Seq("topic", "partition", "offset"))

    // SNAPSHOT the input set BEFORE writing: `inputFiles` reads the scan's
    // own file index, so this is exactly the set of files whose records the
    // compaction rewrites. The delete sweep is restricted to this snapshot —
    // a file landed by a concurrent ingest between the scan and the sweep is
    // absent from it and survives (its records were never rewritten;
    // deleting it would be silent data loss).
    val inputSnapshot = landed.inputFiles
      .map(u => new Path(new java.net.URI(u)).toUri.getPath).toSet

    val result = OffsetNamedSink.writeBatch(
      landed, cfg, partitioner, format, baseDir, struct(payloadCols.map(col): _*), extractor)

    val root = new Path(baseDir, cfg.topicsDir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val keep = result.files.map(f => new Path(baseDir, f.path).toUri.getPath).toSet
    CompactionResult(result, sweepStaleInputs(fs, inputSnapshot, keep))
  }

  /** Delete every snapshot file that is not also a compaction output.
    * Driver-side, O(#files) metadata ops. Only paths from `inputSnapshot`
    * are ever deleted; `keep` (this run's outputs) wins when an output
    * reuses an input's name (identical group boundaries → the same
    * records rewritten in place).
    */
  private[sink] def sweepStaleInputs(
      fs: org.apache.hadoop.fs.FileSystem,
      inputSnapshot: Set[String],
      keep: Set[String]): Seq[String] = {
    val deleted = Seq.newBuilder[String]
    (inputSnapshot -- keep).toSeq.sorted.foreach { p =>
      if (fs.delete(new Path(p), false)) deleted += p
    }
    deleted.result()
  }
}
