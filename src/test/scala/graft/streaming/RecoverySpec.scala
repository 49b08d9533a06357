package graft.streaming

import java.net.URI
import java.nio.file.Files
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileSystem, Path, RawLocalFileSystem}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkTestBase
import graft.core.PipelineConfig
import graft.partition.DefaultPartitioner
import graft.sink.{JsonFormat, ParquetFormat}
import graft.sources.LandedFiles

/** A local FS whose `rename` onto the file named by `crashOn` throws a
  * non-IO error, which the sink does not retry: the task dies after the
  * file's temp copy is complete and before it takes its final name.
  */
class RenameCrashFileSystem extends RawLocalFileSystem {
  override def getScheme: String = "renamecrash"
  override def getUri: URI = URI.create("renamecrash:///")
  override def rename(src: Path, dst: Path): Boolean = {
    if (RenameCrashFileSystem.crashOn.contains(dst.getName))
      throw new IllegalStateException(s"crash before renaming $src")
    super.rename(src, dst)
  }
}
object RenameCrashFileSystem {
  @volatile var crashOn: Option[String] = None
}

/** D2/D3/D6 recovery: a file-source streaming query is stopped and
  * restarted against the same checkpoint; already-processed input is not
  * reprocessed, new input lands in new offset-named files, and nothing is
  * duplicated — the `testRecovery` analog (`TestDataWriterAvro.java:227-247`)
  * under Spark's checkpoint model. Also exercises declarative backpressure
  * (`maxFilesPerTrigger`, the file-source analog of `maxOffsetsPerTrigger`),
  * and a crash between the file commit and the offset commit, for parquet
  * and for json (the latter on the `FileSystem`-based checkpoint manager
  * `graft.LocalSession` configures), and a task that dies between a
  * parquet file's temp write and its rename.
  */
class RecoverySpec extends SparkTestBase {

  private val recSchema = StructType(Seq(
    StructField("topic", StringType), StructField("partition", IntegerType),
    StructField("offset", LongType), StructField("timestamp", TimestampType),
    StructField("a", LongType)))

  private def writeSourceFile(dir: java.nio.file.Path, from: Int, until: Int): Unit = {
    import spark.implicits._
    (from until until)
      .map(o => ("r", 0, o.toLong, new java.sql.Timestamp(1700000000000L + o * 1000L), o * 2L))
      .toDF("topic", "partition", "offset", "timestamp", "a")
      .coalesce(1).write.mode("append").parquet(dir.toString)
  }

  test("restart from checkpoint: no reprocessing, no duplicates") {
    val src = Files.createTempDirectory("graft-rec-src")
    val out = Files.createTempDirectory("graft-rec-out")
    val ckpt = Files.createTempDirectory("graft-rec-ckpt")
    val cfg = PipelineConfig(flushSize = 1000000)

    def startQuery() = ParityPipeline.start(
      spark.readStream.schema(recSchema)
        .option("maxFilesPerTrigger", 1) // D5 backpressure, file-source analog
        .parquet(src.toString),
      cfg, DefaultPartitioner, JsonFormat(), out.toString, ckpt.toString,
      payload = to_json(struct(col("a"))))

    writeSourceFile(src, 0, 100)
    val q1 = startQuery()
    try q1.processAllAvailable() finally q1.stop()

    val firstFile = out.resolve(f"topics/r/partition=0/r+0+${0}%010d.json")
    assert(Files.readAllLines(firstFile).size == 100)
    val firstBytes = Files.readAllBytes(firstFile).toSeq

    // restart with MORE input: batch 2 must contain only the new records
    writeSourceFile(src, 100, 150)
    val q2 = startQuery()
    try q2.processAllAvailable() finally q2.stop()

    val files = listFiles(out)
    assert(files == Seq(
      f"topics/r/partition=0/r+0+${0}%010d.json",
      f"topics/r/partition=0/r+0+${100}%010d.json"))
    // the old file is untouched (not reprocessed/rewritten differently)
    assert(Files.readAllBytes(firstFile).toSeq == firstBytes)
    assert(Files.readAllLines(out.resolve(
      f"topics/r/partition=0/r+0+${100}%010d.json")).size == 50)
  }

  test("parquet: a crash after the files land but before the offset commit replays exactly once") {
    val src = Files.createTempDirectory("graft-crash-src")
    val out = Files.createTempDirectory("graft-crash-out")
    val ckpt = Files.createTempDirectory("graft-crash-ckpt")
    val cfg = PipelineConfig(flushSize = 40)
    def stream() = spark.readStream.schema(recSchema)
      .option("maxFilesPerTrigger", 1).parquet(src.toString)
    def records(rel: String): Set[(Long, Long)] =
      spark.read.parquet(out.resolve(rel).toString).collect()
        .map(r => (r.getAs[Long]("offset"), r.getAs[Long]("a"))).toSet

    writeSourceFile(src, 0, 100)
    // batch 0 lands its files, then the batch fails: the checkpoint holds
    // its offsets but no commit, so a restart must replay it
    val crashing = stream().writeStream
      .option("checkpointLocation", ckpt.toString)
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        ParityPipeline.writeMicroBatch(batch, cfg, DefaultPartitioner, ParquetFormat(),
          out.toString, payload = lit(null))
        throw new IllegalStateException("crash after the file commit")
      }
      .start()
    try intercept[org.apache.spark.sql.streaming.StreamingQueryException](
      crashing.processAllAvailable()) finally crashing.stop()

    val landed = listFiles(out)
    assert(landed == Seq(0, 40, 80).map(o => f"topics/r/partition=0/r+0+$o%010d.parquet"))
    val landedRecords = landed.map(f => f -> records(f)).toMap
    // a temp file a killed writer left behind, next to the real files
    val leftover = out.resolve(f"topics/r/partition=0/.r+0+${0}%010d.parquet.dead-attempt.tmp")
    Files.write(leftover, "torn parquet".getBytes("UTF-8"))
    writeSourceFile(src, 100, 150)

    val q = ParityPipeline.start(stream(), cfg, DefaultPartitioner, ParquetFormat(),
      out.toString, ckpt.toString, payload = lit(null))
    try q.processAllAvailable() finally q.stop()

    val files = listFiles(out)
    assert(files == Seq(0, 40, 80, 100, 140).map(o => f"topics/r/partition=0/r+0+$o%010d.parquet"))
    landed.foreach(f => assert(records(f) == landedRecords(f), s"replay changed $f"))
    val back = LandedFiles.readParquet(spark, out.toString)
    val keys = back.select("_topic", "_kafka_partition", "offset").collect()
      .map(r => (r.getString(0), r.getInt(1), r.getLong(2))).toSeq
    assert(keys.sorted == (0 until 150).map(o => ("r", 0, o.toLong)))
  }

  test("json: a crash before the offset commit replays identical files, on the FileSystem checkpoint manager") {
    val src = Files.createTempDirectory("graft-jcrash-src")
    val out = Files.createTempDirectory("graft-jcrash-out")
    val ckpt = Files.createTempDirectory("graft-jcrash-ckpt")
    val cfg = PipelineConfig(flushSize = 40)
    val payload = to_json(struct(col("offset"), col("a")))
    def stream() = spark.readStream.schema(recSchema)
      .option("maxFilesPerTrigger", 1).parquet(src.toString)
    def bytes(rel: String): Seq[Byte] = Files.readAllBytes(out.resolve(rel)).toSeq
    assert(spark.conf.get("spark.sql.streaming.checkpointFileManagerClass") ==
      graft.LocalSession.CheckpointFileManager)
    writeSourceFile(src, 0, 100)
    val crashing = stream().writeStream
      .option("checkpointLocation", ckpt.toString)
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        ParityPipeline.writeMicroBatch(batch, cfg, DefaultPartitioner, JsonFormat(),
          out.toString, payload)
        throw new IllegalStateException("crash after the file commit")
      }
      .start()
    try intercept[org.apache.spark.sql.streaming.StreamingQueryException](
      crashing.processAllAvailable()) finally crashing.stop()

    val landed = listFiles(out)
    assert(landed == Seq(0, 40, 80).map(o => f"topics/r/partition=0/r+0+$o%010d.json"))
    val landedBytes = landed.map(f => f -> bytes(f)).toMap
    writeSourceFile(src, 100, 150)

    val q = ParityPipeline.start(stream(), cfg, DefaultPartitioner, JsonFormat(),
      out.toString, ckpt.toString, payload)
    try q.processAllAvailable() finally q.stop()

    val files = listFiles(out)
    assert(files == Seq(0, 40, 80, 100, 140).map(o => f"topics/r/partition=0/r+0+$o%010d.json"))
    landed.foreach(f => assert(bytes(f) == landedBytes(f), s"replay changed the bytes of $f"))
    // every offset lands exactly once, in order, with its own record
    val lines = files.flatMap(f => Files.readAllLines(out.resolve(f)).asScala)
    assert(lines == (0 until 150).map(o => s"""{"offset":$o,"a":${o * 2}}"""))
  }

  test("parquet: a task crash between the temp write and its rename replays to the same names, each offset once") {
    val src = Files.createTempDirectory("graft-rcrash-src")
    val out = Files.createTempDirectory("graft-rcrash-out")
    val ckpt = Files.createTempDirectory("graft-rcrash-ckpt")
    spark.sparkContext.hadoopConfiguration.setClass(
      "fs.renamecrash.impl", classOf[RenameCrashFileSystem], classOf[FileSystem])
    val cfg = PipelineConfig(flushSize = 40)
    def start() = ParityPipeline.start(
      spark.readStream.schema(recSchema).option("maxFilesPerTrigger", 1).parquet(src.toString),
      cfg, DefaultPartitioner, ParquetFormat(), s"renamecrash://$out", ckpt.toString,
      payload = lit(null))
    val names = Seq(0, 40, 80).map(o => f"topics/r/partition=0/r+0+$o%010d.parquet")

    writeSourceFile(src, 0, 100)
    RenameCrashFileSystem.crashOn = Some(f"r+0+${40}%010d.parquet")
    val crashing = start()
    try intercept[org.apache.spark.sql.streaming.StreamingQueryException](
      crashing.processAllAvailable())
    finally { crashing.stop(); RenameCrashFileSystem.crashOn = None }

    // the first file took its name; the second exists only as a temp file
    assert(listFiles(out) == names.take(1))
    val hidden = Files.list(out.resolve("topics/r/partition=0")).iterator.asScala
      .map(_.getFileName.toString).filter(_.startsWith(".")).toSeq
    assert(hidden.exists(n => n.startsWith(f".r+0+${40}%010d.parquet.") && n.endsWith(".tmp")),
      s"no temp file of the crashed rename among $hidden")

    val q = start()
    try q.processAllAvailable() finally q.stop()

    assert(listFiles(out) == names)
    val keys = LandedFiles.readParquet(spark, out.toString)
      .select("_topic", "_kafka_partition", "offset").collect()
      .map(r => (r.getString(0), r.getInt(1), r.getLong(2))).toSeq
    assert(keys.sorted == (0 until 100).map(o => ("r", 0, o.toLong)))
  }
}
