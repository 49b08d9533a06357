package perfbench

import scala.collection.mutable

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

import graft.core.PipelineConfig
import graft.partition.DefaultPartitioner
import graft.sink._
import graft.sources.LandedFiles
import graft.streaming.ParityPipeline

/** `sink_bulk`: one generated batch landed in each of the five formats
  * through `ParityPipeline.writeMicroBatch` with `DefaultPartitioner`, each
  * landing read back and verified through `LandedFiles`.
  *
  * Scale is the reference's integration test at one twentieth (345,678 →
  * 17,284 records per Kafka partition, `flush.size` 100,000 → 5,000, 3
  * Kafka partitions), which keeps its file shape: three full files and a
  * partial remainder per partition, at offsets 0/5,000/10,000/15,000. The
  * full scale takes ~12 s per landing on four cores, too long for a run
  * that must land all five formats. The input is generated from the seed
  * and materialized during set-up, so neither the generator nor a source
  * is in the timed path.
  */
final class SinkBulk(spark: SparkSession, seed: Long, work: String) extends Workload {
  import SinkBulk._

  private val cfg = PipelineConfig(flushSize = Flush)
  private val total = PerPartition * Partitions
  private val payload = struct(Fields.map(col): _*)
  private var input: DataFrame = _
  private var payloadSchema: StructType = _
  private var pass = 0

  private case class Fmt(name: String, format: OutputFormat, payload: Column,
                         read: String => DataFrame)

  private lazy val formats = Seq(
    Fmt("json", JsonFormat(), to_json(payload),
      d => LandedFiles.readJson(spark, d, payloadSchema)),
    Fmt("json_gzip", JsonFormat(Gzip), to_json(payload),
      d => LandedFiles.readJson(spark, d, payloadSchema)),
    Fmt("avro_deflate", AvroFormat("deflate"), payload,
      d => LandedFiles.readAvro(spark, d, payloadSchema)),
    Fmt("parquet", ParquetFormat(), payload,
      d => LandedFiles.readParquet(spark, d)),
    Fmt("bytes", ByteArrayFormat(), col("value"),
      d => LandedFiles.withProvenance(
        spark.read.option("recursiveFileLookup", "true").text(s"$d/${cfg.topicsDir}"))
        .withColumn("long", get_json_object(col("value"), "$.long").cast("long"))))

  def setup(): Unit = {
    input = generate(spark, seed, PerPartition).persist()
    require(input.count() == total, "generated input has the wrong size")
    payloadSchema = input.select(payload.as("p")).schema("p").dataType.asInstanceOf[StructType]
    // warm every landing and read-back path once on a slice of the input
    val slice = input.filter(col("offset") < Flush / 2)
    formats.foreach { f =>
      val dir = s"$work/warm/${f.name}"
      ParityPipeline.writeMicroBatch(slice, cfg, DefaultPartitioner, f.format, dir, f.payload)
      f.read(dir).queryExecution.toRdd.count()
      Harness.deleteTree(dir)
    }
  }

  def measure(seconds: Double, tracer: Option[Tracer]): Seq[Op] = {
    val ops = mutable.ArrayBuffer.empty[Op]
    val start = Clock.ms
    do {
      formats.foreach { f =>
        val dir = s"$work/bulk/pass$pass/${f.name}"
        ops += Harness.timed(s"land:${f.name}", tracer.nonEmpty) {
          val res = Tracer.around(tracer, "sink", s"writeMicroBatch[${f.name}]") {
            ParityPipeline.writeMicroBatch(input, cfg, DefaultPartitioner, f.format, dir, f.payload)
          }
          val problems = checkLanding(res, f.format.extension, dir)
          val bytes = Harness.dataFiles(dir).map(java.nio.file.Files.size).sum
          (problems.isEmpty, res.files.map(_.records).sum, bytes, problems.mkString("; "))
        }
        ops += Harness.timed(s"read:${f.name}", tracer.nonEmpty) {
          val (n, problems) = Tracer.around(tracer, "sources", s"read[${f.name}]") {
            readBack(f.read(dir))
          }
          (problems.isEmpty, n, 0L, problems.mkString("; "))
        }
        Harness.deleteTree(dir)
      }
      pass += 1
    } while ((Clock.ms - start) / 1000 < seconds)
    ops.toSeq
  }

  /** Committed names, per-file counts, `offsetsToCommit` and the files on
    * disk, against what flush.size implies for the generated input.
    */
  private def checkLanding(res: OffsetNamedSink.BatchResult, ext: String, dir: String): Seq[String] = {
    val expected = (for {
      p <- 0 until Partitions
      s <- 0L until PerPartition by Flush.toLong
    } yield f"${cfg.topicsDir}/$Topic/partition=$p/$Topic+$p+$s%010d$ext" ->
      math.min(Flush.toLong, PerPartition - s)).toMap
    val got = res.files.map(f => f.path -> f.records).toMap
    val onDisk = Harness.dataFiles(dir)
      .map(p => java.nio.file.Paths.get(dir).relativize(p).toString).toSet
    val offsets = (0 until Partitions).map(p => (Topic, p) -> PerPartition).toMap
    Seq(
      (got != expected) -> s"committed files ${got.toSeq.sorted} != expected ${expected.toSeq.sorted}",
      (res.files.map(_.records).sum != total) -> s"committed ${res.files.map(_.records).sum} records of $total",
      (res.offsetsToCommit != offsets) -> s"offsetsToCommit ${res.offsetsToCommit} != $offsets",
      (onDisk != expected.keySet) -> s"files on disk ${onDisk.toSeq.sorted} != committed names"
    ).collect { case (true, msg) => msg }
  }

  /** Reads a landing back in one pass that also checks it: the rows are
    * exactly the input's (topic, partition, offset) set — `long` is the
    * record id `offset * 3 + partition` — and each row's provenance columns
    * name the file its offset belongs in. Returns the rows read and the
    * problems found.
    */
  private def readBack(df: DataFrame): (Long, Seq[String]) = {
    val id = col("long")
    val off = (id / Partitions).cast("long")
    val provOk = col("_topic") === Topic && col("_kafka_partition") === (id % Partitions) &&
      col("_file_start_offset") === (off / Flush).cast("long") * Flush
    val r = df.agg(count(lit(1)), countDistinct(id), min(id), max(id),
      sum(when(provOk, 1L).otherwise(0L))).head()
    val (n, distinct, lo, hi, prov) = (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
    if (n == total && distinct == total && lo == 0 && hi == total - 1 && prov == total) (n, Nil)
    else (n, Seq(s"read-back set mismatch: rows=$n distinct=$distinct min=$lo max=$hi provenance_ok=$prov of $total"))
  }

  def finish(): Map[String, Any] = {
    input.unpersist()
    Map("records_per_landing" -> total, "passes" -> pass,
      "files_per_landing" -> Partitions * ((PerPartition + Flush - 1) / Flush),
      "dirs_per_landing" -> Partitions)
  }
}

object SinkBulk {
  val PerPartition = 17284L
  val Partitions = 3
  val Flush = 5000
  val Topic = "bulk"
  /** FIXTURES §1 base record plus the v2 `string` field. */
  val Fields = Seq("boolean", "int", "long", "float", "double", "string")

  /** The seeded input: Kafka routing columns, the record fields (`long`
    * is the record id, so a read-back can be matched to its offset), a
    * `string` of seeded length 0–95, and the serialized `value` bytes the
    * ByteArray format lands.
    */
  def generate(spark: SparkSession, seed: Long, perPartition: Long): DataFrame = {
    val id = col("id")
    def h(salt: Long): Column = xxhash64(id, lit(seed), lit(salt))
    spark.range(perPartition * Partitions)
      .select(
        lit(Topic).as("topic"),
        (id % Partitions).cast("int").as("partition"),
        (id / Partitions).cast("long").as("offset"),
        timestamp_millis(lit(1700000000000L) + id).as("timestamp"),
        (pmod(h(1), lit(2L)) === 0).as("boolean"),
        (pmod(h(2), lit(4294967296L)) - 2147483648L).cast("int").as("int"),
        id.as("long"),
        (pmod(h(3), lit(1000000L)) / 100.0).cast("float").as("float"),
        (pmod(h(4), lit(1000000000L)) / 1000.0).as("double"),
        repeat(sha2(h(5).cast("string"), 256), 2)
          .substr(lit(1), pmod(h(6), lit(96L)).cast("int")).as("string"))
      .withColumn("value", encode(to_json(struct(Fields.map(col): _*)), "UTF-8"))
  }
}
