package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkTestBase
import graft.core.PipelineConfig
import graft.llmops.Multimodal
import graft.partition.DefaultPartitioner
import graft.sink._

/** Scan-side coverage (SURVEY.md §2.7 "Scans" row): the engine reads back
  * what the parity sink writes — gzip JSON lines with a schema, raw binary
  * objects through the `binaryFile` source into the multimodal pipeline —
  * the reader half the reference explicitly lacks (`OSSStorage.open`
  * throws, `OSSStorage.java:73-75`).
  */
class SourcesSpec extends SparkTestBase {

  test("sink json.gz round-trips through spark.read.json with schema") {
    val base = Files.createTempDirectory("graft-src-json")
    val df = kafkaRecords("rt", nParts = 1, perPart = 200)
    OffsetNamedSink.writeBatch(
      df, PipelineConfig(flushSize = 100), DefaultPartitioner,
      JsonFormat(Gzip), base.toString,
      payload = to_json(struct(col("a"), col("b"))))
    val schema = StructType(Seq(
      StructField("a", LongType), StructField("b", StringType)))
    val back = spark.read.schema(schema)
      .json(s"$base/topics/rt/partition=0/*.json.gz")
    assert(back.count() == 200)
    assert(back.agg(sum("a")).collect().head.getLong(0) ==
      (0 until 200).map(_ * 10L).sum)
  }

  test("binaryFile source feeds the multimodal pipeline") {
    val dir = Files.createTempDirectory("graft-src-bin")
    Files.write(dir.resolve("clip1.mp4"), "fake-video-bytes-1".getBytes)
    Files.write(dir.resolve("img1.png"), "fake-image-bytes".getBytes)
    Files.write(dir.resolve("notes.txt"), "plain".getBytes)
    val media = Multimodal.fromBinaryFiles(
      spark.read.format("binaryFile").load(dir.toString))
    val byMod = media.collect().map(r => r.getString(1) -> r).toMap
    assert(byMod.keySet == Set("video", "image", "binary"))
    assert(new String(byMod("image").getAs[Array[Byte]]("payload")) == "fake-image-bytes")
    assert(byMod("video").getStruct(3).getLong(1) == 18L) // meta.n_bytes
    // decode + frame-sample the video path end-to-end
    val frames = Multimodal.sampleFrames(Multimodal.decodeStub(media), everyMs = 50000)
    assert(frames.count() > 0)
  }

  test("landed files read back with offset provenance from their names") {
    val base = Files.createTempDirectory("graft-src-landed")
    val df = kafkaRecords("lp", nParts = 2, perPart = 500)
    OffsetNamedSink.writeBatch(
      df, PipelineConfig(flushSize = 200), DefaultPartitioner,
      ParquetFormat(), base.toString, payload = struct(col("a"), col("b")))
    val back = graft.sources.LandedFiles.readParquet(spark, base.toString)
    assert(back.count() == 1000)
    val prov = back.groupBy("_topic", "_kafka_partition", "_file_start_offset")
      .count().collect()
      .map(r => (r.getString(0), r.getInt(1), r.getLong(2), r.getLong(3))).toSet
    // 3 files per partition: 200+200+100 at offsets 0/200/400
    assert(prov == (for {
      p <- Set(0, 1); (o, n) <- Set((0L, 200L), (200L, 200L), (400L, 100L))
    } yield ("lp", p, o, n)))
  }

  test("avro landed files decode back without spark-avro, with provenance") {
    import org.apache.spark.sql.types._
    val base = Files.createTempDirectory("graft-src-avro")
    val df = kafkaRecords("av", nParts = 1, perPart = 120)
    OffsetNamedSink.writeBatch(
      df, PipelineConfig(flushSize = 50), DefaultPartitioner,
      AvroFormat("deflate"), base.toString,
      payload = struct(col("a"), col("b")))
    val schema = StructType(Seq(StructField("a", LongType), StructField("b", StringType)))
    val back = graft.sources.LandedFiles.readAvro(spark, base.toString, schema)
    assert(back.count() == 120)
    assert(back.agg(sum("a")).collect().head.getLong(0) == (0 until 120).map(_ * 10L).sum)
    val prov = back.groupBy("_file_start_offset").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(prov == Map(0L -> 50L, 50L -> 50L, 100L -> 20L))
  }

  test("csv/text scans compose with the relational layer") {
    val dir = Files.createTempDirectory("graft-src-csv")
    Files.write(dir.resolve("dim.csv"), "id,name\n1,alpha\n2,beta\n".getBytes)
    val csv = spark.read.option("header", "true").option("inferSchema", "true")
      .csv(dir.toString)
    assert(csv.schema("id").dataType == IntegerType)
    assert(csv.where(col("name") === "beta").count() == 1)
  }
}
