package graft

import org.apache.spark.sql.functions._

import graft.core.PipelineConfig
import graft.partition.DefaultPartitioner
import graft.sink._
import graft.streaming.ParityPipeline

/** Parity-sink throughput at the reference's integration-test scale
  * (`TEST_RECORDS = 345678`, `TEST_FLUSH_SIZE = 100000` per partition,
  * `TestOSSSinkConnectorBase.java:57-59` / BASELINE.md) across formats.
  * Note the commit-model difference: the reference leaves the 45,678-record
  * remainder uncommitted until the next flush; a Structured Streaming epoch
  * commits everything in the batch, so the remainder becomes a fourth
  * (partial) file — same boundaries 0/100000/200000/300000.
  *
  * Prints one JSON line: records/sec per format.
  */
object SinkBench {
  def main(args: Array[String]): Unit = {
    val records = sys.env.getOrElse("SPARK_GRAFT_SINK_RECORDS", "345678").toLong
    val parts = 3
    val spark = LocalSession()

    // synthesize the FIXTURES base-record shape: boolean/int/long/float/double
    val df = spark.range(records * parts)
      .select(
        lit("bench").as("topic"),
        (col("id") % parts).cast("int").as("partition"),
        expr(s"id div $parts").as("offset"),
        timestamp_millis(lit(1700000000000L) + col("id")).as("timestamp"),
        (col("id") % 2 === 0).as("boolean"),
        col("id").cast("int").as("int"),
        col("id").as("long"),
        (col("id") % 1000).cast("float").as("float"),
        (col("id") % 1000 / 7.0).as("double"))
      .persist()
    df.count() // materialize input before timing

    val cfg = PipelineConfig(flushSize = 100000)
    val payloadStruct = struct(col("boolean"), col("int"), col("long"), col("float"), col("double"))
    val results = Seq[(String, () => OffsetNamedSink.BatchResult)](
      "json" -> (() => ParityPipeline.writeMicroBatch(
        df, cfg, DefaultPartitioner, JsonFormat(),
        graft.core.TempDirs.scratch("sb-json"), to_json(payloadStruct))),
      "json_gzip" -> (() => ParityPipeline.writeMicroBatch(
        df, cfg, DefaultPartitioner, JsonFormat(Gzip),
        graft.core.TempDirs.scratch("sb-jsongz"), to_json(payloadStruct))),
      "parquet" -> (() => ParityPipeline.writeMicroBatch(
        df.select("topic", "partition", "offset", "boolean", "int", "long", "float", "double"),
        cfg, DefaultPartitioner, ParquetFormat(),
        graft.core.TempDirs.scratch("sb-parquet"), lit(null))),
      "avro_deflate" -> (() => ParityPipeline.writeMicroBatch(
        df, cfg, DefaultPartitioner, AvroFormat("deflate"),
        graft.core.TempDirs.scratch("sb-avro"), payloadStruct)),
      "bytes" -> (() => ParityPipeline.writeMicroBatch(
        df.withColumn("value", encode(col("long").cast("string"), "UTF-8")),
        cfg, DefaultPartitioner, ByteArrayFormat(),
        graft.core.TempDirs.scratch("sb-bytes"), col("value")))
    ).map { case (name, run) =>
      val t0 = System.nanoTime()
      val res = run()
      val sec = (System.nanoTime() - t0) / 1e9
      val total = res.files.map(_.records).sum
      require(total == records * parts, s"$name wrote $total of ${records * parts}")
      // boundary check: files per partition at 0/100000/200000/300000
      require(res.files.count(_.startOffset == 0L) == parts, s"$name boundary mismatch")
      name -> (total / sec).round
    }

    val qs = results.map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")
    println(s"""{"metric":"sink_records_per_sec","records":${records * parts},"formats":$qs}""")
    spark.stop()
  }
}
