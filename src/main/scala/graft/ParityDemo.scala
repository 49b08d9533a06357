package graft

import org.apache.spark.sql.functions._

import graft.core.PipelineConfig
import graft.partition.{DefaultPartitioner, HourlyPartitioner}
import graft.sink._
import graft.streaming.ParityPipeline

/** Usage demo + runtime smoke for the parity layer: synthesizes a batch of
  * Kafka-shaped records (the shape `readStream.format("kafka")` yields) and
  * drives them through the offset-named sink in three formats, printing the
  * committed files — the reference quick-start flow (README.md:242-274)
  * against a local path instead of `oss://`.
  *
  *   sbt "runMain graft.ParityDemo /tmp/graft-demo"
  */
object ParityDemo {
  def main(args: Array[String]): Unit = {
    val out = args.headOption.getOrElse("/tmp/graft-demo")
    val spark = LocalSession("4")
    import spark.implicits._

    // 3 partitions × 5000 offsets, flush.size=2000 → files at 0/2000/4000
    val records = (for { p <- 0 until 3; o <- 0 until 5000 } yield
      ("demo", p, o.toLong, new java.sql.Timestamp(1700000000000L + o * 250L),
        s"k$p-$o", o.toLong * 3, s"payload-$o"))
      .toDF("topic", "partition", "offset", "timestamp", "key", "a", "b")

    val cfg = PipelineConfig(flushSize = 2000)
    val json = ParityPipeline.writeMicroBatch(
      records, cfg, DefaultPartitioner, JsonFormat(Gzip), s"$out/json",
      payload = to_json(struct(col("a"), col("b"))))
    val parquet = ParityPipeline.writeMicroBatch(
      records, cfg, HourlyPartitioner(), ParquetFormat(), s"$out/parquet",
      payload = struct(col("a"), col("b")))
    val avro = ParityPipeline.writeMicroBatch(
      records.withColumn("payload", struct(col("a"), col("b"))),
      cfg, DefaultPartitioner, AvroFormat("deflate"), s"$out/avro",
      payload = struct(col("a"), col("b")))

    Seq("json" -> json, "parquet" -> parquet, "avro" -> avro).foreach { case (name, res) =>
      println(s"== $name: ${res.files.size} files")
      res.files.take(4).foreach(f => println(s"   ${f.path}  records=${f.records} offsets=[${f.startOffset},${f.endOffset}]"))
      println(s"   offsetsToCommit: ${res.offsetsToCommit.toSeq.sortBy(_._1._2).mkString(", ")}")
    }
    spark.stop()
  }
}
