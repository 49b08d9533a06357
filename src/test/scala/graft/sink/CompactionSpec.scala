package graft.sink

import org.apache.spark.sql.functions.{col, struct}

import graft.SparkTestBase
import graft.core.PipelineConfig
import graft.partition.DefaultPartitioner
import graft.sources.LandedFiles

class CompactionSpec extends SparkTestBase {

  private def tmpDir() = java.nio.file.Files.createTempDirectory("compact")

  private def ingest(base: String, flushSize: Int = 100): Unit = {
    val df = kafkaRecords("c", nParts = 2, perPart = 1000)
    OffsetNamedSink.writeBatch(
      df, PipelineConfig(flushSize = flushSize), DefaultPartitioner,
      ParquetFormat(), base, payload = struct(col("offset"), col("a"), col("b")))
  }

  test("compaction: many small files become few, content and provenance preserved") {
    val base = tmpDir()
    ingest(base.toString) // 10 files x 100 records per partition
    assert(listFiles(base).size == 20)
    val before = spark.read.option("recursiveFileLookup", "true")
      .parquet(s"$base/topics").orderBy("offset", "a").collect().toSeq

    val res = Compaction.compactParquet(spark, base.toString,
      PipelineConfig(flushSize = 500), DefaultPartitioner,
      payloadCols = Seq("offset", "a", "b"))

    // 1000 records / 500 target = 2 files per partition; all 20 originals
    // except the two reused names (start offsets 0 and 500) are swept
    val expected = for { p <- 0 to 1; o <- Seq(0, 500) }
      yield f"topics/c/partition=$p/c+$p+$o%010d.parquet"
    assert(listFiles(base) == expected.sorted)
    assert(res.deletedFiles.size == 16)
    assert(res.batch.files.map(_.records).sum == 2000)

    // content identical, offset-naming invariant (D1) still parses
    val after = spark.read.option("recursiveFileLookup", "true")
      .parquet(s"$base/topics").orderBy("offset", "a").collect().toSeq
    assert(after == before)
    val prov = LandedFiles.readParquet(spark, base.toString)
    import org.apache.spark.sql.functions._
    val bad = prov.groupBy("_topic", "_kafka_partition", "_file_start_offset")
      .agg(min("offset").as("lo"))
      .filter(col("lo") =!= col("_file_start_offset"))
    assert(bad.count() == 0) // each file's name still pins its first offset
  }

  test("compaction: idempotent — second run rewrites nothing new, deletes nothing") {
    val base = tmpDir()
    ingest(base.toString)
    Compaction.compactParquet(spark, base.toString,
      PipelineConfig(flushSize = 500), DefaultPartitioner,
      payloadCols = Seq("offset", "a", "b"))
    val files1 = listFiles(base)
    val res2 = Compaction.compactParquet(spark, base.toString,
      PipelineConfig(flushSize = 500), DefaultPartitioner,
      payloadCols = Seq("offset", "a", "b"))
    assert(res2.deletedFiles.isEmpty)
    assert(listFiles(base) == files1)
  }

  test("sweep is pinned to the input snapshot — a concurrently-landed file survives") {
    val base = tmpDir()
    ingest(base.toString)
    // the files the compaction "read" (snapshot taken before its write)
    val snapshot = listFiles(base).map(rel =>
      new org.apache.hadoop.fs.Path(s"$base/$rel").toUri.getPath).toSet
    // a concurrent ingest lands AFTER the scan: pattern-matching name,
    // records never rewritten by this compaction run
    val lateDf = kafkaRecords("c", nParts = 1, perPart = 1100)
      .where("offset >= 1000 and offset < 1100")
    OffsetNamedSink.writeBatch(
      lateDf, PipelineConfig(flushSize = 100), DefaultPartitioner,
      ParquetFormat(), base.toString, payload = struct(col("offset"), col("a"), col("b")))
    val late = listFiles(base).find(_.endsWith(f"c+0+${1000}%010d.parquet")).get
    val latePath = new org.apache.hadoop.fs.Path(s"$base/$late").toUri.getPath
    assert(!snapshot.contains(latePath))

    val fs = new org.apache.hadoop.fs.Path(base.toString)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val keep = Set.empty[String] // outputs elsewhere; sweep everything read
    val deleted = Compaction.sweepStaleInputs(fs, snapshot, keep)
    // every snapshot file swept, the late file UNTOUCHED — its records were
    // never rewritten, deleting it would be silent data loss
    assert(deleted.toSet == snapshot)
    assert(fs.exists(new org.apache.hadoop.fs.Path(latePath)))
    val survivors = listFiles(base)
    assert(survivors == Seq(late))
  }

  test("compaction: converges after a simulated crash that left stale inputs") {
    val base = tmpDir()
    ingest(base.toString)
    Compaction.compactParquet(spark, base.toString,
      PipelineConfig(flushSize = 500), DefaultPartitioner,
      payloadCols = Seq("offset", "a", "b"))
    val before = spark.read.option("recursiveFileLookup", "true")
      .parquet(s"$base/topics").orderBy("offset", "a").collect().toSeq
    // simulate a crash between write and sweep: one stale ingest-sized
    // file survives, duplicating records the compacted files already hold
    // (byte-identical copies — the sink's idempotent-naming guarantee)
    val staleDf = kafkaRecords("c", nParts = 1, perPart = 1000)
      .where("offset >= 600 and offset < 700")
    OffsetNamedSink.writeBatch(
      staleDf, PipelineConfig(flushSize = 100), DefaultPartitioner,
      ParquetFormat(), base.toString, payload = struct(col("offset"), col("a"), col("b")))
    assert(listFiles(base).exists(_.endsWith(f"c+0+${600}%010d.parquet")))

    val res = Compaction.compactParquet(spark, base.toString,
      PipelineConfig(flushSize = 500), DefaultPartitioner,
      payloadCols = Seq("offset", "a", "b"))
    // the duplicates collapse under the offset-key dedup, groups and
    // names come out exactly as before the crash, the stale file is swept
    val expected = for { p <- 0 to 1; o <- Seq(0, 500) }
      yield f"topics/c/partition=$p/c+$p+$o%010d.parquet"
    assert(listFiles(base) == expected.sorted)
    assert(res.deletedFiles.exists(_.endsWith(f"c+0+${600}%010d.parquet")))
    val after = spark.read.option("recursiveFileLookup", "true")
      .parquet(s"$base/topics").orderBy("offset", "a").collect().toSeq
    assert(after == before) // no record lost, none doubled
  }
}
