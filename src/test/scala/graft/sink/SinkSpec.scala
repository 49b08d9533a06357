package graft.sink

import java.nio.file.{Files, Path => JPath, Paths}
import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.functions._

import graft.SparkTestBase
import graft.core.PipelineConfig
import graft.partition._
import graft.streaming.ParityPipeline

/** Parity-sink round-trips mirroring the reference's integration pattern
  * (SURVEY.md §5): drive records through the sink, read the committed
  * files back independently, assert exact names, boundaries, contents.
  * Scale constants scaled down from `TEST_FLUSH_SIZE=100000 /
  * TEST_RECORDS=345678` (`TestOSSSinkConnectorBase.java:57-59`): here
  * flush 300 / 1000 records → files at offsets 0, 300, 600, 900.
  */
class SinkSpec extends SparkTestBase {

  private def tmpDir(): JPath = Files.createTempDirectory("graft-sink")

  /** `landing`'s result, the Spark jobs it runs, and how many of its
    * tasks read shuffled rows (its non-empty write tasks). A marker job
    * submitted after it from this thread reaches the listener after all
    * of its events.
    */
  private def executionShape[A](landing: => A): (A, Int, Int) = {
    val sc = spark.sparkContext
    val phase = "graft.test.phase"
    val (jobs, writers) = (new AtomicInteger, new AtomicInteger)
    val stages = ConcurrentHashMap.newKeySet[Int]()
    val drained = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty(phase)).orNull match {
          case "landing" => jobs.incrementAndGet(); e.stageIds.foreach(stages.add)
          case "marker" => drained.countDown()
          case _ => ()
        }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (stages.contains(e.stageId) && e.taskMetrics != null &&
            e.taskMetrics.shuffleReadMetrics.recordsRead > 0) writers.incrementAndGet()
    }
    sc.addSparkListener(listener)
    try {
      sc.setLocalProperty(phase, "landing")
      val result = landing
      sc.setLocalProperty(phase, "marker")
      sc.parallelize(Seq(1), 1).count()
      assert(drained.await(30, TimeUnit.SECONDS), "listener never saw the marker job")
      (result, jobs.get, writers.get)
    } finally {
      sc.setLocalProperty(phase, null)
      sc.removeSparkListener(listener)
    }
  }

  test("a micro-batch lands as one job whose write stage runs key groups in parallel") {
    val cfg = PipelineConfig(flushSize = 20)
    // 10 Kafka partitions: 10 writer-key groups, 3 files each
    val df = kafkaRecords("shape", nParts = 10, perPart = 50)
    val adaptive = spark.conf.get("spark.sql.adaptive.enabled")
    Seq[(OutputFormat, org.apache.spark.sql.Column, String)](
      (ParquetFormat(), lit(null), ".parquet"),
      (JsonFormat(), to_json(struct(col("a"), col("b"))), ".json")).foreach {
      case (format, payload, ext) =>
        val (res, jobs, writers) = executionShape {
          ParityPipeline.writeMicroBatch(df, cfg, DefaultPartitioner, format,
            tmpDir().toString, payload)
        }
        assert(jobs == 1 && writers > 1,
          s"$ext: $jobs job(s) and $writers non-empty write task(s) for 10 key groups")
        assert(res.files.size == 30 && res.files.forall(_.path.endsWith(ext)))
        assert(res.offsetsToCommit == (0 until 10).map(p => ("shape", p) -> 50L).toMap)
    }
    // per plan: the shared session's adaptive setting is never touched
    assert(spark.conf.get("spark.sql.adaptive.enabled") == adaptive)
  }

  test("json: flush.size rotation, offset-exact names, per-file counts") {
    val base = tmpDir()
    val cfg = PipelineConfig(flushSize = 300, zeroPadWidth = 10)
    val df = kafkaRecords("test", nParts = 2, perPart = 1000)
    val res = OffsetNamedSink.writeBatch(
      df, cfg, DefaultPartitioner, JsonFormat(), base.toString,
      payload = to_json(struct(col("a"), col("b"))))

    val expected = for {
      p <- 0 to 1; o <- Seq(0, 300, 600, 900)
    } yield f"topics/test/partition=$p/test+$p+$o%010d.json"
    assert(listFiles(base) == expected.sorted)

    // per-file record counts: 300,300,300,100 per partition
    val counts = res.files.map(f => f.path -> f.records).toMap
    assert(counts(f"topics/test/partition=0/test+0+${0}%010d.json") == 300)
    assert(counts(f"topics/test/partition=0/test+0+${900}%010d.json") == 100)
    // first line of the 300-offset file is the offset-300 record, in order
    val lines = Files.readAllLines(
      base.resolve(f"topics/test/partition=1/test+1+${300}%010d.json")).asScala
    assert(lines.size == 300)
    assert(lines.head == """{"a":3001,"b":"v300"}""")
    assert(lines.last == """{"a":5991,"b":"v599"}""")
    // D2 preCommit: next offset per (topic,partition)
    assert(res.offsetsToCommit == Map(("test", 0) -> 1000L, ("test", 1) -> 1000L))
  }

  test("json and bytes (plain and gzip): replay writes byte-identical files (D3)") {
    val cfg = PipelineConfig(flushSize = 250)
    val df = kafkaRecords("t", nParts = 1, perPart = 600)
      .withColumn("value", encode(concat(lit("payload-"), col("offset")), "UTF-8"))
    val json = to_json(struct(col("a"), col("b")))
    Seq[(OutputFormat, org.apache.spark.sql.Column, String)](
      (JsonFormat(), json, ".json"),
      (JsonFormat(Gzip), json, ".json.gz"),
      (ByteArrayFormat(), col("value"), ".bin"),
      (ByteArrayFormat(compression = Gzip), col("value"), ".bin.gz")).foreach {
      case (format, payload, ext) =>
        val base = tmpDir()
        def run(): Map[String, Seq[Byte]] = {
          OffsetNamedSink.writeBatch(df, cfg, DefaultPartitioner, format,
            base.toString, payload = payload)
          listFiles(base).map(f => f -> Files.readAllBytes(base.resolve(f)).toSeq).toMap
        }
        val first = run()
        val second = run() // replay — same batch, same data, same directory
        assert(first.keySet == Set(0, 250, 500).map(o => f"topics/t/partition=0/t+0+$o%010d$ext"),
          s"$ext: ${first.keySet}")
        val changed = first.keys.filter(f => second(f) != first(f))
        assert(second.keySet == first.keySet && changed.isEmpty,
          s"$ext: replay changed the bytes of $changed")
    }
  }

  test("bytearray: custom separator, byte-exact round trip, gzip variant") {
    val base = tmpDir()
    val cfg = PipelineConfig(flushSize = 100)
    val df = kafkaRecords("b", nParts = 1, perPart = 10)
      .withColumn("value", encode(concat(lit("payload-"), col("offset")), "UTF-8"))
    val sep = "#SEP#".getBytes("UTF-8")
    OffsetNamedSink.writeBatch(
      df, cfg, DefaultPartitioner, ByteArrayFormat(separator = sep), base.toString,
      payload = col("value"))
    val f = base.resolve(f"topics/b/partition=0/b+0+${0}%010d.bin")
    val content = new String(Files.readAllBytes(f), "UTF-8")
    val parts = content.split(java.util.regex.Pattern.quote("#SEP#")).toSeq
    assert(parts == (0 until 10).map(o => s"payload-$o"))

    // gzip: extension spliced before .gz is wrong way round in reference?
    // Reference splices .gz INTO extension: .bin.gz (JsonRecordWriterProvider.java:56-58)
    val base2 = tmpDir()
    OffsetNamedSink.writeBatch(
      df, cfg, DefaultPartitioner,
      ByteArrayFormat(separator = sep, compression = Gzip), base2.toString,
      payload = col("value"))
    val gz = base2.resolve(f"topics/b/partition=0/b+0+${0}%010d.bin.gz")
    assert(Files.exists(gz))
    val in = new java.util.zip.GZIPInputStream(Files.newInputStream(gz))
    val decoded = new String(in.readAllBytes(), "UTF-8")
    assert(decoded == content)
  }

  test("avro: container file with deflate codec round-trips") {
    val base = tmpDir()
    val cfg = PipelineConfig(flushSize = 500)
    val df = kafkaRecords("a", nParts = 1, perPart = 20)
    OffsetNamedSink.writeBatch(
      df, cfg, DefaultPartitioner, AvroFormat("deflate"), base.toString,
      payload = struct(col("a"), col("b")))
    val f = base.resolve(f"topics/a/partition=0/a+0+${0}%010d.avro")
    assert(Files.exists(f))
    val reader = new org.apache.avro.file.DataFileReader[org.apache.avro.generic.GenericRecord](
      new org.apache.avro.file.SeekableFileInput(f.toFile),
      new org.apache.avro.generic.GenericDatumReader[org.apache.avro.generic.GenericRecord]())
    val recs = reader.iterator().asScala.toList
    assert(recs.size == 20)
    assert(recs.head.get("a") == 0L)
    assert(recs.head.get("b").toString == "v0")
    reader.close()
  }

  test("avro: replay writes byte-identical files (sync marker from the file path)") {
    val cfg = PipelineConfig(flushSize = 15)
    val df = kafkaRecords("ar", nParts = 2, perPart = 40)
    def land(): Map[String, Seq[Byte]] = {
      val base = tmpDir()
      OffsetNamedSink.writeBatch(
        df, cfg, DefaultPartitioner, AvroFormat("deflate"), base.toString,
        payload = struct(col("a"), col("b")))
      listFiles(base).map(f => f -> Files.readAllBytes(base.resolve(f)).toSeq).toMap
    }
    val (first, second) = (land(), land())
    assert(first.size == 6 && second.keySet == first.keySet)
    val changed = first.keys.filter(f => second(f) != first(f))
    assert(changed.isEmpty, s"replay changed the bytes of $changed")
  }

  test("avro: snappy codec (reference default test matrix) round-trips") {
    val base = tmpDir()
    val df = kafkaRecords("sn", nParts = 1, perPart = 10)
    OffsetNamedSink.writeBatch(
      df, PipelineConfig(flushSize = 500), DefaultPartitioner,
      AvroFormat("snappy"), base.toString,
      payload = struct(col("a"), col("b")))
    val f = base.resolve(f"topics/sn/partition=0/sn+0+${0}%010d.avro")
    val reader = new org.apache.avro.file.DataFileReader[org.apache.avro.generic.GenericRecord](
      new org.apache.avro.file.SeekableFileInput(f.toFile),
      new org.apache.avro.generic.GenericDatumReader[org.apache.avro.generic.GenericRecord]())
    assert(reader.getMetaString("avro.codec") == "snappy")
    assert(reader.iterator().asScala.size == 10)
    reader.close()
  }

  test("avro: bzip2 codec round-trips (reference codec matrix)") {
    val base = tmpDir()
    val df = kafkaRecords("bz", nParts = 1, perPart = 10)
    OffsetNamedSink.writeBatch(
      df, PipelineConfig(flushSize = 500), DefaultPartitioner,
      AvroFormat("bzip2"), base.toString,
      payload = struct(col("a"), col("b")))
    val f = base.resolve(f"topics/bz/partition=0/bz+0+${0}%010d.avro")
    val reader = new org.apache.avro.file.DataFileReader[org.apache.avro.generic.GenericRecord](
      new org.apache.avro.file.SeekableFileInput(f.toFile),
      new org.apache.avro.generic.GenericDatumReader[org.apache.avro.generic.GenericRecord]())
    assert(reader.getMetaString("avro.codec") == "bzip2")
    val recs = reader.iterator().asScala.toList
    assert(recs.size == 10)
    assert(recs.last.get("b").toString == "v9")
    reader.close()
  }

  test("bytearray: custom extension + separator + gzip compose " +
    "(testWithCustomExtensionAndLineSeparator / testWithGzipCompression)") {
    // Reference: extension '.kafka.oss', separator 'OSS'
    // (TestDataWriterByteArray.java:97-138); gzip splices AFTER the custom
    // extension the way .bin.gz does.
    val base = tmpDir()
    val df = kafkaRecords("cx", nParts = 1, perPart = 5)
      .withColumn("value", encode(concat(lit("rec-"), col("offset")), "UTF-8"))
    OffsetNamedSink.writeBatch(
      df, PipelineConfig(flushSize = 100), DefaultPartitioner,
      ByteArrayFormat(separator = "OSS".getBytes("UTF-8"), ext = ".kafka.oss",
        compression = Gzip),
      base.toString, payload = col("value"))
    val f = base.resolve(f"topics/cx/partition=0/cx+0+${0}%010d.kafka.oss.gz")
    assert(Files.exists(f), s"expected $f among ${listFiles(base)}")
    val in = new java.util.zip.GZIPInputStream(Files.newInputStream(f))
    val decoded = new String(in.readAllBytes(), "UTF-8")
    assert(decoded.split("OSS").toSeq == (0 until 5).map(o => s"rec-$o"))
  }

  test("interleaved multi-partition batch with non-zero initial offsets") {
    // testWriteInterleavedRecordsInMultiplePartitionsWithNonZeroInitialOffset:
    // file names and flush boundaries follow the RECORD offsets, which
    // need not start at zero (a task picking up mid-topic).
    val base = tmpDir()
    val start = 12445L // reference: TEST_FLUSH_SIZE + 12345
    val df = kafkaRecords("nz", nParts = 2, perPart = 700)
      .withColumn("offset", col("offset") + start)
    val res = OffsetNamedSink.writeBatch(
      df, PipelineConfig(flushSize = 300), DefaultPartitioner, JsonFormat(),
      base.toString, payload = to_json(struct(col("a"))))
    val expected = for {
      p <- 0 to 1; o <- Seq(start, start + 300, start + 600)
    } yield f"topics/nz/partition=$p/nz+$p+$o%010d.json"
    assert(listFiles(base) == expected.sorted)
    assert(res.offsetsToCommit == Map(("nz", 0) -> (start + 700), ("nz", 1) -> (start + 700)))
  }

  test("rebalance (D6): reassigned partition set keeps offset continuity " +
    "and leaves closed partitions' files intact (testPartitionsRebalanced)") {
    val base = tmpDir()
    val cfg = PipelineConfig(flushSize = 300)
    def write(df: org.apache.spark.sql.DataFrame) = OffsetNamedSink.writeBatch(
      df, cfg, DefaultPartitioner, JsonFormat(), base.toString,
      payload = to_json(struct(col("a"))))

    // assignment {0,1}: one full flush each
    write(kafkaRecords("rb", nParts = 2, perPart = 600))
    val afterFirst = listFiles(base)
    assert(afterFirst == Seq(
      f"topics/rb/partition=0/rb+0+${0}%010d.json",
      f"topics/rb/partition=0/rb+0+${300}%010d.json",
      f"topics/rb/partition=1/rb+1+${0}%010d.json",
      f"topics/rb/partition=1/rb+1+${300}%010d.json"))

    // rebalance → assignment {0,2}: partition 0 continues FROM ITS LAST
    // OFFSET, partition 2 starts fresh, partition 1's files are untouched
    val cont = kafkaRecords("rb", nParts = 1, perPart = 600)
      .withColumn("offset", col("offset") + 600L)
      .unionByName(
        kafkaRecords("rb", nParts = 1, perPart = 300).withColumn("partition", lit(2)))
    val res = write(cont)
    assert(listFiles(base).diff(afterFirst) == Seq(
      f"topics/rb/partition=0/rb+0+${600}%010d.json",
      f"topics/rb/partition=0/rb+0+${900}%010d.json",
      f"topics/rb/partition=2/rb+2+${0}%010d.json"))
    assert(res.offsetsToCommit == Map(("rb", 0) -> 1200L, ("rb", 2) -> 300L))
  }

  test("file larger than the retry buffer streams through intact (one pass)") {
    // flushSize larger than RetryBufferRows forces the single-pass
    // streaming branch (no in-task retry) for the oversized file; the
    // follow-on file in the same partition must still write correctly.
    val base = tmpDir()
    val n = OffsetNamedSink.RetryBufferRows + 5000
    val cfg = PipelineConfig(flushSize = OffsetNamedSink.RetryBufferRows + 2000)
    val df = kafkaRecords("big", nParts = 1, perPart = n)
    val res = OffsetNamedSink.writeBatch(
      df, cfg, DefaultPartitioner, JsonFormat(), base.toString,
      payload = to_json(struct(col("a"))))
    val f0 = base.resolve(f"topics/big/partition=0/big+0+${0}%010d.json")
    val f1 = base.resolve(
      f"topics/big/partition=0/big+0+${cfg.flushSize}%010d.json")
    assert(Files.readAllLines(f0).size == cfg.flushSize)
    assert(Files.readAllLines(f1).size == n - cfg.flushSize)
    // spot-check ordering survived the buffered-prefix + streamed-rest path
    assert(Files.readAllLines(f0).get(OffsetNamedSink.RetryBufferRows)
      == s"""{"a":${OffsetNamedSink.RetryBufferRows.toLong * 10}}""")
    assert(res.offsetsToCommit == Map(("big", 0) -> n.toLong))
  }

  test("parquet: spark-native write + deterministic rename, read-back") {
    val base = tmpDir()
    val cfg = PipelineConfig(flushSize = 400)
    val df = kafkaRecords("p", nParts = 2, perPart = 1000)
    val res = OffsetNamedSink.writeBatch(
      df, cfg, DefaultPartitioner, ParquetFormat("snappy"), base.toString,
      payload = struct(col("a"), col("b")))
    val expected = for {
      p <- 0 to 1; o <- Seq(0, 400, 800)
    } yield f"topics/p/partition=$p/p+$p+$o%010d.parquet"
    assert(listFiles(base) == expected.sorted)
    val back = spark.read.parquet(
      base.resolve(f"topics/p/partition=0/p+0+${400}%010d.parquet").toString)
    assert(back.count() == 400)
    assert(back.columns.toSet == Set("a", "b"))
    assert(res.files.map(_.records).sum == 2000)
  }

  test("parquet: a payload field named `offset` neither names files nor commits offsets") {
    val base = tmpDir()
    val cfg = PipelineConfig(flushSize = 400)
    val df = kafkaRecords("po", nParts = 2, perPart = 1000)
    val res = ParityPipeline.writeMicroBatch(df, cfg, DefaultPartitioner, ParquetFormat(),
      base.toString, payload = struct((col("offset") * 1000 + 7).as("offset"), col("a")))
    val expected = for {
      p <- 0 to 1; o <- Seq(0, 400, 800)
    } yield f"topics/po/partition=$p/po+$p+$o%010d.parquet"
    assert(listFiles(base) == expected.sorted)
    assert(res.files.map(f => (f.startOffset, f.endOffset)).distinct.sorted ==
      Seq((0L, 399L), (400L, 799L), (800L, 999L)))
    assert(res.offsetsToCommit == Map(("po", 0) -> 1000L, ("po", 1) -> 1000L))
    // the payload's own `offset` is written as given
    val back = spark.read.parquet(
      base.resolve(f"topics/po/partition=1/po+1+${400}%010d.parquet").toString)
    assert(back.columns.toSeq == Seq("offset", "a"))
    val bounds = back.agg(min("offset"), max("offset")).head()
    assert((bounds.getLong(0), bounds.getLong(1)) == ((400007L, 799007L)))
  }

  test("time-based rotation (R2): event-time buckets split files") {
    val base = tmpDir()
    // 1-minute wall-aligned tumbling rotation; base ts 1700000000000 is
    // 20s past the minute → buckets of 40/60/60/20 records
    val cfg = PipelineConfig(flushSize = 1000000, rotateIntervalMs = 60000)
    val df = kafkaRecords("r", nParts = 1, perPart = 180)
    OffsetNamedSink.writeBatch(
      df, cfg, DefaultPartitioner, JsonFormat(), base.toString,
      payload = to_json(struct(col("a"))))
    val files = listFiles(base)
    assert(files == Seq(0, 40, 100, 160).map(o => f"topics/r/partition=0/r+0+$o%010d.json"))
  }

  test("hourly partitioner (P3/P4) routes by formatted event time") {
    val base = tmpDir()
    val cfg = PipelineConfig(flushSize = 1000000)
    // step 1 minute, 90 min of data → 2 hourly buckets
    val df = kafkaRecords("h", nParts = 1, perPart = 90, stepMs = 60000L)
    OffsetNamedSink.writeBatch(
      df, cfg, HourlyPartitioner(), JsonFormat(), base.toString,
      payload = to_json(struct(col("a"))))
    val files = listFiles(base)
    // base 1700000000000 = 2023-11-14 22:13:20 UTC → buckets 22 and 23
    assert(files == Seq(
      f"topics/h/2023-11-14-22/h+0+${0}%010d.json",
      f"topics/h/2023-11-14-23/h+0+${47}%010d.json"))
  }

  test("multi-topic batch routes each topic to its own directory tree") {
    val base = tmpDir()
    val cfg = PipelineConfig(flushSize = 150)
    val df = kafkaRecords("alpha", nParts = 1, perPart = 200)
      .unionByName(kafkaRecords("beta", nParts = 2, perPart = 100))
    val res = OffsetNamedSink.writeBatch(
      df, cfg, DefaultPartitioner, JsonFormat(), base.toString,
      payload = to_json(struct(col("a"))))
    val expected = Seq(
      f"topics/alpha/partition=0/alpha+0+${0}%010d.json",
      f"topics/alpha/partition=0/alpha+0+${150}%010d.json",
      f"topics/beta/partition=0/beta+0+${0}%010d.json",
      f"topics/beta/partition=1/beta+1+${0}%010d.json")
    assert(listFiles(base) == expected)
    assert(res.offsetsToCommit == Map(
      ("alpha", 0) -> 200L, ("beta", 0) -> 100L, ("beta", 1) -> 100L))
  }
}
