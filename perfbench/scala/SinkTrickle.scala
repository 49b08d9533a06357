package perfbench

import java.sql.Timestamp
import java.util.concurrent.{Callable, Executors}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener}
import org.apache.spark.sql.{Encoders, SparkSession}

import graft.core.PipelineConfig
import graft.partition.HourlyPartitioner
import graft.sink.ParquetFormat
import graft.sources.LandedFiles
import graft.streaming.ParityPipeline

/** One Kafka record of the trickle stream: routing columns, then the
  * FIXTURES §1 base record plus the v2 `string` field. The record fields
  * carry a `v_` prefix because encoders refuse Java keywords as field
  * names; the payload struct renames them back.
  */
final case class TrickleRecord(topic: String, partition: Int, offset: Long, timestamp: Timestamp,
                               v_boolean: Boolean, v_int: Int, v_long: Long, v_float: Float,
                               v_double: Double, v_string: String)

/** `sink_trickle`: an open-loop generator adds a fixed-size chunk to a
  * `MemoryStream` every `IntervalMs` (the Kafka source jar is not on the
  * classpath; the memory source yields the same record shape), and
  * `ParityPipeline.start` lands it with the reference quick-start settings
  * (`PipelineConfig.demo`, `HourlyPartitioner`, 10 Kafka partitions,
  * parquet). Each record's timestamp is its chunk's scheduled send time,
  * read on a clock shifted to a fixed hour (`Epoch`) so that the same seed
  * gives the same records whenever it runs, and every run crosses one
  * `rotate.interval.ms` boundary at the same point of its measured window.
  * Freshness is timed on the wall clock.
  *
  * The generator runs on its schedule whatever the sink does, so a stall
  * shows as freshness and backlog rather than as a slower sender. The rate
  * (`ChunkRows` / `IntervalMs`, 1,500 records/s) stays well below what the
  * sink sustains on four cores, so the backlog stays flat.
  */
final class SinkTrickle(spark: SparkSession, seed: Long, work: String, cores: Int) extends Workload {
  import SinkTrickle._

  private val base = s"$work/landing"
  private val payload = struct(Fields.map(f => col(s"v_$f").as(f)): _*)
  private val stream = MemoryStream[TrickleRecord](Encoders.product[TrickleRecord], spark.sqlContext)
  private var query: StreamingQuery = _
  private val progress = mutable.ArrayBuffer.empty[Map[String, Any]]
  @volatile private var committedEnd = -1L
  private val chunks = mutable.ArrayBuffer.empty[Map[String, Any]]
  private val backlog = mutable.ArrayBuffer.empty[Map[String, Any]]
  private val warmLandings = mutable.ArrayBuffer.empty[Double]
  private var nextChunk = 0
  private var lastOffset = -1L
  /** The send schedule: the next tick, and the record-clock shift. */
  private var nextTickMs = 0L
  private var shiftMs = 0L

  private val listener = new StreamingQueryListener {
    def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val end = Option(p.sources.headOption.map(_.endOffset).orNull).map(_.trim.toLong).getOrElse(-1L)
      val rec = Map[String, Any](
        "batch" -> p.batchId,
        "timestamp_ms" -> java.time.Instant.parse(p.timestamp).toEpochMilli,
        "rows" -> p.numInputRows,
        "end_offset" -> end,
        "duration_ms" -> p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap)
      progress.synchronized { progress += rec }
      if (p.numInputRows > 0 && end > committedEnd) committedEnd = end
    }
  }
  /** Chunk `i`: `ChunkRows` records spread round-robin over the Kafka
    * partitions; partition `p` carries offsets `i * PerPartition` onward,
    * and `long` is the record id `offset * Partitions + partition`.
    */
  private def chunk(i: Int, ts: Timestamp): Seq[TrickleRecord] = {
    val rnd = new scala.util.Random(seed * 1000003L + i)
    (0 until ChunkRows).map { j =>
      val p = j % Partitions
      val off = i.toLong * PerPartition + j / Partitions
      TrickleRecord(Topic, p, off, ts, rnd.nextBoolean(), rnd.nextInt(), off * Partitions + p,
        rnd.nextFloat() * 1000, rnd.nextDouble() * 1e6, rnd.alphanumeric.take(rnd.nextInt(96)).mkString)
    }
  }

  private def send(scheduledMs: Long): Map[String, Any] = {
    val rows = chunk(nextChunk, new Timestamp(scheduledMs + shiftMs))
    val sentMs = Clock.ms
    lastOffset = stream.addData(rows).json.trim.toLong
    nextChunk += 1
    Map("chunk" -> (nextChunk - 1), "scheduled_ms" -> scheduledMs, "sent_ms" -> sentMs,
      "offset" -> lastOffset, "rows" -> rows.size)
  }

  private def awaitCommitted(offset: Long, timeoutMs: Long = 60000L): Unit = {
    query.processAllAvailable()
    val deadline = System.currentTimeMillis() + timeoutMs
    while (committedEnd < offset && System.currentTimeMillis() < deadline) Thread.sleep(10)
  }

  /** Lands `WarmLandings` one-second batches through the same sink call,
    * `cores` at a time, into scratch directories. A cold JVM's
    * micro-batch time keeps falling for some 35 batches while planning,
    * code generation and the parquet writer get compiled; landing in
    * parallel gets there in a fraction of that time.
    */
  private def warmSink(): Unit = {
    val ts = new Timestamp(Epoch - 1200000L)
    val rows = (0 until 1000 / IntervalMs).flatMap(chunk(_, ts))
    val batch = spark.createDataset(rows)(Encoders.product[TrickleRecord]).toDF()
    val pool = Executors.newFixedThreadPool(cores)
    try (0 until WarmLandings).map { i =>
      pool.submit(new Callable[Double] {
        def call(): Double = {
          val t0 = Clock.ms
          ParityPipeline.writeMicroBatch(
            batch, PipelineConfig.demo, HourlyPartitioner(), ParquetFormat(), s"$work/warm/$i", payload)
          (Clock.ms - t0) / 1000
        }
      })
    }.foreach(f => warmLandings += f.get())
    finally pool.shutdown()
    Harness.deleteTree(s"$work/warm")
  }

  def setup(): Unit = {
    warmSink()
    spark.streams.addListener(listener)
    query = ParityPipeline.start(
      stream.toDF(), PipelineConfig.demo, HourlyPartitioner(), ParquetFormat(),
      base, s"$work/checkpoint", payload = payload)
    // start the stream with one chunk alone, then run the schedule
    // unrecorded until the sink is in its steady sawtooth; the measured
    // window continues the same schedule without a pause, and its
    // rotation boundary falls `PhaseMs` into it
    val now = System.currentTimeMillis()
    shiftMs = Epoch - 600000L - now
    send(now)
    awaitCommitted(lastOffset)
    nextTickMs = System.currentTimeMillis() + IntervalMs
    val warmTicks = ticks(WarmSeconds)
    shiftMs = Epoch - PhaseMs - (nextTickMs + warmTicks * IntervalMs)
    openLoop(warmTicks, _ => ())
  }

  def measure(seconds: Double, tracer: Option[Tracer]): Seq[Op] = {
    val firstChunk = nextChunk
    val traced = tracer.nonEmpty
    openLoop(ticks(seconds), c => {
      chunks += c ++ Map("traced" -> traced)
      backlog += Map("at_ms" -> c("sent_ms"), "rows" -> backlogRows, "traced" -> traced)
    })
    val rest = nextTickMs - System.currentTimeMillis()
    if (rest > 0) Thread.sleep(rest)
    backlog += Map("at_ms" -> Clock.ms, "rows" -> backlogRows, "traced" -> traced, "end" -> true)
    awaitCommitted(lastOffset)
    tracer.foreach(tr => deriveSpans(tr, firstChunk))
    Nil
  }

  private def ticks(seconds: Double): Int = math.max(1, (seconds * 1000 / IntervalMs).round.toInt)

  /** Sends the next `n` chunks of the schedule, one every `IntervalMs`,
    * each on its tick however late the previous send was.
    */
  private def openLoop(n: Int, sent: Map[String, Any] => Unit): Unit =
    (0 until n).foreach { _ =>
      val scheduled = nextTickMs
      val wait = scheduled - System.currentTimeMillis()
      if (wait > 0) Thread.sleep(wait)
      sent(send(scheduled))
      nextTickMs += IntervalMs
    }

  /** Rows sent but not yet in a committed micro-batch. */
  private def backlogRows: Long = (lastOffset - committedEnd) * ChunkRows

  /** Each micro-batch of the traced window becomes a span from its
    * progress event (`timestamp` .. `timestamp + triggerExecution`), with
    * its phases laid end to end in execution order beneath it. Spark jobs
    * attach to the `addBatch` phase through their batch id.
    */
  private def deriveSpans(tr: Tracer, firstChunk: Int): Unit = {
    val firstOffset = chunks.find(_("chunk") == firstChunk).map(_("offset").asInstanceOf[Long]).get
    val batches = progress.synchronized(progress.toList)
      .filter(p => p("rows").asInstanceOf[Long] > 0 && p("end_offset").asInstanceOf[Long] >= firstOffset)
    batches.foreach { p =>
      val d = p("duration_ms").asInstanceOf[Map[String, Long]]
      val t0 = p("timestamp_ms").asInstanceOf[Long].toDouble
      val id = p("batch").asInstanceOf[Long]
      val b = tr.derived("streaming", s"batch#$id", tr.current, t0, t0 + d.getOrElse("triggerExecution", 0L))
      var cursor = t0
      Phases.foreach { ph =>
        val ms = d.getOrElse(ph, 0L)
        val layer = if (ph == "addBatch") "sink" else "streaming"
        val sid = tr.derived(layer, s"$ph#$id", b, cursor, cursor + ms)
        if (ph == "addBatch") batchSpan(id) = sid
        cursor += ms
      }
    }
  }
  private val batchSpan = mutable.Map.empty[Long, Int]

  def finish(): Map[String, Any] = {
    query.stop()
    spark.streams.removeListener(listener)
    val sent = nextChunk.toLong * ChunkRows
    val files = Harness.dataFiles(base)
      .map(p => java.nio.file.Paths.get(base).relativize(p).toString).sorted
    val bytes = Harness.dataFiles(base).map(java.nio.file.Files.size).sum
    val problems = mutable.ArrayBuffer.empty[String]
    if (committedEnd != lastOffset)
      problems += s"committed source offset $committedEnd != last sent $lastOffset"
    val read = Harness.timed("read:parquet", traced = false) {
      val n = LandedFiles.readParquet(spark, base).queryExecution.toRdd.count()
      (n == sent, n, 0L, "")
    }
    val df = LandedFiles.readParquet(spark, base)
    val id = col("long")
    val provOk = col("_topic") === Topic && col("_kafka_partition") === (id % Partitions) &&
      col("_file_start_offset") <= (id / Partitions).cast("long")
    val perPart = df.groupBy(col("_kafka_partition"))
      .agg(count(lit(1)), countDistinct(id), max((id / Partitions).cast("long")),
        sum(when(provOk, 1L).otherwise(0L)))
      .collect().map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    val expectPer = nextChunk.toLong * PerPartition
    (0 until Partitions).foreach { p =>
      perPart.get(p) match {
        case Some((n, distinct, maxOff, prov)) =>
          if (n != expectPer || distinct != expectPer || maxOff + 1 != expectPer || prov != expectPer)
            problems += s"partition $p: landed=$n distinct=$distinct next_offset=${maxOff + 1} " +
              s"provenance_ok=$prov, sent $expectPer"
        case None => problems += s"partition $p: nothing landed"
      }
    }
    Map(
      "interval_ms" -> IntervalMs, "chunk_rows" -> ChunkRows, "partitions" -> Partitions,
      "per_partition" -> PerPartition,
      "warm_landings_s" -> warmLandings.toList,
      "sent_rows" -> sent, "landed_bytes" -> bytes, "files" -> files, "readback" -> read.toMap,
      "chunks" -> chunks.toList, "progress" -> progress.synchronized(progress.toList),
      "backlog" -> backlog.toList, "batch_span" -> batchSpan.map { case (k, v) => k.toString -> v }.toMap,
      "check" -> Map("ok" -> problems.isEmpty, "detail" -> problems.mkString("; ")))
  }
}

object SinkTrickle {
  val Topic = "trickle"
  val Partitions = 10
  val IntervalMs = 60
  val ChunkRows = 90
  val PerPartition: Int = ChunkRows / Partitions
  val WarmSeconds = 8.0
  val WarmLandings = 40
  /** Record-clock time of the measured window's rotation boundary:
    * 2026-01-01T00:30:00Z, a multiple of the demo's 30 s rotation interval
    * in the middle of an hour, so no run crosses an hourly partition. */
  val Epoch = 1767227400000L
  /** How far into the measured window the rotation boundary falls. */
  val PhaseMs = 5000L
  val Fields = Seq("boolean", "int", "long", "float", "double", "string")
  /** `MicroBatchExecution`'s phases, in the order one trigger runs them. */
  val Phases = Seq("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch", "commitOffsets")
}
