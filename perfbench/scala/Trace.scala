package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Spans and Spark-listener counts for a traced run, recorded from the
  * benchmark's side of each layer boundary. Spans stay in memory and are
  * written out with the raw record at the end of the run.
  *
  * Every Spark job is attributed to the span that was open on the thread
  * that submitted it (`perfbench.span` local property), or, for the
  * streaming sink, to its micro-batch (`streaming.sql.batchId`, which
  * Structured Streaming sets on its own thread). Task counters are summed
  * per attribution key.
  */
final class Tracer(sc: SparkContext) extends SparkListener {
  import Tracer._

  private val spans = mutable.ArrayBuffer.empty[Map[String, Any]]
  private var nextId = 1
  private val stack = new ThreadLocal[List[Int]] { override def initialValue(): List[Int] = Nil }

  private val jobs = mutable.Map.empty[Int, JobRec]
  private val stageKey = mutable.Map.empty[Int, String]
  private val counters = mutable.Map.empty[String, Counts]

  /** Runs `f` inside a span named `layer`/`name`, child of the span open
    * on this thread (or of `parent` when given).
    */
  def span[A](layer: String, name: String, parent: Int = -1)(f: => A): A = {
    val id = synchronized { nextId += 1; nextId - 1 }
    val p = if (parent >= 0) parent else stack.get.headOption.getOrElse(0)
    val prevProp = sc.getLocalProperty(SpanKey)
    stack.set(id :: stack.get)
    sc.setLocalProperty(SpanKey, id.toString)
    val fs0 = FsStats.snapshot()
    val start = Clock.ms
    try f
    finally {
      val end = Clock.ms
      stack.set(stack.get.tail)
      sc.setLocalProperty(SpanKey, prevProp)
      record(id, p, layer, name, start, end, FsStats.delta(fs0, FsStats.snapshot()))
    }
  }

  /** The span open on this thread (0 when none). */
  def current: Int = stack.get.headOption.getOrElse(0)

  /** A span whose interval was measured elsewhere (a streaming progress
    * phase); returns its id so children can be attached.
    */
  def derived(layer: String, name: String, parent: Int, start: Double, end: Double): Int = {
    val id = synchronized { nextId += 1; nextId - 1 }
    record(id, parent, layer, name, start, end)
    id
  }

  private def record(id: Int, parent: Int, layer: String, name: String, s: Double, e: Double,
                     fs: Map[String, Long] = Map.empty): Unit =
    synchronized {
      spans += Map("id" -> id, "parent" -> parent, "layer" -> layer, "name" -> name,
        "start_ms" -> s, "end_ms" -> e, "fs" -> fs)
    }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    val key = props.flatMap(p => Option(p.getProperty(SpanKey)))
      .orElse(props.flatMap(p => Option(p.getProperty(BatchKey))).map("batch:" + _))
      .getOrElse("none")
    jobs(e.jobId) = JobRec(key, e.time.toDouble, -1.0, e.stageIds.size)
    e.stageIds.foreach(stageKey(_) = key)
    c(key).jobs += 1
    c(key).stages += e.stageIds.size
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time.toDouble)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val k = c(stageKey.getOrElse(e.stageId, "none"))
    k.tasks += 1
    Option(e.taskMetrics).foreach { m =>
      k.cpuNs += m.executorCpuTime
      k.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      k.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      k.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      k.inputBytes += m.inputMetrics.bytesRead
      k.inputRecords += m.inputMetrics.recordsRead
    }
  }

  private def c(key: String): Counts = counters.getOrElseUpdate(key, new Counts)

  /** Waits until every started job has ended on the listener bus, so the
    * counts are complete before they are read.
    */
  def settle(timeoutMs: Long = 10000L): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (synchronized(jobs.values.exists(_.endMs < 0)) && System.currentTimeMillis() < deadline)
      Thread.sleep(20)
    Thread.sleep(100)
  }

  def toMap: Map[String, Any] = synchronized {
    Map(
      "spans" -> spans.toList,
      "jobs" -> jobs.toSeq.sortBy(_._1).map { case (id, j) =>
        Map("job" -> id, "key" -> j.key, "start_ms" -> j.startMs, "end_ms" -> j.endMs,
          "stages" -> j.stages)
      },
      "counts" -> counters.map { case (k, v) => k -> v.toMap }.toMap)
  }
}

object Tracer {
  val SpanKey = "perfbench.span"
  val BatchKey = "streaming.sql.batchId"

  final case class JobRec(key: String, startMs: Double, var endMs: Double, stages: Int)

  final class Counts {
    var jobs, stages, tasks = 0L
    var cpuNs, shuffleWrite, shuffleRead, spill, inputBytes, inputRecords = 0L
    def toMap: Map[String, Any] = Map("jobs" -> jobs, "stages" -> stages, "tasks" -> tasks,
      "cpu_ns" -> cpuNs, "shuffle_write_bytes" -> shuffleWrite,
      "shuffle_read_bytes" -> shuffleRead, "spill_bytes" -> spill,
      "input_bytes" -> inputBytes, "input_records" -> inputRecords)
  }

  /** Runs `f` inside a span when tracing, or plainly otherwise. */
  def around[A](t: Option[Tracer], layer: String, name: String)(f: => A): A =
    t match {
      case Some(tr) => tr.span(layer, name)(f)
      case None => f
    }
}

/** Local-filesystem operation counts from [[CountingLocalFileSystem]],
  * summed over every thread (driver and executors share the JVM in local
  * mode).
  */
object FsStats {
  def snapshot(): Map[String, Long] = Map(
    "read_ops" -> CountingLocalFileSystem.reads.get,
    "write_ops" -> CountingLocalFileSystem.writes.get)

  def delta(a: Map[String, Long], b: Map[String, Long]): Map[String, Long] =
    b.map { case (k, v) => k -> (v - a.getOrElse(k, 0L)) }
}

/** The local `file:` filesystem with its storage operations counted — a
  * traced run installs it as `fs.file.impl`, because Hadoop's statistics
  * count no operations for the local filesystem.
  * Reads are opens, listings and status probes; writes are creates,
  * renames, deletes and directory creations.
  */
class CountingLocalFileSystem extends org.apache.hadoop.fs.LocalFileSystem {
  import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream, FileStatus, Path}
  import org.apache.hadoop.fs.permission.FsPermission
  import CountingLocalFileSystem._

  override def open(f: Path, bufferSize: Int): FSDataInputStream = { reads.incrementAndGet(); super.open(f, bufferSize) }
  override def listStatus(f: Path): Array[FileStatus] = { reads.incrementAndGet(); super.listStatus(f) }
  override def getFileStatus(f: Path): FileStatus = { reads.incrementAndGet(); super.getFileStatus(f) }
  override def create(f: Path, permission: FsPermission, overwrite: Boolean, bufferSize: Int,
                      replication: Short, blockSize: Long,
                      progress: org.apache.hadoop.util.Progressable): FSDataOutputStream = {
    writes.incrementAndGet()
    super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }
  override def rename(src: Path, dst: Path): Boolean = { writes.incrementAndGet(); super.rename(src, dst) }
  override def delete(f: Path, recursive: Boolean): Boolean = { writes.incrementAndGet(); super.delete(f, recursive) }
  override def mkdirs(f: Path, permission: FsPermission): Boolean = { writes.incrementAndGet(); super.mkdirs(f, permission) }
}

object CountingLocalFileSystem {
  val reads = new java.util.concurrent.atomic.AtomicLong
  val writes = new java.util.concurrent.atomic.AtomicLong
}
