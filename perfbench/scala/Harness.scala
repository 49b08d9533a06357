package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** One workload of the benchmark, driven from outside the program through
  * its public entry points.
  */
trait Workload {
  /** Builds the inputs and warms every measured path once. */
  def setup(): Unit
  /** Runs the measured loop for about `seconds` (whole passes). */
  def measure(seconds: Double, tracer: Option[Tracer]): Seq[Op]
  /** Output checks and workload-specific raw data, after measuring. */
  def finish(): Map[String, Any]
}

/** Entry point of one benchmark run (see `run.py`, which launches it):
  *
  *   perfbench.Harness --workload <name> --seed <n> --seconds <s>
  *     --trace <0|1> --cores <n> --data <dir> --work <dir> --out <file>
  *
  * Set-up (session start, inputs, warm-up) is timed from JVM start. With
  * `--trace 1` the measured window runs with the Spark listener, spans and
  * filesystem counters on; otherwise with none of them.
  */
object Harness {
  def main(args: Array[String]): Unit = {
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    val o = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val workload = o("workload")
    val seed = o("seed").toLong
    val seconds = o("seconds").toDouble
    val traced = o("trace") == "1"
    val cores = o("cores")
    val work = o("work")

    val spark = graft.LocalSession(cores)
    val sessionMs = Clock.ms
    val w: Workload = workload match {
      case "sink_bulk" => new SinkBulk(spark, seed, work)
      case "sink_trickle" => new SinkTrickle(spark, seed, work, cores.toInt)
      case "query_mix" => new QueryMix(spark, seed, o("data"), cores.toInt)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    w.setup()
    val setupEndMs = Clock.ms

    val ops = mutable.ArrayBuffer.empty[Op]
    val trace = if (!traced) { ops ++= w.measure(seconds, None); None } else {
      val tr = new Tracer(spark.sparkContext)
      spark.sparkContext.addSparkListener(tr)
      val fs0 = FsStats.snapshot()
      ops ++= tr.span("uncovered", "window")(w.measure(seconds, Some(tr)))
      val fs1 = FsStats.snapshot()
      tr.settle()
      spark.sparkContext.removeSparkListener(tr)
      Some(tr.toMap ++ Map("fs" -> FsStats.delta(fs0, fs1)))
    }
    val extra = w.finish()

    val gcMs = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
    // Spark's ContextCleaner drops blocks of collected RDDs only after a
    // GC has queued them, so collect, let it run, and keep the lowest of
    // three readings: what stays is what the program still holds.
    val heapMb = (1 to 3).map { _ =>
      System.gc()
      Thread.sleep(300)
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    }.min

    val raw = Map(
      "workload" -> workload, "seed" -> seed, "cores" -> cores.toInt,
      "session_s" -> (sessionMs - jvmStartMs) / 1000,
      "setup_s" -> (setupEndMs - jvmStartMs) / 1000,
      "ops" -> ops.map(_.toMap), "gc_s" -> gcMs / 1000.0, "heap_after_gc_mb" -> heapMb,
      "trace" -> trace, "workload_data" -> extra)
    val out = new java.io.File(o("out"))
    java.nio.file.Files.write(out.toPath, Json(raw).getBytes("UTF-8"))
    spark.stop()
  }

  /** Times `f`, turning a thrown exception into a failed operation. */
  def timed(kind: String, traced: Boolean)(f: => (Boolean, Long, Long, String)): Op = {
    val t0 = Clock.ms
    try {
      val (ok, records, bytes, detail) = f
      Op(kind, t0, (Clock.ms - t0) / 1000, ok, records, bytes, traced, detail)
    } catch {
      case scala.util.control.NonFatal(e) =>
        Op(kind, t0, (Clock.ms - t0) / 1000, ok = false, traced = traced,
          detail = s"${e.getClass.getSimpleName}: ${e.getMessage}".take(500))
    }
  }

  /** Bytes of the landed data files under `dir` (hidden and `_` files,
    * e.g. checksums and markers, are not landed data). */
  def dataFiles(dir: String): Seq[java.nio.file.Path] = {
    val root = java.nio.file.Paths.get(dir)
    if (!java.nio.file.Files.exists(root)) Nil
    else {
      val s = java.nio.file.Files.walk(root)
      try s.iterator().asScala.filter { p =>
        java.nio.file.Files.isRegularFile(p) && {
          val n = p.getFileName.toString
          !n.startsWith(".") && !n.startsWith("_")
        }
      }.toList finally s.close()
    }
  }

  def deleteTree(dir: String): Unit = {
    val root = java.nio.file.Paths.get(dir)
    if (java.nio.file.Files.exists(root)) {
      val s = java.nio.file.Files.walk(root)
      try s.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .forEach(p => java.nio.file.Files.deleteIfExists(p))
      finally s.close()
    }
  }
}
