package graft

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths, StandardOpenOption}
import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, TimeUnit}

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, StageInfo}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}

/** The one harness that runs and times registry queries, in one warm
  * session.
  *
  * Each query runs `SPARK_GRAFT_BENCH_ITERS` times (default 3) and
  * reports the median, which one GC/JIT/scheduling spike in either
  * direction cannot move. A run is timed with `queryExecution.toRdd.count()`,
  * which executes the FULL physical plan (final sort and projection
  * included); `df.count()` would let Catalyst collapse the plan to a bare
  * aggregate and under-measure the query. A failed run records
  * [[FailurePenaltySec]], never a fast time.
  *
  * Output:
  *   - one stdout line ([[stdoutLine]]) for the driver's recorded tail;
  *   - one artifact line ([[artifactLine]]) with every query's
  *     median/min/max and `layers` (its median run's [[Layers]] and its
  *     `plan_changes`) and the run's noise context, written to
  *     `SPARK_GRAFT_BENCH_OUT` and appended to `SPARK_GRAFT_BENCH_HIST`.
  *
  * Settings (environment): `SPARK_GRAFT_SF_DIR` (tables, default sf0.1; a
  * `ScaleSmoke` corpus such as /tmp/graft-scale-10x works too),
  * `SPARK_GRAFT_BENCH_ITERS`, `SPARK_GRAFT_ONLY` (the queries to run, see
  * [[QueryRegistry.selected]]), `SPARK_GRAFT_BENCH_OUT` and
  * `SPARK_GRAFT_BENCH_HIST`.
  */
object Bench {
  val FailurePenaltySec = 3600.0

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val iterations = sys.env.getOrElse("SPARK_GRAFT_BENCH_ITERS", "3").toInt
    val out = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "/tmp/graft-bench.json")
    val hist = sys.env.getOrElse("SPARK_GRAFT_BENCH_HIST", "/tmp/graft-bench-history.jsonl")
    val (load1Start, stealStart) = (load1(), stealSec())
    val spark = LocalSession()
    // Warm-up: JIT/codegen paths + parquet reader + shuffle machinery, so
    // the first measured query doesn't pay session start-up.
    spark.range(1000000).selectExpr("sum(id)").collect()
    spark.read.parquet(s"$sfDir/lineitem.parquet").limit(1000)
      .groupBy("l_returnflag").count().collect()
    val measured = measure(spark, sfDir, iterations,
      QueryRegistry.all.filter(q => QueryRegistry.selected(q.name)))
    val noise = Noise(Runtime.getRuntime.availableProcessors, load1Start, load1(),
      for { s0 <- stealStart; s1 <- stealSec() } yield s1 - s0)
    println(stdoutLine(measured.map(m => m.name -> m.median.sec).toMap, out, sfDir))
    val line = artifactLine(measured, sfDir, noise, System.currentTimeMillis / 1000) + "\n"
    try Files.write(Paths.get(out), line.getBytes(UTF_8))
    catch { case e: Throwable => System.err.println(s"[bench] file write failed: ${e.getMessage}") }
    try Files.write(Paths.get(hist), line.getBytes(UTF_8),
      StandardOpenOption.CREATE, StandardOpenOption.APPEND)
    catch { case e: Throwable => System.err.println(s"[bench] history write failed: ${e.getMessage}") }
    spark.stop()
  }

  /** What one run's Spark jobs did, as the listener bus reports them.
    * A `Materialize` job has a stage named from a call site in
    * `Materialize.scala`; `top` holds the three longest stages (name, ms, tasks). */
  final class Layers {
    var jobs, stages, materializeJobs = 0
    var tasks, shuffleReadBytes, shuffleWriteBytes = 0L
    var top = List.empty[(String, Long, Int)]

    private[Bench] def add(s: StageInfo): Unit = {
      stages += 1
      tasks += s.numTasks
      Option(s.taskMetrics).foreach { m =>
        shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      }
      val ms = (for { a <- s.submissionTime; b <- s.completionTime } yield b - a).getOrElse(0L)
      top = ((s.name.takeWhile(_ != '\n').take(60), ms, s.numTasks) :: top)
        .sortBy { case (_, t, _) => -t }.take(3)
    }
  }

  /** One timed run of a query: its seconds, the JVM's GC time (local mode runs
    * one JVM, so per-task GC times would count concurrent tasks twice) and
    * classes compiled while it ran, its final plan's hash, and its [[Layers]]. */
  final case class Run(sec: Double, gcMs: Long, compiled: Long, planHash: String,
                       layers: Layers)

  final case class Measured(name: String, runs: Seq[Run]) {
    val sorted: Seq[Run] = runs.sortBy(_.sec)
    def median: Run = sorted(sorted.length / 2)
    /** Runs whose final plan differs from the first run's. */
    def planChanges: Int = runs.count(_.planHash != runs.head.planHash)
  }

  private val TagKey = "graft.bench"
  private val DrainTag = "drain"

  /** Attributes each job, and its stages, to the run tagged in the job's
    * `graft.bench` local property, which Spark SQL passes on to the threads
    * it submits broadcast, subquery and adaptive map-stage jobs from. */
  private final class LayerListener extends SparkListener {
    private val byTag = new ConcurrentHashMap[String, Layers]
    private val stageRun = new ConcurrentHashMap[Int, Layers]
    val drained = new CountDownLatch(1)

    def track(tag: String): Layers = { val l = new Layers; byTag.put(tag, l); l }

    override def onJobStart(e: SparkListenerJobStart): Unit =
      Option(e.properties).map(_.getProperty(TagKey)).orNull match {
        case null => ()
        case DrainTag => drained.countDown()
        case tag => Option(byTag.get(tag)).foreach { l =>
          l.jobs += 1
          if (e.stageInfos.exists(_.name.contains("at Materialize.scala:"))) l.materializeJobs += 1
          e.stageIds.foreach(stageRun.putIfAbsent(_, l))
        }
      }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Option(stageRun.remove(e.stageInfo.stageId)).foreach(_.add(e.stageInfo))
  }

  /** Runs each of `specs` `iterations` times on `spark`, in name order,
    * recording each run's [[Layers]]. Returns once a marker job, posted
    * after every event of the last run, has reached the listener. */
  def measure(spark: SparkSession, sfDir: String, iterations: Int,
              specs: Seq[QuerySpec]): Seq[Measured] = {
    val sc = spark.sparkContext
    val listener = new LayerListener
    sc.addSparkListener(listener)
    try {
      val measured = specs.sortBy(_.name).map { q =>
        Measured(q.name, (1 to iterations).map { i =>
          val tag = s"${q.name}#$i"
          val layers = listener.track(tag)
          sc.setLocalProperty(TagKey, tag)
          val (gc0, compiled0) = (gcMs(), CodegenMetrics.METRIC_COMPILATION_TIME.getCount)
          val t0 = System.nanoTime()
          val (sec, hash) =
            try {
              val df = q.run(spark, sfDir)
              df.queryExecution.toRdd.count()
              ((System.nanoTime() - t0) / 1e9, planHash(df))
            } catch { case e: Throwable =>
              System.err.println(s"[bench] ${q.name} failed: ${e.getMessage}")
              (FailurePenaltySec, "failed")
            }
          Run(sec, gcMs() - gc0, CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiled0,
            hash, layers)
        })
      }
      sc.setLocalProperty(TagKey, DrainTag)
      sc.parallelize(Seq(1), 1).count()
      if (!listener.drained.await(5, TimeUnit.MINUTES))
        System.err.println("[bench] listener bus did not drain; layer counts may be short")
      measured
    } finally {
      sc.setLocalProperty(TagKey, null)
      sc.removeSparkListener(listener)
    }
  }

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  /** A hash of the final physical plan, as AQE left it after the run.
    * AQE's wrappers and query stages are replaced by the plans they ran,
    * and the tree is canonicalized, so that expression ids do not count;
    * plan ids and whole-stage codegen ids, which number nodes in the
    * order Spark makes them, are left out of its text. Only the hash is
    * kept: a DataFrame holds its checkpoint blocks alive.
    */
  private def planHash(df: DataFrame): String = {
    def ran(p: SparkPlan): SparkPlan = p.transform {
      case a: AdaptiveSparkPlanExec => ran(a.executedPlan)
      case s: QueryStageExec => ran(s.plan)
    }
    val text = ran(df.queryExecution.executedPlan).canonicalized.treeString
    Integer.toHexString(text.replaceAll("""\[plan_id=\d+\]|\*\(\d+\) """, "").hashCode)
  }

  /** Whether the machine was noisy during the run: its cores, its
    * 1-minute load average at start and end, and the CPU seconds the host
    * stole from its virtual CPUs over the run. A reading /proc cannot
    * give is None and renders as JSON `null`.
    */
  final case class Noise(nproc: Int, load1Start: Option[Double],
                         load1End: Option[Double], stealSec: Option[Double])

  private def readProc[T](path: String)(parse: String => T): Option[T] =
    try Some(parse(new String(Files.readAllBytes(Paths.get(path)), UTF_8)))
    catch { case NonFatal(_) => None }

  private def load1(): Option[Double] =
    readProc("/proc/loadavg")(_.trim.split("\\s+")(0).toDouble)

  /** The `steal` column of /proc/stat's `cpu` line, in USER_HZ ticks,
    * which Linux fixes at 100 per second for this file. */
  private def stealSec(): Option[Double] =
    readProc("/proc/stat")(_.linesIterator.next().trim.split("\\s+")(8).toDouble / 100)

  /** The stdout line must fit the ~2000-char tail of raw stdout that the
    * driver records. Under sbt that tail also holds the line's `[info] `
    * prefix and newline and sbt's closing `[success] Total time: 783 s
    * (13:03), completed Aug 18, 2026, 12:30:30 PM` line (74 chars with its
    * newline); [[SbtFramingChars]] reserves room for that framing with
    * margin for longer durations and dates.
    */
  val StdoutTailChars = 2000
  val SbtFramingChars = 200
  val StdoutLineBudget = StdoutTailChars - SbtFramingChars

  def fmtSec(v: Double): String =
    String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))

  private def fmtOpt(v: Option[Double]): String = v.map(fmtSec).getOrElse("null")

  private def jsonMap(entries: Seq[(String, String)]): String =
    entries.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")

  /** The slowest-prefix selection for the stdout `queries` map: entries
    * are admitted in descending-seconds order until the NEXT rendered
    * entry ("name":12.345,) would overflow `budget`; stopping at the
    * first overflow (rather than skipping it and continuing) keeps the
    * guarantee that every included query is at least as slow as every
    * excluded one. Returned name-sorted for stable output.
    */
  def slowestWithinBudget(results: Map[String, Double],
                          budget: Int): Seq[(String, Double)] = {
    var used = 2 // the braces
    results.toSeq.sortBy { case (k, v) => (-v, k) }
      .takeWhile { case (k, v) =>
        val w = k.length + fmtSec(v).length + 4 // quotes + colon + comma
        val fits = used + w <= budget
        if (fits) used += w
        fits
      }
      .sortBy(_._1)
  }

  /** The driver-facing stdout line: the total of `results` (each query's
    * median seconds), the slowest queries under their FULL registry names
    * (the driver matches them against the correctness artifact's names) as
    * far as [[StdoutLineBudget]] allows, the query count, the artifact's
    * path and the tables' directory.
    */
  def stdoutLine(results: Map[String, Double], out: String, sfDir: String): String = {
    val head =
      s"""{"metric":"total","value":${fmtSec(results.values.sum)},"unit":"sec","queries":"""
    val tail = s""","n_queries":${results.size},"full":"$out","sf":"$sfDir"}"""
    val entries = slowestWithinBudget(results,
      StdoutLineBudget - head.length - tail.length)
    head + jsonMap(entries.map { case (k, v) => k -> fmtSec(v) }) + tail
  }

  private def layersJson(m: Measured): String = {
    val r = m.median
    val l = r.layers
    val top = l.top.map { case (n, ms, t) =>
      s"""{"stage":${Verify.jsonString(n)},"ms":$ms,"tasks":$t}""" }.mkString("[", ",", "]")
    jsonMap(Seq("jobs" -> l.jobs, "stages" -> l.stages, "tasks" -> l.tasks,
      "materialize_jobs" -> l.materializeJobs, "shuffle_read_bytes" -> l.shuffleReadBytes,
      "shuffle_write_bytes" -> l.shuffleWriteBytes, "gc_ms" -> r.gcMs,
      "compiled" -> r.compiled, "plan_changes" -> m.planChanges)
      .map { case (k, v) => k -> v.toString } :+ ("top_stages" -> top))
  }

  /** The one line both the artifact and the history file hold: every
    * query's median (`queries`), `min` and `max` over its runs, their
    * total, the run's time and tables, its noise, and each query's
    * `layers`.
    */
  def artifactLine(measured: Seq[Measured], sfDir: String,
                   noise: Noise, epochSec: Long): String = {
    def per(stat: Measured => Run): String =
      jsonMap(measured.map(m => m.name -> fmtSec(stat(m).sec)))
    val total = measured.map(_.median.sec).sum
    s"""{"ts":$epochSec,"metric":"total","value":${fmtSec(total)},"unit":"sec",""" +
      s""""queries":${per(_.median)},"min":${per(_.sorted.head)},"max":${per(_.sorted.last)},""" +
      s""""n_queries":${measured.size},"sf":"$sfDir",""" +
      s""""noise":{"nproc":${noise.nproc},"load1_start":${fmtOpt(noise.load1Start)},""" +
      s""""load1_end":${fmtOpt(noise.load1End)},"steal_s":${fmtOpt(noise.stealSec)}},""" +
      s""""layers":${jsonMap(measured.map(m => m.name -> layersJson(m)))}}"""
  }
}
