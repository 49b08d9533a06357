package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths, StandardOpenOption}

import scala.util.control.NonFatal

/** The driver's bench: every registry query, timed in one warm session.
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
  *     median/min/max and the run's noise context, written to
  *     `SPARK_GRAFT_BENCH_OUT` and appended to `SPARK_GRAFT_BENCH_HIST`.
  *
  * Settings (environment): `SPARK_GRAFT_SF_DIR` (tables, default sf0.1),
  * `SPARK_GRAFT_BENCH_ITERS`, `SPARK_GRAFT_BENCH_ONLY` (comma-separated
  * query-name prefixes; unset = the whole registry), `SPARK_GRAFT_BENCH_OUT`
  * and `SPARK_GRAFT_BENCH_HIST`.
  */
object Bench {
  val FailurePenaltySec = 3600.0

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val iterations = sys.env.getOrElse("SPARK_GRAFT_BENCH_ITERS", "3").toInt
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").toSeq.filter(_.nonEmpty))
    val out = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "/tmp/graft-bench.json")
    val hist = sys.env.getOrElse("SPARK_GRAFT_BENCH_HIST", "/tmp/graft-bench-history.jsonl")
    val (load1Start, stealStart) = (load1(), stealSec())
    val spark = LocalSession()
    // Warm-up: JIT/codegen paths + parquet reader + shuffle machinery, so
    // the first measured query doesn't pay session start-up.
    spark.range(1000000).selectExpr("sum(id)").collect()
    spark.read.parquet(s"$sfDir/lineitem.parquet").limit(1000)
      .groupBy("l_returnflag").count().collect()
    val samples = SparkEntry.queries.toSeq
      .filter { case (name, _) => only.forall(_.exists(name.startsWith)) }
      .sortBy(_._1).map { case (name, fn) =>
        name -> (1 to iterations).map { _ =>
          val t0 = System.nanoTime()
          try { fn(spark, sfDir).queryExecution.toRdd.count(); (System.nanoTime() - t0) / 1e9 }
          catch { case e: Throwable =>
            System.err.println(s"[bench] $name failed: ${e.getMessage}"); FailurePenaltySec
          }
        }.sorted
      }
    val noise = Noise(Runtime.getRuntime.availableProcessors, load1Start, load1(),
      for { s0 <- stealStart; s1 <- stealSec() } yield s1 - s0)
    val medians = samples.map { case (n, ts) => n -> median(ts) }.toMap
    println(stdoutLine(medians, out, sfDir))
    val line = artifactLine(samples, sfDir, noise, System.currentTimeMillis / 1000) + "\n"
    try Files.write(Paths.get(out), line.getBytes(UTF_8))
    catch { case e: Throwable => System.err.println(s"[bench] file write failed: ${e.getMessage}") }
    try Files.write(Paths.get(hist), line.getBytes(UTF_8),
      StandardOpenOption.CREATE, StandardOpenOption.APPEND)
    catch { case e: Throwable => System.err.println(s"[bench] history write failed: ${e.getMessage}") }
    spark.stop()
  }

  private def median(sorted: Seq[Double]): Double = sorted(sorted.length / 2)

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

  /** The one line both the artifact and the history file hold: every
    * query's median (`queries`), `min` and `max` over its sorted
    * `samples`, their total, the run's time and tables, and its noise.
    */
  def artifactLine(samples: Seq[(String, Seq[Double])], sfDir: String,
                   noise: Noise, epochSec: Long): String = {
    def per(stat: Seq[Double] => Double): String =
      jsonMap(samples.map { case (n, ts) => n -> fmtSec(stat(ts)) })
    val total = samples.map { case (_, ts) => median(ts) }.sum
    s"""{"ts":$epochSec,"metric":"total","value":${fmtSec(total)},"unit":"sec",""" +
      s""""queries":${per(median)},"min":${per(_.head)},"max":${per(_.last)},""" +
      s""""n_queries":${samples.size},"sf":"$sfDir",""" +
      s""""noise":{"nproc":${noise.nproc},"load1_start":${fmtOpt(noise.load1Start)},""" +
      s""""load1_end":${fmtOpt(noise.load1End)},"steal_s":${fmtOpt(noise.stealSec)}}}"""
  }
}
