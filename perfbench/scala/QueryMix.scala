package perfbench

import java.util.concurrent.{Callable, Executors}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.QueryRegistry

/** `query_mix`: fifteen fixed registry queries over the bundled table
  * snapshot, each timed with the `queryExecution.toRdd.count()` contract
  * the repo's own bench uses (full physical plan, no collection to the
  * driver). The seed fixes the query order of every pass.
  *
  * Set-up warms each query once, collecting its rows for the row-count
  * and content-digest check; the warm-ups run on `cores` threads, the
  * measured passes on one.
  */
final class QueryMix(spark: SparkSession, seed: Long, data: String, cores: Int) extends Workload {
  import QueryMix._

  private val warm = mutable.LinkedHashMap.empty[String, Map[String, Any]]
  private val phases = mutable.ArrayBuffer.empty[Map[String, Any]]
  private var pass = 0

  def setup(): Unit = {
    val pool = Executors.newFixedThreadPool(cores)
    try {
      // the slow llmops half first, so no long warm-up starts last
      val futures = (LlmOps ++ Operators).map { name =>
        name -> pool.submit(new Callable[Map[String, Any]] {
          def call(): Map[String, Any] = {
            val t0 = Clock.ms
            try {
              val rows = QueryRegistry.byName(name).run(spark, data).collect()
              Map("rows" -> rows.length.toLong, "digest" -> Digest.of(rows), "s" -> (Clock.ms - t0) / 1000)
            } catch {
              case scala.util.control.NonFatal(e) =>
                Map("rows" -> -1L, "digest" -> "", "s" -> (Clock.ms - t0) / 1000,
                  "error" -> s"${e.getClass.getSimpleName}: ${e.getMessage}".take(500))
            }
          }
        })
      }
      futures.foreach { case (n, f) => warm(n) = f.get() }
    } finally pool.shutdown()
  }

  def measure(seconds: Double, tracer: Option[Tracer]): Seq[Op] = {
    val ops = mutable.ArrayBuffer.empty[Op]
    val start = Clock.ms
    do {
      new scala.util.Random(seed * 7919L + pass).shuffle(All).foreach { name =>
        val spec = QueryRegistry.byName(name)
        val expected = warm(name)("rows").asInstanceOf[Long]
        ops += Harness.timed(name, tracer.nonEmpty) {
          val n = tracer match {
            case None => spec.run(spark, data).queryExecution.toRdd.count()
            case Some(tr) =>
              val layer = if (Operators.contains(name)) "operators" else "llmops"
              tr.span(layer, s"query[$name]") {
                val df = tr.span(layer, "build")(spec.run(spark, data))
                tr.span(layer, "plan")(df.queryExecution.executedPlan)
                val rows = tr.span(layer, "execute")(df.queryExecution.toRdd.count())
                phases += Map("query" -> name, "layer" -> layer) ++
                  df.queryExecution.tracker.phases.map { case (k, v) => k -> v.durationMs }
                rows
              }
          }
          (n == expected, n, 0L, if (n == expected) "" else s"$n rows, warm-up had $expected")
        }
      }
      pass += 1
    } while ((Clock.ms - start) / 1000 < seconds)
    ops.toSeq
  }

  def finish(): Map[String, Any] =
    Map("warm" -> warm.toMap, "phases" -> phases.toList, "passes" -> pass,
      "operators" -> Operators, "llmops" -> LlmOps)
}

object QueryMix {
  /** Planning, scan and shuffle dominate these; none materializes. */
  val Operators = Seq("q01_filter_project", "q04_agg_basic", "q07_join_inner_equi",
    "q12_rollup_cube", "q15_window_frame", "q34_asof_join", "q129_salted_skew_join",
    "q134_revenue_share")
  /** Eager `Materialize` jobs and fixpoint rounds dominate these. */
  val LlmOps = Seq("q27_ngram_jaccard", "q101_connected_components", "q108_incremental_cc",
    "q119_cluster_store_update", "q147_prefix_filter_join", "q168_containment_sketch_audit",
    "q187_kcore_decomposition")
  val All: Seq[String] = Operators ++ LlmOps
}
