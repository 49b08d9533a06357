package graft

import org.apache.spark.metrics.source.CodegenMetrics

/** The session settings that keep a long-lived session from redoing work:
  * Spark's generated-class cache holds a repeated query pass, and its
  * status store keeps a short history.
  */
class LocalSessionSpec extends SparkTestBase {

  private val mix = Seq("q108_incremental_cc", "q119_cluster_store_update",
    "q168_containment_sketch_audit")

  /** Classes Spark compiles while running the mix once. */
  private def compiledByOnePass(): Long = {
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    mix.foreach(QueryRegistry.byName(_).run(spark, sf("sf0.001")).queryExecution.toRdd.count())
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
  }

  test("a repeated query pass reuses the generated classes of the first") {
    val first = compiledByOnePass()
    val second = compiledByOnePass()
    assert(second * 10 < first, s"compiled $first classes on the first pass, $second on the second")
  }

  test("the status store keeps a short history") {
    val conf = spark.sparkContext.getConf
    for (key <- Seq("spark.sql.ui.retainedExecutions", "spark.ui.retainedJobs",
                    "spark.ui.retainedStages"))
      assert(conf.getOption(key).contains("10"), key)
  }
}
