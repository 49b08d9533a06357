package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession

/** Stage-level profiler for a single registry query: runs the query N times
  * and prints per-stage wall time + task counts, so bench outliers (q27/q30)
  * can be attributed to a concrete stage instead of guessed at. Each
  * iteration also prints how many classes Spark compiled for it
  * (`compiled=`, from `CodegenMetrics`): a repeated iteration that still
  * compiles many is evicting the generated-class cache.
  *
  * Usage: runMain graft.Profile <queryName> [sfDir] [iters]
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val name = args.headOption.getOrElse("q27_ngram_jaccard")
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val iters = if (args.length > 2) args(2).toInt else 2
    val spark = LocalSession()
    spark.range(1000000).selectExpr("sum(id)").collect()

    val stages = scala.collection.mutable.ArrayBuffer[(Int, String, Long, Int)]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        val si = sc.stageInfo
        val dur = (for {s <- si.submissionTime; c <- si.completionTime} yield c - s).getOrElse(-1L)
        stages.synchronized {
          stages += ((si.stageId, si.name.takeWhile(_ != '\n').take(90), dur, si.numTasks))
        }
      }
    })

    // SPARK_GRAFT_PROFILE_WARMALL=1 reproduces the full-bench context:
    // in-context slowdowns (code-cache pressure, accumulated session
    // state) don't show in isolated runs.
    if (sys.env.contains("SPARK_GRAFT_PROFILE_WARMALL")) {
      QueryRegistry.all.filter(_.name < name).foreach { spec =>
        try spec.run(spark, sfDir).queryExecution.toRdd.count()
        catch { case e: Throwable => println(s"[warm] ${spec.name} failed: ${e.getMessage}") }
      }
      println(s"[warm] done")
    }

    val q = QueryRegistry.byName(name)
    (1 to iters).foreach { i =>
      stages.synchronized(stages.clear())
      val compiled0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val t0 = System.nanoTime()
      val n = q.run(spark, sfDir).queryExecution.toRdd.count()
      val total = (System.nanoTime() - t0) / 1e9
      val compiled = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiled0
      Thread.sleep(200) // let listener drain
      println(f"== iter $i: $name rows=$n total=$total%.2fs compiled=$compiled ==")
      stages.synchronized {
        stages.sortBy(-_._3).take(15).foreach { case (id, nm, dur, tasks) =>
          println(f"  stage $id%4d ${dur / 1000.0}%7.2fs tasks=$tasks%3d  $nm")
        }
        println(f"  stage-time sum: ${stages.map(_._3).sum / 1000.0}%.2fs over ${stages.size} stages")
      }
    }
    spark.stop()
  }
}
