package graft

/** Prints `explain("formatted")` for selected queries — the plan-quality
  * feedback loop: verify filters reach the scan (`PushedFilters`), columns
  * are pruned (`ReadSchema`), small dims broadcast, and operators sit
  * inside WholeStageCodegen spans.
  *
  *   sbt "runMain graft.PlanAudit q01_filter_project q08_join_broadcast"
  *   sbt "runMain graft.PlanAudit all"
  */
object PlanAudit {
  def main(args: Array[String]): Unit = {
    val spark = LocalSession("4")
    spark.sparkContext.setLogLevel("ERROR")
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    val names =
      if (args.isEmpty || args.sameElements(Array("all"))) QueryRegistry.all.map(_.name)
      else args.toSeq
    names.foreach { n =>
      println(s"\n======== $n ========")
      try QueryRegistry.byName(n).run(spark, dir).explain("formatted")
      catch { case e: Throwable => println(s"failed: ${e.getMessage}") }
    }
    spark.stop()
  }
}
