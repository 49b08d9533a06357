package graft

import com.fasterxml.jackson.databind.ObjectMapper

import scala.jdk.CollectionConverters._

/** `Bench`'s measurement itself, on the shared session: every run's jobs,
  * stages and tasks reach its layers, `Materialize` jobs are told apart,
  * a query with one plan reads no plan changes, and the artifact line
  * carries the layers next to every key it had before.
  */
class BenchSpec extends SparkTestBase {

  test("measure records each run's layers and the artifact line carries them") {
    val names = Seq("q01_filter_project", "q108_incremental_cc")
    val measured = Bench.measure(spark, sf("sf0.001"), 2, names.map(QueryRegistry.byName))
    assert(measured.map(_.name) == names)
    measured.foreach { m =>
      assert(m.runs.size == 2)
      m.runs.foreach { r =>
        val l = r.layers
        assert(r.sec < Bench.FailurePenaltySec, s"${m.name} failed")
        assert(l.jobs >= 1 && l.stages >= 1 && l.tasks >= l.stages,
          s"${m.name}: ${l.jobs} jobs, ${l.stages} stages, ${l.tasks} tasks")
      }
    }
    val Seq(q01, q108) = measured
    assert(q01.runs.forall(_.layers.materializeJobs == 0))
    assert(q108.runs.forall(_.layers.materializeJobs > 0))
    assert(q01.planChanges == 0)

    val line = Bench.artifactLine(measured, sf("sf0.001"), Bench.Noise(4, None, None, None), 0L)
    val node = new ObjectMapper().readTree(line)
    assert(node.fieldNames().asScala.toSet == Set("ts", "metric", "value", "unit", "queries",
      "min", "max", "n_queries", "sf", "noise", "layers"))
    names.foreach { n =>
      val l = node.get("layers").get(n)
      assert(l != null, s"no layers for $n")
      assert(l.get("stages").asInt == measured.find(_.name == n).get.median.layers.stages)
      assert(l.get("top_stages").size >= 1)
    }
    assert(node.get("layers").get("q108_incremental_cc").get("materialize_jobs").asInt > 0)
  }
}
