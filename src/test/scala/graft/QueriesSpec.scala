package graft

/** Smoke: every registry query runs on sf0.001 and the flagship entry
  * returns rows (the value-level gate is the DuckDB oracle via Verify).
  */
class QueriesSpec extends SparkTestBase {

  test("flagship entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("all registry queries execute on sf0.001") {
    val dir = sf("sf0.001")
    QueryRegistry.all.foreach { q =>
      try q.run(spark, dir).count()
      catch { case e: Throwable =>
        fail(s"${q.name} failed: ${e.getMessage}", e)
      }
    }
  }

  test("byName rejects an unknown name and says which") {
    val e = intercept[IllegalArgumentException](QueryRegistry.byName("q0_no_such_query"))
    assert(e.getMessage.contains("q0_no_such_query"))
  }

  test("oracle SQL exists for every ANSI-expressible query") {
    val oracled = QueryRegistry.all.count(_.oracle.isDefined)
    assert(oracled >= 30)
    // hash-seeded / sketch-based ops are intentionally rows-only
    val rowsOnly = QueryRegistry.all.filter(_.oracle.isEmpty).map(_.name)
    assert(rowsOnly.forall(n => n.contains("minhash") || n.contains("simhash") ||
      n.contains("lsh") || n.contains("approx") || n.contains("ivf") ||
      n.contains("winnowing") || n.contains("incremental_neardup") ||
      n.contains("pq_topk") || n.contains("semantic_dedup") ||
      n.contains("containment_sketch")))
  }
}
