package graft.core

import graft.SparkTestBase
import graft.llmops.Dedup

/** The materialization strategy hook: both modes must produce the same
  * answers (they differ only in failure tolerance), and an unknown mode
  * must fail loudly rather than silently recompute.
  */
class MaterializeSpec extends SparkTestBase {

  private def docs() = {
    import spark.implicits._
    Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again"),
      (2L, "the quick brown fox jumps over the lazy dog again and again"),
      (3L, "completely different tokens nothing shared here at all folks today"))
      .toDF("doc_id", "text")
  }

  private def runNearDup(): Seq[(Long, Long)] =
    Dedup.minhashPairs(Materialize(Dedup.minhashSignatures(docs(), 3)), minSim = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq

  test("local, reliable, and persist modes return identical results") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt").toString
    spark.sparkContext.setCheckpointDir(dir)
    val results = Seq("local", "reliable").map { mode =>
      spark.conf.set(Materialize.ModeKey, mode)
      try runNearDup() finally spark.conf.unset(Materialize.ModeKey)
    }
    assert(results.forall(_ == Seq((1L, 2L))), s"per-mode results: $results")
  }

  test("reliable mode actually writes to the checkpoint dir") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt2")
    spark.sparkContext.setCheckpointDir(dir.toString)
    spark.conf.set(Materialize.ModeKey, "reliable")
    try {
      assert(runNearDup() == Seq((1L, 2L)))
      assert(listFiles(dir).nonEmpty, "no reliable checkpoint files written")
    } finally spark.conf.unset(Materialize.ModeKey)
  }

  test("unknown mode fails fast") {
    // "persist" is a retired mode: a deployment setting that still names
    // it must fail loudly, not silently run another mode
    for (mode <- Seq("bogus", "persist")) {
      spark.conf.set(Materialize.ModeKey, mode)
      try {
        val e = intercept[IllegalArgumentException](Materialize(docs()))
        assert(e.getMessage.contains("local|reliable") &&
          e.getMessage.contains(s"'$mode'"), e.getMessage)
      } finally spark.conf.unset(Materialize.ModeKey)
    }
  }
}
