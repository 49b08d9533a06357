package graft.llmops

import graft.SparkTestBase
import org.apache.spark.sql.functions._

/** The mergeable-sketch contract behind q177: increments must be
  * idempotent (replay-safe), monotone under union, and accurate against
  * the exact distinct count — the three properties that make a persisted
  * HLL store trustworthy without ever rescanning the landed lake.
  */
class CardinalityStoreSpec extends SparkTestBase {

  private def events = graft.Tables.events(spark, sf("sf0.001"))

  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("cardstore-spec-").toString

  private def ests(dir: String): Map[String, Double] =
    CardinalityStore.estimates(spark, dir).collect()
      .map(r => r.getString(0) -> r.getLong(1).toDouble).toMap

  test("warm increment lands within 5% of exact; replaying it changes nothing") {
    val dir = tmp()
    CardinalityStore.build(events.filter(col("user_id") % 5 =!= 0), dir)
    val batch = events.filter(col("user_id") % 5 === 0)
    CardinalityStore.update(spark, dir, batch)
    val warm = ests(dir)
    val exact = events.groupBy("event_type")
      .agg(countDistinct("user_id").as("n")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(warm.keySet == exact.keySet)
    warm.foreach { case (k, est) =>
      assert(math.abs(est - exact(k)) / exact(k) <= 0.05,
        s"$k: est $est vs exact ${exact(k)}")
    }
    // idempotence: register-max union means a replayed batch is a no-op
    CardinalityStore.update(spark, dir, batch)
    assert(ests(dir) == warm, "replaying the same batch must not move estimates")
    // commit hygiene: no .tmp / .old residue after a successful swap
    val left = new java.io.File(dir).list().toSet
    assert(left == Set("sketches.parquet"), s"residue: $left")
  }

  test("union is monotone: adding users never lowers an estimate") {
    val dir = tmp()
    CardinalityStore.build(events.filter(col("user_id") % 2 === 0), dir)
    val before = ests(dir)
    CardinalityStore.update(spark, dir, events.filter(col("user_id") % 2 =!= 0))
    val after = ests(dir)
    before.foreach { case (k, b) =>
      assert(after(k) >= b, s"$k shrank: $b -> ${after(k)}")
    }
  }

  test("streaming twin: foreachBatch increments land the batch-API store state") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = tmp()
    CardinalityStore.build(events.filter(col("user_id") % 5 =!= 0), dir)
    val rows = events.filter(col("user_id") % 5 === 0)
      .select("event_type", "user_id").as[(String, Long)].collect()
    val stream = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(String, Long)]
    val q = CardinalityStore.stream(
      stream.toDS().toDF("event_type", "user_id"), dir).start()
    try {
      val (b1, b2) = rows.splitAt(rows.length / 2)
      stream.addData(b1.toSeq); q.processAllAvailable()
      stream.addData(b2.toSeq); q.processAllAvailable()
    } finally q.stop()
    val exact = events.groupBy("event_type")
      .agg(countDistinct("user_id").as("n")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val streamed = ests(dir)
    assert(streamed.keySet == exact.keySet)
    streamed.foreach { case (k, est) =>
      assert(math.abs(est - exact(k)) / exact(k) <= 0.05,
        s"$k: streamed est $est vs exact ${exact(k)}")
    }
  }

  test("a batch with an unseen key creates that key's sketch") {
    import spark.implicits._
    val dir = tmp()
    CardinalityStore.build(events.filter(col("event_type") =!= "click"), dir)
    val only = events.filter(col("event_type") === "click")
    if (only.count() > 0) {
      CardinalityStore.update(spark, dir, only)
      assert(ests(dir).contains("click"))
    }
  }
}
