package graft.llmops

import graft.SparkTestBase
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The judge's contract for the q108 production twin: store-seeded
  * incremental labels must be BIT-IDENTICAL to a cold full recompute —
  * after one increment and after a chain of increments with commits in
  * between.
  */
class ClusterStoreSpec extends SparkTestBase {

  private def docs: DataFrame = graft.Tables.documents(spark, sf("sf0.001"))

  private def cold(d: DataFrame): Seq[(Long, Long)] =
    DedupGraph.connectedComponents(Dedup.neardupEdges(d))
      .orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq

  private def got(df: DataFrame): Seq[(Long, Long)] =
    df.orderBy("doc_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq

  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("clusterstore-spec-").toString

  test("one increment matches the cold full recompute bit-identically") {
    val dir = tmp()
    ClusterStore.build(docs.filter(col("doc_id") % 5 =!= 0), dir)
    val inc = ClusterStore.updatedLabels(
      spark, dir, docs.filter(col("doc_id") % 5 === 0))
    assert(got(inc) == cold(docs))
  }

  test("committed increments chain: build, update, update == cold on all") {
    val dir = tmp()
    ClusterStore.build(docs.filter(col("doc_id") % 3 === 0), dir)
    ClusterStore.update(spark, dir, docs.filter(col("doc_id") % 3 === 1))
    // after the first commit the store must already match cold on parts 0+1
    assert(got(spark.read.parquet(s"$dir/labels.parquet")) ==
      cold(docs.filter(col("doc_id") % 3 =!= 2)))
    ClusterStore.update(spark, dir, docs.filter(col("doc_id") % 3 === 2))
    assert(got(spark.read.parquet(s"$dir/labels.parquet")) == cold(docs))
    // commit hygiene: no .tmp / .old residue after a successful swap
    val left = new java.io.File(dir).list().toSet
    assert(left == Set("labels.parquet", "grams.parquet"), s"residue: $left")
  }

  test("streaming twin: 3 micro-batches, store == cold recompute per epoch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = tmp()
    val ckpt = java.nio.file.Files.createTempDirectory("clusterstore-ckpt-")
    // (doc_id, text) is the store's full input contract; stream that shape.
    val slim = docs.select(col("doc_id"), col("text"))
      .as[(Long, String)].collect().toSeq
    def part(i: Int) = slim.filter(_._1 % 4 == i)
    ClusterStore.build(part(0).toDF("doc_id", "text"), dir)
    val stream = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String)]
    val q = ClusterStore.continuous(
        stream.toDF().toDF("doc_id", "text"), dir)
      .option("checkpointLocation", ckpt.toString)
      .start()
    try {
      (1 to 3).foreach { i =>
        stream.addData(part(i))
        q.processAllAvailable()
        val landedSoFar = slim.filter(_._1 % 4 <= i).toDF("doc_id", "text")
        assert(got(spark.read.parquet(s"$dir/labels.parquet")) ==
          cold(landedSoFar), s"epoch $i diverged from cold recompute")
      }
    } finally q.stop()
  }

  test("empty batch is a no-op on the labels") {
    val dir = tmp()
    val store = docs.filter(col("doc_id") % 5 =!= 0)
    ClusterStore.build(store, dir)
    val before = got(spark.read.parquet(s"$dir/labels.parquet"))
    val inc = ClusterStore.updatedLabels(spark, dir, docs.limit(0))
    assert(got(inc) == before)
  }
}
