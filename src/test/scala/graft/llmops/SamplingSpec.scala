package graft.llmops

import org.apache.spark.sql.functions._

import graft.SparkTestBase

/** Hash-threshold sampling (q61/q62 scale path + the calibrated variant):
  * rate accuracy, content-addressed membership, and per-stratum count
  * calibration — the properties the rank-window oracle twins (q59/q60)
  * guarantee exactly and the threshold path must preserve approximately.
  */
class SamplingSpec extends SparkTestBase {

  private def corpus(n: Int) = {
    import spark.implicits._
    (0 until n).map { i =>
      (i.toLong, if (i % 3 == 0) "en" else if (i % 3 == 1) "de" else "fr")
    }.toDF("doc_id", "lang")
  }

  test("fixed-cutoff threshold sample realizes ~rate per stratum") {
    val d = corpus(3000)
    val sampled = d.filter(
      CorpusPipeline.hashFrac(col("doc_id")) < CorpusPipeline.rateCutoffHex(0.2))
    val perLang = sampled.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    Seq("en", "de", "fr").foreach { l =>
      val got = perLang.getOrElse(l, 0L).toDouble / 1000
      assert(math.abs(got - 0.2) < 0.06, s"$l realized rate $got, expected ~0.2")
    }
  }

  test("rate cutoffs: keep-all and boundary rates") {
    assert(CorpusPipeline.rateCutoffHex(1.0) == "g")
    assert(CorpusPipeline.rateCutoffHex(0.5) == "80000000")
    assert(CorpusPipeline.rateCutoffHex(0.2) == "33333333")
    val d = corpus(100)
    assert(d.filter(CorpusPipeline.hashFrac(col("doc_id"))
      < CorpusPipeline.rateCutoffHex(1.0)).count() == 100)
  }

  test("membership is content-addressed: stable under corpus growth") {
    // q59's rank-based membership SHIFTS when new docs enter a stratum;
    // the threshold path must not — a doc's membership depends only on
    // its own id. This is the reproducible-held-out-split property.
    def ids(n: Int): Set[Long] =
      corpus(n).filter(CorpusPipeline.hashFrac(col("doc_id"))
          < CorpusPipeline.rateCutoffHex(0.2))
        .select("doc_id").collect().map(_.getLong(0)).toSet
    val small = ids(1000)
    val grown = ids(2000).filter(_ < 1000)
    assert(small == grown, "membership changed when the corpus grew")
  }

  test("calibrated sample hits per-stratum targets without a sort") {
    val d = corpus(3000) // 1000 per stratum
    val rates = Map("en" -> 0.5, "de" -> 0.1)
    val out = CorpusPipeline.calibratedHashSample(d, "lang", rates, defaultRate = 0.3)
    val got = out.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    def check(l: String, rate: Double): Unit = {
      val target = rate * 1000
      assert(math.abs(got.getOrElse(l, 0L) - target) <= math.max(3, 0.02 * 1000),
        s"$l: got ${got.getOrElse(l, 0L)}, target ~$target")
    }
    check("en", 0.5); check("de", 0.1); check("fr", 0.3)
    // no per-stratum global sort in the physical plan (the q59 killer)
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("WindowExec"), s"unexpected window in plan:\n$plan")
  }

  test("calibrated sample membership is deterministic across partitionings") {
    val d = corpus(2000)
    def run(parts: Int): Set[Long] =
      CorpusPipeline.calibratedHashSample(d.repartition(parts), "lang",
          Map.empty, defaultRate = 0.25)
        .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(run(2) == run(7), "membership depends on partitioning")
  }

  test("leakage-free split: every near-dup cluster lands whole in one split") {
    import org.apache.spark.sql.functions._
    val docs = graft.Tables.documents(spark, sf("sf0.001"))
    val assigned = Dedup.leakageFreeSplit(docs)
    // all docs assigned, all three splits populated
    assert(assigned.count() == docs.count())
    assert(assigned.select("split").distinct().count() == 3)
    // the invariant the operator exists for: clusters never straddle
    val straddling = assigned.filter(col("cluster").isNotNull)
      .groupBy("cluster").agg(countDistinct("split").as("n"))
      .filter(col("n") > 1).count()
    assert(straddling == 0)
    // and near-dup PAIRS never straddle either (pairs ⊆ clusters)
    val pairs = Dedup.minhashPairs(
      graft.core.Materialize(Dedup.minhashSignatures(docs, 3)), minSim = 0.5)
    val sp = assigned.select(col("doc_id"), col("split"))
    val crossSplit = pairs
      .join(sp.toDF("d1", "s1"), "d1").join(sp.toDF("d2", "s2"), "d2")
      .filter(col("s1") =!= col("s2")).count()
    assert(crossSplit == 0,
      "near-dup pair split across train/eval — leakage")
  }

  test("split hash is domain-separated from sampling hash (regression: all-train collapse)") {
    import org.apache.spark.sql.functions._
    val docs = graft.Tables.documents(spark, sf("sf0.001"))
    // sample at 0.5 by the UNSALTED hash (the q61 idiom), then split the
    // survivors: with an unsalted split hash every sampled doc satisfies
    // hash < 0.5 < 0.8 and lands in train (caught live by a sample-then-split run);
    // the salted split must still produce all three splits
    val sampled = docs.filter(
      CorpusPipeline.hashFrac(col("doc_id")) < CorpusPipeline.rateCutoffHex(0.5))
    val splits = Dedup.leakageFreeSplit(sampled)
      .groupBy("split").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(splits.keySet == Set("train", "val", "test"),
      s"sampled subset collapsed to $splits — split hash correlates with sampling hash")
    assert(splits("train") > splits("val") && splits("train") > splits("test"))
  }
}
