package graft.llmops

import graft.SparkTestBase
import org.apache.spark.sql.functions._

/** Semantic checks for the round-7 session-4 additions on closed-form
  * fixtures: q217 t-closeness (single-lang sources → TVD ½, uniform mix
  * → 0), q218 local clustering (planted clique → decile 9, planted path
  * → decile 0), q219 compaction plan (hand-packed groups), q220 z-order
  * locality (grid corpus: Morton layout touches fewer files than the
  * 1-D layout; known interleave bits), q221/q222 Bloom (no false
  * negatives ever, warm OR-merge == cold rebuild, replay idempotence).
  * The DuckDB hash oracle proves engine parity on sf data; these prove
  * the SEMANTICS.
  */
class Round7dOpsSpec extends SparkTestBase {

  private def docsDir(rows: Seq[(Long, String, String, String, Long)]): String = {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("round7d").toString
    rows.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  private def row(id: Long, text: String, lang: String = "en",
                  source: String = "src0") =
    (id, text, lang, source, text.length.toLong)

  private def lakeDir(files: Seq[(Long, Long, String)]): String = {
    // (file_id, n_records, part_key) → orders + per-order lineitem rows
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("round7dlake").toString
    files.map { case (id, _, pk) =>
      (id, 0L, "O", 1.0, new java.sql.Timestamp(1700000000000L), pk)
    }.toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority")
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    files.flatMap { case (id, n, _) => (0L until n).map(i => (id, i)) }
      .toDF("l_orderkey", "l_linenumber")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    dir
  }

  // ------------------------------------------------------------------ q217
  test("q217: single-lang sources against a 50/50 corpus score TVD 0.5 and fail t=0.2") {
    val det = (0 until 4).map(i => row(i.toLong, "x", "en", "srcA")) ++
      (4 until 8).map(i => row(i.toLong, "x", "de", "srcB"))
    val got = PrivacyOps.q217.run(spark, docsDir(det))
      .collect().map(r => (r.getString(0), r.getDouble(2), r.getBoolean(3)))
    // per source: (1,0) vs global (.5,.5) → TVD = ½(|1−.5|+|0−.5|) = 0.5
    assert(got.toSeq == Seq(("srcA", 0.5, false), ("srcB", 0.5, false)))
  }

  test("q217: identically-mixed sources score TVD 0 and pass") {
    val mix = Seq(row(0, "x", "en", "srcA"), row(1, "x", "de", "srcA"),
      row(2, "x", "en", "srcB"), row(3, "x", "de", "srcB"))
    val got = PrivacyOps.q217.run(spark, docsDir(mix))
      .collect().map(r => (r.getDouble(2), r.getBoolean(3)))
    assert(got.forall(_ == (0.0, true)))
  }

  // ------------------------------------------------------------------ q218
  test("q218: planted 4-clique lands in decile 9, planted path center in decile 0") {
    // Clique: four identical docs (every shared 5-gram links all pairs).
    val clique = (0 until 4).map(i =>
      row(i.toLong, "c1 c2 c3 c4 c5"))
    // Path A–B–C: B shares a distinct rare gram with each neighbor.
    val path = Seq(
      row(10, "p1 p2 p3 p4 p5"),
      row(11, "p1 p2 p3 p4 p5 z9 q1 q2 q3 q4 q5"),
      row(12, "q1 q2 q3 q4 q5"))
    val got = DedupGraph.q218.run(spark, docsDir(clique ++ path))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    // deg<2 excludes path endpoints; B: deg 2, 0 triangles → decile 0;
    // clique: deg 3, 3 triangles each → c=1 → decile 9.
    assert(got == Map(0L -> 1L, 9L -> 4L), got.toString)
  }

  // ------------------------------------------------------------------ q219
  test("q219: groups close at the 1000-record boundary, never splitting a file") {
    val dir = lakeDir(Seq(
      (1L, 400L, "P1"), (2L, 400L, "P1"), (3L, 400L, "P1"),
      (4L, 1000L, "P1"), (5L, 100L, "P1"), (6L, 50L, "P2")))
    val got = graft.operators.Warehouse.q219.run(spark, dir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5)))
    // cum_before: 0,400,800 → grp 0; 1200 → grp 1; 2200 → grp 2
    assert(got.toSeq == Seq(
      ("P1", 0L, 3L, 1200L, 1L, 3L),
      ("P1", 1L, 1L, 1000L, 4L, 4L),
      ("P1", 2L, 1L, 100L, 5L, 5L),
      ("P2", 0L, 1L, 50L, 6L, 6L)), got.mkString(","))
  }

  // ------------------------------------------------------------------ q220
  test("q220: on a square grid the Morton layout touches fewer files than the 1-D layout") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("round7dz").toString
    val grid = for (i <- 0 until 32; j <- 0 until 32) yield
      (i.toLong * 32 + j, i.toLong, "O", 1.0,
        new java.sql.Timestamp(86400000L * j), "P")
    grid.toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority")
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    val got = graft.operators.ZOrder.q220.run(spark, dir)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got("zorder")._1 == got("linear")._1) // same box, same rows
    assert(got("zorder")._2 < got("linear")._2,
      s"z=${got("zorder")._2} linear=${got("linear")._2}")
  }

  // ------------------------------------------------------------------ q226
  private def eventsDir(rows: Seq[(Long, java.sql.Timestamp, Long, String)]): String = {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("round7dev").toString
    rows.toDF("event_id", "ts", "user_id", "event_type")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    dir
  }

  private def evTs = new java.sql.Timestamp(1700000000000L)

  test("q226: all-converters corpus pins z to 0 (degenerate pooled variance)") {
    val ev = (0 until 10).map(u => (u.toLong, evTs, u.toLong, "purchase"))
    val got = graft.operators.TimeSeries.q226.run(spark, eventsDir(ev)).collect()(0)
    assert(got.getLong(0) + got.getLong(2) == 10L)
    assert(got.getLong(4) == 1000000L && got.getLong(5) == 1000000L)
    assert(got.getDouble(6) == 0.0)
  }

  test("q226: planted uplift in arm 1 yields positive z and exact arm counts") {
    import spark.implicits._
    // learn the hash assignment with the same md5-digit rule, then plant
    // conversions ONLY in arm 1
    val arms = (0 until 100).map(_.toLong).toDF("user_id")
      .select(col("user_id"),
        (conv(substring(md5(concat(col("user_id").cast("string"),
          lit(":ab"))), 8, 1), 16, 10).cast("long") % 2).as("arm"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val ev = arms.toSeq.map { case (u, a) =>
      (u, evTs, u, if (a == 1L) "purchase" else "view")
    }
    val got = graft.operators.TimeSeries.q226.run(spark, eventsDir(ev)).collect()(0)
    val n1 = arms.valuesIterator.count(_ == 1L).toLong
    assert(got.getLong(0) == 100L - n1 && got.getLong(1) == 0L)
    assert(got.getLong(2) == n1 && got.getLong(3) == n1)
    assert(got.getDouble(6) > 3.0) // full separation on ~50/50 arms
  }

  // ------------------------------------------------------------------ q227
  private def eventsValDir(rows: Seq[(Long, java.sql.Timestamp, Long, String, Double)]): String = {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("round7dev5").toString
    rows.toDF("event_id", "ts", "user_id", "event_type", "value")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    dir
  }

  test("q227: perfectly-predictive covariate gives theta 1 and adj_diff exactly 0") {
    // y = x for every user → θ = 1 and the adjustment removes ALL of the
    // raw between-arm difference (no true treatment effect exists)
    val pre = java.sql.Timestamp.valueOf("2024-01-10 00:00:00")
    val post = java.sql.Timestamp.valueOf("2024-01-20 00:00:00")
    val ev = (0 until 40).flatMap { u =>
      val v = (u + 1).toDouble
      Seq((u.toLong * 2, pre, u.toLong, "click", v),
        (u.toLong * 2 + 1, post, u.toLong, "purchase", v))
    }
    val got = graft.operators.TimeSeries.q227.run(spark, eventsValDir(ev)).collect()(0)
    assert(got.getLong(0) + got.getLong(1) == 40L)
    assert(got.getDouble(3) == 1.0, s"theta=${got.getDouble(3)}")
    assert(got.getDouble(4) == 0.0, s"adj=${got.getDouble(4)}")
  }

  // ------------------------------------------------------------------ q228
  test("q228: point-mass sources against the pooled mixture move half the mass the full gap") {
    val docs = Seq(
      row(0, "aaaaaaaaaa", "en", "srcA"), row(1, "aaaaaaaaaa", "en", "srcA"),
      row(2, "bbbbbbbbbbbbbbbbbbbb", "en", "srcB"),
      row(3, "bbbbbbbbbbbbbbbbbbbb", "en", "srcB"))
    val got = CorpusStats.q228.run(spark, docsDir(docs))
      .collect().map(r => r.getString(0) -> r.getDouble(2)).toMap
    // each source is a point mass (10 or 20 chars) vs the 50/50 global:
    // W1 = ½·|20−10| = 5 chars for both
    assert(got == Map("srcA" -> 5.0, "srcB" -> 5.0), got.toString)
  }

  // ------------------------------------------------------------------ q229
  test("q229: c^0.75 flattens the head — 16:1 counts give 8:1 sampling weights") {
    val docs = Seq(row(0, (Seq.fill(16)("a") :+ "b").mkString(" ")))
    val got = PretrainViews.q229.run(spark, docsDir(docs))
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    // w(a)=16^.75=8, w(b)=1 → shares 8/9 and 1/9; unigram 16/17 and 1/17
    assert(got("a") == (16L, 888888L, 941176L), got.toString)
    assert(got("b") == (1L, 111111L, 58823L), got.toString)
  }

  // ------------------------------------------------------------------ q230
  test("q230: two-point tail {2718, 1000} recovers alpha ~= 1") {
    val docs = Seq(row(0, "x" * 2718), row(1, "y" * 1000))
    val got = PretrainViews.q230.run(spark, docsDir(docs)).collect()(0)
    // ln(2718/1000) = 0.999896 -> alpha = 1e6/999896 ffloored to 1.0001
    assert(got.getLong(0) == 1L)
    assert(got.getDouble(1) == 1.0001, got.toString)
  }

  // ------------------------------------------------------------ q221/q222
  private def bloomDocs: Seq[(Long, String, String, String, Long)] = {
    def doc(id: Long, seed: String) =
      row(id, (0 until 10).map(t => s"$seed$t").mkString(" "))
    // ids < 10: eval; ids ≥ 10: corpus, half overlapping eval text
    Seq(doc(0, "e"), doc(1, "f"),
      doc(10, "e"), doc(11, "g"), doc(12, "h"), doc(13, "f"))
  }

  test("q221: a Bloom filter has NO false negatives, and the audit counts only true negatives as probes") {
    val d = docsDir(bloomDocs)
    val dir = java.nio.file.Files.createTempDirectory("bloom221").toString
    val docs = graft.Tables.documents(spark, d)
    BloomStore.build(docs.filter(col("doc_id") < 10), dir)
    val evalKeys = BloomStore.keyGrams(docs.filter(col("doc_id") < 10))
    val verdicts = BloomStore.mightContain(spark, dir, evalKeys, "shingle")
      .collect().map(_.getBoolean(1))
    assert(verdicts.nonEmpty && verdicts.forall(identity)) // no false negatives
    val audit = BloomStore.q221.run(spark, d).collect()(0)
    val (nEval, nClean, nFp) =
      (audit.getLong(2), audit.getLong(4), audit.getLong(5))
    assert(nEval == 6L && nClean == 6L) // 3 eval-gram sets of 3, 2 clean sets
    assert(nFp <= nClean)
    assert(audit.getLong(3) > 0 && audit.getLong(3) <= 4 * nEval) // popcount
  }

  // ------------------------------------------------------------------ q223
  test("q223: hand-computed Kneser-Ney probabilities (the francisco fixture)") {
    val docs = Seq(row(0, "san francisco"), row(1, "san diego"),
      row(2, "new york"), row(3, "san francisco"))
    val got = CurationOps.q223.run(spark, docsDir(docs))
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getDouble(3))).toMap
    // c12: sf=2 sd=1 ny=1; c1(san)=3 n1f(san)=2; n1p all 1; B=3; D=3/4
    // P(francisco|san) = (max(8-3,0)*3 + 3*2*1)/(4*3*3) = 21/36
    assert(got(("san", "francisco")) == (2L, 0.583333))
    assert(got(("san", "diego")) == (1L, 0.25))
    assert(got(("new", "york")) == (1L, 0.5))
  }

  test("q223: probabilities over each context sum to ~1 on sf0.001") {
    val rows = CurationOps.q223.run(spark, sf("sf0.001")).collect()
    assert(rows.nonEmpty)
    // spot-check the interpolation never exceeds 1 or goes negative
    assert(rows.forall(r => r.getDouble(3) > 0.0 && r.getDouble(3) <= 1.0))
  }

  // ------------------------------------------------------------------ q224
  test("q224: constant-length corpus collapses the CI to the point estimate") {
    val docs = (0 until 20).map(i => row(i.toLong, "seven77")) // n_chars = 7
    val got = PrivacyOps.q224.run(spark, docsDir(docs)).collect()(0)
    assert(got.getLong(1) == 20L)
    assert(got.getDouble(2) == 7.0)
    assert(got.getDouble(3) == 7.0 && got.getDouble(4) == 7.0)
  }

  test("q224: CI brackets are ordered and deterministic across runs") {
    val a = PrivacyOps.q224.run(spark, sf("sf0.001")).collect()
    val b = PrivacyOps.q224.run(spark, sf("sf0.001")).collect()
    assert(a.toSeq == b.toSeq)
    assert(a.forall(r => r.getDouble(3) <= r.getDouble(4)))
  }

  // ------------------------------------------------------------------ q225
  test("q225: planted triangle+pendant yields supports {1,1,1,0} with exact jaccard") {
    val tri = (0 until 3).map(i => row(i.toLong, "t1 t2 t3 t4 t5"))
    val a = row(0, "t1 t2 t3 t4 t5 z0 s1 s2 s3 s4 s5") // A carries both grams
    val pend = Seq(row(10, "s1 s2 s3 s4 s5"))
    val docs = a +: tri.tail ++: pend
    val got = DedupGraph.q225.run(spark, docsDir(docs))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    // AB/AC/BC support 1 (third vertex); AD support 0.
    // jac: AB=1/4, AC=1/4, BC=1/3 → avg micro (250000+250000+333333)/3
    assert(got == Map(0L -> (1L, 0.0), 1L -> (3L, 0.277777)), got.toString)
  }

  // ------------------------------------------------------------------ q233
  test("q233: 'a b c' yields adjacent weight 2 and skip weight 1") {
    val got = PretrainViews.q233.run(spark, docsDir(Seq(row(0, "a b c"))))
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3))).toMap
    assert(got == Map(("a", "b") -> (2L, 1L), ("b", "c") -> (2L, 1L),
      ("a", "c") -> (1L, 1L)), got.toString)
  }

  // ------------------------------------------------------------ q234/q235
  private def armsOf(n: Int): Map[Long, Long] = {
    import spark.implicits._
    (0 until n).map(_.toLong).toDF("user_id")
      .select(col("user_id"),
        (conv(substring(md5(concat(col("user_id").cast("string"),
          lit(":ab"))), 8, 1), 16, 10).cast("long") % 2).as("arm"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  test("q234: planted $1 vs $2 arms give an exact 100-cent median uplift") {
    val post = java.sql.Timestamp.valueOf("2024-01-20 00:00:00")
    val arms = armsOf(40)
    val ev = arms.toSeq.map { case (u, a) =>
      (u, post, u, "purchase", if (a == 1L) 2.0 else 1.0)
    }
    val m = graft.operators.Quantiles.q234.run(spark, eventsValDir(ev)).collect()(0)
    assert(m.getLong(0) == 100L && m.getLong(1) == 200L && m.getLong(2) == 100L)
  }

  test("q235: perfect separation gives AUC exactly 1; identical arms give 1/2") {
    val post = java.sql.Timestamp.valueOf("2024-01-20 00:00:00")
    val arms = armsOf(40)
    val sep = arms.toSeq.map { case (u, a) =>
      (u, post, u, "purchase", if (a == 1L) 5.0 else 1.0)
    }
    val g1 = graft.operators.TimeSeries.q235.run(spark, eventsValDir(sep)).collect()(0)
    val (n0, n1) = (g1.getLong(0), g1.getLong(1))
    assert(n0 + n1 == 40L)
    assert(g1.getLong(2) == 2 * n0 * n1, "2U1 must hit its maximum")
    assert(g1.getLong(3) == 1000000L)
    val same = arms.toSeq.map { case (u, _) => (u, post, u, "purchase", 3.0) }
    val g2 = graft.operators.TimeSeries.q235.run(spark, eventsValDir(same)).collect()(0)
    assert(g2.getLong(3) == 500000L, s"ties must midrank to AUC 1/2, got ${g2.getLong(3)}")
  }

  // ------------------------------------------------------------ q236/q237
  private def embDir(rows: Seq[(Long, Array[Float], String)]): String = {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("round7demb").toString
    rows.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    dir
  }

  test("q236: planted triangle + dangler + antipode classify core/border/noise") {
    val d = embDir(Seq(
      (0L, Array(1f, 0f), "x"),
      (1L, Array(0.95f, 0.312f), "x"),
      (2L, Array(0.95f, -0.312f), "x"),
      (10L, Array(0.2f, 0.98f), "x"),   // near only vec 1 -> border
      (20L, Array(-1f, 0f), "x")))      // anti-aligned -> noise
    val got = Clustering.q236.run(spark, d)
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
    assert(got(0L) == ("core", 0L) && got(1L) == ("core", 0L) &&
      got(2L) == ("core", 0L), got.toString)
    assert(got(10L) == ("border", 0L), got.toString)
    assert(got(20L) == ("noise", -1L), got.toString)
  }

  test("q237: exact silhouettes on a 2-centroid plant (1, 1, 0 -> mean 2/3)") {
    val d = embDir(Seq(
      (0L, Array(1f, 0f), "x"), (1L, Array(0f, 1f), "x"),
      (10L, Array(1f, 0f), "x"),       // coincides with c0 -> s = 1
      (11L, Array(0.5f, 0.5f), "x")))  // exactly equidistant -> s = 0
    val got = Clustering.q237.run(spark, d)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(got(0L) == (3L, 0.666666), got.toString)
    assert(got(1L) == (1L, 1.0), got.toString)
  }

  // ------------------------------------------------------------ q242/q243
  test("q242: the 16x4 s-curve is steep where the dedup threshold sits") {
    val got = DedupAudit.q242.run(spark, "unused")
      .collect().map(r => (r.getInt(0), r.getInt(2)) -> r.getDouble(3)).toMap
    assert(got.size == 57)
    assert(got((16, 80)) > 0.999, got((16, 80)).toString)   // J=0.8 caught
    assert(got((16, 30)) < 0.15, got((16, 30)).toString)    // J=0.3 mostly not
    // monotone in J for every geometry
    for (b <- Seq(8, 16, 32); j <- 10 to 95 by 5)
      assert(got((b, j)) >= got((b, j - 5)), s"b=$b j=$j")
  }

  test("q243: a 3-clique of identical docs drops 2 docs and their chars") {
    val docs = (0 until 3).map(i => row(i.toLong, "c1 c2 c3 c4 c5")) :+
      row(10, "u1 u2 u3 u4 u5") // edge-free, never dropped
    val got = DedupAudit.q243.run(spark, docsDir(docs)).collect()(0)
    assert(got.getLong(0) == 4L && got.getLong(1) == 2L, got.toString)
    assert(got.getLong(3) == 28L, got.toString) // two 14-char dup copies
  }

  // ------------------------------------------------------------ q240/q241
  test("q240: identical vectors put every k-dist quantile at 0") {
    val d = embDir((0 until 5).map(i => (i.toLong, Array(1f, 0f), "x")))
    val got = Clustering.q240.run(spark, d)
      .collect().map(r => r.getInt(0) -> r.getLong(2)).toMap
    assert(got == Map(50 -> 0L, 90 -> 0L, 99 -> 0L), got.toString)
  }

  test("q240: quantiles are ordered on the sf corpus") {
    val rows = Clustering.q240.run(spark, sf("sf0.001")).collect()
    assert(rows.length == 3)
    val v = rows.sortBy(_.getInt(0)).map(_.getLong(2))
    assert(v(0) <= v(1) && v(1) <= v(2), v.mkString(","))
  }

  test("q241: a single-term corpus makes the AMS estimate exact (signs square away)") {
    val got = PretrainViews.q241.run(spark, docsDir(Seq(row(0, "a a a"))))
      .collect()(0)
    assert(got.getLong(1) == 9L && got.getLong(2) == 9L &&
      got.getLong(3) == 0L, got.toString)
  }

  // ------------------------------------------------------------ q238/q239
  test("q238: clusters == labels gives ARI 1; anti-correlated grid gives ARI -0.5") {
    val perfect = embDir(Seq(
      (0L, Array(1f, 0f), "A"), (10L, Array(1f, 0f), "A"), (11L, Array(1f, 0f), "A"),
      (1L, Array(0f, 1f), "B"), (12L, Array(0f, 1f), "B"), (13L, Array(0f, 1f), "B")))
    val g1 = Clustering.q238.run(spark, perfect).collect()(0)
    assert(g1.getLong(3) == 1000000L && g1.getDouble(4) == 1.0, g1.toString)
    val anti = embDir(Seq(
      (0L, Array(1f, 0f), "A"), (10L, Array(1f, 0f), "B"),
      (1L, Array(0f, 1f), "A"), (12L, Array(0f, 1f), "B")))
    val g2 = Clustering.q238.run(spark, anti).collect()(0)
    assert(g2.getLong(3) == 500000L && g2.getDouble(4) == -0.5, g2.toString)
  }

  test("q239: clusters == labels gives NMI 1 and MI = ln 2") {
    val perfect = embDir(Seq(
      (0L, Array(1f, 0f), "A"), (10L, Array(1f, 0f), "A"), (11L, Array(1f, 0f), "A"),
      (1L, Array(0f, 1f), "B"), (12L, Array(0f, 1f), "B"), (13L, Array(0f, 1f), "B")))
    val g = Clustering.q239.run(spark, perfect).collect()(0)
    assert(g.getDouble(1) == 0.693147, g.toString)
    assert(g.getDouble(2) == 1.0, g.toString)
  }

  // ------------------------------------------------------------ q231/q232
  test("q231: CMS estimates are one-sided and exact when the table is sparse") {
    val d = docsDir(bloomDocs)
    val got = CMSStore.q231.run(spark, d).collect()
    assert(got.nonEmpty)
    assert(got.forall(_.getBoolean(4)), "est >= exact must be structural")
    // 24 distinct tokens into 4x1024 counters: collisions essentially
    // impossible per md5 row, so estimates are exact here
    assert(got.forall(r => r.getLong(3) == 0L), got.mkString(","))
  }

  test("q232: CMS warm sum-merge equals cold rebuild; replayed epoch is a no-op") {
    val d = docsDir(bloomDocs)
    val dir = java.nio.file.Files.createTempDirectory("cms232").toString
    val docs = graft.Tables.documents(spark, d)
    val even = docs.filter(col("doc_id") % 2 === 0)
    val odd = docs.filter(col("doc_id") % 2 === 1)
    CMSStore.build(even, dir)
    CMSStore.update(spark, dir, odd, epoch = 1L)
    def cells(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    val warm = cells(CMSStore.counters(spark, dir))
    val cold = cells(CMSStore.sketchTable(CMSStore.termCounts(docs)))
    assert(warm == cold)
    CMSStore.update(spark, dir, odd, epoch = 1L) // at-least-once replay
    assert(cells(CMSStore.counters(spark, dir)) == warm,
      "replayed epoch must be a store no-op")
  }

  test("q222: warm OR-merge equals cold rebuild, and replay is a no-op") {
    val d = docsDir(bloomDocs)
    val dir = java.nio.file.Files.createTempDirectory("bloom222").toString
    val docs = graft.Tables.documents(spark, d)
    val even = docs.filter(col("doc_id") % 2 === 0)
    val odd = docs.filter(col("doc_id") % 2 === 1)
    BloomStore.build(even, dir)
    BloomStore.update(spark, dir, odd)
    def words(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val warm = words(spark.read.parquet(s"$dir/words.parquet"))
    val cold = words(BloomStore.wordTable(BloomStore.keyGrams(docs), "shingle"))
    assert(warm == cold)
    BloomStore.update(spark, dir, odd) // at-least-once replay
    assert(words(spark.read.parquet(s"$dir/words.parquet")) == warm)
    // commit hygiene: no .tmp / .old residue after a successful swap
    val left = new java.io.File(dir).list().toSet
    assert(left == Set("words.parquet", "meta.parquet"), s"residue: $left")
  }
}
