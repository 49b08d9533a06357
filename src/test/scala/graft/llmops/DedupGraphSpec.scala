package graft.llmops

import graft.SparkTestBase
import org.apache.spark.sql.functions._

/** Semantic checks for the graph/tokenizer/classifier operators added this
  * round: q101 fixpoint connected components (vs q69's bounded K), q102
  * asymmetric containment (vs Jaccard), q103 Naive-Bayes scoring direction,
  * and q104's left-to-right non-overlapping BPE merge rule. The DuckDB hash
  * oracle proves engine parity on sf data; these prove the SEMANTICS on
  * corpora crafted to separate each operator from its nearest neighbor.
  */
class DedupGraphSpec extends SparkTestBase {

  private def docsDir(rows: Seq[(Long, String, String, String, Long)]): String = {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("dedupgraph").toString
    rows.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  private def row(id: Long, text: String, source: String = "src0") =
    (id, text, "en", source, text.length.toLong)

  /** Chain corpus: doc i = span_i ++ span_{i+1} (each span 5 unique
    * tokens), so consecutive docs share EXACTLY one rare 5-gram and the
    * candidate graph is a path 0-1-2-...-(n-1) of diameter n-1. The
    * straddling 5-grams are unique per doc (df=1) and drop at the
    * df-in-[2,50] cap, so no shortcut edges exist.
    */
  private def chain(n: Int): Seq[(Long, String, String, String, Long)] = {
    def span(i: Int) = (1 to 5).map(t => s"w${i}x$t").mkString(" ")
    (0 until n).map(i => row(i.toLong, span(i) + " " + span(i + 1)))
  }

  test("q101: fixpoint CC collapses a 8-doc chain that bounded K=3 cannot") {
    val dir = docsDir(chain(8))
    val docs = graft.Tables.documents(spark, dir)
    val cc = DedupGraph.connectedComponents(Dedup.neardupEdges(docs))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(cc.keySet == (0L until 8L).toSet)
    assert(cc.values.toSet == Set(0L), s"fixpoint must reach min label: $cc")

    // the bounded-K form (q69) stops at 3 hops: doc 7 is 7 hops from 0,
    // so its label CANNOT be 0 — this is precisely the gap q101 closes
    val k3 = Dedup.neardupLabels(docs)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(k3(7L) != 0L, "K=3 labels reached 7 hops — chain fixture broken")
  }

  test("q101: separate components keep separate labels") {
    // two disjoint 2-doc clusters (shared 5-gram within, none across)
    val a = "c1 c2 c3 c4 c5"
    val b = "d1 d2 d3 d4 d5"
    val dir = docsDir(Seq(
      row(10, a + " p1 p2 p3 p4 p5"), row(11, a + " q1 q2 q3 q4 q5"),
      row(20, b + " r1 r2 r3 r4 r5"), row(21, b + " s1 s2 s3 s4 s5")))
    val cc = DedupGraph.connectedComponents(
        Dedup.neardupEdges(graft.Tables.documents(spark, dir)))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(cc == Map(10L -> 10L, 11L -> 10L, 20L -> 20L, 21L -> 20L))
  }

  test("q108: warm-start CC converges in fewer rounds and to identical labels") {
    // store = chain docs 0..5 (already one component); the batch extends
    // the chain with docs 6,7 — a 2-hop change on a 7-hop graph
    val dir = docsDir(chain(8))
    val docs = graft.Tables.documents(spark, dir)
    val all = Dedup.neardupEdges(docs)
    val (coldLabels, coldRounds) =
      DedupGraph.ccFixpoint(all,
        all.select(col("src").as("id")).distinct()
          .select(col("id"), col("id").as("lbl")), 50)
    val stored = DedupGraph.connectedComponents(
      Dedup.neardupEdges(docs.filter(col("doc_id") < 6)))
    val (warmLabels, warmRounds) = DedupGraph.connectedComponentsSeeded(all, stored)
    assert(warmLabels.collect().map(r => (r.getLong(0), r.getLong(1))).sorted
      .sameElements(coldLabels.collect().map(r => (r.getLong(0), r.getLong(1))).sorted),
      "warm-start must converge to the full-recompute labels")
    // With pointer doubling the cold fixpoint needs ~log2(diameter)
    // propagation rounds (+1 to confirm convergence): the 7-hop chain
    // collapses in 4 rounds, not 7 — that speedup is the point of the
    // hop. The warm start must still beat cold (its change has diameter
    // 2), and both must land identical labels.
    assert(coldRounds >= 4, s"chain fixture: cold needs ~log2(diameter) rounds, got $coldRounds")
    assert(warmRounds < coldRounds,
      s"warm start must track the change, not the corpus: $warmRounds vs $coldRounds")
  }

  test("q108: memoized store fixture answers identically to a cold full recompute") {
    // Round-11 fixture split: the stored labels now come from a
    // per-(JVM, sf-dir) parquet fixture instead of an inline rebuild.
    // The invariant that must survive the move: the END ANSWER equals a
    // cold full-corpus recompute (CC over edges under the full-corpus
    // df cap [2,50] — the oracle's recursive-CTE definition) on the
    // real corpus. (Since round 12 this equality is unconditional —
    // repairStoredLabels closes the cap-crossing case, exercised by the
    // dedicated crossing-fixture test below.)
    val d = sf("sf0.001")
    val got = DedupGraph.q108.run(spark, d)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val docs = graft.Tables.documents(spark, d)
    val grams = Dedup.shingles(graft.operators.Ops.fanOut(docs), 5)
    val caps = grams.groupBy("shingle")
      .agg(count(lit(1)).as("df")).filter(col("df").between(2, 50))
    val g2 = graft.core.Materialize(grams.join(caps, "shingle").select("doc_id", "shingle"))
    val half = g2.as("a").join(g2.as("b"),
        col("a.shingle") === col("b.shingle") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("src"), col("b.doc_id").as("dst")).distinct()
    val cold = DedupGraph.connectedComponents(
        half.union(half.select(col("dst").as("src"), col("src").as("dst"))))
      .orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got == cold, "fixture-backed incremental answer diverged from cold recompute")
    assert(got.nonEmpty)
    // second run hits the memo: same directory, no rebuild
    val dir1 = DedupGraph.storedLabels(spark, d)
    assert(DedupGraph.storedLabels(spark, d) == dir1)
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(dir1, "stored.parquet")))
  }

  test("q108: a gram crossing the df cap between store and full corpus does NOT over-merge") {
    // The round-9→11 caveat, now closed (round-12 verdict item 2):
    //   store docs 1,2,3 share gram G only; df_store(G) = 3 → the store
    //   pipeline admits G and merges {1,2,3}. 48 batch docs (%5 = 0)
    //   each carry G once → df_full(G) = 51 > 50, so the cold full-cap
    //   recompute REJECTS G: 1,2,3 have no edges at all and must vanish
    //   from the label table, not stay merged. Store docs 6,7 share a
    //   healthy gram H (df_full = 2) as the untouched-component control.
    val g = "g1 g2 g3 g4 g5"; val h = "h1 h2 h3 h4 h5"
    val storeRows = Seq(
      row(1, "a1 a2 a3 a4 a5 " + g), row(2, "b1 b2 b3 b4 b5 " + g),
      row(3, "c1 c2 c3 c4 c5 " + g),
      row(6, h + " s1 s2 s3 s4 s5"), row(7, h + " t1 t2 t3 t4 t5"))
    val batchRows = (1 to 48).map(i =>
      row(5L * i, s"p${i}a p${i}b p${i}c p${i}d p${i}e " + g))
    val dir = docsDir(storeRows ++ batchRows)
    val docs = graft.Tables.documents(spark, dir)
    val (stored, postings) = DedupGraph.storeState(
      docs.filter(col("doc_id") % 5 =!= 0))
    // precondition: the store state IS over-merged (G admitted at store
    // time) — otherwise this fixture exercises nothing
    val storeMap = stored.collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(storeMap(1L) == 1L && storeMap(2L) == 1L && storeMap(3L) == 1L,
      s"fixture must merge 1,2,3 in the store: $storeMap")
    val got = DedupGraph.incrementalCC(docs, stored, postings)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    // cold full-cap recompute: G rejected, only the 6–7 edge survives
    assert(got == Map(6L -> 6L, 7L -> 6L),
      s"cap-crossing gram must be repaired, not over-merged: $got")
  }

  test("q108 crossing repair is Materialize-mode independent: reliable yields the cold answer") {
    // `reliable`'s Dataset.checkpoint() can execute each plan twice, and
    // so double the observe() metrics the repair's crossing probe and the
    // CC fixpoint's convergence detector read. Both only test the values
    // for zero or for equality across rounds, so the answer must not
    // move. Production-faithful shape: q108 reads its store state from
    // parquet, so the store state is built under the default mode and
    // round-tripped through parquet before the per-batch body runs.
    val g = "g1 g2 g3 g4 g5"; val h = "h1 h2 h3 h4 h5"
    val rows = Seq(
      row(1, "a1 a2 a3 a4 a5 " + g), row(2, "b1 b2 b3 b4 b5 " + g),
      row(3, "c1 c2 c3 c4 c5 " + g),
      row(6, h + " s1 s2 s3 s4 s5"), row(7, h + " t1 t2 t3 t4 t5")) ++
      (1 to 48).map(i => row(5L * i, s"p${i}a p${i}b p${i}c p${i}d p${i}e " + g))
    val dir = docsDir(rows)
    val docs = graft.Tables.documents(spark, dir)
    val (stored0, postings0) = DedupGraph.storeState(
      docs.filter(col("doc_id") % 5 =!= 0))
    val fx = graft.core.TempDirs.scratch("dedupgraph-reliable-fx-")
    stored0.write.mode("overwrite").parquet(s"$fx/stored.parquet")
    postings0.write.mode("overwrite").parquet(s"$fx/postings.parquet")
    spark.sparkContext.setCheckpointDir(graft.core.TempDirs.scratch("dedupgraph-ckpt-"))
    spark.conf.set(graft.core.Materialize.ModeKey, "reliable")
    try {
      val got = DedupGraph.incrementalCC(docs,
          spark.read.parquet(s"$fx/stored.parquet"),
          spark.read.parquet(s"$fx/postings.parquet"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      assert(got == Map(6L -> 6L, 7L -> 6L),
        s"reliable Materialize diverged from the cold answer: $got")
    } finally spark.conf.unset(graft.core.Materialize.ModeKey)
  }

  test("repairStoredLabels: partial crossing re-solves the component, no crossing is identity") {
    // component {1,2,3}: 1–2 held by BOTH a crossing gram G and a kept
    // gram K; 2–3 held ONLY by G → after repair {1,2} stay merged, 3
    // splits off as a singleton WITH remaining edges? no — 3 loses its
    // only edge and drops out. Component {6,7} (gram H) is untouched.
    val g = "g1 g2 g3 g4 g5"; val k = "k1 k2 k3 k4 k5"; val h = "h1 h2 h3 h4 h5"
    val storeRows = Seq(
      row(1, g + " x1 x2 x3 x4 x5 " + k), row(2, g + " y1 y2 y3 y4 y5 " + k),
      row(3, g + " z1 z2 z3 z4 z5"),
      row(6, h + " s1 s2 s3 s4 s5"), row(7, h + " t1 t2 t3 t4 t5"))
    val batchRows = (1 to 48).map(i =>
      row(5L * i, s"p${i}a p${i}b p${i}c p${i}d p${i}e " + g))
    val dir = docsDir(storeRows ++ batchRows)
    val docs = graft.Tables.documents(spark, dir)
    val (stored, postings) = DedupGraph.storeState(
      docs.filter(col("doc_id") % 5 =!= 0))
    val caps = Dedup.shingles(graft.operators.Ops.fanOut(docs), 5)
      .groupBy("shingle").agg(count(lit(1)).as("__df_full"))
    val fixed = DedupGraph.repairStoredLabels(stored, postings, caps)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(fixed == Map(1L -> 1L, 2L -> 1L, 6L -> 6L, 7L -> 6L),
      s"expected {1,2} kept via K, 3 dropped, {6,7} untouched: $fixed")
    // no-crossing corpus: repair must be the identity on the store state
    val dir2 = docsDir(storeRows) // without the batch, nothing crosses
    val docs2 = graft.Tables.documents(spark, dir2)
    val (stored2, postings2) = DedupGraph.storeState(
      docs2.filter(col("doc_id") % 5 =!= 0))
    val caps2 = Dedup.shingles(graft.operators.Ops.fanOut(docs2), 5)
      .groupBy("shingle").agg(count(lit(1)).as("__df_full"))
    val fixed2 = DedupGraph.repairStoredLabels(stored2, postings2, caps2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val stored2Map = stored2.collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(fixed2 == stored2Map, "no crossing: repair must be the identity")
  }

  test("connectedComponentsDelta: chained merges across contracted components") {
    // The contraction's hardest case: the delta must merge THREE old
    // components through a CHAIN of batch docs attached to different
    // members — correctness requires the virtual connectivity that
    // contracting to roots provides (members of one component touched by
    // different batch docs share no delta edge, only a root).
    //   old: A = {0,1}, B = {10,11}, C = {20,21}  (each a shared-gram pair)
    //   batch: 30 bridges 1–10, 31 bridges 11–20 → one merged component.
    val a = "a1 a2 a3 a4 a5"; val b = "b1 b2 b3 b4 b5"; val c = "c1 c2 c3 c4 c5"
    val dir2 = docsDir(Seq(
      row(0, a + " u1 u2 u3 u4 u5"), row(1, a + " e1 e2 e3 e4 e5"),
      row(10, b + " f1 f2 f3 f4 f5"), row(11, b + " g1 g2 g3 g4 g5"),
      row(20, c + " h1 h2 h3 h4 h5"), row(21, c + " i1 i2 i3 i4 i5"),
      row(30, "e1 e2 e3 e4 e5 f1 f2 f3 f4 f5"),   // bridges 1 (A) – 10 (B)
      row(31, "g1 g2 g3 g4 g5 h1 h2 h3 h4 h5")))  // bridges 11 (B) – 20 (C)
    val docs = graft.Tables.documents(spark, dir2)
    val isBatch = col("doc_id") >= 30
    val all = Dedup.neardupEdges(docs)
    val cold = DedupGraph.connectedComponents(all)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val stored = DedupGraph.connectedComponents(
      Dedup.neardupEdges(docs.filter(col("doc_id") < 30)))
    val delta = DedupGraph.connectedComponentsDelta(
        all.filter(col("src") >= 30 || col("dst") >= 30), stored)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(delta == cold,
      s"delta labels must equal the cold recompute: $delta vs $cold")
    assert(cold.values.toSet == Set(0L),
      s"fixture should merge everything into component 0: $cold")
  }

  test("q102: containment flags a short doc embedded in a long one that Jaccard misses") {
    // short doc (12 tokens) fully contained in a 120-token host:
    // containment(short→host) = 1.0 while Jaccard ≈ 10/118 < 0.1 (below
    // q27's emit threshold) — the truncation/quotation case
    val short = (1 to 12).map(i => s"s$i").mkString(" ")
    val host = short + " " + (1 to 108).map(i => s"h$i").mkString(" ")
    val dir = docsDir(Seq(row(1, short), row(2, host)))
    val cont = Dedup.q102.run(spark, dir).collect()
    assert(cont.length == 1)
    val r = cont.head
    assert(r.getLong(0) == 1L && r.getLong(1) == 2L)
    assert(r.getDouble(2) == 1.0, s"containment d1→d2: $r") // all 10 trigrams shared
    val jac = Dedup.q27.run(spark, dir).collect()
    assert(jac.isEmpty, "fixture broken: Jaccard should be under the 0.1 threshold")
  }

  test("q111: longest shared span is found at its exact length, diagonals independent") {
    // docs 1 and 2 share a verbatim 20-token block at DIFFERENT positions
    // (diag ≠ 0) inside otherwise-unique text; doc 3 shares nothing long
    val block = (1 to 20).map(i => s"blk$i").mkString(" ")
    val d1txt = (1 to 7).map(i => s"a$i").mkString(" ") + " " + block + " " +
      (1 to 6).map(i => s"b$i").mkString(" ")
    val d2txt = block + " " + (1 to 12).map(i => s"c$i").mkString(" ")
    val d3txt = (1 to 30).map(i => s"u$i").mkString(" ")
    val dir = docsDir(Seq(row(1, d1txt), row(2, d2txt), row(3, d3txt)))
    val out = graft.QueryRegistry.byName("q111_longest_shared_span")
      .run(spark, dir).collect()
    assert(out.length == 1, s"only the (1,2) pair shares a span: ${out.toSeq}")
    val r = out.head
    assert(r.getLong(0) == 1L && r.getLong(1) == 2L)
    assert(r.getLong(2) == 20L, s"span must be exactly the 20-token block: $r")
  }

  test("q113: sketch containment tracks exact q102 on asymmetric near-dups") {
    // doc 2 = doc 1 + ~45% appended boilerplate: J ≈ 0.69 (LSH surfaces
    // it), exact containment(1→2) = 1.0, (2→1) ≈ 0.69
    val core = (1 to 60).map(i => s"c$i").mkString(" ")
    val tail = (1 to 27).map(i => s"t$i").mkString(" ")
    val dir = docsDir(Seq(row(1, core), row(2, core + " " + tail)))
    val sketch = graft.QueryRegistry.byName("q113_containment_sketch")
      .run(spark, dir).collect()
    assert(sketch.length == 1, s"the pair must surface via LSH: ${sketch.toSeq}")
    val r = sketch.head
    val (c12, c21) = (r.getDouble(3), r.getDouble(4))
    val exact = Dedup.q102.run(spark, dir).collect().head
    val (e12, e21) = (exact.getDouble(2), exact.getDouble(3))
    assert(e12 == 1.0, s"fixture: exact containment 1→2 must be 1.0: $exact")
    // MinHash with 64 hashes: estimate within ~0.2 of exact
    assert(math.abs(c12 - e12) < 0.2, s"est $c12 vs exact $e12")
    assert(math.abs(c21 - e21) < 0.2, s"est $c21 vs exact $e21")
    assert(c12 > c21, "asymmetry direction must be preserved")
  }

  test("q112: planted decoding loops measured at exact lengths") {
    val dir = docsDir(Seq(
      row(1, "p q x x x x r s"), // period-1 run of 4 ("x x x x")
      row(2, "m a b a b a b n"), // period-2 cycle of 6 ("a b a b a b")
      row(3, (1 to 10).map(i => s"u$i").mkString(" ")))) // clean → excluded
    val out = graft.QueryRegistry.byName("q112_repetition_loops")
      .run(spark, dir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(out.keySet == Set(1L, 2L), s"clean doc must be excluded: $out")
    assert(out(1L)._1 == 4L, s"x-run of 4: ${out(1L)}")
    assert(out(2L) == ((1L, 6L)), s"ab-cycle of 6, no immediate repeats: ${out(2L)}")
  }

  test("q103: docs made of seed-positive tokens outscore seed-negative ones") {
    val dir = docsDir(Seq(
      row(1, "good clean prose text here", "src0"),
      row(2, "spam spam junk junk junk", "src1"),
      row(3, "good clean prose text here", "src9"), // scores like the pos seed
      row(4, "spam junk spam junk spam", "src9"))) // scores like the neg seed
    val scores = CurationOps.q103.run(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(scores(3L) > 0, s"positive-seed lookalike must score > 0: $scores")
    assert(scores(4L) < 0, s"negative-seed lookalike must score < 0: $scores")
    assert(scores(3L) > scores(4L))
  }

  test("q104: runs merge left-to-right non-overlapping (odd run keeps tail)") {
    // one doc "a a a a a": winner (a,a) count 4 (overlapping counting),
    // rewrite merges offsets 0 and 2 only → "a_a a_a a" (3 tokens).
    // round 2 over that stream: pairs (a_a,a_a) and (a_a,a) tie at 1 →
    // lexicographic tie-break picks (a_a, a) → "a_a a_a_a" (2 tokens).
    val dir = docsDir(Seq(row(1, "a a a a a")))
    val rows = graft.QueryRegistry.byName("q104_bpe_merges")
      .run(spark, dir).collect()
    assert(rows.length == 2)
    val r1 = rows(0)
    assert((r1.getString(1), r1.getString(2), r1.getLong(3), r1.getLong(4)) ==
      ("a", "a", 4L, 3L), s"round 1: $r1")
    val r2 = rows(1)
    assert((r2.getString(1), r2.getString(2), r2.getLong(3), r2.getLong(4)) ==
      ("a_a", "a", 1L, 2L), s"round 2: $r2")
  }

  test("q104: distinct adjacent pairs merge everywhere they occur") {
    // "x y x y x y": winner (x,y) count 3 (no overlaps among its
    // occurrences) → "x_y x_y x_y" (3 tokens)
    val dir = docsDir(Seq(row(1, "x y x y x y")))
    val rows = graft.QueryRegistry.byName("q104_bpe_merges")
      .run(spark, dir).collect()
    val r1 = rows(0)
    assert((r1.getString(1), r1.getString(2), r1.getLong(3), r1.getLong(4)) ==
      ("x", "y", 3L, 3L), s"round 1: $r1")
  }

  test("q172: a shared-gram 3-clique scores coefficient 1, a chain scores 0") {
    // clique: three docs all containing ONE common 5-gram (df=3 ≤ 50)
    val g = "s1 s2 s3 s4 s5"
    val clique = docsDir(Seq(
      row(1, g + " u1 u2 u3 u4 u5"),
      row(2, g + " v1 v2 v3 v4 v5"),
      row(3, g + " w1 w2 w3 w4 w5")))
    val c = DedupGraph.q172.run(spark, clique).collect().head
    assert((c.getLong(0), c.getLong(1), c.getLong(2), c.getLong(3)) ==
      (3L, 3L, 3L, 1L), s"clique census: $c") // nodes, edges, wedges, tris
    assert(c.getDouble(4) == 1.0)

    // path 0-1-2 (chain fixture): one wedge at the middle, no triangle
    val path = docsDir(chain(3))
    val p = DedupGraph.q172.run(spark, path).collect().head
    assert((p.getLong(1), p.getLong(2), p.getLong(3)) == (2L, 1L, 0L),
      s"path census: $p")
    assert(p.getDouble(4) == 0.0)
  }

  test("q175: LSH recall audit finds the high-Jaccard pair") {
    // docs 1 and 2 share a 57-token core and differ in a 3-token tail:
    // trigram J = 55/61 ~ 0.9016 >= 0.8; doc 3 is disjoint noise that
    // must not enter the exact set
    val core = (1 to 57).map(i => s"c$i").mkString(" ")
    val dir = docsDir(Seq(
      row(1, core + " e1 e2 e3"),
      row(2, core + " f1 f2 f3"),
      row(3, (1 to 40).map(i => s"z$i").mkString(" "))))
    val r = DedupAudit.q175.run(spark, dir).collect().head
    assert(r.getLong(0) == 1L, s"exactly the planted pair: $r")
    assert(r.getBoolean(1), "the identical pair must be in q30's candidates")
  }

  test("kCoreFixpoint: chain dissolves, triangle survives, guard reports non-convergence") {
    // triangle: each doc pair shares exactly one rare 5-gram (spans s1/s2/s3)
    def span(tag: String) = (1 to 5).map(t => s"${tag}x$t").mkString(" ")
    val tri = Seq(
      row(100, span("s1") + " " + span("s3")),
      row(101, span("s1") + " " + span("s2")),
      row(102, span("s2") + " " + span("s3")))
    val dir = docsDir(chain(8) ++ tri)
    val edges = Dedup.neardupEdges(graft.Tables.documents(spark, dir))

    val (core, rounds, converged) = DedupGraph.kCoreFixpoint(edges, k = 2)
    assert(converged, "fixpoint must be reached on this corpus")
    // the 8-path peels away entirely; only the triangle survives
    val survivors = core.select("src").distinct().collect().map(_.getLong(0)).toSet
    assert(survivors == Set(100L, 101L, 102L), s"got $survivors")
    // k-core invariant: every surviving vertex keeps degree >= 2 inside the core
    val minDeg = core.groupBy("src").agg(count(lit(1)).as("dg"))
      .agg(min("dg")).head.getLong(0)
    assert(minDeg >= 2L)
    // a path of 8 peels both endpoints per round: 3 shrinking rounds for the
    // path (8 -> 4 -> 2 -> 0 survivors among chain nodes) + the verification
    // round; the exact count matters less than it being WITHIN the guard
    assert(rounds <= 6, s"took $rounds rounds")

    // guard: maxRounds=1 cannot finish the 8-path — flag must say so
    val (_, _, early) = DedupGraph.kCoreFixpoint(edges, k = 2, maxRounds = 1)
    assert(!early, "1 round cannot converge this graph")

    // bounded-K agreement: on the gate fixture corpus the fixpoint core
    // equals q187's round-3 edge set (the trajectory has converged by 3)
    val sfDir = sf("sf0.001")
    val sfEdges = Dedup.neardupEdges(graft.Tables.documents(spark, sfDir))
    val (sfCore, _, sfConverged) = DedupGraph.kCoreFixpoint(sfEdges, k = 2)
    assert(sfConverged)
    val q187Last = graft.QueryRegistry.byName("q187_kcore_decomposition")
      .run(spark, sfDir).filter(col("peel_round") === 3).head
    val got = (sfCore.select("src").distinct().count(),
      sfCore.filter(col("src") < col("dst")).count())
    assert(got == ((q187Last.getLong(1), q187Last.getLong(2))),
      s"fixpoint core $got != q187 round-3 ${q187Last}")
  }

  test("q168: sketch containment audit holds on the asymmetric fixture") {
    val core = (1 to 60).map(i => s"c$i").mkString(" ")
    val tail = (1 to 27).map(i => s"t$i").mkString(" ")
    val dir = docsDir(Seq(row(1, core), row(2, core + " " + tail)))
    val r = DedupAudit.q168.run(spark, dir).collect().head
    assert(r.getBoolean(1), "the LSH pair must be checked")
    assert(r.getBoolean(2), "estimates must stay within +/-0.2 of exact")
  }

  /** Pre-round-15 TWO-JOB reference fixpoint, byte-faithful to the
    * b31d94b loop: Materialize(prop) per round plus a SEPARATE post-hop
    * label-sum aggregate job. The round-15 fused detector (observe() on
    * the checkpointed PROP table — post-propagation, PRE-hop sum) claims
    * equivalence via a prose monotonicity argument; the property pin
    * below makes that argument mechanical (round-16 verdict item 7).
    */
  private def refCcFixpoint(edges: org.apache.spark.sql.DataFrame,
                            init: org.apache.spark.sql.DataFrame,
                            maxRounds: Int)
      : (org.apache.spark.sql.DataFrame, Int) = {
    import org.apache.spark.sql.types.DecimalType
    var labels = graft.core.Materialize(init)
    def labelSum(l: org.apache.spark.sql.DataFrame): java.math.BigDecimal = {
      val s = l.agg(sum(col("lbl").cast(DecimalType(38, 0))).as("s"))
        .head.getDecimal(0)
      if (s == null) java.math.BigDecimal.ZERO else s
    }
    var prevSum = labelSum(labels)
    var round = 0
    var converged = false
    while (!converged && round < maxRounds) {
      round += 1
      val prop = graft.core.Materialize(
        labels.union(
            edges.join(labels, edges("src") === labels("id"))
              .select(edges("dst").as("id"), labels("lbl")))
          .groupBy("id").agg(min("lbl").as("lbl")))
      val next = prop.join(
          prop.select(col("id").as("__lid"), col("lbl").as("__lbl2")),
          col("lbl") === col("__lid"), "left")
        .select(col("id"), coalesce(col("__lbl2"), col("lbl")).as("lbl"))
      val s = labelSum(next)
      converged = s.compareTo(prevSum) == 0
      prevSum = s
      labels = next
    }
    (labels.select(col("id").as("doc_id"), col("lbl").as("cluster")), round)
  }

  /** Pre-round-16 JOIN-form k-core reference (keep aggregate + two keyed
    * joins per round, separate count job): the production loop folded the
    * degree filter into two count windows over src/dst (one job per
    * round). Equivalence rests on symmetry — deg(v) = |src=v| = |dst=v|
    * on a symmetric edge set; this pin makes it mechanical.
    */
  private def refKCore(edges0: org.apache.spark.sql.DataFrame, k: Int,
                       maxRounds: Int = 50)
      : (org.apache.spark.sql.DataFrame, Int, Boolean) = {
    var cur = graft.core.Materialize(edges0)
    var prevE = cur.count()
    var round = 0
    var converged = prevE == 0L
    while (!converged && round < maxRounds) {
      round += 1
      val keep = graft.core.Materialize(
        cur.groupBy("src").agg(count(lit(1)).as("dg"))
          .filter(col("dg") >= k).select(col("src").as("id")))
      cur = graft.core.Materialize(cur
        .join(keep.select(col("id").as("src")), "src")
        .join(keep.select(col("id").as("dst")), "dst")
        .select("src", "dst"))
      val n = cur.count()
      converged = n == prevE
      prevE = n
    }
    (cur, round, converged)
  }

  test("kCoreFixpoint window form matches the join-form reference on random graphs") {
    import spark.implicits._
    def landedEdges(seed: Int, n: Int, p: Double): org.apache.spark.sql.DataFrame = {
      val rnd = new scala.util.Random(seed)
      val half = for {
        i <- 0 until n; j <- (i + 1) until n if rnd.nextDouble() < p
      } yield (i.toLong, j.toLong)
      val sym = half ++ half.map { case (a, b) => (b, a) }
      val dir = java.nio.file.Files.createTempDirectory("kcoreprop").toString
      sym.toDF("src", "dst").write.mode("overwrite").parquet(s"$dir/e")
      spark.read.parquet(s"$dir/e")
    }
    for ((seed, n, p) <- Seq((11, 24, 0.08), (12, 24, 0.08), (13, 16, 0.30),
      (14, 30, 0.05)); k <- Seq(2, 3)) {
      val edges = landedEdges(seed, n, p)
      val (core, rounds, conv) = DedupGraph.kCoreFixpoint(edges, k)
      val (refCore, refRounds, refConv) = refKCore(edges, k)
      def set(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(set(core) == set(refCore), s"seed=$seed k=$k: edge sets diverge")
      assert(rounds == refRounds && conv == refConv,
        s"seed=$seed k=$k: ($rounds,$conv) vs ($refRounds,$refConv)")
    }
  }

  test("ccFixpoint property pin: fused detector fires on the same round with identical labels (random graphs, local+reliable)") {
    import spark.implicits._
    // random symmetric graphs, landed to parquet
    def landedEdges(seed: Int, n: Int, p: Double): org.apache.spark.sql.DataFrame = {
      val rnd = new scala.util.Random(seed)
      val half = for {
        i <- 0 until n; j <- (i + 1) until n if rnd.nextDouble() < p
      } yield (i.toLong, j.toLong)
      val sym = half ++ half.map { case (a, b) => (b, a) }
      val dir = java.nio.file.Files.createTempDirectory("ccprop").toString
      sym.toDF("src", "dst").write.mode("overwrite").parquet(s"$dir/e")
      spark.read.parquet(s"$dir/e")
    }
    def run(edges: org.apache.spark.sql.DataFrame, mode: String) = {
      spark.conf.set(graft.core.Materialize.ModeKey, mode)
      try {
        val init = edges.select(col("src").as("id")).distinct()
          .select(col("id"), col("id").as("lbl"))
        val (fusedL, fusedR) = DedupGraph.ccFixpoint(edges, init, 50)
        val (refL, refR) = refCcFixpoint(edges, init, 50)
        (fusedL.orderBy("doc_id").collect()
           .map(r => (r.getLong(0), r.getLong(1))).toSeq,
          fusedR,
          refL.orderBy("doc_id").collect()
            .map(r => (r.getLong(0), r.getLong(1))).toSeq,
          refR)
      } finally spark.conf.unset(graft.core.Materialize.ModeKey)
    }
    // LOCAL mode (lineage truncated per round): any graph shape is fair,
    // including sparse path-heavy graphs that need many rounds.
    val localCases = Seq((1, 24, 0.07), (2, 24, 0.07), (3, 24, 0.07),
      (4, 24, 0.30), (5, 16, 0.50), (6, 30, 0.04))
    // Round contract (discovered BY this pin, correcting the round-15
    // prose claim of identical rounds): labels always identical; the
    // fused pre-hop detector may verify ONE round later than the post-hop
    // reference — exactly when the pointer-hop performs the final
    // collapse, whose effect only shows in the next round's prop sum
    // (seed 3 below exercises it: fused 5, reference 4).
    for ((seed, n, p) <- localCases) {
      val edges = landedEdges(seed, n, p)
      val (fl, fr, rl, rr) = run(edges, "local")
      assert(fl == rl, s"seed=$seed local: labels diverge")
      assert(fr == rr || fr == rr + 1,
        s"seed=$seed local: fused detector fired on round $fr, two-job reference on $rr")
    }
    // RELIABLE mode: Dataset.checkpoint() can execute each round's plan
    // twice and so double the observed label sums; the detector compares
    // them only for equality, so labels and rounds must still match. Two
    // shallow graphs (2-3 rounds) keep the per-round checkpoint writes
    // few.
    spark.sparkContext.setCheckpointDir(graft.core.TempDirs.scratch("ccprop-ckpt-"))
    for ((seed, n, p) <- Seq((4, 24, 0.30), (5, 16, 0.50))) {
      val edges = landedEdges(seed, n, p)
      val (fl, fr, rl, rr) = run(edges, "reliable")
      assert(fl == rl, s"seed=$seed reliable: labels diverge")
      assert(fr == rr || fr == rr + 1,
        s"seed=$seed reliable: fused detector fired on round $fr, two-job reference on $rr")
    }
    // degenerate case: an empty edge set must converge identically too
    val empty = landedEdges(99, 4, 0.0)
    for (mode <- Seq("local", "reliable")) {
      val (fl, fr, rl, rr) = run(empty, mode)
      assert(fl == rl && fl.isEmpty)
      assert(fr == rr, s"empty graph: $fr vs $rr")
    }
  }
}
