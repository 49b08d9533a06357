package graft

import org.scalatest.funsuite.AnyFunSuite

/** CI-mechanized form of the per-round anti-pattern scan: every
  * driver-side `.collect()` and every `crossJoin(` in MAIN source must be
  * accounted for in the reviewed tallies below. A new site anywhere —
  * even one — fails this spec until its bound is reviewed and the tally
  * updated, the same review contract PlanGateSpec applies to plan shapes.
  *
  * Why a tally and not a line whitelist: line numbers churn on every
  * edit, but the INVARIANT is per-file ("this file drives its k-row
  * centroid loop from a limit(k) collect, and nothing else collects"),
  * so a per-file count plus its bound-class justification is both stable
  * and reviewable. The physical-plan side of the same contract (a
  * cartesian with no bounded side, an unbounded broadcast) is enforced
  * by PlanGate on every registry query; this spec closes the gap for
  * code paths a registry plan walk cannot see (store mains, tooling,
  * foreachBatch bodies).
  *
  * Counts are raw textual occurrences (code or scaladoc) — comments
  * count too, deliberately: the tally is a tripwire that forces a human
  * review on ANY change to a file's collect/crossJoin surface, not a
  * semantic analysis.
  */
class SourceAuditSpec extends AnyFunSuite {

  private val mainRoot = java.nio.file.Paths.get("src/main/scala/graft")

  private def occurrences(needle: String): Map[String, Int] = {
    val it = java.nio.file.Files.walk(mainRoot).iterator()
    val b = Map.newBuilder[String, Int]
    while (it.hasNext) {
      val p = it.next()
      if (p.toString.endsWith(".scala")) {
        val text = new String(java.nio.file.Files.readAllBytes(p),
          java.nio.charset.StandardCharsets.UTF_8)
        val n = text.sliding(needle.length).count(_ == needle)
        if (n > 0) b += mainRoot.relativize(p).toString -> n
      }
    }
    b.result()
  }

  /** file → (reviewed count, bound argument). Every `.collect()` call in
    * main source pulls a DRIVER-side result; each entry states why that
    * pull is bounded at any corpus size (or is tooling, not an operator).
    */
  private val reviewedCollects: Map[String, (Int, String)] = Map(
    "llmops/CMSStore.scala" -> (2, "ungrouped-aggregate total (1 row) + " +
      "1-row store meta read"),
    "llmops/TopKStore.scala" -> (2, "ungrouped-aggregate total (1 row) + " +
      "1-row store meta read"),
    "llmops/Similarity.scala" -> (3, "k-row centroid/seed pulls behind " +
      "explicit limit(k) / k-means k — model-size, never corpus-size"),
    "llmops/ProductQuant.scala" -> (1, "query batch behind " +
      "limit(maxQueryBatch + 1) with a require on the size"),
    "llmops/CorpusPipeline.scala" -> (1, "fixed decile-grid bound list " +
      "(9 values by the quantile-grid domain)"),
    "llmops/CorpusStats.scala" -> (1, "fixed decile-grid bound list, " +
      "as CorpusPipeline"),
    "llmops/SelectionOps.scala" -> (1, "greedy top-1 pick behind " +
      "limit(1) per round of a bounded-round loop"),
    "operators/Quantiles.scala" -> (2, "group list behind " +
      "limit(maxGroups + 1) with require, + fixed quantile grid"),
    "sink/OffsetNamedSink.scala" -> (1, "per-micro-batch file manifest " +
      "— batch-bounded by admission control"),
    "Bench.scala" -> (2, "bench warm-up probes (tooling main, not an " +
      "operator)"))

  /** file → reviewed `crossJoin(` occurrence count. The class argument,
    * once for all entries: every production crossJoin here pairs a 1-row
    * ungrouped aggregate (global total / min / moments) or a
    * label-domain / query-bounded side, and the PHYSICAL shape is gated
    * by PlanGate's cartesian rule on every registry plan; this tally
    * exists so a NEW cross join cannot land without review.
    */
  private val reviewedCrossJoins: Map[String, Int] = Map(
    "ScaleSmoke.scala" -> 2,
    "llmops/VocabStore.scala" -> 2,
    "llmops/RetrievalOps.scala" -> 2,
    // round-11 pure-move splits (Similarity/Warehouse/PretrainOps):
    // reviewed sites redistributed verbatim, zero new
    "llmops/Clustering.scala" -> 15,
    "llmops/CurationOps.scala" -> 6,
    "llmops/TextAnalysis.scala" -> 2,
    // round-11 pure-move split of Dedup.scala: the 7 reviewed sites
    // redistributed verbatim (1 core + 2 graph + 4 audit), zero new
    "llmops/Dedup.scala" -> 1,
    "llmops/DedupGraph.scala" -> 2,
    "llmops/DedupAudit.scala" -> 4,
    "llmops/ShardOps.scala" -> 1,
    "llmops/CorpusPipeline.scala" -> 1,
    "llmops/SelectionOps.scala" -> 1,
    "llmops/TopKStore.scala" -> 4,
    "llmops/PretrainOps.scala" -> 9,
    "llmops/PretrainViews.scala" -> 3,
    // round-11 pure-move split of CorpusStats.scala: 10 reviewed sites
    // redistributed verbatim (6 core + 2 sim + 2 privacy), zero new
    "llmops/CorpusStats.scala" -> 6,
    "llmops/CorpusSim.scala" -> 2,
    "llmops/PrivacyOps.scala" -> 2,
    "llmops/FeatureStats.scala" -> 1,
    "llmops/BloomStore.scala" -> 2,
    "operators/Warehouse.scala" -> 3,
    "operators/TimeSeries.scala" -> 1,
    "operators/ZOrder.scala" -> 2)

  /** file → reviewed `mapPartitions` occurrence count. Class argument:
    * mapPartitions drops out of whole-stage codegen and hides its
    * expression from Catalyst, so it is reserved for dense fixed-width
    * signature math (hyperplane/PQ codebook distance loops) and byte-level
    * media header parsing — never tokenization or relational logic the
    * optimizer could fuse.
    */
  private val reviewedMapPartitions: Map[String, Int] = Map(
    "llmops/Similarity.scala" -> 8,
    "llmops/ProductQuant.scala" -> 3,
    "llmops/VideoMeta.scala" -> 2,
    // round 12: +4 — synthPng (JDK ImageIO PNG encode) and pngPixelStats
    // (ImageIO pixel decode), both byte-level codec work with the
    // per-partition init slot; per-row work capped at 48 pixels (q249);
    // 2 code sites + 2 scaladoc mentions
    "llmops/ImageMeta.scala" -> 6,
    // round 13: +5 — synthWav (PCM16 WAV byte assembly) and pcmStats
    // (signed-LE16 sample walk), q250's lossless-audio twin of q249;
    // 2 code sites + 3 scaladoc mentions (incl. q250's plan-shape note)
    "llmops/AudioMeta.scala" -> 7,
    // round 12: +1 scaladoc mention (q249's plan-shape note)
    "llmops/Multimodal.scala" -> 4,
    // +1 — the parity sink's one write job: a file-writer loop over one
    // offset-sorted key group at a time (byte/columnar encoding and
    // file I/O, no relational logic); 1 code site
    "sink/OffsetNamedSink.scala" -> 1)

  /** file → (reviewed combined `collect_list`+`collect_set` occurrence
    * count, per-group bound argument). An unbounded array aggregate over
    * a skewed group is a single-executor OOM at 100 TB that neither
    * PlanGate's window rule nor the collect tally can see — the
    * accumulation happens inside a perfectly ordinary hash aggregate.
    * Every entry therefore states what bounds ONE group's array:
    * doc-length, a pre-agg row cap, a session window, or (exactly once,
    * reviewed) the operator's own SQL semantics.
    */
  private val reviewedArrayAggs: Map[String, (Int, String)] = Map(
    "llmops/CurationOps.scala" -> (3, "per-doc (pos, tok) reassembly " +
      "after boilerplate/decontamination stripping — one group = one " +
      "document, array ≤ the document's token count, the same bound " +
      "every shingle window already carries (1 scaladoc mention)"),
    "llmops/PretrainViews.scala" -> (3, "per-doc (pos, tok) rebuild for " +
      "span corruption + per-(doc, chunk) CDC token lists — both " +
      "doc-length-bounded (1 scaladoc mention; moved with the round-11 " +
      "PretrainOps split)"),
    "llmops/CorpusSim.scala" -> (1, "per-doc (df, shingle) list — " +
      "array ≤ shingles per document ≤ doc length (q147, moved with " +
      "the round-11 CorpusStats split)"),
    "llmops/FeatureStats.scala" -> (1, "per-doc (df, shingle) list for " +
      "the rarity-ordered prefix — doc-length-bounded"),
    "operators/Extras.scala" -> (2, "q44 string_agg parity: per-nation " +
      "name list is SF-PROPORTIONAL by string_agg's own SQL semantics — " +
      "the one reviewed corpus-proportional array agg; safe only under " +
      "a selective pre-filter (q44's acctbal > 9000), exactly like any " +
      "engine's string_agg (1 scaladoc mention)"))

  test("every main-source collect_list/collect_set site is reviewed") {
    val actual = {
      val l = occurrences("collect_list")
      val s = occurrences("collect_set")
      (l.keySet ++ s.keySet).map(f =>
        f -> (l.getOrElse(f, 0) + s.getOrElse(f, 0))).toMap
    }
    val expected = reviewedArrayAggs.map { case (f, (n, _)) => f -> n }
    assert(actual == expected,
      s"""array-agg surface changed — review the new/removed site's
         |PER-GROUP bound (doc-length? pre-agg cap? session window?) and
         |update reviewedArrayAggs.
         |unexpected: ${(actual.toSet -- expected.toSet).toSeq.sorted}
         |missing:    ${(expected.toSet -- actual.toSet).toSeq.sorted}""".stripMargin)
  }

  test("every main-source mapPartitions site is reviewed") {
    val actual = occurrences("mapPartitions")
    assert(actual == reviewedMapPartitions,
      s"""mapPartitions surface changed — review the new/removed site (is
         |it dense fixed-width math or byte parsing, not relational
         |logic?) and update reviewedMapPartitions.
         |unexpected: ${(actual.toSet -- reviewedMapPartitions.toSet).toSeq.sorted}
         |missing:    ${(reviewedMapPartitions.toSet -- actual.toSet).toSeq.sorted}""".stripMargin)
  }

  test("every main-source .collect() site is reviewed") {
    val actual = occurrences(".collect()")
    val expected = reviewedCollects.map { case (f, (n, _)) => f -> n }
    assert(actual == expected,
      s"""collect() surface changed — review the new/removed site's bound
         |and update reviewedCollects.
         |unexpected: ${(actual.toSet -- expected.toSet).toSeq.sorted}
         |missing:    ${(expected.toSet -- actual.toSet).toSeq.sorted}""".stripMargin)
  }

  test("every main and spec the docs name has a file under src") {
    val sources = {
      val it = java.nio.file.Files.walk(java.nio.file.Paths.get("src")).iterator()
      val b = Set.newBuilder[String]
      while (it.hasNext) b += it.next().getFileName.toString
      b.result()
    }
    val named = for {
      doc <- Seq("README.md", "STATUS.md", ".claude/skills/verify/SKILL.md")
      text = new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(doc)),
        java.nio.charset.StandardCharsets.UTF_8)
      m <- """runMain graft\.(\w+)|\b(\w+Spec)\b""".r.findAllMatchIn(text)
    } yield doc -> Option(m.group(1)).getOrElse(m.group(2))
    val missing = named.distinct.filterNot { case (_, n) => sources(s"$n.scala") }
    assert(missing.isEmpty, s"docs name mains or specs that do not exist: $missing")
  }

  test("every main-source crossJoin site is reviewed") {
    val actual = occurrences("crossJoin(")
    assert(actual == reviewedCrossJoins,
      s"""crossJoin surface changed — review the new/removed site (is one
         |side a 1-row aggregate or label-domain table?) and update
         |reviewedCrossJoins.
         |unexpected: ${(actual.toSet -- reviewedCrossJoins.toSet).toSeq.sorted}
         |missing:    ${(reviewedCrossJoins.toSet -- actual.toSet).toSeq.sorted}""".stripMargin)
  }
}
