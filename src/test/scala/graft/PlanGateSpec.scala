package graft

import graft.plans.PlanGate

/** CI-enforced plan contract over the WHOLE query registry (round-7
  * verdict item 1): every query's pre-AQE physical plan at sf0.001 must
  * be free of unpartitioned WindowExec over unbounded input, nested-loop
  * joins with unbounded build sides, and cartesian products with no
  * bounded side — the operator shapes that stop scaling at 100 TB.
  * Structure proves most queries (limits, 1-row aggregates, literal
  * grids); the rest carry a VALUE-DOMAIN exemption here, each a reviewed
  * line with its cardinality argument, not a scaladoc promise.
  */
class PlanGateSpec extends SparkTestBase {

  /** Value-domain exemptions: global windows whose input cardinality is
    * bounded by a DOMAIN the plan shape cannot express. Each entry states
    * the bound. An entry must name the query exactly; remove it and the
    * gate fails the query again.
    */
  private val valueDomainWindows: Map[String, String] = Map(
    "q157_cumulative_actives" -> ("cumulative window over the per-DAY " +
      "aggregate — bounded by the calendar-day domain (≤ tens of " +
      "thousands of rows at any corpus size), never the event stream"),
    "q176_peak_concurrency" -> ("running-sum window over per-day " +
      "boundary deltas — day-domain bounded, as q157"),
    "q161_benford_audit" -> ("global total over the groupBy(first_digit) " +
      "table — exactly 9 rows by the digit domain"),
    "q166_ks_distance" -> ("dual CDF windows over the DISTINCT metric " +
      "values of the two samples — value-domain bounded (the quantized " +
      "score grid), audited in round-6/7 verdicts"),
    "q200_pareto_front" -> ("running-max sweep over groupBy(n_tokens) — " +
      "bounded by the document-LENGTH domain, not the corpus (the " +
      "operator exists to replace the quadratic dominance anti-join)"),
    "q203_source_lang_mi" -> ("global sums over the source×lang " +
      "contingency table — bounded by the label-domain product"),
    "q217_t_closeness" -> ("srcs × langs cross join — both sides are " +
      "label-domain aggregates (|sources| × |langs| cells)"),
    "q235_mann_whitney_auc" -> ("rank-sum window over the DISTINCT " +
      "value domain of the score grid, audited in the round-7 verdict"),
    // The four entries below surfaced when RDDScanExec was removed from
    // the bounded set (Materialize had been vacuously proving every
    // post-checkpoint subtree): each is a value-domain or query-bounded
    // shape the structural rule cannot express, reviewed here.
    "q165_rank_fusion" -> ("rank windows over the query-MATCHED doc " +
      "subset (docs containing a query term) — query-bounded; unlike " +
      "q211's depth-10 selection, RRF semantically needs the FULL-depth " +
      "rank of every matched doc (each contributes 1/(60+rank) to the " +
      "fused score), so a TakeOrdered truncation changes results; " +
      "accepted as query-bounded in the round-7 verdict's window audit"),
    "q199_vocab_growth" -> ("cumulative windows over the groupBy(bucket) " +
      "aggregate — exactly 10 rows by the decile-bucket domain (the " +
      "round-7 verdict's own audit: 'q199 over 10 buckets')"),
    "q206_token_waterfill" -> ("cross join of source-grain aggregates " +
      "(the water-filling λ search) — every side is bounded by the " +
      "SOURCE label domain, the same bound class as q217's whitelisted " +
      "srcs × langs grid; no constant limit is provable, so the " +
      "structural witness idiom does not apply"),
    "q228_w1_drift" -> ("CDF windows + total cross join over the " +
      "(source × distinct value) contingency table — value-domain " +
      "bounded, audited as such in the round-7 verdict's window audit"))

  /** Reviewed broadcast-hint exemptions ([[PlanGate.hintViolations]]):
    * explicit broadcast() hints whose bound the plan cannot express.
    * Base-relation hints were REMOVED instead of listed (stats-driven
    * selection self-corrects at scale; a hint overrides it forever) —
    * every entry here is a hint that is load-bearing (stats would
    * over-estimate the side) AND whose side is bounded by something
    * outside the plan: an eval corpus, an ingest batch, a query, a
    * label domain.
    *
    * Round 9 (verdict item 1): the gate's grouped-aggregate auto-pass is
    * deleted, so every key-domain-aggregate hint now sits here with its
    * GRAIN argument — the review proves the domain is small, not merely
    * visible. The sweep that populated these entries also found four
    * hints whose grain is NOT bounded (q83's duplicated-fingerprint
    * table: corpus-grain; q98's hot-gram set and q103/q180's NB token
    * model: vocab-grain by Heaps' law) — those were DE-HINTED, not
    * listed, so stats decide (broadcast small, shuffle at scale).
    */
  private val reviewedBroadcastHints: Map[String, String] = Map(
    "q08_join_broadcast" -> ("the OPERATOR under test is the explicit " +
      "broadcast hint itself (SURVEY §2.8 Q8); the side is the " +
      "brand-filtered part dimension"),
    "q58_decontamination" -> ("broadcast side is the EVAL suite's " +
      "distinct gram set — bounded by the evaluation corpus, fixed and " +
      "tiny relative to the training corpus being swept; stats " +
      "over-estimate a Deduplicate, so the hint is load-bearing"),
    "q91_bloom_decontamination" -> "same eval-gram-set bound as q58",
    "q100_contamination_by_suite" -> "same eval-gram-set bound as q58",
    "q109_span_decontamination" -> "same eval-gram-set bound as q58",
    "q73_incremental_exact_dedup" -> ("broadcast side is the ingest " +
      "micro-batch (and its fingerprints) probed against the landed " +
      "store — batch-bounded by admission control, the incremental-" +
      "dedup design point (store ≫ batch is the whole asymmetry)"),
    "q74_incremental_neardup" -> ("batch-bounded like q73: the batch " +
      "signatures/bands and the candidate ids they select"),
    "q248_incremental_neardup_audit" -> ("batch-bounded like q74 — the " +
      "same candidatesAgainstStore broadcast of the increment's band " +
      "rows; the degenerate one-bucket config is audit-only and " +
      "require-gated (oneBucketBands auditOnly)"),
    "q148_bm25_store" -> ("broadcast side is the query-term posting " +
      "slice of the landed BM25 store (3 terms) — query-bounded, the " +
      "same bound class as q165's whitelisted windows"),
    "q196_pq_recall_audit" -> ("broadcast sides are the |Q|-row query " +
      "trio and the ≤ |Q|·shortlist PQ candidate ids — rerank-contract " +
      "bounded (shortlist = 50, |Q| = 3)"),
    "q206_token_waterfill" -> ("source-domain water-filling tables — " +
      "the same label-domain bound as its window exemption above"),
    "q215_centroid_outliers" -> ("label×dim-grain Materialized " +
      "component sums — value-domain bounded; the checkpoint hides the " +
      "aggregate grain from the mechanical rule"),
    // Former key-domain-aggregate auto-passes, each reviewed with its
    // grain argument when the auto-pass was deleted (round 9, verdict
    // item 1):
    "q70_length_outlier_trim" -> ("per-LANG p95 cutoffs — language " +
      "label domain (dozens of values at any corpus size)"),
    "q71_temperature_mixture" -> ("per-LANG temperature rates — " +
      "language label domain"),
    "q80_vocab_coverage" -> ("per-LANG token totals — language label " +
      "domain"),
    "q107_bm25" -> ("document frequencies of the 3 QUERY terms (the " +
      "term column is isin-filtered before the aggregate) — " +
      "query-bounded, ≤ |query| rows"),
    "q122_event_transitions" -> ("per-from_type transition totals — " +
      "event_type label domain"),
    "q137_token_entropy" -> ("per-SOURCE token totals — source label " +
      "domain"),
    "q140_neyman_sample" -> ("per-SOURCE Neyman weights and rates — " +
      "source label domain"),
    "q164_cusum_changepoint" -> ("per-event_type series totals — " +
      "event_type label domain"),
    "q165_rank_fusion" -> ("document frequencies of the 3 QUERY terms " +
      "(tf is isin-filtered to the query before the aggregate) — " +
      "query-bounded, as q107"),
    "q174_mad_outliers" -> ("per-event_type median and MAD — " +
      "event_type label domain (three hints, one grain)"),
    "q183_weekly_seasonality" -> ("per-event_type totals joined to the " +
      "event_type×7-dow grid — label-domain bounded"),
    "q202_scalar_quant_audit" -> ("per-DIM min/max ranges — bounded by " +
      "the embedding dimensionality (fixed by the model, not the " +
      "corpus)"),
    "q211_rbo_rank_agreement" -> ("query-term document frequencies and " +
      "the 1-row depth table — query-bounded, as q107/q165"),
    "q217_t_closeness" -> ("per-LANG and per-SOURCE marginals of the " +
      "source×lang contingency grid — label-domain product, the same " +
      "bound as its window exemption above"),
    "q221_bloom_bits_audit" -> ("the Bloom store's word table — FIXED " +
      "sketch size (m/64 rows, set at store build time, independent of " +
      "corpus size)"),
    "q228_w1_drift" -> ("per-SOURCE totals and the distinct-value " +
      "spine of the quantized score grid — label/value-domain bounded, " +
      "the same bound as its window exemption above"),
    "q231_cms_audit" -> ("the CMS store's counter table — FIXED sketch " +
      "size (depth×width counters, set at store build time)"))

  /** One query's planned results: kept small, because a DataFrame would
    * keep its checkpoint blocks alive for the rest of the run.
    */
  private final case class Planned(
      hints: Seq[PlanGate.Violation], violations: Seq[PlanGate.Violation], row: String)

  /** Every registry query built and planned once per run, at sf0.001; a
    * query that fails to build keeps its error message.
    */
  private lazy val planned: Map[String, Either[String, Planned]] = {
    val dir = sf("sf0.001")
    QueryRegistry.all.map { q =>
      q.name -> (try {
        val df = q.run(spark, dir)
        Right(Planned(PlanGate.hintViolations(df), PlanGate.violations(df),
          PlanGate.ledgerRow(q.name, df)))
      } catch { case e: Throwable => Left(String.valueOf(e.getMessage)) })
    }.toMap
  }

  private def plannedOrFail(n: String): Planned =
    planned(n).fold(e => fail(s"$n failed to plan: $e"), identity)

  private def sweep(rule: Planned => Seq[PlanGate.Violation],
                    exempt: Map[String, String]): Unit = {
    val failures = QueryRegistry.all.flatMap { q =>
      val vs = planned(q.name).fold(e => Seq(PlanGate.Violation("plan-error", e)), rule)
      if (vs.isEmpty || exempt.contains(q.name)) Nil
      else Seq(q.name -> vs)
    }
    assert(failures.isEmpty, failures.map { case (n, vs) =>
      s"\n$n:\n  ${vs.mkString("\n  ")}"
    }.mkString)
  }

  test("registry plans: no unreviewed broadcast hints") {
    sweep(_.hints, reviewedBroadcastHints)
  }

  test("broadcast-hint whitelist entries are live") {
    reviewedBroadcastHints.keys.foreach { n =>
      assert(QueryRegistry.all.exists(_.name == n), s"stale hint whitelist entry: $n")
      assert(plannedOrFail(n).hints.nonEmpty,
        s"hint whitelist entry $n no longer violates — remove the exemption")
    }
  }

  test("registry plans: no unbounded global window / BNL join / cartesian") {
    sweep(_.violations, valueDomainWindows)
  }

  test("whitelist entries are live (no stale exemptions)") {
    valueDomainWindows.keys.foreach { n =>
      assert(QueryRegistry.all.exists(_.name == n), s"stale whitelist entry: $n")
      assert(plannedOrFail(n).violations.nonEmpty,
        s"whitelist entry $n no longer violates — remove the exemption")
    }
  }

  /** `plans/ledger.tsv` is the registry's committed plan shape, one row per
    * query ([[PlanGate.ledgerRow]]); a plan change shows as a row diff.
    */
  test("plan-shape ledger matches plans/ledger.tsv") {
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    val fresh = PlanGate.ledgerHeader +: QueryRegistry.all.map(_.name).sorted.map { n =>
      planned(n).fold(e => s"$n\tplan-error: $e", _.row)
    }
    val committedPath = Paths.get("plans", "ledger.tsv")
    val committed =
      if (Files.exists(committedPath)) Files.readAllLines(committedPath).asScala.toSeq
      else Nil
    if (fresh != committed) {
      val out = Paths.get("target", "plans-ledger.tsv")
      Files.createDirectories(out.getParent)
      Files.write(out, fresh.asJava)
      def keyed(rows: Seq[String]) = rows.map(r => r.takeWhile(_ != '\t') -> r).toMap
      val (was, now) = (keyed(committed), keyed(fresh))
      val changed = (was.keySet ++ now.keySet).toSeq.sorted
        .filter(k => was.get(k) != now.get(k))
        .map(k => s"\n  $k\n    committed: ${was.getOrElse(k, "(none)")}" +
          s"\n    now:       ${now.getOrElse(k, "(none)")}")
      fail(s"${changed.size} row(s) of $committedPath differ from the plans:" +
        changed.mkString + s"\nif the change is intended: cp $out $committedPath")
    }
  }
}
