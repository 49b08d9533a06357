package graft.plans

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution._
import org.apache.spark.sql.execution.aggregate.{HashAggregateExec, ObjectHashAggregateExec, SortAggregateExec}
import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}
import org.apache.spark.sql.execution.window.{WindowExec, WindowGroupLimitExec}

/** Mechanical plan-quality contract — the CI-enforced version of the
  * scaladoc cardinality arguments this repo attaches to every global
  * window and cross join. The reference's whole design is deterministic
  * plumbing that cannot silently degrade (its sink state machine); the
  * analytics engine's equivalent is a plan contract: no operator shape
  * that stops scaling at 100 TB may enter the registry unreviewed.
  *
  * Violations flagged on the pre-AQE physical plan (`sparkPlan` — the
  * strategy outcome, before exchange insertion):
  *
  *   - `global-window`: a [[WindowExec]] with an EMPTY partitionSpec
  *     (WindowExec moves ALL input rows to one partition) whose input
  *     subtree is not structurally BOUNDED (see below). A bounded global
  *     window sorts a provably small set — fine; an unbounded one sorts
  *     the corpus in one task.
  *   - `bnl-join`: a [[BroadcastNestedLoopJoinExec]] whose BUILD side is
  *     not bounded (broadcasting a data-sized relation, quadratic probe).
  *   - `cartesian`: a [[CartesianProductExec]] with neither side bounded.
  *
  * BOUNDED (recursive): the node is a limit ([[GlobalLimitExec]],
  * [[LocalLimitExec]], [[TakeOrderedAndProjectExec]], [[CollectLimitExec]],
  * [[WindowGroupLimitExec]] — rank-limit pushdown output is ≤ its limit
  * per partition), an ungrouped aggregate (exactly 1 row), a literal
  * relation ([[LocalTableScanExec]], [[RangeExec]] — driver-embedded
  * data, never a lake scan), or ALL its children are bounded
  * (narrow/generator/join/union of bounded inputs stays bounded up to
  * constant factors — generators here explode fixed-width literal
  * structs, not data-sized arrays).
  *
  * [[RDDScanExec]] is deliberately NOT bounded: `graft.core.Materialize`
  * (localCheckpoint) rewrites ANY subtree — including a corpus-sized
  * sketch table — into an RDD scan, so trusting RDD scans made every
  * post-Materialize plan vacuously bounded (and let one genuinely
  * corpus-shaped rank window ride through the round-7 gate). A
  * Materialized table that IS provably small re-states its bound at the
  * call site with a `.limit(n)` cardinality witness (semantic no-op —
  * e.g. a `limit(1)` winner row or a `k`-row center set), which the
  * structural rule then sees as [[GlobalLimitExec]].
  *
  * The structural rule cannot prove VALUE-DOMAIN bounds (a window over
  * the distinct values of a probability grid is bounded by the domain,
  * not the plan shape) — those exemptions live in the gate's caller as
  * an explicit reviewed whitelist, one justification per name
  * (PlanGateSpec), not as scaladoc promises.
  */
object PlanGate {

  final case class Violation(kind: String, node: String) {
    override def toString = s"$kind: $node"
  }

  private def isUngroupedAgg(p: SparkPlan): Boolean = p match {
    case a: HashAggregateExec       => a.groupingExpressions.isEmpty
    case a: ObjectHashAggregateExec => a.groupingExpressions.isEmpty
    case a: SortAggregateExec       => a.groupingExpressions.isEmpty
    case _                          => false
  }

  /** Structurally bounded output cardinality (constant-factor, never
    * corpus-sized) — see object doc for the rule.
    */
  def bounded(p: SparkPlan): Boolean = p match {
    case _: GlobalLimitExec | _: LocalLimitExec | _: TakeOrderedAndProjectExec |
        _: CollectLimitExec | _: WindowGroupLimitExec => true
    case _: LocalTableScanExec | _: RangeExec => true
    case a if isUngroupedAgg(a) => true
    case other => other.children.nonEmpty && other.children.forall(bounded)
  }

  // ------------------------------------------------- broadcast-hint rule
  import org.apache.spark.sql.catalyst.plans.logical.{Aggregate => LAggregate,
    GlobalLimit => LGlobalLimit, LocalLimit => LLocalLimit,
    LocalRelation => LLocalRelation, LogicalPlan, OneRowRelation,
    Range => LRange, ResolvedHint}

  /** Logical-plan boundedness for the hint rule (mirrors [[bounded]];
    * checked on the ANALYZED plan, where ResolvedHint nodes still exist).
    */
  private def lBounded(p: LogicalPlan): Boolean = p match {
    case _: LGlobalLimit | _: LLocalLimit | _: LLocalRelation |
        _: OneRowRelation | _: LRange => true
    case a: LAggregate if a.groupingExpressions.isEmpty => true
    case other => other.children.nonEmpty && other.children.forall(lBounded)
  }

  /** `bcast-hint` violations: explicit broadcast() hints whose side is
    * not structurally bounded. Catalyst's own stats-driven broadcasts are
    * out of scope — those self-correct when a table outgrows
    * `autoBroadcastJoinThreshold`; an explicit hint overrides stats
    * FOREVER, so a hint on a corpus-grain relation is a driver OOM at
    * 100 TB that no local test can see (the class the round-7 review
    * caught by hand on a corpus-row broadcast).
    *
    * Round-9 tightening: the previous key-domain-aggregate auto-pass
    * (any grouped aggregate beneath the hint) is GONE. It proved only
    * that the GRAIN was visible in the plan, not that the domain is
    * small — a per-term aggregate (vocab grows with the corpus by
    * Heaps' law) passed mechanically. Every hinted side that is not
    * structurally bounded now requires a per-name entry in
    * PlanGateSpec's `reviewedBroadcastHints` whitelist stating its
    * domain bound, the same review contract as the window whitelist.
    */
  def hintViolations(df: DataFrame): Seq[Violation] = {
    val out = Seq.newBuilder[Violation]
    df.queryExecution.analyzed.foreach {
      case h: ResolvedHint if h.hints.strategy.contains(
          org.apache.spark.sql.catalyst.plans.logical.BROADCAST) =>
        if (!lBounded(h.child))
          out += Violation("bcast-hint", h.child.nodeName)
      case _ =>
    }
    out.result()
  }

  // ------------------------------------------------------ plan-shape ledger
  import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
  import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
  import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ShuffleExchangeExec}
  import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, SortMergeJoinExec}

  /** Column names of `plans/ledger.tsv` (PLANS.md has the legend). */
  val ledgerHeader: String = Seq("query", "exchange", "bcast_exchange",
    "smj", "bhj", "nl_join", "window", "rdd_scan", "parquet_scan",
    "read_width", "violations").mkString("\t")

  /** `name`'s row of the plan-shape ledger: operator counts of the plan
    * Spark starts from (the executed plan, or under AQE the adaptive
    * node's initial plan: planning only, nothing runs, and AQE's run-time
    * re-planning never shows), then the [[hintViolations]] and
    * [[violations]] kinds with their counts (`-` for none).
    */
  def ledgerRow(name: String, df: DataFrame): String = {
    val plan = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.initialPlan
      case p => p
    }
    def count(pf: PartialFunction[SparkPlan, Int]) = plan.collect(pf).sum
    val parquet = plan.collect {
      case s: FileSourceScanExec if s.relation.fileFormat.isInstanceOf[ParquetFileFormat] => s
    }
    val kinds = (hintViolations(df) ++ violations(df)).groupBy(_.kind).toSeq
      .sortBy(_._1).map { case (kind, vs) => s"$kind:${vs.size}" }
    (name +: Seq(
      count { case _: ShuffleExchangeExec => 1 },
      count { case _: BroadcastExchangeExec => 1 },
      count { case _: SortMergeJoinExec => 1 },
      count { case _: BroadcastHashJoinExec => 1 },
      count { case _: BroadcastNestedLoopJoinExec | _: CartesianProductExec => 1 },
      count { case _: WindowExec => 1 },
      count { case _: RDDScanExec => 1 },
      parquet.size,
      parquet.map(_.requiredSchema.length).sum).map(_.toString) :+
      (if (kinds.isEmpty) "-" else kinds.mkString(","))).mkString("\t")
  }

  /** All contract violations in `df`'s pre-AQE physical plan. */
  def violations(df: DataFrame): Seq[Violation] = {
    val out = Seq.newBuilder[Violation]
    df.queryExecution.sparkPlan.foreach {
      case w: WindowExec if w.partitionSpec.isEmpty && !bounded(w.child) =>
        out += Violation("global-window", w.simpleString(100))
      case j: BroadcastNestedLoopJoinExec =>
        val build = j.buildSide match {
          case org.apache.spark.sql.catalyst.optimizer.BuildLeft  => j.left
          case org.apache.spark.sql.catalyst.optimizer.BuildRight => j.right
        }
        if (!bounded(build)) out += Violation("bnl-join", j.simpleString(100))
      case c: CartesianProductExec if !bounded(c.left) && !bounded(c.right) =>
        out += Violation("cartesian", c.simpleString(100))
      case _ =>
    }
    out.result()
  }
}
