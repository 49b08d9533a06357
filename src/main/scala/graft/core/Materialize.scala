package graft.core

import org.apache.spark.sql.DataFrame

/** The ONE materialization point for intermediate tables that feed multiple
  * plan consumers (both sides of a candidate self-join, a sketch table read
  * three times) and for the per-round lineage cut of the iterative
  * operators (the CC / k-core fixpoints). Every caller goes through
  * [[Materialize.apply]] instead of hard-coding `localCheckpoint()` so the
  * strategy is a deployment choice, not a code change.
  *
  * Failure-tolerance contract (set `spark.graft.materialize.mode`):
  *
  *   - `local` (default): `localCheckpoint()` — eager, truncates lineage,
  *     blocks are scoped to the query plan and reclaimed by the
  *     ContextCleaner (no global CacheManager entry to `clearCache()`).
  *     NOT failure-tolerant: local checkpoint blocks live only on their
  *     executor, so on a multi-node cluster a lost executor FAILS the query
  *     (lineage is gone — Spark cannot recompute). Correct for local[n] and
  *     for clusters where re-running a failed job beats paying replication.
  *   - `reliable`: `checkpoint()` — eager write to the reliable checkpoint
  *     directory (`SparkContext.setCheckpointDir`, typically HDFS/object
  *     store). Survives executor AND node loss; the right mode for a
  *     multi-hour 100 TB dedup job where one lost node must not kill the
  *     run. Costs one distributed write + read of the sketch table, and
  *     the checkpoint may execute the plan twice (see the EQUALITY-ONLY
  *     note in `DedupGraph.ccFixpoint`).
  *
  * Both modes are eager and cut lineage: the plan has run when [[apply]]
  * returns (so an `observe()` planted on it is fulfilled), and every
  * downstream consumer reads the materialized blocks instead of
  * recomputing it (q27's capped shingle set feeds three consumers;
  * recomputing a MinHash sketch per consumer doubles the dominant
  * aggregation).
  */
object Materialize {
  val ModeKey = "spark.graft.materialize.mode"

  def apply(df: DataFrame): DataFrame =
    df.sparkSession.conf.get(ModeKey, "local") match {
      case "local" => df.localCheckpoint()
      case "reliable" => df.checkpoint()
      case m => throw new IllegalArgumentException(
        s"$ModeKey must be local|reliable, got '$m'")
    }
}
