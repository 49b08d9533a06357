package graft.llmops

import graft.{QuerySpec, Tables}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Persisted DISTINCT-CARDINALITY store — the [[IncrementalDedup]] /
  * [[ClusterStore]] / IdfStore idiom applied to the "how many distinct
  * users/docs has this stream ever seen" question every ingest dashboard
  * asks. Exact distinct-ever needs the full history (a 100 TB rescan per
  * refresh, or an ever-growing exact key set); the mergeable-sketch form
  * keeps ONE fixed-size HLL register array per key (Spark's built-in
  * datasketches `hll_sketch_agg`, lgK = 14 → 16 KiB, ±~0.8% rse) and
  * every increment is one O(batch) aggregate + a keyed register-max
  * union — the landed lake is never read again.
  *
  * Merge contract (why increments are safe): HLL union is register-wise
  * max — associative, commutative, IDEMPOTENT. Replaying a batch cannot
  * inflate the estimate (exactly-once not required for correctness), and
  * union order never matters. The estimator on a union result is the
  * raw-register one (datasketches switches off the HIP accumulator after
  * a union), so a warm estimate can differ from a cold single-stream
  * estimate by small fractions of a percent — the accuracy CONTRACT
  * (±5% of exact, far beyond lgK = 14's rse) is what [[q177]] oracles and
  * CardinalityStoreSpec asserts, alongside idempotence and monotonicity.
  *
  * Store layout: `sketches.parquet` (event_type, sketch BINARY).
  * Commits use the rename-aside [[StoreCommit.swap]] (never overwrite a
  * path being read).
  */
object CardinalityStore {

  val LgK = 14

  private def sketchBatch(events: DataFrame): DataFrame =
    events.groupBy("event_type")
      .agg(hll_sketch_agg(col("user_id"), lit(LgK)).as("sketch"))

  /** Full rebuild over a landed corpus. */
  def build(events: DataFrame, dir: String): Unit =
    sketchBatch(events)
      .write.mode("overwrite").parquet(s"$dir/sketches.parquet")

  /** The sketches the store WOULD hold after `batch` lands (pure form):
    * per-key register-max union of stored and batch sketches; keys seen
    * by only one side pass through. O(batch) + one keyed join against
    * the K-row store — never the history.
    */
  def updatedSketches(spark: SparkSession, dir: String, batch: DataFrame): DataFrame = {
    val stored = spark.read.parquet(s"$dir/sketches.parquet")
      .select(col("event_type"), col("sketch").as("old_sketch"))
    sketchBatch(batch).select(col("event_type"), col("sketch").as("new_sketch"))
      .join(stored, Seq("event_type"), "full_outer")
      .select(col("event_type"),
        when(col("old_sketch").isNull, col("new_sketch"))
          .when(col("new_sketch").isNull, col("old_sketch"))
          .otherwise(hll_union(col("old_sketch"), col("new_sketch")))
          .as("sketch"))
  }

  /** Committing increment, published by the rename-aside
    * [[StoreCommit.swap]] so the store path is never absent mid-commit.
    */
  def update(spark: SparkSession, dir: String, batch: DataFrame): Unit = {
    updatedSketches(spark, dir, batch)
      .write.mode("overwrite").parquet(s"$dir/sketches.parquet.tmp")
    StoreCommit.swap(spark, s"$dir/sketches.parquet")
  }

  /** (event_type, est_users) read off the store — the O(K) dashboard
    * query that replaces the 100 TB rescan. */
  def estimates(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/sketches.parquet")
      .select(col("event_type"),
        hll_sketch_estimate(col("sketch")).as("est_users"))

  /** STREAMING twin: merge every micro-batch into the persisted store via
    * `foreachBatch` — each increment is [[update]]'s O(batch) aggregate +
    * K-row register union, and because HLL union is idempotent a replayed
    * micro-batch after a failure lands the store in the identical state
    * (at-least-once delivery suffices; no txn log needed). The dashboard
    * keeps reading [[estimates]] — O(K) — while the stream runs. State
    * lives in the STORE, not the streaming state store: the query itself
    * is stateless, so there is nothing to watermark or evict.
    */
  def stream(events: DataFrame, dir: String): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    events.writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty) update(batch.sparkSession, dir, batch)
      }

  // -------------------------------------------------------------- q177
  /** One store build per (JVM, sf-dir) — q119's amortization idiom: the
    * bench measures the INCREMENT + estimate read, the cost a pipeline
    * pays per batch. */
  private val builtFor = scala.collection.concurrent.TrieMap.empty[String, String]
  private def storeDir(s: SparkSession, d: String): String =
    builtFor.getOrElseUpdate(d, {
      val dir = graft.core.TempDirs.scratch("graft-cardstore-")
      build(Tables.events(s, d).filter(col("user_id") % 5 =!= 0), dir)
      dir
    })

  /** q177: warm-increment cardinality audit. The store holds users with
    * id % 5 ≠ 0; the batch lands the rest; the merged estimate must sit
    * within ±5% of the EXACT distinct-user count per event type. The
    * estimate itself is deterministic but not ANSI-reproducible (sketch
    * registers), so the oracle row carries the cross-engine EXACT count
    * plus the expected invariant boolean — q168's audit pattern: a
    * register regression, broken union, or store corruption flips the
    * driver row red.
    */
  val q177 = QuerySpec(
    "q177_hll_store_audit",
    (s, d) => {
      val merged = updatedSketches(s, storeDir(s, d),
        Tables.events(s, d).filter(col("user_id") % 5 === 0))
        .select(col("event_type"),
          hll_sketch_estimate(col("sketch")).as("est"))
      val exact = Tables.events(s, d)
        .groupBy("event_type")
        .agg(countDistinct(col("user_id")).as("n_exact_users"))
      exact.join(merged, "event_type")
        .select(col("event_type"), col("n_exact_users"),
          (abs(col("est").cast("double") - col("n_exact_users").cast("double")) /
            col("n_exact_users").cast("double") <= 0.05).as("within_5pct"))
        .orderBy("event_type")
    },
    Some("""SELECT event_type,
              COUNT(DISTINCT user_id) AS n_exact_users,
              true AS within_5pct
            FROM events GROUP BY event_type ORDER BY event_type""")
  )

  val all: Seq[QuerySpec] = Seq(q177)
}
