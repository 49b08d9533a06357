package graft.llmops

import graft.{QuerySpec, Tables}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.operators.Ops.{asciiLower, asciiLowerSql, fanOut}

/** Persisted VOCABULARY store — the [[CardinalityStore]] / [[ClusterStore]]
  * store idiom applied to [[ShardOps.q199]]'s question asked continuously:
  * as batches land, which terms are NEW, and how fast is the vocabulary
  * curve still growing? Recomputing first-occurrences cold is a full-corpus
  * tokenize per refresh; the store keeps ONE row per distinct term —
  * `(term, first_id)`, the smallest doc_id that ever contained it — and
  * every increment is one O(batch) tokenize + a term-keyed min-merge
  * against the store. The landed lake is never read again.
  *
  * Merge contract (why increments are safe): per-term `min(first_id)` is
  * associative, commutative, IDEMPOTENT — replaying a batch cannot change
  * any minimum, and landing order never matters (a term's first_id is its
  * global minimum regardless of which batch introduced it). That makes the
  * warm store BIT-IDENTICAL to a cold full recompute — not approximately:
  * [[q201]] oracles the equality and VocabStoreSpec asserts it per epoch.
  *
  * Store size is the VOCABULARY, not the corpus — Heaps' law says that
  * grows sublinearly (q199 measures the exponent), so the store stays a
  * small fraction of the data it summarizes at any scale.
  *
  * Store layout: `terms.parquet` (term, first_id). Commits use
  * the crash-narrowed rename-aside [[StoreCommit.swap]].
  */
object VocabStore {

  /** (term, first_id) for one batch of documents. */
  private def termFirst(docs: DataFrame): DataFrame =
    fanOut(docs)
      .select(col("doc_id"), explode(split(asciiLower(col("text")), " ")).as("term"))
      .filter(col("term") =!= "")
      .groupBy("term").agg(min("doc_id").as("first_id"))

  /** Full rebuild over a landed corpus. */
  def build(docs: DataFrame, dir: String): Unit =
    termFirst(docs).write.mode("overwrite").parquet(s"$dir/terms.parquet")

  /** The term table the store WOULD hold after `batch` lands (pure form):
    * term-keyed min-merge of stored and batch first-occurrences. O(batch
    * vocabulary) + one keyed join against the store — never the history.
    */
  def updatedTerms(spark: SparkSession, dir: String, batch: DataFrame): DataFrame = {
    val stored = spark.read.parquet(s"$dir/terms.parquet")
      .select(col("term"), col("first_id").as("old_first"))
    termFirst(batch).select(col("term"), col("first_id").as("new_first"))
      .join(stored, Seq("term"), "full_outer")
      .select(col("term"),
        least(coalesce(col("old_first"), col("new_first")),
          coalesce(col("new_first"), col("old_first"))).as("first_id"))
  }

  /** Committing increment, published by the rename-aside
    * [[StoreCommit.swap]] so the store path is never absent mid-commit.
    */
  def update(spark: SparkSession, dir: String, batch: DataFrame): Unit = {
    updatedTerms(spark, dir, batch)
      .write.mode("overwrite").parquet(s"$dir/terms.parquet.tmp")
    StoreCommit.swap(spark, s"$dir/terms.parquet")
  }

  /** The dashboard read: what fraction of the batch's distinct terms are
    * NEW to the store (novelty → 0 means the source is exhausted —
    * q142's curve, served from the store instead of a corpus window).
    */
  def newTermRate(spark: SparkSession, dir: String, batch: DataFrame): DataFrame = {
    val stored = spark.read.parquet(s"$dir/terms.parquet").select("term")
    val bt = termFirst(batch).select("term")
    bt.join(stored, Seq("term"), "left_anti")
      .agg(count(lit(1)).as("n_new"))
      .crossJoin(bt.agg(count(lit(1)).as("n_batch_terms")))
      .select(col("n_batch_terms"), col("n_new"))
  }

  /** STREAMING twin — [[CardinalityStore.stream]]'s shape: merge every
    * micro-batch into the persisted store via `foreachBatch`. Min-merge
    * idempotence means a replayed micro-batch after a failure lands the
    * store in the IDENTICAL state (at-least-once delivery suffices), and
    * [[newTermRate]] keeps serving the novelty dashboard while the
    * stream runs. State lives in the STORE, not the streaming state
    * store: the query itself is stateless — nothing to watermark.
    */
  def stream(docs: DataFrame, dir: String): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    docs.writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty) update(batch.sparkSession, dir, batch)
      }

  // ------------------------------------------------------------- store dir
  private val builtFor = scala.collection.concurrent.TrieMap.empty[String, String]
  private def storeDir(s: SparkSession, d: String): String =
    builtFor.getOrElseUpdate(d, {
      val dir = graft.core.TempDirs.scratch("graft-vocabstore-")
      build(Tables.documents(s, d).filter(col("doc_id") % 2 === 0), dir)
      dir
    })

  // --------------------------------------------------------------- q201
  /** Warm-increment vocabulary audit — [[q177]]'s shape for the exact
    * store: the store holds even doc_ids, the batch lands the odd ones,
    * and the merged term table must equal the COLD full-corpus
    * first-occurrence computation bit-for-bit (the min-merge idempotence
    * contract — no tolerance band, unlike the HLL store). DuckDB
    * recomputes the cold side exactly: distinct-term count and the exact
    * sum of all first_ids (a checksum any dropped/duplicated/mis-merged
    * term perturbs); the equality boolean is Spark's full-outer anti
    * count pinned TRUE.
    */
  val q201 = QuerySpec(
    "q201_vocab_store_audit",
    (s, d) => {
      val warm = updatedTerms(s, storeDir(s, d),
        Tables.documents(s, d).filter(col("doc_id") % 2 === 1))
      val cold = termFirst(Tables.documents(s, d))
      val mismatch = warm.select(col("term"), col("first_id").as("w"))
        .join(cold.select(col("term"), col("first_id").as("c")),
          Seq("term"), "full_outer")
        .filter(col("w").isNull || col("c").isNull || col("w") =!= col("c"))
      cold.agg(count(lit(1)).as("n_terms"),
          sum("first_id").cast("long").as("sum_first_ids"))
        .crossJoin(mismatch.agg((count(lit(1)) === 0).as("store_matches_cold")))
    },
    Some(s"""WITH tf AS (
              SELECT t.term, MIN(doc_id) AS first_id
              FROM documents,
                unnest(string_split(${asciiLowerSql("text")}, ' ')) AS t(term)
              WHERE t.term <> ''
              GROUP BY t.term)
            SELECT COUNT(*) AS n_terms,
              CAST(SUM(first_id) AS BIGINT) AS sum_first_ids,
              true AS store_matches_cold
            FROM tf""")
  )

  val all: Seq[QuerySpec] = Seq(q201)
}
