package graft.llmops

import graft.{QuerySpec, Tables}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Persisted near-dup cluster labels — the production twin of q108.
  *
  * q108 proves warm-start CC converges to the cold answer, but its oracle
  * form RECOMPUTES the store-side fixpoint in-query (two fixpoints per run)
  * so DuckDB can check it. A continuously-ingesting pipeline must not pay
  * that: the converged labels are state, persisted once and READ by every
  * increment (the [[IncrementalDedup.buildStore]] /
  * [[CurationOps.DecontamStore]] idiom applied to cluster maintenance).
  *
  * Store layout:
  *   - `labels.parquet`  (doc_id, cluster) — converged component labels of
  *     every edge-incident landed doc; cluster = min member doc_id
  *     (q101's labeling invariant, load-bearing for the merge step below).
  *   - `grams.parquet`   (doc_id, shingle) — the landed corpus's candidate
  *     5-grams with build-time df ≤ MaxDf. df-1 grams ARE kept: a gram seen
  *     once so far pairs with the next arrival; only boilerplate
  *     (df > MaxDf, which can never drop back) is excluded. O(docs·grams),
  *     never the text.
  *
  * INCREMENT = CONTRACT–SOLVE–EXPAND, the textbook incremental CC:
  *   1. discover edges incident to the batch: combined df over
  *      (store grams ∪ batch grams) restricted to shingles the batch
  *      touches, capped to [2, MaxDf], pair within shingles — at least one
  *      batch side per pair (store–store connectivity is already in the
  *      labels);
  *   2. contract each landed doc to its component label
  *      (coalesce(label, doc_id) — an edge-free landed doc is its own
  *      super-node) — valid because labels came from real store-era edges,
  *      so contraction is a quotient by genuine connectivity;
  *   3. run [[DedupGraph.connectedComponents]] on the contracted edges — a graph
  *      whose size tracks the BATCH (old components are single nodes), so
  *      the fixpoint cost is q101's single-fixpoint cost on a much smaller
  *      graph, never two corpus fixpoints;
  *   4. expand: a (old label → merged label) broadcast-sized mapping
  *      rewrites only the store components the batch actually touched;
  *      everything else keeps its label without being read twice. Because
  *      every label is the min member id of its component, the merged
  *      minimum over contracted ids IS the merged component's true min
  *      member id — bit-identical to a cold full recompute
  *      (ClusterStoreSpec asserts exactly that; q119's DuckDB oracle is
  *      q101's full-corpus recursive CTE).
  *
  * Append caveat (same contract as the LSH bucket cap): batch grams append
  * un-recapped, and a gram whose df later crosses MaxDf keeps the edges it
  * created while below it. [[compact]] (re-running [[build]] over the landed
  * corpus) restores the invariant on the compaction cadence.
  */
object ClusterStore {

  /** Build-time doc-frequency ceiling — [[Dedup.neardupEdges]]'s boilerplate
    * cap (its df window uses [2, 50]; the store keeps [1, 50] as argued
    * above). */
  val MaxDf = 50

  private def grams(docs: DataFrame): DataFrame =
    Dedup.shingles(docs, 5)

  /** Write labels + capped grams for a landed corpus (full rebuild). */
  def build(docs: DataFrame, dir: String): Unit = {
    val g = graft.core.Materialize(grams(docs))
    val keep = g.groupBy("shingle").agg(count(lit(1)).as("df"))
      .filter(col("df") <= MaxDf).select("shingle")
    g.join(keep, "shingle").select("doc_id", "shingle")
      .write.mode("overwrite").parquet(s"$dir/grams.parquet")
    val spark = docs.sparkSession
    val stored = spark.read.parquet(s"$dir/grams.parquet")
    val half = stored.as("a").join(stored.as("b"),
        col("a.shingle") === col("b.shingle") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("src"), col("b.doc_id").as("dst")).distinct()
    val edges = graft.core.Materialize(
      half.union(half.select(col("dst").as("src"), col("src").as("dst"))))
    DedupGraph.connectedComponents(edges)
      .write.mode("overwrite").parquet(s"$dir/labels.parquet")
  }

  /** Pure increment: the labels the store WOULD hold after `batch` lands —
    * contract–solve–expand over batch-incident edges only. Returns
    * (doc_id, cluster) for every edge-incident doc (landed ∪ batch), the
    * q101 output contract. Reads the store, never rewrites it; [[update]]
    * is the committing form.
    */
  def updatedLabels(spark: SparkSession, dir: String, batch: DataFrame): DataFrame = {
    val storeGrams = spark.read.parquet(s"$dir/grams.parquet")
    val labels = spark.read.parquet(s"$dir/labels.parquet")
    val bg = graft.core.Materialize(grams(batch))

    // 1. batch-incident edges under the COMBINED df cap. Only shingles the
    // batch touches matter (semi-join keeps the store scan narrow); df-1
    // shingles pair nothing and fall out of the [2, MaxDf] filter.
    val touched = bg.select("shingle").distinct()
    val all = storeGrams.join(touched, "shingle")
      .select(col("doc_id"), col("shingle"), lit(false).as("is_batch"))
      .union(bg.select(col("doc_id"), col("shingle"), lit(true).as("is_batch")))
    // combined df cap as a WINDOW over the shingle partitioning (round 15,
    // the neardupEdgesFromGrams idiom): identical [2, MaxDf] row set, one
    // shuffle of the combined posting stream instead of the aggregate +
    // re-join pair — and the pair join downstream shuffles on the same
    // key, so the window rides partitioning the join needs anyway.
    // kept feeds BOTH sides of the pair self-join below — cut it once
    // (round 16; the same family-5 policy neardupEdgesFromGrams applies
    // to its g2): without the cut the store-gram semi-join + union +
    // df window ran twice inside the pair-join plan. Bounded state: the
    // checkpoint holds only batch-touched postings under the df cap.
    val kept = graft.core.Materialize(all
      .withColumn("__df", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy("shingle")))
      .filter(col("__df").between(2, MaxDf))
      .select("doc_id", "shingle", "is_batch"))
    val half = kept.as("a").join(kept.as("b"),
        col("a.shingle") === col("b.shingle") &&
          col("a.doc_id") < col("b.doc_id") &&
          (col("a.is_batch") || col("b.is_batch")))
      .select(col("a.doc_id").as("src"), col("b.doc_id").as("dst")).distinct()

    // 2. contract endpoints to super-nodes: landed docs → their component
    // label (or themselves if edge-free until now), batch docs → themselves.
    // The label table is O(edge-incident docs); the join keys on doc_id.
    val toSuper = labels.select(col("doc_id"), col("cluster").as("super"))
    def contracted(df: DataFrame, c: String): DataFrame =
      df.join(toSuper.withColumnRenamed("doc_id", c), Seq(c), "left")
        .withColumn(c, coalesce(col("super"), col(c))).drop("super")
    val cHalf = contracted(contracted(half, "src"), "dst")
      .filter(col("src") =!= col("dst"))
      .select(
        least(col("src"), col("dst")).as("src"),
        greatest(col("src"), col("dst")).as("dst"))
      .distinct()
    val cEdges = graft.core.Materialize(
      cHalf.union(cHalf.select(col("dst").as("src"), col("src").as("dst"))))

    // 3. fixpoint on the contracted graph (size tracks the batch). The
    // merged-label table feeds TWO consumers below (the store-side remap
    // and the newly-incident anti-join), and the fixpoint's return value
    // is a live final pointer-hop join — cut it once (round 16; the
    // connectedComponentsDelta storedM idiom).
    val merged = graft.core.Materialize(
      DedupGraph.connectedComponents(cEdges)
        .select(col("doc_id").as("snode"), col("cluster").as("merged")))

    // 4. expand. Old labels touched by a merge re-map via the
    // (label → merged) table; untouched labels pass through. Batch docs
    // (and newly-connected landed docs) take their super-node's merged
    // label directly — their super-node is themselves or their old label.
    val relabel = merged // snode ∈ {old labels, batch ids, edge-free landed ids}
    val storeSide = labels
      .join(relabel.withColumnRenamed("snode", "cluster"), Seq("cluster"), "left")
      .select(col("doc_id"), coalesce(col("merged"), col("cluster")).as("cluster"))
    val newlyIncident = cEdges.select(col("src").as("snode")).distinct()
      .join(relabel, "snode")
      .join(labels.select(col("doc_id").as("snode")), Seq("snode"), "left_anti")
      .select(col("snode").as("doc_id"), col("merged").as("cluster"))
    storeSide.unionByName(newlyIncident)
  }

  /** Committing increment: land the batch's labels and grams. Labels are
    * published by the rename-aside [[StoreCommit.swap]] (never an in-place
    * overwrite of a path being read); grams append un-recapped —
    * [[compact]] restores the cap.
    */
  def update(spark: SparkSession, dir: String, batch: DataFrame): Unit = {
    updatedLabels(spark, dir, batch)
      .write.mode("overwrite").parquet(s"$dir/labels.parquet.tmp")
    grams(batch).select("doc_id", "shingle")
      .write.mode("append").parquet(s"$dir/grams.parquet")
    StoreCommit.swap(spark, s"$dir/labels.parquet")
  }

  /** Store maintenance: full rebuild over the landed corpus (restores the
    * gram df cap and collapses any label drift from cap-crossing grams). */
  def compact(docs: DataFrame, dir: String): Unit = build(docs, dir)

  /** CONTINUOUS ingest twin — [[update]] wired into `foreachBatch`, the
    * same batch-grain place the sink layer and
    * [[CurationOps.DecontamStore.decontaminateBatch]] do their work
    * (shingle assembly needs a doc-local window, unsupported on an
    * unbounded stream; the label commit is store-grain, not row-grain).
    * Each micro-batch runs ONE contract–solve–expand increment and lands
    * via the rename-aside swap, so a stream of N batches commits
    * exactly the state the N-step batch chain commits — streaming vs batch
    * labels are definitionally identical, and ClusterStoreSpec asserts the
    * stronger form: store == cold full recompute after EVERY epoch.
    *
    * COMPACTION CADENCE, argued: between compactions the gram table grows
    * by O(batch grams) per epoch append-only and UN-recapped, with two
    * bounded drifts — (a) scan cost: increments read `grams.parquet`
    * through a shingle semi-join, so cost grows linearly in appended
    * grams; (b) cap drift: a gram crossing [[MaxDf]] between compactions
    * keeps edges it created while below the cap — EXTRA connectivity only
    * (possible over-merge, never a missed duplicate), removed at the next
    * [[compact]]. A rebuild costs one full-corpus gram pass ≈ C·|corpus|;
    * an increment costs ≈ C·|batch| + ε·|appended|. Compacting every
    * `corpus/batch` epochs (i.e. once per ~doubling of the landed set)
    * keeps amortized maintenance within a constant factor of the increment
    * cost — the classic LSM merge argument. `compactEvery` defaults to 0
    * (off) because the LANDED CORPUS lives with the caller's sink, not in
    * this store; pass the reader and a cadence to enable it.
    *
    * Returns the writer unstarted — caller sets trigger/checkpoint (the
    * offsets WAL makes replayed epochs re-run the same increment; [[update]]
    * recommits idempotently since [[updatedLabels]] is a pure function of
    * store ∪ batch and the gram append is duplicate-insensitive for
    * connectivity — dup gram rows only raise df toward the cap).
    */
  def continuous(stream: DataFrame, dir: String,
                 landedCorpus: Option[() => DataFrame] = None,
                 compactEvery: Int = 0)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    stream.writeStream.foreachBatch { (batch: DataFrame, epoch: Long) =>
      update(batch.sparkSession, dir, batch)
      if (compactEvery > 0 && (epoch + 1) % compactEvery == 0)
        landedCorpus.foreach(read => compact(read(), dir))
    }

  // -------------------------------------------------------------- q119
  /** One store build per (JVM, sf-dir): q119 measures the INCREMENT, not
    * the build — bench's min-of-3 sees build-free iterations 2..n, which is
    * exactly the per-batch cost a pipeline pays (the build is amortized
    * over every future batch, like the LSH store's).
    */
  private val builtFor = scala.collection.concurrent.TrieMap.empty[String, String]
  private def storeDir(s: SparkSession, d: String): String =
    builtFor.getOrElseUpdate(d, {
      val dir = graft.core.TempDirs.scratch("graft-clusterstore-")
      build(Tables.documents(s, d).filter(col("doc_id") % 5 =!= 0), dir)
      dir
    })

  /** q119: the persisted-store increment on q108's store/batch split
    * (store = doc_id % 5 ≠ 0, batch = the rest), oracled against the SAME
    * full-corpus recursive CTE as q101/q108 — the incremental path must be
    * bit-identical to the cold recompute or the hash breaks.
    */
  val q119 = QuerySpec(
    "q119_cluster_store_update",
    (s, d) => updatedLabels(s, storeDir(s, d),
        Tables.documents(s, d).filter(col("doc_id") % 5 === 0))
      .orderBy("doc_id"),
    Some(s"""WITH RECURSIVE ${Dedup.neardupEdgesCtes},
            reach(id, lbl) AS (
              SELECT src AS id, src AS lbl FROM edges
              UNION
              SELECT e.dst AS id, r.lbl AS lbl
              FROM edges e JOIN reach r ON r.id = e.src)
            SELECT id AS doc_id, MIN(lbl) AS cluster FROM reach
            GROUP BY id ORDER BY doc_id""")
  )

  val all: Seq[QuerySpec] = Seq(q119)
}
