package graft

/** The complete verifiable operator inventory (SURVEY.md §2.8 + llmops). */
object QueryRegistry {
  val all: Seq[QuerySpec] =
    graft.operators.Relational.all ++
      graft.operators.Advanced.all ++
      graft.operators.Extras.all ++
      graft.operators.Quantiles.all ++
      graft.operators.Warehouse.all ++
      graft.operators.TimeSeries.all ++
      graft.operators.ZOrder.all ++
      graft.llmops.Dedup.all ++
      graft.llmops.DedupGraph.all ++
      graft.llmops.DedupAudit.all ++
      graft.llmops.IncrementalDedup.all ++
      graft.llmops.ClusterStore.all ++
      graft.llmops.CardinalityStore.all ++
      graft.llmops.TextAnalysis.all ++
      graft.llmops.Similarity.all ++
      graft.llmops.Clustering.all ++
      graft.llmops.ProductQuant.all ++
      graft.llmops.Multimodal.all ++
      graft.llmops.AudioMeta.all ++
      graft.llmops.VideoMeta.all ++
      graft.llmops.CorpusPipeline.all ++
      graft.llmops.PretrainOps.all ++
      graft.llmops.PretrainViews.all ++
      graft.llmops.CurationOps.all ++
      graft.llmops.CorpusStats.all ++
      graft.llmops.CorpusSim.all ++
      graft.llmops.PrivacyOps.all ++
      graft.llmops.ShardOps.all ++
      graft.llmops.VocabStore.all ++
      graft.llmops.FeatureStats.all ++
      graft.llmops.SelectionOps.all ++
      graft.llmops.RetrievalOps.all ++
      graft.llmops.TopKStore.all ++
      graft.llmops.BloomStore.all ++
      graft.llmops.CMSStore.all

  /** Whether `SPARK_GRAFT_ONLY` (comma-separated name prefixes, e.g.
    * `q91,q92`; unset = every query) selects `name` for Bench and Verify. */
  def selected(name: String): Boolean = only.forall(_.exists(name.startsWith))
  private val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSeq.filter(_.nonEmpty))

  def byName(name: String): QuerySpec = all.find(_.name == name).getOrElse(
    throw new IllegalArgumentException(s"no registry query named $name"))
}
