package graft
import org.apache.spark.sql.{SparkSession, DataFrame}

/** One registered query: its Spark implementation and `oracle`, the
  * equivalent ANSI SQL that DuckDB runs on the same parquet tables. */
final case class Query(name: String, run: (SparkSession, String) => DataFrame,
    oracle: String)

/** Driver contract — see SURVEY.md §7. */
object SparkEntry {
  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q1_daily_revenue")(spark, "/root/testdata/sf0.001")
  /** Every module's registry, each module listed once. */
  private[graft] def registered: Seq[Query] = Seq(
    graft.queries.Kpis.queries,
    graft.queries.PipelineQueries.queries,
    graft.queries.DocQueries.queries,
    graft.queries.EmbedQueries.queries,
    graft.multimodal.Multimodal.queries,
    graft.multimodal.CrossModal.queries,
    graft.sources.Generator.queries,
    graft.queries.SessionQueries.queries,
    graft.operators.ConsistentSample.queries,
    graft.operators.AsOfJoin.queries,
    graft.operators.RangeJoin.queries,
    graft.functions.Salting.queries,
    graft.queries.TermQueries.queries,
    graft.operators.DupClusters.queries,
    graft.queries.SplitQueries.queries,
    graft.operators.SequencePack.queries,
    graft.queries.DecontamQueries.queries,
    graft.queries.ScrubQueries.queries,
    graft.operators.Scd2.queries,
    graft.queries.CurationQueries.queries,
    graft.queries.LmQueries.queries,
    graft.operators.KMeans.queries,
    graft.operators.ChangelogCompact.queries,
    graft.queries.SeriesQueries.queries,
    graft.operators.IvfPq.queries,
    graft.queries.TpchQueries.queries,
    graft.queries.StatsQueries.queries,
    graft.queries.ReshapeQueries.queries,
    graft.streaming.Attribution.queries,
    graft.streaming.CurationGateStream.queries,
    graft.queries.Tpch2Queries.queries,
    graft.queries.RankQueries.queries,
    graft.operators.WeightedSample.queries,
    graft.operators.PageRank.queries,
    graft.queries.EntityQueries.queries,
    graft.operators.ColumnProfile.queries,
    graft.queries.FunnelQueries.queries,
    graft.operators.SnapshotDiff.queries,
    graft.queries.BasketQueries.queries,
    graft.operators.IncrementalDedup.queries,
    graft.operators.BandStore.queries,
    graft.operators.SubstringStore.queries,
    graft.queries.Round9Queries.queries,
    graft.operators.SemanticCells.queries,
    graft.queries.Tpch3Queries.queries,
    graft.queries.GraphQueries.queries,
    graft.queries.CorpusStatsQueries.queries,
    graft.operators.IncrementalRollup.queries,
    graft.queries.EmbedStatsQueries.queries,
    graft.queries.Tpch4Queries.queries,
    graft.queries.ExperimentQueries.queries,
    graft.queries.Tpch5Queries.queries,
    graft.operators.Skyline.queries,
    graft.queries.MarketQueries.queries,
    graft.queries.InfoQueries.queries,
    graft.queries.NoveltyQueries.queries,
    graft.operators.IncrementalIvf.queries,
    graft.queries.CurationPipeline.queries,
    graft.queries.Tpch6Queries.queries,
    graft.queries.MiningQueries.queries,
    graft.queries.QuantQueries.queries,
    graft.queries.SearchQueries.queries,
    graft.operators.TopK.queries,
    graft.queries.TextMetricsQueries.queries,
    graft.queries.QualityQueries.queries,
    graft.queries.EstimateQueries.queries,
    graft.queries.VectorPipeline.queries,
    graft.queries.Tpch7Queries.queries,
    graft.queries.ShardQueries.queries,
    graft.operators.IncrementalCells.queries,
    graft.queries.CompactionQueries.queries,
    graft.queries.EvalQueries.queries,
    graft.queries.InventoryQueries.queries,
    graft.queries.SubstringQueries.queries,
    graft.queries.RetrievalQueries.queries,
    graft.queries.PrivacyQueries.queries,
    graft.queries.LabelQueries.queries,
    graft.operators.BoilerStore.queries
  ).flatten
  private lazy val maps = index(registered)
  /** One entry per implemented operator from SURVEY.md §2. */
  lazy val queries: Map[String, (SparkSession, String) => DataFrame] = maps._1
  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. */
  lazy val oracleSql: Map[String, String] = maps._2

  /** The driver's two maps from one registry; a name registered twice
    * fails instead of silently replacing the first. */
  private[graft] def index(all: Seq[Query])
      : (Map[String, (SparkSession, String) => DataFrame],
        Map[String, String]) = {
    val dups = all.groupBy(_.name).collect { case (n, qs) if qs.size > 1 => n }
    require(dups.isEmpty,
      s"queries registered more than once: ${dups.toSeq.sorted.mkString(", ")}")
    (all.map(q => q.name -> q.run).toMap,
      all.map(q => q.name -> q.oracle).toMap)
  }
}
