package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see SURVEY.md (repo root) §2 for the inventory
  * behind each query key, and §6 for how they're verified.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    operators.Analytics.q1PricingSummary(spark, "/root/testdata/sf0.001")

  /** One entry per implemented capability from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    operators.Analytics.queries ++ operators.CsvQueries.queries ++
      operators.TextQueries.queries ++ operators.Dedup.queries ++
      operators.Ann.queries ++ operators.Pq.queries ++
      operators.IvfPq.queries ++ operators.Hnsw.queries ++
      operators.Pca.queries ++
      operators.AnnChecks.queries ++
      operators.Multimodal.queries ++
      operators.AsOf.queries ++ operators.RangeJoin.queries ++
      operators.Pipeline.queries ++ operators.TextIndex.queries ++
      operators.Curation.queries ++ operators.Layout.queries ++
      operators.Bpe.queries ++ operators.LanguageModel.queries ++
      operators.HybridSearch.queries ++ operators.Distribution.queries

  /** DuckDB oracle twins (same column aliases as the Spark side). */
  def oracleSql: Map[String, String] =
    operators.Analytics.oracles ++ operators.CsvQueries.oracles ++
      operators.TextQueries.oracles ++ operators.Dedup.oracles ++
      operators.Ann.oracles ++ operators.AnnChecks.oracles ++
      operators.Multimodal.oracles ++
      operators.AsOf.oracles ++ operators.RangeJoin.oracles ++
      operators.Pipeline.oracles ++ operators.TextIndex.oracles ++
      operators.Curation.oracles ++ operators.Layout.oracles ++
      operators.Bpe.oracles ++ operators.LanguageModel.oracles ++
      operators.HybridSearch.oracles ++ operators.Distribution.oracles
}
