package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.Portable._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` aggregates every declared operator (one entry per SURVEY.md §2
  * line); `oracleSql` carries the DuckDB twin for the hash-compare gate.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    *
    * The cascade pipeline end-to-end in one plan: events (the topic log)
    * filtered to purchases, stream-static joined to the customer dimension,
    * aggregated per nation with exact decimal sums — ingress → join → agg.
    */
  def entry(spark: SparkSession): DataFrame = {
    val d = "/root/testdata/sf0.001"
    Tables.events(spark, d)
      .filter(col("event_type") === "purchase")
      .join(Tables.customer(spark, d), col("user_id") === col("c_custkey"))
      .join(broadcast(Tables.nation(spark, d)), col("c_nationkey") === col("n_nationkey"))
      .groupBy("n_name")
      .agg(count(lit(1)).as("n_purchases"), dsum(col("value")).as("total_value"))
      .orderBy(col("n_purchases").desc, col("n_name"))
  }

  /** One entry per implemented operator from SURVEY.md §2. */
  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    all.map { case (k, q) => k -> q.fn }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for non-SQL-expressible ops. */
  lazy val oracleSql: Map[String, String] =
    all.collect { case (k, Q(_, Some(sql))) => k -> sql }

  /** Built once: each family's `defs` allocates its whole map per call. */
  private lazy val all: Map[String, Q] =
    graft.queries.EventLogQueries.defs ++
    graft.queries.EventLogQueries2.defs ++
    graft.queries.EventLogQueries3.defs ++
    graft.queries.EventLogQueries4.defs ++
    graft.queries.EventLogQueries5.defs ++
    graft.queries.FunnelQueries.defs ++
    graft.queries.GrowthQueries.defs ++
    graft.queries.RelationalQueries.defs ++
    graft.queries.RelationalQueries2.defs ++
    graft.queries.RelationalQueries3.defs ++
    graft.queries.RelationalQueries4.defs ++
    graft.queries.RelationalQueries5.defs ++
    graft.queries.RelationalQueries6.defs ++
    graft.queries.RelationalQueries7.defs ++
    graft.queries.RelationalQueries8.defs ++
    graft.queries.RelationalQueries9.defs ++
    graft.queries.RelationalQueries10.defs ++
    graft.queries.RelationalQueries11.defs ++
    graft.queries.RelationalQueries12.defs ++
    graft.queries.RelationalQueries13.defs ++
    graft.queries.RelationalQueries14.defs ++
    graft.queries.RelationalQueries15.defs ++
    graft.queries.RelationalQueries16.defs ++
    graft.queries.RelationalQueries17.defs ++
    graft.queries.RelationalQueries18.defs ++
    graft.queries.RelationalQueries19.defs ++
    graft.queries.LinkageQueries.defs ++
    graft.queries.RelationalQueries20.defs ++
    graft.queries.RelationalQueries21.defs ++
    graft.queries.PipelineQueries3.defs ++
    graft.queries.SkewSafeQueries.defs ++
    graft.queries.RecursiveQueries.defs ++
    graft.queries.PrivacyQueries.defs ++
    graft.queries.PrivacyQueries2.defs ++
    graft.queries.SemiStructuredQueries.defs ++
    graft.queries.SqlUdfQueries.defs ++
    graft.queries.DedupQueries.defs ++
    graft.queries.DedupQueries2.defs ++
    graft.queries.DedupQueries3.defs ++
    graft.queries.DedupQueries4.defs ++
    graft.queries.DedupQueries5.defs ++
    graft.queries.ClusterQueries.defs ++
    graft.queries.SketchQueries.defs ++
    graft.queries.WinnowQueries.defs ++
    graft.queries.SimilarityQueries.defs ++
    graft.queries.SimilarityQueries2.defs ++
    graft.queries.SimilarityQueries3.defs ++
    graft.queries.SimilarityQueries4.defs ++
    graft.queries.SimilarityQueries5.defs ++
    graft.queries.SimilarityQueries6.defs ++
    graft.queries.SimilarityQueries7.defs ++
    graft.queries.SimilarityQueries8.defs ++
    graft.queries.SimilarityQueries9.defs ++
    graft.queries.TextQueries.defs ++
    graft.queries.TextQueries2.defs ++
    graft.queries.TextQueries3.defs ++
    graft.queries.TextQueries4.defs ++
    graft.queries.TextQueries5.defs ++
    graft.queries.TextQueries6.defs ++
    graft.queries.TextQueries7.defs ++
    graft.queries.QualityQueries.defs ++
    graft.queries.PipelineQueries.defs ++
    graft.queries.PipelineQueries2.defs ++
    graft.queries.StatsQueries.defs ++
    graft.queries.StatsQueries2.defs ++
    graft.queries.StatsQueries3.defs ++
    graft.queries.StatsQueries4.defs ++
    graft.queries.SamplingQueries.defs ++
    graft.queries.AnnotationQueries.defs ++
    graft.queries.AuditQueries.defs ++
    graft.queries.AuditQueries2.defs ++
    graft.queries.GraphQueries.defs ++
    graft.queries.MultimodalQueries.defs ++
    graft.queries.MultimodalQueries2.defs
}
