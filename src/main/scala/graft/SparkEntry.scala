package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.queries.{AdvancedQueries, AnalyticsQueries, AnalyticsWave2Queries, BehaviorQueries, BreadthQueries, CurationWave2Queries, DataCurationQueries, DedupVectorQueries, GraphWarehouseQueries, PipelineParityQueries, ProfilingQueries, ProfilingWave2Queries, QueryDef, RelationalQueries, RetrievalQueries, ScaleOpsQueries, ScaleOpsWave2Queries, ScaleOpsWave3Queries, SemiStructuredQueries, SqlSurfaceQueries, TextSimQueries, TpchShapeQueries, TrainingPipelineQueries, TrainingWave2Queries, ValidationWaveQueries, EvalStatsQueries, SketchGraphQueries, MiningDiffQueries, BehaviorGeoQueries, TemporalPatternQueries, HybridRetrievalQueries, CurationWave3Queries, DriftQueries, CurationWave4Queries}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt. */
object SparkEntry {

  /** Every catalog query. Each one's frame goes through
    * [[graft.plans.Interpreted.frame]]: a frame over small inputs comes
    * back on an interpreted child session, so the action its caller starts
    * compiles nothing. Spark work a query does while it builds its frame
    * (pins, `localCheckpoint`s) runs on the caller's session.
    */
  val all: Seq[QueryDef] = (
    RelationalQueries.defs ++ TextSimQueries.defs ++ DedupVectorQueries.defs ++
      AnalyticsQueries.defs ++ AdvancedQueries.defs ++ BreadthQueries.defs ++
      SemiStructuredQueries.defs ++ BehaviorQueries.defs ++ TpchShapeQueries.defs ++ TpchShapeQueries.wave2 ++
      SqlSurfaceQueries.defs ++ TrainingPipelineQueries.defs ++ ProfilingQueries.defs ++
      PipelineParityQueries.defs ++ DataCurationQueries.defs ++ GraphWarehouseQueries.defs ++
      TpchShapeQueries.wave3 ++ CurationWave2Queries.defs ++ AnalyticsWave2Queries.defs ++
      ScaleOpsQueries.defs ++ ScaleOpsWave2Queries.defs ++ RetrievalQueries.defs ++
      ProfilingWave2Queries.defs ++ ScaleOpsWave3Queries.defs ++
      TrainingWave2Queries.defs ++ ValidationWaveQueries.defs ++
      EvalStatsQueries.defs ++ SketchGraphQueries.defs ++ MiningDiffQueries.defs ++ BehaviorGeoQueries.defs ++ TemporalPatternQueries.defs ++
      HybridRetrievalQueries.defs ++ CurationWave3Queries.defs ++ DriftQueries.defs ++
      CurationWave4Queries.defs
  ).map(q => q.copy(fn = (spark, dir) => graft.plans.Interpreted.frame(q.fn(spark, dir))))

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * Runs the §3.2 convo-analysis lifecycle shape end-to-end: conversation
    * reassembly (A6) → mock LLM extraction (X1) → serviceability-style
    * fuzzy tag (J8) → enrichment join.
    */
  def entry(spark: SparkSession): DataFrame = {
    val dir = "/root/testdata/sf0.001"
    val ev  = Tables.load(spark, dir, "events")
      .withColumn("__rendered",
        concat(lit("type: "), col("event_type"), lit("\nvalue: "),
          col("value").cast("decimal(10,2)").cast("string")))
    val convos = operators.Convo.sortedStringAgg(
      ev, "user_id", Seq(col("ts"), col("event_id")), col("__rendered"), "\n\n")
    val analysis = llm.LlmExtract.extract(
      convos.select(col("user_id").cast("string").as("ticket_id"), col("convo")),
      "ticket_id", "convo",
      // the reference's model-fallback chain shape; deterministic mock
      // as the (sole) backing model in the test environment
      new llm.FallbackLlmGateway(Seq(new llm.MockLlmGateway)))
    val customers = Tables.load(spark, dir, "customer")
    analysis.join(customers,
        col("ticket_id") === col("c_custkey").cast("string"), "left")
      .select(col("ticket_id"), col("intent_rating"), col("tokens"), col("model"),
        col("c_mktsegment"))
  }

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    all.map(q => q.name -> q.fn).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    all.flatMap(q => q.oracle.map(o => q.name -> o.stripMargin.trim)).toMap
}
