package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see SURVEY.md §7 + FIXTURES.md.
  *
  * `queries` maps every operator declared in SURVEY.md §2B to a runnable
  * DataFrame program over the fixture tables; `oracleSql` holds the
  * DuckDB-equivalent SQL the driver hash-compares against (omitted only
  * for ops that are not SQL-expressible — those get rows-only checks).
  */
object SparkEntry {

  /** Flagship: the reference's signature query — crawl → fill-forward →
    * filter → dedup → sort → skip-newest window → payload — over the
    * bundled frozen corpus (rows > 0 smoke-checked by the driver).
    */
  def entry(spark: SparkSession): DataFrame = {
    Engine.install(spark)
    operators.RumorPipeline.q60RumorPipeline(spark, "/root/testdata/sf0.001")
  }

  /** One entry per implemented operator from SURVEY.md §2. Each entry
    * installs the engine ([[Engine.install]]) into the session it is
    * given, so the contract holds on a session the engine never built.
    */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    (operators.Relational.queries ++ operators.LlmOps.queries ++
      operators.Multimodal.queries ++ operators.RumorPipeline.queries ++
      operators.PipelineOps.queries ++ operators.GraphOps.queries ++
      operators.AnalyticsOps.queries ++ operators.JoinPlanner.queries ++
      operators.IndexOps.queries ++ operators.StatsOps.queries ++
      sources.TrainingShards.queries ++ sources.JsonlCorpus.queries ++
      sources.StandingIndex.queries ++ sources.SimIndex.queries ++
      sources.BucketStore.queries ++ sources.ClusteredStore.queries ++
      sources.MatView.queries ++ sources.SnapshotStore.queries)
      .map { case (name, q) =>
        name -> ((s: SparkSession, dir: String) => { Engine.install(s); q(s, dir) })
      }

  /** DuckDB-equivalent ANSI SQL per query key (same column names). */
  def oracleSql: Map[String, String] =
    operators.Relational.oracles ++ operators.LlmOps.oracles ++
      operators.Multimodal.oracles ++ operators.RumorPipeline.oracles ++
      operators.PipelineOps.oracles ++ operators.GraphOps.oracles ++
      operators.AnalyticsOps.oracles ++ operators.JoinPlanner.oracles ++
      operators.IndexOps.oracles ++ operators.StatsOps.oracles ++
      sources.TrainingShards.oracles ++ sources.JsonlCorpus.oracles ++
      sources.StandingIndex.oracles ++ sources.SimIndex.oracles ++
      sources.BucketStore.oracles ++ sources.ClusteredStore.oracles ++
      sources.MatView.oracles ++ sources.SnapshotStore.oracles
}
