package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.Relational._
import graft.queries._

/** Driver contract — see SURVEY.md §7 + TESTDATA.md.
  *
  * Each entry in [[queries]] is one operator/capability from SURVEY.md §2
  * (or a north-star extension), expressed Spark-first over the driver's
  * parquet fixtures. [[oracleSql]] holds the DuckDB-equivalent ANSI SQL the
  * driver hash-compares against at sf0.01.
  *
  * Determinism rules (SURVEY.md §5, §7 "oracle agreement traps"):
  *  - every aggregate of a double column goes through an exact decimal sum
  *    ([[graft.ops.Relational.dsum]]) so results are independent of
  *    partial-aggregation order and identical across engines;
  *  - every query ends in a total ORDER BY (all key columns);
  *  - window orderings carry a unique tie-breaker;
  *  - computed columns are aliased to the same name on both sides;
  *  - raw event timestamps are never emitted (parquet ns vs Spark µs) —
  *    only truncated/derived time columns.
  */
object SparkEntry {

  private lazy val registry: Seq[Q] =
    CoreQueries.all ++ PredicateQueries.all ++ EventQueries.all ++
      TextQueries.all ++ DedupQueries.all ++ SimilarityQueries.all ++
      MultimodalQueries.all ++ VersionedQueries.all ++ IoQueries.all ++
      StreamingQueries.all ++ SketchQueries.all ++ AnalyticsQueries.all ++
      CurationQueries.all ++ QualityQueries.all ++ MiningQueries.all ++
      SelectionQueries.all ++ TrendQueries.all ++ EvalQueries.all ++
      ClassicQueries.all ++ DepthQueries.all ++ RobustQueries.all ++
      DriftQueries.all ++ TailQueries.all ++ FeatureQueries.all ++
      AuditQueries.all ++ RankQueries.all ++ GrowthQueries.all ++
      DiagQueries.all ++ TpchQueries.all ++ TpchFinalQueries.all ++
      LinkageQueries.all ++
      WarehouseQueries.all ++ PrivacyQueries.all ++ MlopsQueries.all ++
      SeriesQueries.all ++ TrainPrepQueries.all ++ IntrospectQueries.all ++
      NineQueries.all ++ InferenceQueries.all ++ CodingQueries.all ++
      EstimatorQueries.all ++ RobustNineQueries.all ++ AuditNineQueries.all ++
      HazardQueries.all ++ StyleQueries.all ++
      DiagTestQueries.all ++ CorpusMineQueries.all ++
      SeriesTestQueries.all ++ CohortRankQueries.all ++
      SpatialEvalQueries.all ++ RankEvalQueries.all ++
      SeqDesignQueries.all ++ PopulationQueries.all ++
      CausalDesignQueries.all ++ RobustTenQueries.all ++
      TrendPowerQueries.all ++ AgreementQueries.all ++
      ReliabilityQueries.all ++ BalanceQueries.all ++
      AdoptionQueries.all ++ ComplexityQueries.all ++
      CapstoneQueries.all ++ ReliabilityTwoQueries.all ++
      StationarityQueries.all ++ RankScaleQueries.all ++
      VarianceDiagQueries.all ++ CycleCapstoneQueries.all ++
      RetrievalCapstoneQueries.all ++ TwoSampleOmnibusQueries.all ++
      EmbeddingDriftQueries.all ++ PipelineLearnQueries.all

  /** Flagship query on sf=0.001; driver smoke-checks rows>0.
    * Full slice: scan -> filter -> broadcast-join -> agg -> window top-k.
    */
  def entry(spark: SparkSession): DataFrame = {
    val dir = "/root/testdata/sf0.001"
    def t(n: String) = Tables.load(spark, dir, n)
    val denorm = denormalize(t("lineitem"), Seq(
      (t("supplier"), col("l_suppkey") === col("s_suppkey")),
      (t("nation"), col("s_nationkey") === col("n_nationkey")),
      (t("region"), col("n_regionkey") === col("r_regionkey"))))
    val agg = denorm
      .groupBy("r_name", "n_name")
      .agg(dsum(col("l_extendedprice") * (lit(1) - col("l_discount")), 8)
        .as("revenue"))
    topKPerGroup(agg, Seq(col("r_name")),
      Seq(col("revenue").desc, col("n_name").asc), k = 3)
      .orderBy("r_name", "rank")
  }

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map(q => q.name -> q.impl).toMap

  /** DuckDB-equivalent ANSI SQL per query (driver correctness oracle). */
  def oracleSql: Map[String, String] =
    registry.collect { case q if q.oracle.isDefined => q.name -> q.oracle.get }
      .toMap
}
