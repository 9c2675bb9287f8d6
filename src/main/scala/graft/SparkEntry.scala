package graft
import org.apache.spark.sql.{SparkSession, DataFrame}
import graft.queries._
/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt. */
object SparkEntry {
  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * The full sampling pipeline: block shuffle → fetch windows → within-fetch
    * permutation → batch slicing. */
  def entry(spark: SparkSession): DataFrame =
    queries("pipeline_block")(spark, "/root/testdata/sf0.001")

  /** The query domains; each key is registered once, beside its oracle. */
  val domains: Seq[QueryDomain] = Seq(SamplingQueries, DedupQueries,
    SimilarityQueries, TextQueries, MediaQueries, EventQueries, TpchQueries,
    GraphQueries, MlQueries, LakeQueries, StreamingQueries, PipelineQueries)

  private lazy val registry: Map[String, Q] = QueryRegistry.build(domains)

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map { case (k, q) => k -> q.run }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. */
  def oracleSql: Map[String, String] =
    registry.map { case (k, q) => k -> q.oracleSql }
}
