package graft.run

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.config.ConfigLoader
import graft.expr.ExprLang
import graft.model.PipelineConfig._

/** The flagship parse→enrich→route→aggregate pipeline (SURVEY.md §7.3):
  * the Spark-native rendering of the reference collector graph
  * `filelog → regex parse → attributes enrich → routing connector →
  * count connector` (`/root/reference`, SURVEY.md §3).
  *
  * Defined once, as config: `src/main/resources/graft/flagship.yaml`,
  * compiled by [[ConfigLoader.compile]] like any user file. The members
  * below forward to that compiled config.
  */
object Pipeline {

  val config: ConfigLoader.GraftFileConfig = ConfigLoader.loadResource("/graft/flagship.yaml")
  val flagship: ConfigLoader.Compiled = ConfigLoader.compile(config)

  def parseConfig: ParseConfig = flagship.parse
  def parsedFields: Set[String] = flagship.parsedFields
  def exprResolver: ExprLang.Resolver = flagship.resolver
  def routeTable: RouteTable = flagship.routeTable
  def routeTableFromStrings: RouteTable = routeTable
  def metrics: Seq[MetricSpec] = flagship.metrics
  def metricsFromStrings: Seq[MetricSpec] = metrics

  def parseEnrich(spark: SparkSession, transcripts: DataFrame): DataFrame =
    flagship.parseEnrich(spark, transcripts)
}
