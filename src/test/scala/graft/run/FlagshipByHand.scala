package graft.run

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.enrich.EnrichStage
import graft.model.PipelineConfig._
import graft.parse.ParseStage

/** The flagship written out by hand in Scala — the differential oracle
  * for the config path: [[Pipeline]] compiles `graft/flagship.yaml`
  * through ConfigLoader/ExprLang, and specs compare it against these
  * hand-built Column renderings of the same pattern bank, route table
  * and metric table. */
object FlagshipByHand {

  /** FIXTURES.md §1 pattern bank (first match wins). */
  val patternBank: Seq[PatternSpec] = Seq(
    PatternSpec("tool_call",
      "^CALL tool=(?<tool_name>\\w+) args=(?<args_json>\\{.*\\}) dur_ms=(?<dur_ms>\\d+)$",
      Seq("tool_name", "args_json", "dur_ms")),
    PatternSpec("status",
      "^(?<level>TRACE|DEBUG|INFO|WARN|ERROR|FATAL) \\[(?<component>[\\w.-]+)\\] (?<msg>.*)$",
      Seq("level", "component", "msg")),
    PatternSpec("kv",
      "^(?<kvpairs>\\w+=[^ ]+( \\w+=[^ ]+)*)$",
      Seq("kvpairs"))
  )

  val parseConfig: ParseConfig = ParseConfig(patternBank)

  val parsedFields: Set[String] = patternBank.flatMap(_.fields).toSet

  /** parse (unbarriered, like the flagship) → built-in tool enrich. */
  def parseEnrich(spark: SparkSession, transcripts: DataFrame): DataFrame = {
    val parsed = ParseStage(transcripts, parseConfig, barrier = false)
    EnrichStage(parsed, EnrichStage.dimTool(spark), Seq("tool"))
  }

  /** FIXTURES.md §3 route table as hand-written Columns. */
  def routeTableByHand: RouteTable = RouteTable(
    routes = Seq(
      RouteSpec("tool_calls",
        col("tool") =!= "" && col("parsed").getItem("tool_name").isNotNull),
      RouteSpec("errors",
        col("parsed").getItem("level").isin("ERROR", "FATAL")),
      RouteSpec("user_turns", col("role") === "user")
    ),
    defaultName = "default",
    matchOnce = false
  )

  /** FIXTURES.md §4 count-connector metric table as hand-written Columns. */
  val metricsByHand: Seq[MetricSpec] = Seq(
    MetricSpec("turn_count"),
    MetricSpec("turn_count_by_role", attrs = Seq(AttrSpec("role"))),
    MetricSpec("tool_call_count",
      conditions = Seq(col("tool") =!= ""),
      attrs = Seq(AttrSpec("tool"), AttrSpec("cost_class", Some("unknown")))),
    MetricSpec("error_count_by_component",
      conditions = Seq(col("parsed").getItem("level") === "ERROR"),
      // component is REQUIRED (no default): rows missing it are skipped
      attrs = Seq(AttrSpec("component")))
  )
}
