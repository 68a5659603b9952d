package graft.route

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.functions.{filter => arrayFilter}

import graft.model.PipelineConfig.RouteTable

/** Route stage — the routing-connector fan-out re-expressed relationally
  * (SURVEY.md §2.4, §3.3).
  *
  * Reference semantics (`connector/routingconnector/logs.go:62-103` in
  * `/root/reference`):
  *   - multi-match fan-out by default (one row may reach several sinks);
  *   - `match_once=true` → first-match-wins (`logs.go:87`);
  *   - rows matching no route → default sink (`logs.go:94-97`);
  *   - `error_mode=ignore` → a predicate that errors counts as no-match
  *     (we compile predicates null-safe, so nulls fall to default).
  *
  * Physical strategy at 100 TB: ONE pass either way, then a single
  * write with `partitionBy("route")` — no per-sink rescan, no cache.
  * [[routed]] picks the tag: `matchOnce` tags each row once via a
  * short-circuiting CASE chain ([[tagged]]); multi-match explodes the
  * array of matched routes ([[tagsExploded]]).
  */
object RouteStage {

  /** First-match route tag (`when` chains short-circuit exactly like the
    * reference's `break` at `transformer/router/transformer.go:59`).
    * Null predicate results (error_mode=ignore) fall through to default. */
  def routeTag(table: RouteTable): Column = {
    val tagged = table.routes.foldLeft(Option.empty[Column]) { (acc, r) =>
      Some(acc match {
        case None      => when(coalesce(r.predicate, lit(false)), lit(r.name))
        case Some(c)   => c.when(coalesce(r.predicate, lit(false)), lit(r.name))
      })
    }
    tagged.map(_.otherwise(lit(table.defaultName))).getOrElse(lit(table.defaultName)).as("route")
  }

  /** Tag rows with their (first-match) route — the match_once plan. */
  def tagged(df: DataFrame, table: RouteTable): DataFrame =
    df.withColumn("route", routeTag(table))

  /** Multi-match fan-out: route name → filtered frame, plus the default
    * sink as the conjunction of negations (null-safe). */
  def fanOut(df: DataFrame, table: RouteTable): Map[String, DataFrame] = {
    val sinks = table.routes.map(r => r.name -> df.filter(coalesce(r.predicate, lit(false)))).toMap
    val noMatch = table.routes
      .map(r => !coalesce(r.predicate, lit(false)))
      .reduceOption(_ && _)
      .getOrElse(lit(true))
    sinks + (table.defaultName -> df.filter(noMatch))
  }

  /** Array of ALL matching route names per row (empty → default) — the
    * multi-match verdict as data. */
  def routesArray(table: RouteTable): Column = {
    val hits = arrayFilter(
      array(table.routes.map(r =>
        when(coalesce(r.predicate, lit(false)), lit(r.name))): _*),
      x => x.isNotNull)
    when(size(hits) === 0, array(lit(table.defaultName))).otherwise(hits).as("routes")
  }

  /** Single-pass MULTI-MATCH fan-out: explode the matched-routes array
    * and write once with `partitionBy("route")` — each row lands in every
    * sink it matches, the source is scanned and parsed exactly ONCE
    * (vs. one filtered scan per sink in [[fanOut]]). The scale plan for
    * the routing-connector's default multi-match mode: at 10^12 turns,
    * k predicate-filtered rescans are k× the IO; this is 1×(1+dup_rate).
    */
  def tagsExploded(df: DataFrame, table: RouteTable): DataFrame =
    df.withColumn("route", explode(routesArray(table)))

  def writeMultiMatch(df: DataFrame, table: RouteTable, outDir: String): Unit =
    tagsExploded(df, table).write.mode("overwrite")
      .partitionBy("route").parquet(outDir)

  /** The table's match semantics, decided in ONE place for every run
    * path (PipelineJob's fan-out, StreamingJob's sinks and counts,
    * `SparkEntry.entry`): match_once → first-match single tag
    * (`routingconnector/logs.go:87`), default → multi-match explosion.
    * A match_once config silently getting fan-out duplicates would
    * inflate every per-route count. */
  def routed(df: DataFrame, table: RouteTable): DataFrame =
    if (table.matchOnce) tagged(df, table) else tagsExploded(df, table)
}
