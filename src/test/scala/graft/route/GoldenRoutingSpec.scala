package graft.route

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.model.PipelineConfig.{RouteSpec, RouteTable}

/** Differential golden test against the reference's OWN routing-connector
  * test (`connector/routingconnector/logs_test.go:78-232`,
  * TestLogsAreCorrectlySplitPerResourceAttributeWithOTTL): the exact
  * routing table —
  *   route0: IsMatch(X-Tenant, ".*acme")        → pipeline logs0
  *   route1: IsMatch(X-Tenant, "_acme")         → pipeline logs1
  *   route2: X-Tenant == "ecorp"                → pipelines default+logs0
  *   default pipeline: logsDefault
  * — and each of the five sub-cases' expected sink contents. OTTL
  * IsMatch is regex containment (rlike).
  *
  * The routing verdict is the product's [[RouteStage.routed]], cut
  * here into one sink per route; a route's pipeline list is the
  * config-side fan of that sink, applied here.
  */
class GoldenRoutingSpec extends SparkSpec {
  import spark.implicits._

  private def table(matchOnce: Boolean) = RouteTable(Seq(
    RouteSpec("route0", col("tenant").rlike(".*acme")),
    RouteSpec("route1", col("tenant").rlike("_acme")),
    RouteSpec("route2", col("tenant") === "ecorp")),
    defaultName = "default", matchOnce = matchOnce)

  private val pipelines = Map(
    "route0" -> Seq("logs0"),
    "route1" -> Seq("logs1"),
    "route2" -> Seq("default", "logs0"),
    "default" -> Seq("default"))

  /** Pipeline → the payloads it received, each delivery listed once;
    * pipelines that received nothing are left out. */
  private def deliveries(rows: Seq[String], matchOnce: Boolean): Map[String, Seq[String]] = {
    val t = table(matchOnce)
    val routed = RouteStage.routed(rows.toDF("tenant"), t)
    t.sinkNames
      .flatMap { route =>
        val got = routed.filter(col("route") === route).select("tenant").as[String].collect().toSeq
        pipelines(route).map(_ -> got) }
      .groupBy(_._1)
      .map { case (p, hits) => p -> hits.flatMap(_._2).sorted }
      .filter(_._2.nonEmpty)
  }

  private def sinks(rows: Seq[String]): Map[String, Set[String]] = {
    val out = deliveries(rows, matchOnce = false)
    // a payload reaches each of its pipelines exactly once
    out.foreach { case (p, got) => assert(got.distinct == got, s"$p got duplicates: $got") }
    out.map { case (p, got) => p -> got.toSet }
  }

  test("logs matched by no expressions → default only") {
    assert(sinks(Seq("something-else")) == Map("default" -> Set("something-else")))
  }

  test("logs matched one expression → that pipeline only") {
    assert(sinks(Seq("xacme")) == Map("logs0" -> Set("xacme")))
  }

  test("logs matched by two expressions → both pipelines, same payloads") {
    // '_acme' and 'x_acme' both match ".*acme" AND "_acme" (containment)
    val out = sinks(Seq("x_acme", "_acme"))
    assert(out == Map(
      "logs0" -> Set("x_acme", "_acme"),
      "logs1" -> Set("x_acme", "_acme")))
  }

  test("one matched by multiple expressions, other matched none") {
    val out = sinks(Seq("_acme", "something-else"))
    assert(out == Map(
      "logs0" -> Set("_acme"),
      "logs1" -> Set("_acme"),
      "default" -> Set("something-else")))
  }

  test("one expression routed to multiple pipelines → delivered once to each") {
    val out = deliveries(Seq("ecorp"), matchOnce = false)
    assert(out == Map(
      "default" -> Seq("ecorp"),
      "logs0" -> Seq("ecorp")))
  }

  // ---- match_once variant (logs_test.go:233-384) ----

  private def sinksOnce(rows: Seq[String]): Map[String, Set[String]] =
    deliveries(rows, matchOnce = true).map { case (p, got) => p -> got.toSet }

  test("match_once: multi-expression match goes only to the FIRST route's pipeline") {
    // '_acme' matches routes 0 and 1; match_once → logs0 only
    assert(sinksOnce(Seq("x_acme", "_acme")) == Map("logs0" -> Set("x_acme", "_acme")))
  }

  test("match_once: matched-or-default split") {
    assert(sinksOnce(Seq("_acme", "something-else")) == Map(
      "logs0" -> Set("_acme"),
      "default" -> Set("something-else")))
  }

  test("match_once: first matching route still fans to ALL its pipelines") {
    assert(sinksOnce(Seq("ecorp")) == Map(
      "default" -> Set("ecorp"),
      "logs0" -> Set("ecorp")))
  }
}
