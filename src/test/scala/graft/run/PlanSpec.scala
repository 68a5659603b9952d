package graft.run

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.route.RouteStage
import graft.synth.TranscriptSynth

/** Physical-plan quality gates (SURVEY.md §4): pushdown, pruning, codegen
  * and shuffle-count properties the 100 TB design relies on. */
class PlanSpec extends SparkSpec {

  private lazy val turnsDir = {
    val dir = Files.createTempDirectory("graft_plan_turns").toString
    TranscriptSynth.generate(spark, TranscriptSynth.Config(2000, 10))
      .write.mode("overwrite").parquet(dir)
    dir
  }

  test("filters and projection push into the parquet scan") {
    val q = spark.read.parquet(turnsDir)
      .filter(col("role") === "user" && col("turn_idx") > 5)
      .select("conv_id", "turn_idx")
    val plan = q.queryExecution.executedPlan.toString
    val scanLine = plan.linesIterator.find(_.contains("PushedFilters")).getOrElse("")
    assert(scanLine.contains("IsNotNull(role)") || scanLine.contains("EqualTo(role,user)"),
      s"role filter not pushed: $scanLine")
    assert(scanLine.contains("GreaterThan(turn_idx,5)"), s"turn_idx filter not pushed: $scanLine")
    val readSchema = plan.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!readSchema.contains("text"), s"unused text column read: $readSchema")
  }

  test("parse→enrich→route-tag→window-count plans exactly ONE shuffle") {
    val enriched = Pipeline.parseEnrich(spark, spark.read.parquet(turnsDir))
    val out = RouteStage.tagsExploded(enriched, Pipeline.routeTable)
      .groupBy(col("route"), window(col("ts"), "1 hour"))
      .agg(count(lit(1)))
    val plan = out.queryExecution.executedPlan.toString
    // BroadcastExchange (the enrich dim) is expected and is not a shuffle
    val shuffles = plan.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(shuffles == 1, s"expected exactly one shuffle (the final agg), got $shuffles:\n$plan")
  }

  test("the parse expression runs inside whole-stage codegen") {
    val parsed = graft.parse.ParseStage(
      spark.read.parquet(turnsDir), Pipeline.parseConfig)
    val plan = parsed.queryExecution.executedPlan.toString
    // the projection carrying multi_pattern_extract must be inside a
    // WholeStageCodegen region (lines inside are prefixed *(n))
    val line = plan.linesIterator.find(_.contains("multi_pattern_extract")).getOrElse("")
    assert(line.contains("*("), s"parse projection fell out of codegen: $line")
  }

  test("the parse bank evaluates ONCE per row in count-over-parsed plans") {
    // round 2: Catalyst inlined the parse projection into both the
    // required-attr isNotNull filter and the groupBy keys → 2 evals of
    // the most expensive expression in the engine. The Generate barrier
    // in ParseStage.apply pins it to one.
    val parsed = graft.parse.ParseStage(
      spark.read.parquet(turnsDir), Pipeline.parseConfig)
    val p12ish = graft.agg.CountStage.count(
      parsed,
      graft.model.PipelineConfig.MetricSpec("n",
        attrs = Seq(graft.model.PipelineConfig.AttrSpec("component"),
          graft.model.PipelineConfig.AttrSpec("level", Some("none")))),
      graft.config.ConfigLoader.resolveAttr(Pipeline.parsedFields))
    val occurrences = "multi_pattern_extract".r
      .findAllIn(p12ish.queryExecution.optimizedPlan.toString).size
    assert(occurrences == 1, s"parse bank evaluated $occurrences times")
    // filter-then-project shape (p02-like) must also stay single-eval
    val p02ish = parsed.filter(col("pattern") === "status")
      .select(col("parsed").getItem("level").as("level"))
    val occ2 = "multi_pattern_extract".r
      .findAllIn(p02ish.queryExecution.optimizedPlan.toString).size
    assert(occ2 == 1, s"parse bank evaluated $occ2 times in filter shape")
  }

  test("flagship (unbarriered) parse still evaluates the bank exactly once") {
    // Pipeline.parseEnrich opts OUT of the Generate barrier for its ~10%
    // overhead (ParseStage scaladoc) — legal only while this gate holds:
    // the full flagship plan must contain exactly one bank evaluation
    val enriched = Pipeline.parseEnrich(spark, spark.read.parquet(turnsDir))
    val out = RouteStage.tagsExploded(enriched, Pipeline.routeTable)
      .groupBy(col("route"), window(col("ts"), "1 hour"), col("role"))
      .agg(count(lit(1)))
    val occ = "multi_pattern_extract".r
      .findAllIn(out.queryExecution.optimizedPlan.toString).size
    assert(occ == 1, s"flagship parse bank evaluated $occ times")
  }

  test("flagship plan from the compiled YAML ≡ the hand-built parse/enrich plan") {
    // Pipeline compiles graft/flagship.yaml; the hand oracle spells the
    // same bank in Scala with barrier=false and the built-in tool enrich.
    // The two optimized plans must compute the same result.
    def plan(enriched: org.apache.spark.sql.DataFrame) =
      RouteStage.tagsExploded(enriched, Pipeline.routeTable).queryExecution.optimizedPlan
    val viaYaml = plan(Pipeline.parseEnrich(spark, spark.read.parquet(turnsDir)))
    val byHand = plan(FlagshipByHand.parseEnrich(spark, spark.read.parquet(turnsDir)))
    assert(viaYaml.sameResult(byHand), s"plans differ:\n$viaYaml\nvs\n$byHand")
  }

  test("predicates on non-parsed columns still push through the parse Generate") {
    val parsed = graft.parse.ParseStage(
      spark.read.parquet(turnsDir), Pipeline.parseConfig)
    val q = parsed.filter(col("role") === "user").select("conv_id", "pattern")
    val plan = q.queryExecution.executedPlan.toString
    val scanLine = plan.linesIterator.find(_.contains("PushedFilters")).getOrElse("")
    assert(scanLine.contains("EqualTo(role,user)") || scanLine.contains("IsNotNull(role)"),
      s"role filter not pushed through Generate: $scanLine")
  }

  test("count aggregation is partial (map-side combine before the shuffle)") {
    val q = spark.read.parquet(turnsDir).groupBy("role").agg(count(lit(1)))
    val plan = q.queryExecution.executedPlan.toString
    val aggLines = plan.linesIterator.filter(_.contains("HashAggregate")).toSeq
    assert(aggLines.exists(_.contains("partial_")),
      s"no partial aggregate before shuffle:\n${aggLines.mkString("\n")}")
  }

  // ---- r6 optimization gates: the SortAggregate/regexp-multiplicity
  // regressions these guard were each measured as the dominant cost of
  // their query before the r6 restructures (OPTIMIZATION_r06.md) ----

  private lazy val docsDf = {
    import spark.implicits._
    (1L to 60L).map(i => (i, s"tok${i % 7} alpha beta gamma tok${i % 5} delta"))
      .toDF("doc_id", "text")
  }

  test("r6: LSH near-dup pair path has no sort-based aggregate (first-shared-band dedup)") {
    val pairs = graft.ops.Dedup.nearDupMinhashLsh(docsDf, "doc_id", "text",
      numHashes = 16, bands = 4, shingleSize = 1, threshold = 0.5)
    val plan = pairs.queryExecution.executedPlan.toString
    assert(!plan.contains("SortAggregate"),
      s"pair dedup fell back to a sort-based aggregate:\n$plan")
    assert(plan.contains("first_shared_band"),
      s"in-join-stage pair dedup missing:\n$plan")
  }

  test("r6: contamination pair dedup is hash-based (no array-buffer aggregate)") {
    val pairs = graft.ops.Dedup.contaminationNearDup(docsDf, "doc_id", "text",
      docsDf.select(col("doc_id").as("bench_id"), col("text")), "bench_id",
      "text", numHashes = 16, bands = 4, shingleSize = 1, threshold = 0.5)
    val plan = pairs.queryExecution.executedPlan.toString
    assert(!plan.contains("SortAggregate"),
      s"contamination pair dedup fell back to a sort-based aggregate:\n$plan")
  }

  test("r6: frequentNgrams counting phases are hash aggregates") {
    val plan = graft.ops.TextAnalysis
      .frequentNgrams(docsDf, "doc_id", "text", n = 2, minDocs = 2)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("SortAggregate"),
      s"gram counting fell back to a sort-based aggregate:\n$plan")
    assert(plan.contains("HashAggregate"), s"no hash aggregate found:\n$plan")
  }

  test("r6: syslog parsers carry zero regexp_extract (one bank pass per row)") {
    import spark.implicits._
    val lines = Seq("<13>Oct 11 22:14:15 host app[1]: msg").toDF("line")
    val p3164 = lines.select(graft.parse.Parsers.parseSyslog3164(col("line")).as("p"))
      .select("p.priority", "p.msg")
    assert(!p3164.queryExecution.optimizedPlan.toString.contains("regexp_extract"),
      "RFC3164 re-grew per-field regexp_extract calls")
    val p5424 = lines.select(graft.parse.Parsers.parseSyslog5424(col("line")).as("p"))
      .select("p.priority", "p.msg")
    assert(!p5424.queryExecution.optimizedPlan.toString.contains("regexp_extract"),
      "RFC5424 re-grew per-field regexp_extract calls")
  }

  test("r6: rank-only shuffleOrder consumer never moves the text column") {
    val q = graft.ops.Curation.shuffleOrder(docsDf, "doc_id")
      .select("doc_id", "shuffle_rank")
    // the ranked side is computed from the narrow (id, key) manifest and
    // the doc side prunes to ids — text must appear nowhere in the plan
    val plan = q.queryExecution.executedPlan.toString
    assert(!plan.contains("text#"),
      s"text column leaked into the rank-only plan:\n$plan")
  }

  test("servicegraph full-outer TTL join keys on (conv_id, corr_id), no nested loop") {
    // the TTL range predicate must ride as a join FILTER on an
    // equality-keyed join — a planner that only saw the range would
    // fall back to BroadcastNestedLoopJoin, which is O(n²) at 10^12
    // turns; the equality keys keep it a single hash-partitioned
    // shuffle on (conv_id, corr_id)
    val tr = spark.read.parquet(turnsDir)
    val clients = tr.filter(col("tool") =!= "")
      .select(col("conv_id"), col("turn_idx").cast("bigint").as("corr_id"),
        col("role").as("client_service"), lit(false).as("client_failed"),
        col("ts").cast("timestamp").as("client_ts"))
    val servers = tr.filter(col("turn_idx") > 0)
      .select(col("conv_id"), (col("turn_idx") - 1).cast("bigint").as("corr_id"),
        col("role").as("server_service"), lit(false).as("server_failed"),
        col("ts").cast("timestamp").as("server_ts"))
    val plan = graft.streaming.StreamingPipeline
      .serviceGraph(clients, servers, "0 seconds", "5 minutes")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      s"servicegraph degenerated to a nested loop:\n$plan")
    assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin"),
      s"expected an equality-keyed join:\n$plan")
  }
}
