package graft.config

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.model.PipelineConfig._
import graft.run.{FlagshipByHand, Pipeline}
import graft.synth.TranscriptSynth

/** The confmap round-trip law (`pkg/stanza/operator/operatortest/
  * confmap.go` in the reference collector): the flagship YAML unmarshals to
  * exactly the config written out below, and re-rendering it reloads to
  * the same value. Then the compiled config must DRIVE the same
  * pipeline: identical route row sets and identical metric frames as
  * the hand-built Column oracle ([[graft.run.FlagshipByHand]]) on the
  * same transcripts.
  */
class ConfigLoaderSpec extends SparkSpec {

  /** The product's routing verdict ([[graft.route.RouteStage.routed]])
    * cut into one frame per sink, and each sink's windowed count. */
  private def sinksAndCounts(enriched: DataFrame, table: RouteTable, window: String,
                             parsedFields: Set[String])
      : (Map[String, DataFrame], Map[String, DataFrame]) = {
    val routed = graft.route.RouteStage.routed(enriched, table)
    val perSink = table.sinkNames.map(n => n -> routed.filter(col("route") === n)).toMap
    (perSink.map { case (n, f) => n -> f.drop("route") },
     perSink.map { case (n, f) => n -> graft.agg.CountStage.countWindowed(
       f, MetricSpec("count"), col("ts"), window, ConfigLoader.resolveAttr(parsedFields)) })
  }

  private def goldenYaml: String = {
    val in = getClass.getResourceAsStream("/graft/flagship.yaml")
    try new String(in.readAllBytes(), "UTF-8") finally in.close()
  }

  /** The flagship config as the FILE model (what the YAML encodes). */
  private def flagshipFileConfig: ConfigLoader.GraftFileConfig =
    ConfigLoader.GraftFileConfig(
      parse = FlagshipByHand.parseConfig,
      enrich = Some(ConfigLoader.EnrichFile(Seq("tool"), "upsert", None)),
      routes = ConfigLoader.RoutesFile(matchOnce = false, default = "default",
        table = Seq(
          ConfigLoader.RouteFileSpec("tool_calls",
            """tool != "" and attributes["tool_name"] != nil"""),
          ConfigLoader.RouteFileSpec("errors",
            """attributes["level"] == "ERROR" or attributes["level"] == "FATAL""""),
          ConfigLoader.RouteFileSpec("user_turns", """role == "user""""))),
      metrics = Seq(
        ConfigLoader.MetricFileSpec("turn_count"),
        ConfigLoader.MetricFileSpec("turn_count_by_role",
          attributes = Seq(ConfigLoader.MetricAttr("role"))),
        ConfigLoader.MetricFileSpec("tool_call_count",
          conditions = Seq("""tool != """""),
          attributes = Seq(ConfigLoader.MetricAttr("tool"),
            ConfigLoader.MetricAttr("cost_class", Some("unknown")))),
        ConfigLoader.MetricFileSpec("error_count_by_component",
          conditions = Seq("""attributes["level"] == "ERROR""""),
          attributes = Seq(ConfigLoader.MetricAttr("component")))),
      window = "1 hour")

  test("golden fixture loads to the programmatic flagship config (confmap.go)") {
    assert(ConfigLoader.load(goldenYaml) == flagshipFileConfig)
    assert(Pipeline.config == flagshipFileConfig)
  }

  test("render ∘ load = identity (YAML round-trip)") {
    val c = flagshipFileConfig
    assert(ConfigLoader.load(ConfigLoader.render(c)) == c)
    // twice: render output is itself stable input
    val again = ConfigLoader.render(ConfigLoader.load(ConfigLoader.render(c)))
    assert(ConfigLoader.load(again) == c)
    // non-default streaming lateness survives the trip and compiles
    val cl = c.copy(lateness = "30 seconds")
    assert(ConfigLoader.load(ConfigLoader.render(cl)) == cl)
    assert(ConfigLoader.compile(cl).lateness == "30 seconds")
  }

  test("on_error and enrich action parse; bad values are loud") {
    val drop = ConfigLoader.load(
      "parse:\n  on_error: drop\n  patterns:\n    - name: p\n      regex: '^x$'\n      fields: []\n")
    assert(drop.parse.onError == OnError.Drop)
    val e = intercept[IllegalArgumentException] {
      ConfigLoader.load("parse:\n  on_error: explode\n  patterns: []\n")
    }
    assert(e.getMessage.contains("on_error"))
    intercept[IllegalArgumentException] {
      ConfigLoader.load("window: 1 hour\n") // parse section required
    }
    // a typo'd enrich action must not silently become upsert (which
    // would overwrite fact-side values the user meant to preserve)
    val a = intercept[IllegalArgumentException] {
      ConfigLoader.load(
        "parse:\n  patterns: []\nenrich:\n  keys: [tool]\n  action: updated\n")
    }
    assert(a.getMessage.contains("action"))
  }

  test("explicit-null values default; present-but-non-array sections are loud") {
    // "source:" with a blank value is a NullNode whose asText() is the
    // literal string "null" — it must behave like an absent field, not
    // become a column named "null"
    val c = ConfigLoader.load(
      "parse:\n  source:\n  patterns:\n    - name: p\n      regex: '^x$'\n      fields: []\nenrich:\n  keys: [tool]\n  dim_path:\n")
    assert(c.parse.sourceCol == "text")
    assert(c.enrich.get.dimPath.isEmpty)
    // an explicitly-null section ≡ absent
    assert(ConfigLoader.load(
      "parse:\n  patterns:\n    - name: p\n      regex: '^x$'\n      fields: []\nmetrics:\n").metrics.isEmpty)
    // a mis-indented block parsed as an object must error loudly, not
    // silently run the pipeline with an empty pattern bank
    val e = intercept[IllegalArgumentException] {
      ConfigLoader.load("parse:\n  patterns:\n    name: p\n    regex: '^x$'\n")
    }
    assert(e.getMessage.contains("expected a YAML list"))
    // a required field set to explicit null is missing, not "null"
    val r = intercept[IllegalArgumentException] {
      ConfigLoader.load(
        "parse:\n  patterns:\n    - name:\n      regex: '^x$'\n      fields: []\n")
    }
    assert(r.getMessage.contains("name"))
  }

  test("enrich dim_path loads a user-supplied parquet dimension") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("cfg_dim").toString
    Seq(("bash", "high"), ("search", "low"), ("", "none"))
      .toDF("tool", "risk").write.mode("overwrite").parquet(s"$dir/dim")
    val yaml =
      s"""parse:
         |  patterns:
         |    - name: kv
         |      regex: '^(?<kvpairs>\\w+=[^ ]+( \\w+=[^ ]+)*)$$'
         |      fields: [kvpairs]
         |enrich:
         |  keys: [tool]
         |  dim_path: $dir/dim
         |""".stripMargin
    val compiled = ConfigLoader.compile(ConfigLoader.load(yaml))
    val turns = TranscriptSynth.generate(spark,
      TranscriptSynth.Config(nTurns = 500, nConvs = 5))
    val out = compiled.parseEnrich(spark, turns)
    assert(out.columns.contains("risk"))
    val risks = out.groupBy("tool").agg(org.apache.spark.sql.functions
      .first("risk").as("r")).collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(risks.get("bash").contains("high") && risks.get("").contains("none"))

    // duplicate dim keys in the user parquet must not multiply fact
    // rows through what is semantically a lookup — the load path dedups
    // on the join keys (built-in dims are statically unique, so
    // EnrichStage itself stays dedup-free and its plans shuffle-free)
    Seq(("bash", "high"), ("bash", "dup"), ("", "none"))
      .toDF("tool", "risk").write.mode("overwrite").parquet(s"$dir/dimdup")
    val yamlDup = yaml.replace(s"$dir/dim", s"$dir/dimdup")
    val outDup = ConfigLoader.compile(ConfigLoader.load(yamlDup))
      .parseEnrich(spark, turns)
    assert(outDup.count() == turns.count())
  }

  test("match_once: true gives first-match-wins sinks, no fan-out duplicates") {
    import spark.implicits._
    val yaml =
      """parse:
        |  patterns: []
        |routes:
        |  match_once: true
        |  table:
        |    - name: users
        |      where: 'role == "user"'
        |    - name: early
        |      where: 'turn_idx < 1'
        |""".stripMargin
    val compiled = ConfigLoader.compile(ConfigLoader.load(yaml))
    val turns = Seq(
      ("c1", 0, "user", "both match", "", java.sql.Timestamp.valueOf("2024-01-01 00:00:00")),
      ("c2", 5, "tool", "neither", "", java.sql.Timestamp.valueOf("2024-01-01 00:10:00")))
      .toDF("conv_id", "turn_idx", "role", "text", "tool", "ts")
    val (sinks, counts) = sinksAndCounts(compiled.parseEnrich(spark, turns),
      compiled.routeTable, compiled.window, compiled.parsedFields)
    // c1 matches BOTH routes: first-match-wins must land it in `users`
    // only (the previous multi-match path duplicated it into both and
    // doubled the per-route counts)
    assert(sinks("users").count() == 1 && sinks("early").count() == 0,
      s"got ${sinks.view.mapValues(_.count()).toMap}")
    assert(sinks("default").count() == 1)
    import org.apache.spark.sql.functions.{coalesce, lit, sum}
    val total = counts.values.map(
      _.agg(coalesce(sum("count"), lit(0L))).head().getLong(0)).sum
    assert(total == 2, s"counts must partition the rows once, got $total")
  }

  test("config collisions and degenerate enrich keys fail loudly at load/compile") {
    def loadC(y: String) = ConfigLoader.compile(ConfigLoader.load(y))
    val dupMetric = intercept[IllegalArgumentException] { loadC(
      "parse:\n  patterns: []\nmetrics:\n  - name: m\n  - name: m\n") }
    assert(dupMetric.getMessage.contains("duplicate metric"))
    val dupRoute = intercept[IllegalArgumentException] { loadC(
      "parse:\n  patterns: []\nroutes:\n  table:\n    - name: r\n      where: 'turn_idx > 0'\n    - name: r\n      where: 'turn_idx < 0'\n") }
    assert(dupRoute.getMessage.contains("duplicate route"))
    val defClash = intercept[IllegalArgumentException] { loadC(
      "parse:\n  patterns: []\nroutes:\n  default: r\n  table:\n    - name: r\n      where: 'turn_idx > 0'\n") }
    assert(defClash.getMessage.contains("default"))
    val emptyKeys = intercept[IllegalArgumentException] { ConfigLoader.load(
      "parse:\n  patterns: []\nenrich:\n  action: upsert\n") }
    assert(emptyKeys.getMessage.contains("keys"))
    // a mis-indented scalar (regex holding a nested block) is loud, not
    // an empty-string regex matching every row
    val containerScalar = intercept[IllegalArgumentException] { ConfigLoader.load(
      "parse:\n  patterns:\n    - name: p\n      regex:\n        oops: 1\n      fields: []\n") }
    assert(containerScalar.getMessage.contains("scalar"))
  }

  test("compiled config drives the flagship: identical sinks and counts") {
    val turns = TranscriptSynth.generate(spark,
      TranscriptSynth.Config(nTurns = 3000, nConvs = 30)).cache()
    val compiled = ConfigLoader.compile(ConfigLoader.load(goldenYaml))

    def key(df: DataFrame) = df.select("conv_id", "turn_idx")
      .collect().map(r => (r.getString(0), r.getInt(1))).toSet
    val (sinksCfg, countsCfg) = sinksAndCounts(compiled.parseEnrich(spark, turns),
      compiled.routeTable, compiled.window, compiled.parsedFields)
    // the reference: hand-built parse/enrich, route table and counts
    val enriched = FlagshipByHand.parseEnrich(spark, turns).cache()
    val (sinksRef, countsRef) = sinksAndCounts(enriched,
      FlagshipByHand.routeTableByHand, "1 hour", FlagshipByHand.parsedFields)
    assert(sinksCfg.keySet == sinksRef.keySet)
    assert(sinksRef.keySet == Set("tool_calls", "errors", "user_turns", "default"))
    sinksRef.keys.foreach { name =>
      assert(key(sinksCfg(name)) == key(sinksRef(name)), s"sink $name differs")
    }
    countsRef.keys.foreach { name =>
      val a = countsCfg(name).collect().map(_.toSeq).toSet
      val b = countsRef(name).collect().map(_.toSeq).toSet
      assert(a == b, s"counts $name differ")
    }

    // the config file's metric table over the enriched frame ≡ the
    // hand-written metric table (GoldenCountSpec covers the semantics;
    // this pins the YAML -> MetricSpec path)
    val fromCfg = compiled.countMetrics(enriched)
    assert(fromCfg.keySet == FlagshipByHand.metricsByHand.map(_.name).toSet)
    FlagshipByHand.metricsByHand.foreach { m =>
      val ref = graft.agg.CountStage.countWindowed(enriched, m, col("ts"),
        "1 hour", ConfigLoader.resolveAttr(FlagshipByHand.parsedFields))
      val a = fromCfg(m.name).collect().map(_.toSeq).toSet
      val b = ref.collect().map(_.toSeq).toSet
      assert(a == b, s"metric ${m.name} differs")
    }
  }
}
