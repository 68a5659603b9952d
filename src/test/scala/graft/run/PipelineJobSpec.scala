package graft.run

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

import org.apache.spark.graftspec.ListenerBusProbe
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.route.RouteStage
import graft.synth.TranscriptSynth

/** The batch entry point end to end on a small synthetic input: what a
  * bare launch commits, what each kind of re-run re-executes (one config
  * fingerprint for the flagship, bare or from its YAML file), and the
  * launch-argument and master defaults. */
class PipelineJobSpec extends SparkSpec {

  private lazy val inDir = {
    val dir = Files.createTempDirectory("graft_pj_in").toString
    TranscriptSynth.generate(spark, TranscriptSynth.Config(2000, 20))
      .write.mode("overwrite").parquet(dir)
    dir
  }

  private val countSinks =
    Set("counts_tool_calls", "counts_errors", "counts_user_turns", "counts_default")
  private val metricSinks = Set("metric_turn_count", "metric_turn_count_by_role",
    "metric_tool_call_count", "metric_error_count_by_component")

  /** The flagship YAML as a config file, with `edit` applied to its text. */
  private def flagshipFile(edit: String => String = identity): String = {
    val in = getClass.getResourceAsStream("/graft/flagship.yaml")
    val yaml = try new String(in.readAllBytes(), StandardCharsets.UTF_8) finally in.close()
    val f = Files.createTempFile("graft_pj_cfg", ".yaml")
    Files.writeString(f, edit(yaml))
    f.toString
  }

  /** Sinks committed in `outDir` (manifest names under `_lineage/`). */
  private def manifests(outDir: String): Set[String] =
    new java.io.File(s"$outDir/_lineage").list().toSet[String].collect {
      case f if f.endsWith(".json") && f != "run_metrics.json" => f.stripSuffix(".json")
    }

  private def routeRows(outDir: String): Map[String, Long] =
    spark.read.parquet(s"$outDir/sinks").groupBy("route").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap

  test("a bare run commits the fan-out and per-route counts; route totals ≡ tagsExploded") {
    val out = Files.createTempDirectory("graft_pj_bare").toString
    val r = PipelineJob.run(spark, inDir, out, Nil)
    assert(r.failed.isEmpty && r.skipped.isEmpty, s"$r")
    assert(r.executed.toSet == countSinks + "sinks_fanout")
    assert(manifests(out) == countSinks + "sinks_fanout")
    assert(Files.exists(Path.of(out, "_lineage", "run_metrics.json")))

    val want = RouteStage.tagsExploded(
        FlagshipByHand.parseEnrich(spark, spark.read.parquet(inDir)),
        FlagshipByHand.routeTableByHand)
      .groupBy("route").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(want.keySet == Set("tool_calls", "errors", "user_turns", "default"))
    assert(routeRows(out) == want)
    want.foreach { case (route, n) =>
      val counted = spark.read.parquet(s"$out/counts_$route")
        .agg(coalesce(sum("count"), lit(0L))).head().getLong(0)
      assert(counted == n, s"counts_$route")
    }
  }

  test("re-runs: identical skips all, flagship.yaml adds only metric_*, a where edit re-runs the fan-out") {
    val out = Files.createTempDirectory("graft_pj_resume").toString
    assert(PipelineJob.run(spark, inDir, out, Nil).executed.contains("sinks_fanout"))

    val again = PipelineJob.run(spark, inDir, out, Nil)
    assert(again.executed.isEmpty && again.failed.isEmpty, s"$again")
    assert(again.skipped.toSet == countSinks + "sinks_fanout")

    // the same flagship from its YAML file: one fingerprint, so only the
    // sinks a bare run does not write execute
    val yaml = PipelineJob.run(spark, inDir, out, Seq(flagshipFile()))
    assert(yaml.failed.isEmpty, s"$yaml")
    assert(yaml.executed.toSet == metricSinks)
    assert(yaml.skipped.toSet == countSinks + "sinks_fanout")

    // editing one route's `where` changes the config identity: the
    // fan-out and every count re-execute, and the route follows the edit
    val edited = flagshipFile(_.replace("""where: 'role == "user"'""",
      """where: 'role == "assistant"'"""))
    val re = PipelineJob.run(spark, inDir, out, Seq(edited))
    assert(re.failed.isEmpty, s"$re")
    assert(re.executed.toSet == countSinks ++ metricSinks + "sinks_fanout")
    val assistants = spark.read.parquet(inDir).filter(col("role") === "assistant").count()
    assert(assistants > 0 && routeRows(out)("user_turns") == assistants)
  }

  /** Rows per route of the flagship fan-out, from the hand-built oracle. */
  private lazy val handRouteRows: Map[String, Long] =
    RouteStage.tagsExploded(
        FlagshipByHand.parseEnrich(spark, spark.read.parquet(inDir)),
        FlagshipByHand.routeTableByHand)
      .groupBy("route").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap

  /** (file, rows) entries of a committed manifest. */
  private def manifestFiles(outDir: String, sink: String): Seq[(String, Long)] = {
    val json = Files.readString(Path.of(outDir, "_lineage", s"$sink.json"))
    """"file":"([^"]*)","rows":(\d+)""".r.findAllMatchIn(json)
      .map(m => m.group(1) -> m.group(2).toLong).toSeq
  }

  test("a rollback after a fan-out that failed mid-overwrite re-runs the fan-out") {
    val out = Files.createTempDirectory("graft_pj_rollback").toString
    assert(PipelineJob.run(spark, inDir, out, Nil).executed.contains("sinks_fanout"))

    // config B: a `where` edit whose regex only fails when a task runs,
    // i.e. inside the fan-out write, after the overwrite cleared config
    // A's output
    val broken = flagshipFile(_.replace("""where: 'role == "user"'""",
      """where: 'IsMatch(body, "(")'"""))
    intercept[Exception](PipelineJob.run(spark, inDir, out, Seq(broken)))
    assert(ListenerBusProbe.registered[MetricsListener](spark.sparkContext).isEmpty,
      "the failed run left its MetricsListener on the session's listener bus")
    val sinks = new java.io.File(s"$out/sinks")
    assert(!sinks.exists() || sinks.listFiles().forall(!_.getName.startsWith("route=")),
      "config B's failed write should have destroyed config A's fan-out")

    // back to config A: its fan-out manifest must not survive B's
    // overwrite, so the fan-out re-executes instead of shipping the
    // destroyed sinks as committed
    val back = PipelineJob.run(spark, inDir, out, Nil)
    assert(back.failed.isEmpty, s"$back")
    assert(back.executed.contains("sinks_fanout"), s"$back")
    assert(routeRows(out) == handRouteRows)
  }

  test("a route named a:b: fan-out manifest lists its escaped route=a%3Ab files; its counts sink commits") {
    val out = Files.createTempDirectory("graft_pj_escaped").toString
    val cfg = flagshipFile(_.replace("- name: user_turns", "- name: 'a:b'")
      .replaceAll("(?s)metrics:.*window:", "window:"))
    val r = PipelineJob.run(spark, inDir, out, Seq(cfg))
    assert(r.failed.isEmpty, s"$r")
    assert(r.executed.toSet ==
      countSinks - "counts_user_turns" + "counts_a:b" + "sinks_fanout")

    val files = manifestFiles(out, "sinks_fanout")
    val got = routeRows(out)
    val escaped = files.filter(_._1.startsWith("route=a%3Ab/"))
    assert(escaped.nonEmpty, s"no route=a%3Ab/ files in ${files.map(_._1)}")
    assert(escaped.map(_._2).sum == got("a:b"))
    assert(got("a:b") == handRouteRows("user_turns"))
    assert(files.map(_._2).sum == got.values.sum)
  }

  test("a zero-row input commits empty counts and its re-run skips every sink") {
    val in = Files.createTempDirectory("graft_pj_empty_in").toString
    spark.read.parquet(inDir).limit(0).write.mode("overwrite").parquet(in)
    val out = Files.createTempDirectory("graft_pj_empty").toString
    val r = PipelineJob.run(spark, in, out, Nil)
    assert(r.failed.isEmpty, s"$r")
    assert(r.executed.toSet == countSinks + "sinks_fanout")
    assert(manifestFiles(out, "sinks_fanout").isEmpty)
    countSinks.foreach(c => assert(spark.read.parquet(s"$out/$c").count() == 0, c))

    val again = PipelineJob.run(spark, in, out, Nil)
    assert(again.executed.isEmpty && again.failed.isEmpty, s"$again")
    assert(again.skipped.toSet == countSinks + "sinks_fanout")
  }

  test("extra args: at most one config file and one window, else the usage line") {
    val cfg = flagshipFile()
    val (model, compiled, window) = PipelineJob.parseExtraArgs(Seq("30 minutes", cfg))
    assert(model.contains(Pipeline.config) && compiled.nonEmpty)
    assert(window.contains("30 minutes"))
    assert(PipelineJob.parseExtraArgs(Nil) == ((None, None, None)))
    Seq(Seq(cfg, cfg), Seq("1 hour", "2 hours")).foreach { extra =>
      val e = intercept[IllegalArgumentException](PipelineJob.parseExtraArgs(extra))
      assert(e.getMessage.contains(PipelineJob.Usage), extra.toString)
    }
  }

  test("launch master: unset resolves to every local core; env and spark.master override") {
    val cores = Runtime.getRuntime.availableProcessors()
    val unset = Launch.launchMaster(Map.empty, Map.empty)
    assert(unset == "local[*]")
    assert(Launch.localThreads(unset).contains(cores))
    assert(Launch.launchMaster(Map.empty, Map("SPARK_GRAFT_MASTER" -> "local[3]")) == "local[3]")
    assert(Launch.launchMaster(Map("spark.master" -> "local[2]"),
      Map("SPARK_GRAFT_MASTER" -> "local[3]")) == "local[2]")
    // every local form Spark accepts, matched whole
    Seq("local[3]" -> Some(3), "local" -> Some(1), "local[4,2]" -> Some(4),
        "local[*,3]" -> Some(cores), "local[*]" -> Some(cores),
        "yarn" -> None, "spark://h:7077" -> None, "local-cluster[2,1,1024]" -> None,
        "xlocal[3]" -> None, "local[3]x" -> None)
      .foreach { case (m, threads) => assert(Launch.localThreads(m) == threads, m) }
  }
}
