package graft.run

import java.nio.file.{Files, Paths}
import java.sql.Timestamp

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

import graft.SparkSpec
import graft.model.Turn
import graft.route.RouteStage
import graft.streaming.StreamingPipeline

/** The streaming service entry point, driven end-to-end in `--once`
  * (AvailableNow) mode twice over a growing input directory — the
  * "streaming job doubling as an incremental batch" contract: run 2
  * must process ONLY the new files (checkpointed source positions), the
  * union of both runs' sink tables must equal the batch multi-match
  * fan-out over the full input, and run 1's event-time windows must
  * finalize into the counts table once run 2 advances the watermark. */
class StreamingJobSpec extends SparkSpec {
  import spark.implicits._

  private def ts(h: Int, m: Int = 0): Timestamp =
    Timestamp.valueOf(f"2024-01-01 $h%02d:$m%02d:00")

  private val part1 = Seq(
    Turn("c1", 0, "user", "user=1 action=msg cents=5", "", ts(0, 10)),
    Turn("c1", 1, "system", "ERROR [comp-1] boom", "", ts(0, 20)),
    Turn("c2", 0, "user", "user=2 action=msg cents=9", "", ts(0, 30)))
  private val part2 = Seq(
    Turn("c3", 0, "assistant",
      """CALL tool=search args={"q":1} dur_ms=5""", "search", ts(2, 30)),
    Turn("c3", 1, "user", "user=3 action=msg cents=2", "", ts(2, 40)))

  test("service starts on an empty input dir (schema falls back to the input_hint shape)") {
    val inDir = Files.createTempDirectory("graft_sj_empty_in").toString
    val outDir = Files.createTempDirectory("graft_sj_empty_out").toString
    def drain(): Unit = {
      val hs = StreamingJob.start(spark, inDir, outDir, fileCfg = None,
        windowDur = "1 hour", lateness = "10 minutes", once = true)
      try hs.all.foreach(_.awaitTermination())
      finally hs.all.foreach(_.stop())
    }
    // a resident service must be launchable BEFORE the first file
    // lands: this drain must start (schema = the input_hint fallback,
    // not inference over zero files) and terminate having read nothing
    drain()
    // the first files land later; the SAME checkpointed queries pick
    // them up on the next drain and the fan-out matches batch
    part1.toDS().toDF().write.mode("append").parquet(inDir)
    drain()
    val sinkNames = Pipeline.routeTable.sinkNames
    val gotRows = sinkNames.map { n =>
      try spark.read.parquet(s"$outDir/sinks/$n").count() catch { case _: Throwable => 0L }
    }.sum
    val wantRows = RouteStage.tagsExploded(
      Pipeline.parseEnrich(spark, part1.toDS().toDF()), Pipeline.routeTable).count()
    assert(wantRows > 0 && gotRows == wantRows,
      s"post-empty-start drain must fan out like batch: got $gotRows want $wantRows")
  }

  test("a query that fails to start stops the queries started before it") {
    val inDir = Files.createTempDirectory("graft_sj_fail_in").toString
    part1.toDS().toDF().write.mode("append").parquet(inDir)
    val outDir = Files.createTempDirectory("graft_sj_fail_out").toString
    // a plain file where the counts query's checkpoint directory goes:
    // the sinks query starts, then the counts query's start throws
    Files.createDirectories(Paths.get(outDir, "_ck"))
    Files.createFile(Paths.get(outDir, "_ck", "counts"))
    try {
      intercept[Exception](StreamingJob.start(spark, inDir, outDir, fileCfg = None,
        windowDur = "1 hour", lateness = "10 minutes", once = false))
      assert(spark.streams.active.isEmpty,
        s"left running: ${spark.streams.active.map(_.name).toSeq}")
    } finally spark.streams.active.foreach(_.stop())
  }

  test("a null role is skipped alike by the batch counts_<route> and the streaming counts") {
    val inDir = Files.createTempDirectory("graft_sj_null_in").toString
    val noRole = Turn("c4", 0, null, "user=4 action=msg cents=1", "", ts(0, 40))
    (part1 ++ part2 :+ noRole).toDS().toDF().write.mode("append").parquet(inDir)
    val sinkNames = Pipeline.routeTable.sinkNames

    val batchOut = Files.createTempDirectory("graft_sj_null_batch").toString
    val r = PipelineJob.run(spark, inDir, batchOut, Nil)
    assert(r.failed.isEmpty, s"$r")
    val batch = sinkNames.flatMap { n =>
      spark.read.parquet(s"$batchOut/counts_$n")
        .select("window_start", "role", "count").as[(Timestamp, String, Long)]
        .collect().map { case (w, role, c) => (w, n, role, c) }
    }.toSet

    // one drain: the no-data batch after it finalizes the hour-0 windows
    val streamOut = Files.createTempDirectory("graft_sj_null_stream").toString
    val hs = StreamingJob.start(spark, inDir, streamOut, fileCfg = None,
      windowDur = "1 hour", lateness = "10 minutes", once = true)
    try hs.all.foreach(_.awaitTermination())
    finally hs.all.foreach(_.stop())
    val streamed = spark.read.parquet(s"$streamOut/counts")
      .select("window_start", "route", "role", "n")
      .as[(Timestamp, String, String, Long)].collect().toSet

    val hour0 = batch.filter(_._1.before(ts(2)))
    assert(hour0.nonEmpty && !batch.exists(_._3 == null), s"$batch")
    assert(streamed === hour0)
  }

  test("--once runs are incremental; sinks ≡ batch fan-out; windows finalize across runs") {
    val inDir = Files.createTempDirectory("graft_sj_in").toString
    val outDir = Files.createTempDirectory("graft_sj_out").toString

    // the flagship config file drives the run — routes AND metrics
    // from YAML (the same file Pipeline compiles, so batch comparisons
    // below stay valid)
    val cfg = graft.config.ConfigLoader.compile(
      graft.config.ConfigLoader.loadResource("/graft/flagship.yaml"))
    def drain(): Unit = {
      val hs = StreamingJob.start(spark, inDir, outDir, fileCfg = Some(cfg),
        windowDur = "1 hour", lateness = "10 minutes", once = true)
      try hs.all.foreach(_.awaitTermination())
      finally hs.all.foreach(_.stop())
    }
    def batchTagged(rows: Seq[Turn]): DataFrame =
      RouteStage.tagsExploded(
        Pipeline.parseEnrich(spark, rows.toDS().toDF()), Pipeline.routeTable)
    def sinkRows(name: String): Seq[String] = {
      val df = spark.read.parquet(s"$outDir/sinks/$name").drop("batch_id")
      val cols = df.columns.sorted.map(col).toSeq
      df.select(cols: _*).collect().map(_.toString).sorted.toSeq
    }
    def batchRows(df: DataFrame, name: String): Seq[String] = {
      val f = df.filter(col("route") === name)
      val cols = f.columns.sorted.map(col).toSeq
      f.select(cols: _*).collect().map(_.toString).sorted.toSeq
    }
    val sinkNames = Pipeline.routeTable.sinkNames

    // run 1 over part 1
    part1.toDS().toDF().write.mode("append").parquet(inDir)
    drain()
    val b1 = batchTagged(part1)
    sinkNames.filter(n => batchRows(b1, n).nonEmpty).foreach { n =>
      assert(sinkRows(n) === batchRows(b1, n), s"run-1 sink $n")
    }
    // hour-0 windows are NOT finalized yet (watermark ≤ 00:20)
    val counts1 =
      if (Files.exists(java.nio.file.Path.of(s"$outDir/counts")))
        spark.read.parquet(s"$outDir/counts").count()
      else 0L
    assert(counts1 === 0L, "no window can finalize before the watermark passes it")

    // run 2 over ONLY the new files (part 2 appended)
    part2.toDS().toDF().write.mode("append").parquet(inDir)
    drain()
    val bAll = batchTagged(part1 ++ part2)
    sinkNames.filter(n => batchRows(bAll, n).nonEmpty).foreach { n =>
      assert(sinkRows(n) === batchRows(bAll, n), s"run-2 sink $n")
    }
    // incremental proof: the sinks hold each part-1 row exactly once —
    // if run 2 had re-read part 1's files, the per-batch overwrite
    // layout would hold duplicates under a NEW batch_id
    assert(sinkRows("user_turns").size ===
      batchRows(bAll, "user_turns").size)

    // part-1 windows finalized by part 2's event time (02:40 - 10 min
    // watermark ≫ 01:00 window end); compare against the batch
    // rendering of the same count (withWatermark is a no-op in batch)
    val got = spark.read.parquet(s"$outDir/counts")
      .select("window_start", "route", "role", "n")
      .as[(Timestamp, String, String, Long)].collect().toSet
    val wantAll = StreamingPipeline.windowedCounts(
        bAll, "1 hour", "10 minutes", Seq("route", "role"))
      .select("window_start", "route", "role", "n")
      .as[(Timestamp, String, String, Long)].collect().toSet
    val wantFinal = wantAll.filter(_._1.before(ts(2))) // hour-0 windows
    assert(wantFinal.nonEmpty)
    assert(got === wantFinal,
      "counts must hold exactly the finalized windows of the batch result")

    // configured metric tables (metric_<name>): the finalized windows
    // must equal the batch count-connector over the pre-fan-out
    // enriched frame — multi-match explosion must NOT inflate them
    val enrichedAll = Pipeline.parseEnrich(spark, (part1 ++ part2).toDS().toDF())
    val gotMetric = spark.read.parquet(s"$outDir/metric_turn_count_by_role")
      .select("window_start", "role", "turn_count_by_role")
      .as[(Timestamp, String, Long)].collect().toSet
    val wantMetric = graft.agg.CountStage.countWindowed(
        enrichedAll,
        graft.model.PipelineConfig.MetricSpec("turn_count_by_role",
          attrs = Seq(graft.model.PipelineConfig.AttrSpec("role"))),
        col("ts"), "1 hour", graft.config.ConfigLoader.resolveAttr(Pipeline.parsedFields))
      .select("window_start", "role", "turn_count_by_role")
      .as[(Timestamp, String, Long)].collect().toSet
      .filter(_._1.before(ts(2)))
    assert(wantMetric.nonEmpty)
    assert(gotMetric === wantMetric)
  }
}
