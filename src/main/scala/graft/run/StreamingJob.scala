package graft.run

import scala.util.chaining._
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery, Trigger}

import graft.route.RouteStage
import graft.streaming.StreamingPipeline

/** spark-submit entry point for the pipeline as a LONG-RUNNING
  * Structured Streaming service — the deployment shape of the reference
  * collector itself (a resident process tailing its receivers), where
  * [[PipelineJob]] is the batch/backfill rendering of the same graph:
  *
  *   spark-submit --class graft.run.StreamingJob <jar> \
  *     <transcriptsDir> <outDir> [windowDur] [config.yaml] [--once]
  *
  * Same config surface as [[PipelineJob]] (a YAML file via
  * [[graft.config.ConfigLoader]], or the flagship
  * `src/main/resources/graft/flagship.yaml` when none is given), same
  * route-table match semantics ([[RouteStage.routed]]: match_once →
  * first-match single tag, default → multi-match fan-out), driving:
  *
  *   - `outDir/sinks/<route>/batch_id=N` — the per-route sink tables via
  *     [[StreamingPipeline.startRoutedSinksMultiplexed]]: ONE upstream
  *     pass and one partitioned write per micro-batch, staged and renamed
  *     into each route's `batch_id=N`, per-batch replace idempotence
  *     (exactly-once on replay);
  *   - `outDir/counts` — the streaming count connector
  *     ([[StreamingPipeline.windowedCounts]]): per-(window, route, role)
  *     counts under a watermark, append-finalized — state is bounded by
  *     `lateness`, not the stream. A row without a `role` is skipped, as
  *     in PipelineJob's `counts_<route>` tables;
  *   - `outDir/metric_<name>` — each metric a config file declares
  *     (conditions + attrs, the count-connector surface), computed over
  *     the PRE-fan-out enriched frame exactly like [[PipelineJob]]
  *     (multi-match explosion would double-count global metrics), one
  *     independently-restartable query per metric.
  *
  * `--once` runs with `Trigger.AvailableNow` (drain what's there, then
  * exit): the streaming service doubling as an incremental batch job —
  * re-launching later processes only NEW files, positions tracked in the
  * checkpoint: this is the product's incremental ingest.
  *
  * Append-mode semantics note (standard Structured Streaming): a window
  * finalizes when the watermark passes its end, so the trailing window
  * of a drained `--once` run emits on the NEXT run that advances the
  * watermark. The sink tables carry every row immediately; only the
  * count finalization trails.
  */
object StreamingJob {

  final case class Handles(sinks: StreamingQuery, counts: StreamingQuery,
                           metrics: Seq[(String, StreamingQuery)]) {
    def all: Seq[StreamingQuery] = sinks +: counts +: metrics.map(_._2)
  }

  val Usage = "usage: StreamingJob <transcriptsDir> <outDir> [windowDur] [config.yaml] [--once]"

  def main(args: Array[String]): Unit = {
    require(args.length >= 2, Usage)
    val inPath = args(0); val outDir = args(1)
    val extra = args.drop(2).toSeq
    val once = extra.contains("--once")
    val (_, fileCfg, windowArg) =
      PipelineJob.parseExtraArgs(extra.filterNot(_ == "--once"), Usage)
    val cfg = fileCfg.getOrElse(Pipeline.flagship)

    Launch.failFastLocalHeap("StreamingJob")

    val spark = Launch.session("graft-streaming", Launch.launchMaster(), Map.empty)

    val hs = start(spark, inPath, outDir, fileCfg, windowArg.getOrElse(cfg.window),
      lateness = cfg.lateness, once = once)
    if (once) {
      hs.all.foreach(_.awaitTermination())
      spark.stop()
    } else spark.streams.awaitAnyTermination()
  }

  /** Build and start the queries; separated from main for testing and
    * for embedding in a host application. `fileCfg = None` runs the
    * flagship without its `metric_*` queries. */
  def start(spark: SparkSession, inPath: String, outDir: String,
            fileCfg: Option[graft.config.ConfigLoader.Compiled],
            windowDur: String, lateness: String, once: Boolean): Handles = {
    // file streaming sources need an explicit schema — take it from the
    // files already present (the table's shape is the input_hint
    // contract, so this is a metadata-only footer read). A resident
    // service must be launchable BEFORE the first file lands: when the
    // input dir is empty or absent, fall back to the input_hint schema
    // itself instead of crashing at startup on schema inference
    val schema =
      try spark.read.parquet(inPath).schema
      catch { case _: org.apache.spark.sql.AnalysisException =>
        graft.sources.Transcripts.transcriptSchema }
    val stream = spark.readStream.schema(schema).parquet(inPath)

    val cfg = fileCfg.getOrElse(Pipeline.flagship)
    val routeTable = cfg.routeTable
    val enriched = cfg.parseEnrich(spark, stream)
    val tagged = RouteStage.routed(enriched, routeTable)
    val trig = if (once) Some(Trigger.AvailableNow()) else None

    val qSinks = StreamingPipeline.startRoutedSinksMultiplexed(
      tagged, routeTable.sinkNames, s"$outDir/sinks", s"$outDir/_ck/sinks", trig)

    // a later start that fails must not leave the queries already
    // started running with no handle returned to the caller
    val started = scala.collection.mutable.ArrayBuffer(qSinks)
    try {
      // the streaming count connector over the SAME tag column (two
      // queries = two upstream passes — mirroring the batch path, where
      // counts also derive from their own exploded-tag pass; the sink
      // query's multiplexer keeps ITS pass single regardless of k). One
      // (window, route, role) table — the streaming rendering of
      // PipelineJob's per-route `counts_<route>` tables, route as a column
      def startAppend(df: org.apache.spark.sql.DataFrame, path: String,
                      ck: String): StreamingQuery =
        trig.foldLeft(
            df.writeStream
              .outputMode(OutputMode.Append)
              .option("checkpointLocation", ck)
              .option("path", path)
          )(_.trigger(_))
          .format("parquet")
          .start()
          .tap(started += _)
      val qCounts = startAppend(
        StreamingPipeline.windowedCounts(tagged, windowDur, lateness,
          Seq("route", "role")),
        s"$outDir/counts", s"$outDir/_ck/counts")

      // configured count-connector metrics (`metric_<name>`, matching
      // PipelineJob): over the PRE-fan-out enriched frame — multi-match
      // explosion duplicates rows per route and would double-count global
      // metrics. Metrics are a config-sized set, so one streaming query
      // per metric (each its own checkpoint/table, independently
      // restartable — the per-query variant's isolation is the RIGHT
      // trade here, unlike the k-sink ingest path).
      val wmEnriched = enriched.withWatermark("ts", lateness)
      val metricFrames = fileCfg.toSeq.flatMap(_.countMetrics(wmEnriched, windowDur))
      val qMetrics = metricFrames.map { case (name, df) =>
        name -> startAppend(df, s"$outDir/metric_$name", s"$outDir/_ck/metric_$name")
      }
      Handles(qSinks, qCounts, qMetrics)
    } catch { case NonFatal(e) =>
      started.foreach(q => try q.stop() catch { case NonFatal(s) => e.addSuppressed(s) })
      throw e
    }
  }
}
