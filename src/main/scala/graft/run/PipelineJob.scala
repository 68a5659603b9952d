package graft.run

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.agg.CountStage
import graft.config.ConfigLoader
import graft.model.PipelineConfig.{AttrSpec, MetricSpec}
import graft.route.RouteStage
import graft.sources.Transcripts

/** spark-submit entry point for the full batch pipeline with resumable
  * checkpoints + metrics:
  *
  *   spark-submit --class graft.run.PipelineJob <jar> \
  *     <transcriptsPath> <outDir> [windowDur] [config.yaml]
  *
  * Stages (the collector graph, SURVEY.md §3): read transcripts (Iceberg
  * on-cluster / parquet locally) → parse bank → broadcast enrich →
  * single-pass multi-match fan-out to per-route sink tables → per-sink
  * windowed counts, plus one `metric_<name>` table per metric of a
  * config file. Without a config file the flagship
  * (`src/main/resources/graft/flagship.yaml`) runs, without its
  * `metric_*` tables. The fan-out and every counts table commit through
  * one step, [[Lineage.commitSink]] (the counts via
  * [[Lineage.runResumable]], which commits them concurrently): a killed
  * run resumes without recomputing committed sinks (per-partition
  * lineage in the manifests).
  *
  * On a real cluster: identical code at N and 4N executors; the
  * fan-out write shuffles nothing (partitionBy on the tag), the count
  * stage shuffles only partial aggregates.
  */
object PipelineJob {

  val Usage = "usage: PipelineJob <transcriptsPath> <outDir> [windowDur] [config.yaml]"

  def main(args: Array[String]): Unit = {
    require(args.length >= 2, Usage)
    val Array(inPath, outDir) = args.take(2)

    Launch.failFastLocalHeap("PipelineJob")

    val spark = Launch.session("graft-pipeline", Launch.launchMaster(), Map.empty)

    val report = try run(spark, inPath, outDir, args.drop(2).toSeq)
                 finally spark.stop()
    // a run with ANY failed sink must not exit 0: runResumable holds the
    // failure so the OTHER sinks still commit (their manifests make the
    // retry cheap), but the scheduler has to see the run as failed or
    // the missing table is only discovered downstream
    if (report.failed.nonEmpty) {
      report.failed.foreach { case (name, msg) =>
        System.err.println(s"[pipeline] sink $name failed: $msg")
      }
      sys.exit(3)
    }
  }

  /** One resumable run of the pipeline over `inPath` into `outDir`.
    * `extra` is the optional `[windowDur] [config.yaml]` tail of the
    * command line ([[parseExtraArgs]]); without a config file the
    * flagship ([[Pipeline.flagship]]) runs, minus its `metric_*` sinks.
    * The report covers the `sinks_fanout` stage and every count sink. */
  def run(spark: SparkSession, inPath: String, outDir: String,
          extra: Seq[String]): Lineage.RunReport = {
    val (fileModel, fileCfg, windowArg) = parseExtraArgs(extra)
    val cfg = fileCfg.getOrElse(Pipeline.flagship)
    val windowDur = windowArg.getOrElse(cfg.window)
    val routeTable = cfg.routeTable

    val metrics = new MetricsListener
    spark.sparkContext.addSparkListener(metrics)

    // removed in the finally: a failed stage must not leave the
    // listener on the caller's session
    val report = try {
      val table = Transcripts.TranscriptTable()
      // The fingerprint covers the WHOLE effective config, not just
      // pattern regexes and route names: editing a route's WHERE clause,
      // the enrich spec, on_error, or a metric definition while keeping
      // names identical must invalidate committed sinks, or a resume
      // silently ships outputs computed under the OLD config. The
      // canonical rendered YAML is the config identity.
      val configText = ConfigLoader.render(fileModel.getOrElse(Pipeline.config))
      // per-STAGE fingerprints: the fan-out's output does not depend on
      // the window, so changing only windowDur must not invalidate the
      // dominant routed write (it re-runs only the cheap count sinks)
      val fpFanout = Lineage.fingerprintOf("pipeline-v1", inPath, configText)
      val fpCounts = Lineage.fingerprintOf("pipeline-v1", inPath, windowDur,
        configText)

      // Stage 1+2+3: parse → enrich → single-pass routed fan-out: one
      // idempotent partitioned write, committed like every other sink (its
      // manifest lists `route=X/part-N` files under the writer's escaped
      // directory names). A failure here aborts the run before the counts.
      val sinksDir = s"$outDir/sinks"
      val fanoutCommitted = Lineage.commitSink(spark, outDir, "sinks_fanout",
          sinksDir, fpFanout) { dir =>
        RouteStage.routed(cfg.parseEnrich(spark, table.read(spark, inPath)), routeTable)
          .write.mode("overwrite").partitionBy("route").parquet(dir)
      }.isEmpty

      // Stage 4: per-sink windowed counts, each its own resumable sink —
      // PLUS, when a config file defines a metrics section, one resumable
      // sink per user metric (count-connector semantics over the enriched
      // stream): the "user ships a YAML file" surface must actually
      // deliver the metrics the file declares, not only the built-in
      // per-route role counts.
      // a ZERO-row input commits a fan-out with no part files; reading the
      // bare dir would then fail schema inference — and since the stage IS
      // committed, every resume would crash the same way. Fall back to an
      // empty frame with the fan-out's schema.
      val sinksHavePartFiles = {
        val dir = new org.apache.hadoop.fs.Path(sinksDir)
        val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
        fs.exists(dir) && fs.globStatus(
          new org.apache.hadoop.fs.Path(dir, "route=*/*.parquet")).nonEmpty
      }
      val written =
        if (sinksHavePartFiles) spark.read.parquet(sinksDir)
        else RouteStage.routed(
          cfg.parseEnrich(spark, table.read(spark, inPath)).limit(0), routeTable)
      val routeCounts = routeTable.sinkNames.map { route =>
        s"counts_$route" -> CountStage.countWindowed(
          written.filter(col("route") === route),
          MetricSpec("count", attrs = Seq(AttrSpec("role"))),
          col("ts"), windowDur)
      }.toMap
      // over the enriched frame (pre-fan-out: multi-match duplicates
      // rows per route, which would double-count global metrics);
      // re-deriving costs one extra scan of the input, only when a config
      // file declares metrics. The effective window (CLI arg wins over the
      // config file) keeps metric_* and counts_* on one window.
      val userMetrics = fileCfg.filter(_.metrics.nonEmpty).toSeq.flatMap { c =>
        c.countMetrics(c.parseEnrich(spark, table.read(spark, inPath)), windowDur)
          .map { case (n, df) => s"metric_$n" -> df }
      }
      val counts = Lineage.runResumable(spark, routeCounts ++ userMetrics,
        outDir, fpCounts)

      // metrics manifest (rows read/written, shuffle, task time) — drain
      // the async listener bus first or the final tasks' onTaskEnd events
      // may still be queued and the snapshot undercounts
      org.apache.spark.sql.graftbridge.Bridge.waitListenerBusEmpty(
        spark.sparkContext, 30000L)
      if (fanoutCommitted) counts.copy(skipped = "sinks_fanout" +: counts.skipped)
      else counts.copy(executed = "sinks_fanout" +: counts.executed)
    } finally spark.sparkContext.removeSparkListener(metrics)
    metrics.writeJson(s"$outDir/_lineage/run_metrics.json",
      spark.sparkContext.hadoopConfiguration)
    println(s"[pipeline] executed=${report.executed.mkString(",")} " +
      s"skipped=${report.skipped.mkString(",")} failed=${report.failed.keys.mkString(",")}")
    report
  }

  /** Shared extra-arg surface for the batch and streaming entry points
    * (they are documented as the SAME config surface, so the parsing
    * must be one definition): extras are recognized by SHAPE
    * (*.yaml / *.yml = config file, anything else = windowDur) so the
    * config's `window:` field is reachable without a positional
    * placeholder; an explicit windowDur arg wins over it. At most one of
    * each. Returns (raw model for config fingerprinting, compiled
    * config, explicit window). */
  private[run] def parseExtraArgs(extra: Seq[String], usage: String = Usage)
      : (Option[ConfigLoader.GraftFileConfig], Option[ConfigLoader.Compiled],
         Option[String]) = {
    val (cfgArgs, winArgs) = extra.partition(a =>
      a.endsWith(".yaml") || a.endsWith(".yml"))
    require(cfgArgs.size <= 1 && winArgs.size <= 1, usage)
    val fileModel = cfgArgs.headOption.map(ConfigLoader.loadFile)
    (fileModel, fileModel.map(ConfigLoader.compile), winArgs.headOption)
  }
}

/** Per-run execution metrics (the collector's self-telemetry analog):
  * records/bytes read+written, shuffle volume, task time. */
class MetricsListener extends org.apache.spark.scheduler.SparkListener {
  private val recordsRead = new java.util.concurrent.atomic.AtomicLong
  private val recordsWritten = new java.util.concurrent.atomic.AtomicLong
  private val shuffleBytes = new java.util.concurrent.atomic.AtomicLong
  private val taskMillis = new java.util.concurrent.atomic.AtomicLong

  override def onTaskEnd(t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
    val m = t.taskMetrics
    if (m != null) {
      recordsRead.addAndGet(m.inputMetrics.recordsRead)
      recordsWritten.addAndGet(m.outputMetrics.recordsWritten)
      shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      taskMillis.addAndGet(m.executorRunTime)
    }
  }

  def writeJson(path: String, conf: org.apache.hadoop.conf.Configuration): Unit =
    // through the output FS of the run's conf (Lineage.writeAtomic) — a
    // java.nio write would land driver-local when outDir is on HDFS/S3
    Lineage.writeAtomic(new org.apache.hadoop.fs.Path(path),
      s"""{"records_read":${recordsRead.get},"records_written":${recordsWritten.get},""" +
      s""""shuffle_bytes_written":${shuffleBytes.get},"task_millis":${taskMillis.get}}""",
      conf)
}
