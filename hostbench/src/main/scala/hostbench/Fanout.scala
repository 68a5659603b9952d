package hostbench

import java.io.File

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.agg.CountStage
import graft.model.PipelineConfig.{AttrSpec, MetricSpec}
import graft.parse.ParseStage
import graft.route.RouteStage
import graft.run.{Lineage, Pipeline}

/** `batch_fanout`: the flagship batch job, made of the public calls
  * `graft.run.PipelineJob.main` makes, in the same order — parse and
  * enrich, the multi-match routed write, footer lineage over the route
  * directories, and per-route windowed counts committed through
  * `Lineage.runResumable`. Also the compute path of
  * `graft.tools.ScalingProbe` (route tags → windowed counts → noop sink)
  * for the 1-core / 4-core pair. */
object Fanout {

  val WindowDur = "1 hour"

  def routes: Seq[String] =
    Pipeline.routeTable.routes.map(_.name) :+ Pipeline.routeTable.defaultName

  /** The config compile of the flagship: its route conditions and
    * metric definitions, compiled from their config strings. */
  def compileConfig(): Unit = {
    val rt = Pipeline.routeTableFromStrings
    val ms = Pipeline.metricsFromStrings
    require(rt.routes.nonEmpty && ms.nonEmpty)
  }

  /** One full job into `outDir`. Returns per-route lineage row totals. */
  def fullJob(spark: SparkSession, tracer: Tracer, in: String, outDir: String)
      : Map[String, Long] = {
    val sinks = s"$outDir/sinks"
    tracer.span("route.write") {
      RouteStage.writeMultiMatch(
        Pipeline.parseEnrich(spark, spark.read.parquet(in)), Pipeline.routeTable, sinks)
    }
    val lineage = tracer.span("run.lineage") {
      val dirs = Option(new File(sinks).listFiles()).toSeq.flatten
        .filter(d => d.isDirectory && d.getName.startsWith("route="))
      dirs.map(d => d.getName.stripPrefix("route=") ->
        Lineage.fileLineage(spark, d.getPath).map(_.rows).sum).toMap
    }
    val report = tracer.span("agg.count") {
      Lineage.runResumable(spark, countFrames(spark, sinks), outDir, fingerprint(in))
    }
    require(report.failed.isEmpty, s"count sinks failed: ${report.failed}")
    lineage
  }

  def fingerprint(in: String): String =
    Lineage.fingerprintOf("hostbench-fanout-v1", in, WindowDur)

  def countFrames(spark: SparkSession, sinks: String): Map[String, DataFrame] = {
    val written = spark.read.parquet(sinks)
    routes.map { r =>
      s"counts_$r" -> CountStage.countWindowed(
        written.filter(col("route") === r),
        MetricSpec("count", attrs = Seq(AttrSpec("role"))), col("ts"), WindowDur)
    }.toMap
  }

  /** The compute path: everything but the sink write. */
  def computeJob(spark: SparkSession, df: DataFrame): Unit =
    Bench.noop(
      RouteStage.tagsExploded(Pipeline.parseEnrich(spark, df), Pipeline.routeTable)
        .groupBy(col("route"), window(col("ts"), WindowDur), col("role"))
        .agg(count(lit(1)).as("count")))

  /** Cumulative prefixes of the flagship, in layer order. Each one ends
    * in a projection onto the columns the layers after it read, so the
    * noop sink materialises no more than the pipeline itself needs. */
  def prefixes(spark: SparkSession, in: String): Seq[(String, () => DataFrame)] = {
    def base = spark.read.parquet(in)
    Seq(
      "sources" -> (() => base.select("text", "tool", "role", "ts")),
      "parse" -> (() => ParseStage(base, Pipeline.parseConfig, barrier = false)
        .select("parsed", "tool", "role", "ts")),
      "enrich" -> (() => Pipeline.parseEnrich(spark, base)
        .select("parsed", "tool", "role", "ts", "cost_class")),
      "route.tag" -> (() => RouteStage.tagsExploded(
        Pipeline.parseEnrich(spark, base), Pipeline.routeTable).select("route", "role", "ts")))
  }

  /** Set-up warm-up: one full job on the small input. */
  def warmUp(spark: SparkSession, warmIn: String, work: String): Unit = {
    val dir = s"$work/warm-out"
    Bench.deleteRecursively(dir)
    fullJob(spark, new Tracer("warm", false, () => spark.sparkContext), warmIn, dir)
    Bench.deleteRecursively(dir)
  }

  def run(a: Args): Unit = {
    val cores = a.int("cores"); val work = a("work"); val in = a("in")
    val traced = a.flag("trace")
    val (spark, setupS, compileS) = Bench.repeatedSetup(a.int("setups"), cores, work,
      "hostbench-fanout")(() => compileConfig())(s => warmUp(s, a("warm"), work))
    val result = if (traced) tracedRun(spark, a, in, work) else untracedRun(spark, a, in, work)
    Json.write(a("out"), result ++ Map(
      "setup_s" -> setupS, "compile_s" -> compileS,
      "host" -> Bench.hostInfo(cores)))
    spark.stop()
  }

  private def jobDir(work: String, i: Int) = s"$work/job-$i"

  def untracedRun(spark: SparkSession, a: Args, in: String, work: String): Map[String, Any] = {
    val tracer = new Tracer("untraced", false, () => spark.sparkContext)
    // one untimed job on the measured input lets JIT finish on its sizes
    val lineage = scala.collection.mutable.ArrayBuffer(fullJob(spark, tracer, in, jobDir(work, 0)))
    Bench.deleteRecursively(jobDir(work, 0))
    val (jobs, cpu) = Bench.loop(a.double("seconds"), a.int("min_reps")) { i =>
      if (i > 0) Bench.deleteRecursively(jobDir(work, i - 1))
      lineage += fullJob(spark, tracer, in, jobDir(work, i))
    }
    Map("job_s" -> jobs, "cpu_s" -> cpu, "output" -> jobDir(work, jobs.size - 1),
      "lineage_rows_per_job" -> lineage.toSeq)
  }

  /** The traced run: untraced and traced full jobs alternate (tracing
    * overhead), then the cumulative prefixes, the compute path and its
    * fixed cost, and a resume over committed output. */
  def tracedRun(spark: SparkSession, a: Args, in: String, work: String): Map[String, Any] = {
    val sc = spark.sparkContext
    val reps = a.int("min_reps")
    val listener = new LayerListener
    val tracer = new Tracer(s"fanout-${a("seed")}", true, () => sc)
    val plain = new Tracer("untraced", false, () => sc)
    def drain(): Unit =
      org.apache.spark.sql.graftbridge.Bridge.waitListenerBusEmpty(sc, 30000L)

    var dirN = 0
    def freshDir(): String = {
      if (dirN > 0) Bench.deleteRecursively(jobDir(work, dirN - 1))
      dirN += 1; jobDir(work, dirN - 1)
    }
    val untracedS = scala.collection.mutable.ArrayBuffer[Double]()
    val tracedS = scala.collection.mutable.ArrayBuffer[Double]()
    val jobSpans = scala.collection.mutable.ArrayBuffer[Map[String, Double]]()
    val jobLayers = scala.collection.mutable.ArrayBuffer[Map[String, LayerTotals]]()
    var lineage = Map.empty[String, Long]
    var lastDir = ""
    fullJob(spark, plain, in, freshDir()) // untimed warm-up, as in the untraced run
    (1 to reps).foreach { _ =>
      val d0 = freshDir()
      untracedS += Bench.time(fullJob(spark, plain, in, d0))
      sc.addSparkListener(listener)
      lastDir = freshDir()
      tracedS += Bench.time {
        lineage = tracer.span("job") { fullJob(spark, tracer, in, lastDir) }
      }
      drain()
      sc.removeSparkListener(listener)
      val names = Seq("job", "route.write", "run.lineage", "agg.count")
      jobSpans += names.map(n => n -> tracer.recorded.reverseIterator.find(_.name == n).get.seconds).toMap
      jobLayers += names.map(n => n -> listener.forTag(tracer.lastTag(n).get)).toMap
    }
    // a second runResumable over the committed output must execute nothing
    sc.addSparkListener(listener)
    val resume = tracer.span("run.resume") {
      Lineage.runResumable(spark, countFrames(spark, s"$lastDir/sinks"), lastDir, fingerprint(in))
    }
    val resumeS = tracer.recorded.last.seconds

    // cumulative prefixes, alternating layers inside each round
    val pre = prefixes(spark, in)
    val preS = pre.map(_._1 -> scala.collection.mutable.ArrayBuffer[Double]()).toMap
    val preTags = pre.map(_._1 -> scala.collection.mutable.ArrayBuffer[String]()).toMap
    (1 to reps).foreach { _ =>
      pre.foreach { case (name, df) =>
        tracer.span(s"prefix.$name") { Bench.noop(df()) }
        preS(name) += tracer.recorded.last.seconds
        preTags(name) += tracer.lastTag(s"prefix.$name").get
      }
    }
    // compute path at full width on the scaling input, and its fixed
    // cost on a tiny input
    val scale = a("scale")
    computeJob(spark, spark.read.parquet(scale))
    val computeS = (1 to reps).map { _ =>
      tracer.span("scale.compute") { computeJob(spark, spark.read.parquet(scale)) }
      tracer.recorded.last.seconds
    }
    val fixedS = (1 to reps).map { _ =>
      tracer.span("scale.fixed") { computeJob(spark, spark.read.parquet(a("warm"))) }
      tracer.recorded.last.seconds
    }
    drain()
    sc.removeSparkListener(listener)

    // counters: bank misses, enrich misses, routed fan-out
    val counters = Pipeline.parseEnrich(spark, spark.read.parquet(in))
      .agg(count(lit(1)).as("rows"),
        sum(when(col("pattern").isNull, 1).otherwise(0)).as("unmatched"),
        sum(when(col("tool_family").isNull, 1).otherwise(0)).as("enrich_miss"))
      .collect().head
    val sinkFiles = listFiles(new File(s"$lastDir/sinks")).filter(_.getName.endsWith(".parquet"))

    // listener totals per repetition, for the prefixes and the job spans
    val preLayers = pre.map { case (n, _) => n -> preTags(n).toSeq.map(t => totals(listener.forTag(t))) }.toMap

    tracer.writeJson(s"${a("work")}/spans.json")
    Map(
      "job_untraced_s" -> untracedS.toSeq, "job_traced_s" -> tracedS.toSeq,
      "spans" -> Seq("job", "route.write", "run.lineage", "agg.count").map(n =>
        n -> Bench.median(jobSpans.map(_(n)).toSeq)).toMap,
      "prefix_s" -> preS.map { case (n, xs) => n -> Bench.median(xs.toSeq) },
      "prefix_layers" -> preLayers,
      "job_layers" -> jobLayers.toSeq.map(_.map { case (n, t) => n -> totals(t) }),
      "resume_s" -> resumeS, "resume_executed" -> resume.executed.size,
      "resume_skipped" -> resume.skipped.size,
      "compute4_s" -> computeS, "fixed_s" -> fixedS,
      "rows" -> counters.getLong(0), "unmatched" -> counters.getLong(1),
      "enrich_miss" -> counters.getLong(2),
      "lineage_rows_per_job" -> Seq(lineage), "output" -> lastDir,
      "files_written" -> sinkFiles.size, "bytes_written" -> sinkFiles.map(_.length).sum)
  }

  def totals(t: LayerTotals): Map[String, Any] = Map(
    "tasks" -> t.tasks, "task_s" -> t.taskMs / 1e3, "gc_s" -> t.gcMs / 1e3,
    "shuffle_wait_s" -> t.fetchWaitMs / 1e3, "spill_bytes" -> t.spillBytes,
    "shuffle_bytes" -> t.shuffleWriteBytes,
    "tasks_failed" -> t.failed)

  private def listFiles(d: File): Seq[File] =
    Option(d.listFiles()).toSeq.flatten.flatMap(f => if (f.isDirectory) listFiles(f) else Seq(f))

  /** The 1-core (or N-core) side of the scaling pair, in its own JVM
    * pinned by the caller: warm-up on the small input and one untimed
    * pass over the full input (JIT shares the pinned core), then timed
    * compute-path passes over the full input. */
  def compute(a: Args): Unit = {
    val cores = a.int("cores"); val work = a("work")
    val spark = Bench.session(cores, work, s"hostbench-compute-$cores")
    computeJob(spark, spark.read.parquet(a("warm")))
    computeJob(spark, spark.read.parquet(a("in")))
    val reps = (1 to a.int("min_reps")).map(_ => Bench.time(computeJob(spark, spark.read.parquet(a("in")))))
    Json.write(a("out"), Map("compute_s" -> reps, "host" -> Bench.hostInfo(cores)))
    spark.stop()
  }
}
