package graft.tools

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.run.Launch

/** The measurement and plan tools, one main:
  * `runMain graft.tools.Tools <mode> <args>...` (see [[usage]]).
  *
  *  - `plan`: optimized + executed plan of registered queries — the
  *    `.explain` loop of the scale audit;
  *  - `plan-formatted`: `.explain("formatted")` per query into
  *    `<outDir>/<query>_<suffix>.txt` (the plans/ evidence files);
  *  - `time`: 3 noop-write reps per query, per-rep wall and the min;
  *  - `scalepoint`: the LSH near-dup + dedupGroups path on the bench's
  *    10× bijective corpus of `documents.parquet`;
  *  - `verify`: the [[graft.Verify]] dump for the named queries only,
  *    with a filtered `oracle_sql.json`, for `tools/check_oracle.py`;
  *  - `gen20m`: 20M synthetic turns to `/tmp/graft_bench/turns_20000000`;
  *  - `emit-check`: prints one JSON line the way [[graft.Bench]] prints
  *    its contract line, so the LAST stdout line of
  *    `sbt -batch "runMain graft.tools.Tools emit-check"` must parse as
  *    JSON (no `[info] ` prefix, no `[success]` banner).
  *
  * Query modes take the input directory first. `SPARK_GRAFT_CPUS` sets
  * the local parallelism (default: the host's processors). The command
  * line is checked before any session starts.
  */
object Tools {

  val usage: String = Seq(
    "plan <sfDir> <query>...",
    "plan-formatted <sfDir> <outDir> <suffix> <query>...",
    "time <sfDir> <query>...",
    "scalepoint <sfDir> [copies 1-10]",
    "verify <sfDir> <outDir> <query>...",
    "gen20m",
    "emit-check").mkString("usage: Tools ", " | Tools ", "")

  def main(args: Array[String]): Unit =
    command(args.toSeq, sys.env) match {
      case Left(err) =>
        System.err.println(err)
        sys.exit(2)
      case Right(run) => run()
    }

  /** Local parallelism: `SPARK_GRAFT_CPUS`, else the host's processors. */
  private[tools] def cpus(env: Map[String, String]): Int =
    env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors())

  private val uiOff = Map("spark.ui.enabled" -> "false")

  /** What the timed suites set beyond [[Launch.session]] at
    * `local[cores]` (which gives shuffle partitions = cores): 8 MB file
    * splits and no UI — plan shape (exchanges, join strategies) matches
    * what the bench measures. */
  private[tools] val benchConf: Map[String, String] =
    uiOff + ("spark.sql.files.maxPartitionBytes" -> "8m")

  /** The command line as a runnable, or the rejection followed by
    * [[usage]]. Starts no session. */
  private[tools] def command(args: Seq[String],
                             env: Map[String, String]): Either[String, () => Unit] = {
    lazy val cores = cpus(env)
    def withSpark(app: String, conf: Map[String, String] = benchConf)(
        body: SparkSession => Unit): () => Unit = () => {
      val spark = Launch.session(app, s"local[$cores]", conf)
      try body(spark) finally spark.stop()
    }
    def known(names: Seq[String])(run: () => Unit): Either[String, () => Unit] =
      names.find(n => !SparkEntry.queries.contains(n)) match {
        case Some(n) => Left(s"unknown query '$n'\n$usage")
        case None    => Right(run)
      }
    args match {
      case Seq("plan", sfDir, names @ _*) if names.nonEmpty =>
        known(names)(withSpark("graft-plan")(plan(_, sfDir, names)))
      case Seq("plan-formatted", sfDir, outDir, suffix, names @ _*) if names.nonEmpty =>
        known(names)(withSpark("graft-plan-formatted")(
          planFormatted(_, sfDir, outDir, suffix, names)))
      case Seq("time", sfDir, names @ _*) if names.nonEmpty =>
        known(names)(withSpark("graft-time")(time(_, sfDir, names)))
      case Seq("scalepoint", sfDir, copies @ _*)
          if copies.size <= 1 && copies.forall(_.toIntOption.exists(1 to 10 contains _)) =>
        Right(withSpark("graft-scalepoint")(
          scalepoint(_, sfDir, copies.headOption.fold(10)(_.toInt), cores)))
      case Seq("verify", sfDir, outDir, names @ _*) if names.nonEmpty =>
        known(names)(withSpark("graft-verify", uiOff)(verify(_, sfDir, outDir, names)))
      case Seq("gen20m") =>
        Right(withSpark("graft-gen20m")(gen20m))
      case Seq("emit-check") =>
        Right(() => println("""{"metric":"emit_check","value":1,"unit":"ok"}"""))
      case _ => Left(usage)
    }
  }

  private[tools] def plan(spark: SparkSession, sfDir: String,
                          names: Seq[String]): Unit =
    for (name <- names) {
      val df = SparkEntry.queries(name)(spark, sfDir)
      println(s"==== $name: optimized ====")
      println(df.queryExecution.optimizedPlan.toString)
      println(s"==== $name: physical ====")
      println(df.queryExecution.executedPlan.toString)
    }

  private def planFormatted(spark: SparkSession, sfDir: String, outDir: String,
                            suffix: String, names: Seq[String]): Unit = {
    val out = Files.createDirectories(Paths.get(outDir))
    for (name <- names) {
      val txt = SparkEntry.queries(name)(spark, sfDir).queryExecution
        .explainString(org.apache.spark.sql.execution.FormattedMode)
      Files.write(out.resolve(s"${name}_$suffix.txt"), txt.getBytes("UTF-8"))
      println(s"[pf] wrote ${name}_$suffix.txt (${txt.length} chars)")
    }
  }

  private def time(spark: SparkSession, sfDir: String, names: Seq[String]): Unit =
    for (name <- names) {
      val q = SparkEntry.queries(name)
      // exhaust via noop write like the bench suite — count() would let
      // Catalyst prune every projection not needed for the row count and
      // under-measure projection-heavy queries (redaction, hashing)
      val reps = (1 to 3).map { _ =>
        val t0 = System.nanoTime()
        q(spark, sfDir).write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      val rows = q(spark, sfDir).count()
      println(f"[qt] $name rows=$rows reps=${reps.map(r => f"$r%.2f").mkString(",")} min=${reps.min}%.3f s")
    }

  /** Times [[graft.ops.Dedup.nearDupMinhashLsh]] and `dedupGroups` on
    * the first `copies` of 10 bijective copies of the input's documents
    * (each copy renames every token), so a change to the LSH path is
    * measured at the bench's 10× corpus size in isolation. The corpus
    * is cached per input directory name under /tmp/graft_bench_extra. */
  private def scalepoint(spark: SparkSession, sfDir: String, copies: Int,
                         cores: Int): Unit = {
    val out = s"/tmp/graft_bench_extra/${Paths.get(sfDir).getFileName}_docs10x_v2"
    if (!Files.exists(Paths.get(out, "_SUCCESS"))) {
      val base = spark.read.parquet(s"$sfDir/documents.parquet")
        .select(col("doc_id").cast("long").as("doc_id"), col("text"))
      base.crossJoin(spark.range(10).select(col("id").as("copy")))
        .select((col("doc_id") * 10 + col("copy")).as("doc_id"),
          array_join(transform(split(col("text"), " "),
            w => concat(w, lit("_"), col("copy"))), " ").as("text"))
        .repartition(cores)
        .write.mode("overwrite").parquet(out)
    }
    val docs = spark.read.parquet(out).filter(col("doc_id") % 10 < copies)
    spark.sparkContext.setJobDescription(s"scalepoint: lsh ${copies}x")
    val t0 = System.nanoTime()
    val pairs = graft.ops.Dedup.nearDupMinhashLsh(docs, "doc_id", "text",
      numHashes = 64, bands = 16, shingleSize = 1, threshold = 0.85).cache()
    val pairCount = pairs.count()
    val lshSec = (System.nanoTime() - t0) / 1e9
    spark.sparkContext.setJobDescription("scalepoint: d11 groups")
    val t1 = System.nanoTime()
    val groups = graft.ops.Dedup.dedupGroups(pairs)
      .agg(countDistinct(col("group"))).head().getLong(0)
    val d11Sec = (System.nanoTime() - t1) / 1e9
    println(f"[bx] scalepoint copies=$copies pairs=$pairCount lsh=$lshSec%.2f s " +
      f"groups=$groups d11=$d11Sec%.2f s")
  }

  /** Same session shape and write shape as [[graft.Verify]]. */
  private def verify(spark: SparkSession, sfDir: String, outDir: String,
                     names: Seq[String]): Unit = {
    new java.io.File(outDir).mkdirs()
    names.foreach { name =>
      SparkEntry.queries(name)(spark, sfDir)
        .coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
    }
    graft.Verify.writeOracleJson(outDir, Some(names.toSet))
  }

  private def gen20m(spark: SparkSession): Unit =
    graft.synth.TranscriptSynth.generate(spark,
        graft.synth.TranscriptSynth.Config(20000000L, 100000L, hotPct = 5))
      .write.mode("overwrite").parquet("/tmp/graft_bench/turns_20000000")
}
