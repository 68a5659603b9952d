package graft.run

import java.nio.charset.StandardCharsets
import java.util.concurrent.TimeUnit

import scala.util.{Failure, Success, Try}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileContext, FileStatus, Options, Path => HPath}
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.graftbridge.Bridge

/** Resumable batch execution with per-sink lineage manifests — the batch
  * analog of the reference's file-consumer checkpoints
  * (`pkg/stanza/fileconsumer/internal/checkpoint/checkpoint.go:20-94` in
  * `/root/reference`: offsets saved per reader, reload on restart).
  *
  * Semantics: each sink is an idempotent overwrite; a sink is COMMITTED
  * only once its manifest (written atomically via temp-file rename, like
  * the reference persister) exists and matches the current config
  * fingerprint. A killed run re-executes only the sinks without a valid
  * manifest — no recomputation of completed sinks, no duplicate rows.
  *
  * The manifest carries per-output-file row counts (per-partition
  * lineage) read from the parquet footers of the committed write, so a
  * resumed run can verify integrity without rescanning data. Every
  * manifest, footer and small-file access goes through the run
  * session's Hadoop conf.
  *
  * The sinks of one [[runResumable]] call commit concurrently, like the
  * reference's exporters, each of which drains its own queue; a failed
  * sink is recorded and the others still commit.
  */
object Lineage {

  final case class FileLineage(file: String, rows: Long)
  final case class Manifest(sink: String, fingerprint: String, totalRows: Long,
                            files: Seq[FileLineage])

  final case class RunReport(executed: Seq[String], skipped: Seq[String],
                             failed: Map[String, String], manifests: Map[String, Manifest])

  // Hadoop FS (not java.nio) for EVERY manifest path, like fileLineage:
  // with outDir on HDFS/S3 a local-path manifest would resolve to a
  // bogus driver-local dir, isCommitted would always be false from any
  // other driver, and resume — the module's whole contract — would
  // silently never fire off-box. The local default FS keeps tests
  // byte-identical. The sink name is escaped like a partition value:
  // Hadoop parses a child name such as `counts_a:b.json` (the counts
  // sink of a route `a:b`) as scheme `counts_a` and fails the commit
  private def manifestPath(outDir: String, sink: String): HPath =
    new HPath(new HPath(outDir, "_lineage"),
      s"${ExternalCatalogUtils.escapePathName(sink)}.json")

  /** Atomic small-file write through the output FS: temp +
    * single overwriting rename (Hadoop local FS makes this an atomic
    * move in tests). */
  private[graft] def writeAtomic(path: HPath, content: String,
      conf: Configuration): Unit = {
    val fs = path.getFileSystem(conf)
    fs.mkdirs(path.getParent)
    val tmp = new HPath(path.getParent, path.getName + ".tmp")
    val out = fs.create(tmp, true)
    try out.write(content.getBytes(StandardCharsets.UTF_8))
    finally out.close()
    FileContext.getFileContext(path.toUri, conf)
      .rename(tmp, path, Options.Rename.OVERWRITE)
  }

  private def renderJson(m: Manifest): String = {
    def esc(s: String) = s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    }
    val files = m.files.map(f => s"""{"file":"${esc(f.file)}","rows":${f.rows}}""")
      .mkString("[", ",", "]")
    s"""{"sink":"${esc(m.sink)}","fingerprint":"${esc(m.fingerprint)}",""" +
      s""""totalRows":${m.totalRows},"files":$files}"""
  }

  private def parseFingerprint(json: String): Option[String] =
    "\"fingerprint\":\"([^\"]*)\"".r.findFirstMatchIn(json).map(_.group(1))

  /** Per-file row counts from the parquet footers of a committed sink —
    * metadata-only read (no data scan), sorted by sink-relative path.
    *
    * The listing is a plain recursive `listStatus` through the Hadoop FS
    * API: a local-only `java.nio.Files.list` would silently find zero
    * files on HDFS/S3 and miss nested partitioned layouts
    * (`route=X/part-N`), and `listFiles(dir, true)` fetches block
    * locations no footer read needs. Each footer is opened once, with
    * read options built from the run's Hadoop conf
    * (`HadoopReadOptions.builder(conf, path)`): `ParquetFileReader.open`
    * without options builds a fresh default configuration per file,
    * which costs several ms a footer and ignores the session's parquet
    * settings (a decryption factory, for one). A footer that does not
    * parse fails the call with the reader's message. */
  def fileLineage(spark: SparkSession, sinkDir: String): Seq[FileLineage] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val dir = new HPath(sinkDir)
    val fs = dir.getFileSystem(conf)
    if (!fs.exists(dir)) return Nil
    def parquetFiles(d: HPath): Seq[FileStatus] = fs.listStatus(d).toSeq.flatMap { st =>
      if (st.isDirectory) parquetFiles(st.getPath)
      else if (st.isFile && st.getPath.getName.endsWith(".parquet")) Seq(st)
      else Nil
    }
    // manifest records the sink-RELATIVE path so partitioned sinks
    // stay identifiable and manifests stay portable across mounts
    val qualified = fs.makeQualified(dir).toString
    parquetFiles(dir).map { st =>
      val footer = ParquetFileReader.open(HadoopInputFile.fromStatus(st, conf),
        HadoopReadOptions.builder(conf, st.getPath).build())
      val rel = st.getPath.toString.stripPrefix(qualified).stripPrefix("/")
      try FileLineage(rel, footer.getRecordCount)
      finally footer.close()
    }.sortBy(_.file)
  }

  /** Atomic manifest commit: write temp, fsync-rename into place
    * (the reference persister's save step, checkpoint.go:40-63). */
  private[run] def commitManifest(outDir: String, m: Manifest,
      conf: Configuration): Unit =
    writeAtomic(manifestPath(outDir, m.sink), renderJson(m), conf)

  def isCommitted(outDir: String, sink: String, fingerprint: String,
      conf: Configuration): Boolean = {
    val p = manifestPath(outDir, sink)
    val fs = p.getFileSystem(conf)
    fs.exists(p) && {
      val in = fs.open(p)
      val json =
        try scala.io.Source.fromInputStream(in, "UTF-8").mkString
        finally in.close()
      parseFingerprint(json).contains(fingerprint)
    }
  }

  /** The one commit step of every sink: None when `sink` is already
    * committed under `fingerprint`; else `write(dir)`, then the manifest
    * of what landed in `dir` (recursively: a partitioned sink records
    * `route=X/part-N` paths). Manifests go through the run's own Hadoop
    * conf, not the active session's. */
  private[run] def commitSink(spark: SparkSession, outDir: String, sink: String,
      dir: String, fingerprint: String)(write: String => Unit): Option[Manifest] = {
    val conf = spark.sparkContext.hadoopConfiguration
    if (isCommitted(outDir, sink, fingerprint, conf)) None
    else {
      // INVALIDATE any stale manifest (a different fingerprint's)
      // BEFORE the destructive overwrite: a kill between the
      // overwrite and commitManifest would otherwise leave the old
      // manifest standing over destroyed data — and a config
      // rollback to that old fingerprint would then skip the sink
      // and ship the partial mixed output as committed
      val mp = manifestPath(outDir, sink)
      val mfs = mp.getFileSystem(conf)
      if (mfs.exists(mp)) mfs.delete(mp, false)
      write(dir)
      val lineage = fileLineage(spark, dir)
      val m = Manifest(sink, fingerprint, lineage.map(_.rows).sum, lineage)
      commitManifest(outDir, m, conf)
      Some(m)
    }
  }

  /** Most threads one [[runResumable]] call commits its sinks on. The
    * sinks share the session's executor threads, so past a handful of
    * concurrent jobs a wider pool only queues more on the scheduler. */
  private val MaxConcurrentSinks = 8

  /** Execute every sink not yet committed under `fingerprint`; skip the
    * rest. A sink failure is recorded and does NOT abort the other sinks
    * (each sink is independent, matching connector fan-out isolation).
    *
    * The sinks commit concurrently, each through [[commitSink]] on its
    * own thread of a per-call daemon pool, as wide as there are sinks
    * up to [[MaxConcurrentSinks]]. Every thread carries the caller's
    * active session and Spark local properties (job group, job
    * description, scheduler pool, any tag a listener keys on), captured
    * at the call. The pool is shut down before the call returns, also
    * when a sink fails. `executed` and `skipped` list sinks in name
    * order, whatever order they finish in.
    */
  def runResumable(spark: SparkSession, sinks: Map[String, DataFrame],
                   outDir: String, fingerprint: String): RunReport = {
    val ordered = sinks.toSeq.sortBy(_._1)
    if (ordered.isEmpty) return RunReport(Nil, Nil, Map.empty, Map.empty)
    val pool = Bridge.newDaemonFixedThreadPool(
      math.min(ordered.size, MaxConcurrentSinks), "graft-sink-commit")
    val outcomes = try {
      ordered.map { case (sink, df) =>
        // the committed check sits INSIDE the per-sink Try: a transient
        // manifest-read error on one sink must not abort the remaining
        // sinks (the documented isolation contract); an unreadable
        // manifest degrades to "not committed" → idempotent re-execute
        sink -> Bridge.withThreadLocalCaptured(spark, pool) {
          Try(commitSink(spark, outDir, sink, s"$outDir/$sink", fingerprint)(
            df.write.mode("overwrite").parquet(_)))
        }
      }.map { case (sink, outcome) => sink -> outcome.join() }
    } finally {
      // every future has joined unless the caller is unwinding from a
      // fatal error; then the sinks still running are interrupted
      pool.shutdownNow()
      pool.awaitTermination(1, TimeUnit.MINUTES)
    }
    RunReport(
      executed = outcomes.collect { case (sink, Success(Some(_))) => sink },
      skipped = outcomes.collect { case (sink, Success(None)) => sink },
      failed = outcomes.collect { case (sink, Failure(e)) =>
        sink -> String.valueOf(e.getMessage) }.toMap,
      manifests = outcomes.collect { case (sink, Success(Some(m))) => sink -> m }.toMap)
  }

  /** Config fingerprint: stable hash of pipeline identity (input path +
    * config rendering) — a changed config invalidates old checkpoints. */
  def fingerprintOf(parts: String*): String =
    java.lang.Long.toHexString(parts.foldLeft(1125899906842597L) { (h, p) =>
      p.foldLeft(h * 31 + p.length)((a, c) => a * 31 + c)
    })
}
