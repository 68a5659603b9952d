package graft.run

import java.nio.charset.StandardCharsets

import scala.util.control.NonFatal

import org.apache.hadoop.fs.{FileContext, Options, Path => HPath}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils

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
  * lineage) read from the parquet footers of the committed write plus
  * the job-level metrics, so a resumed run can verify integrity without
  * rescanning data.
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
  // byte-identical.
  // default when no session is threaded through; callers that HOLD a
  // session (commitSink) pass its conf explicitly — the active-session
  // fallback resolves the wrong filesystem when the passed session is
  // not the thread's active one (missing fs.s3a.* etc. settings)
  private def hadoopConf: org.apache.hadoop.conf.Configuration =
    scala.util.Try(SparkSession.active.sparkContext.hadoopConfiguration)
      .getOrElse(new org.apache.hadoop.conf.Configuration())

  // the sink name escaped like a partition value: Hadoop parses a
  // child name such as `counts_a:b.json` (the counts sink of a route
  // `a:b`) as scheme `counts_a` and fails the commit
  private def manifestPath(outDir: String, sink: String): HPath =
    new HPath(new HPath(outDir, "_lineage"),
      s"${ExternalCatalogUtils.escapePathName(sink)}.json")

  /** Atomic small-file write through the output FS: temp +
    * single overwriting rename (same pattern as Incremental's ingest
    * manifest; Hadoop local FS makes this an atomic move in tests). */
  private[graft] def writeAtomic(path: HPath, content: String,
      conf: org.apache.hadoop.conf.Configuration = hadoopConf): Unit = {
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
    * metadata-only read (no data scan). Hadoop FS API, RECURSIVE: a
    * local-only `java.nio.Files.list` would silently find zero files on
    * HDFS/S3 and miss nested partitioned layouts (route=X/part-N). */
  def fileLineage(spark: SparkSession, sinkDir: String): Seq[FileLineage] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val dir = new org.apache.hadoop.fs.Path(sinkDir)
    val fs = dir.getFileSystem(conf)
    if (!fs.exists(dir)) return Nil
    val files = fs.listFiles(dir, true)
    val out = scala.collection.mutable.ArrayBuffer[FileLineage]()
    // manifest records the sink-RELATIVE path so partitioned sinks
    // stay identifiable and manifests stay portable across mounts
    val qualified = fs.makeQualified(dir).toString
    while (files.hasNext) {
      val f = files.next()
      if (f.isFile && f.getPath.getName.endsWith(".parquet")) {
        val footer = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(f.getPath, conf))
        val rel = f.getPath.toString.stripPrefix(qualified).stripPrefix("/")
        try out += FileLineage(rel, footer.getRecordCount)
        finally footer.close()
      }
    }
    out.sortBy(_.file).toSeq
  }

  /** Atomic manifest commit: write temp, fsync-rename into place
    * (the reference persister's save step, checkpoint.go:40-63). */
  private[run] def commitManifest(outDir: String, m: Manifest,
      conf: org.apache.hadoop.conf.Configuration): Unit =
    writeAtomic(manifestPath(outDir, m.sink), renderJson(m), conf)

  def isCommitted(outDir: String, sink: String, fingerprint: String,
      conf: org.apache.hadoop.conf.Configuration = hadoopConf): Boolean = {
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

  /** Execute every sink not yet committed under `fingerprint`; skip the
    * rest. A sink failure is recorded and does NOT abort later sinks
    * (each sink is independent, matching connector fan-out isolation).
    */
  def runResumable(spark: SparkSession, sinks: Map[String, DataFrame],
                   outDir: String, fingerprint: String): RunReport = {
    val executed = scala.collection.mutable.ArrayBuffer[String]()
    val skipped = scala.collection.mutable.ArrayBuffer[String]()
    val failed = scala.collection.mutable.LinkedHashMap[String, String]()
    val manifests = scala.collection.mutable.LinkedHashMap[String, Manifest]()
    sinks.toSeq.sortBy(_._1).foreach { case (sink, df) =>
      // the committed check sits INSIDE the per-sink try: a transient
      // manifest-read error on one sink must not abort the remaining
      // sinks (the documented isolation contract); an unreadable
      // manifest degrades to "not committed" → idempotent re-execute
      try {
        commitSink(spark, outDir, sink, s"$outDir/$sink", fingerprint)(
          df.write.mode("overwrite").parquet(_)) match {
          case Some(m) => manifests += sink -> m; executed += sink
          case None    => skipped += sink
        }
      } catch {
        case NonFatal(e) => failed += sink -> String.valueOf(e.getMessage)
      }
    }
    RunReport(executed.toSeq, skipped.toSeq, failed.toMap, manifests.toMap)
  }

  /** Config fingerprint: stable hash of pipeline identity (input path +
    * config rendering) — a changed config invalidates old checkpoints. */
  def fingerprintOf(parts: String*): String =
    java.lang.Long.toHexString(parts.foldLeft(1125899906842597L) { (h, p) =>
      p.foldLeft(h * 31 + p.length)((a, c) => a * 31 + c)
    })
}
