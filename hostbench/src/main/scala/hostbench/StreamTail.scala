package hostbench

import java.io.File
import java.nio.file.{Files, Paths, StandardCopyOption}
import java.time.Instant

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

import graft.route.RouteStage
import graft.run.{Pipeline, StreamingJob}

/** `stream_tail`: an open loop into `StreamingJob.start`. One thread moves
  * pre-generated parquet files into the input directory on a fixed
  * schedule; each file's latency runs from the time it was due to the
  * end of the sinks micro-batch that routed it.
  *
  * Before the timed files, an untimed lead-in feeds the running job a few
  * bursts of files, one micro-batch each. Without it the timed window
  * opens while JIT is still compiling the per-batch path (on a 4-core
  * host, sinks batches shrink from about 1.9 s to 1.3 s over the first
  * 15-20 s), and the median latency follows how fast the host lets that
  * happen. */
object StreamTail {

  final case class Progress(query: String, batchId: Long, startMs: Long, durations: Map[String, Long],
                            inputRows: Long, stateRows: Long, stateMemory: Long) {
    def endMs: Long = startMs + durations.getOrElse("triggerExecution", 0L)
  }

  final class ProgressLog extends StreamingQueryListener {
    val events = new java.util.concurrent.ConcurrentLinkedQueue[Progress]()
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      events.add(Progress(p.id.toString, p.batchId, Instant.parse(p.timestamp).toEpochMilli,
        p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
        p.numInputRows,
        p.stateOperators.map(_.numRowsTotal).sum,
        p.stateOperators.map(_.memoryUsedBytes).sum))
    }
  }

  def start(spark: SparkSession, in: String, out: String): StreamingJob.Handles =
    StreamingJob.start(spark, in, out, None, "1 hour", lateness = "10 minutes", once = false)

  /** Warm-up: drain `warmIn` once through the same job. A primer file
    * alone leaves the streaming path's JIT cold for the timed files. */
  def warmUp(spark: SparkSession, warmIn: String, work: String): Unit = {
    val out = s"$work/warm-stream"
    Bench.deleteRecursively(out)
    val hs = StreamingJob.start(spark, warmIn, out, None, "1 hour", "10 minutes", once = true)
    hs.all.foreach(_.awaitTermination())
    Bench.deleteRecursively(out)
  }

  /** file name → micro-batch id, from the file source's metadata log
    * (plain and compacted entries alike). */
  def fileBatches(sourceLog: File): Map[String, Long] = {
    val entry = "\"path\":\"([^\"]+)\".*\"batchId\":(\\d+)".r
    Option(sourceLog.listFiles()).toSeq.flatten.filter(_.isFile)
      .filterNot(_.getName.startsWith("."))
      .flatMap(f => Files.readAllLines(f.toPath).asScala)
      .flatMap(l => entry.findFirstMatchIn(l).map(m =>
        new File(new java.net.URI(m.group(1)).getPath).getName -> m.group(2).toLong))
      .toMap
  }

  def run(a: Args): Unit = {
    val cores = a.int("cores"); val work = a("work")
    val (spark, setupS, compileS) = Bench.repeatedSetup(a.int("setups"), cores, work,
      "hostbench-stream", batch = false)(() => Fanout.compileConfig())(s => warmUp(s, a("warm"), work))

    val pool = Option(new File(a("pool")).listFiles()).toSeq.flatten
      .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
    val leadFiles = a.int("lead_files"); val leadBurst = a.int("lead_burst")
    val nFiles = math.min(pool.size - 1 - leadFiles, a.int("files"))
    val intervalMs = a.double("interval_ms")
    val root = s"$work/stream"
    Bench.deleteRecursively(root)
    val pending = new File(s"$root/pending"); pending.mkdirs()
    val in = new File(s"$root/in"); in.mkdirs()
    val out = s"$root/out"
    // the first pool file primes the queries: their first micro-batch
    // pays one-off planning and state-store start-up, which the timed
    // files must not queue behind
    val primer = pool.head
    Files.copy(primer.toPath, Paths.get(in.getPath, primer.getName))
    def stage(fs: Seq[File]): Seq[File] = fs.map { f =>
      val p = new File(pending, f.getName)
      Files.copy(f.toPath, p.toPath)
      p
    }
    def release(f: File): Unit =
      Files.move(f.toPath, Paths.get(in.getPath, f.getName), StandardCopyOption.ATOMIC_MOVE)
    val lead = stage(pool.slice(1, 1 + leadFiles))
    val staged = stage(pool.slice(1 + leadFiles, 1 + leadFiles + nFiles))

    val log = new ProgressLog
    spark.streams.addListener(log)
    val hs = start(spark, in.getPath, out)
    def drainBoth(): Unit = { hs.sinks.processAllAvailable(); hs.counts.processAllAvailable() }
    drainBoth()
    lead.grouped(leadBurst).foreach { burst => burst.foreach(release); drainBoth() }
    // batches up to these ids carried the primer and the lead-in
    val lastUntimed = Map(hs.sinks.id.toString -> hs.sinks.lastProgress.batchId,
                          hs.counts.id.toString -> hs.counts.lastProgress.batchId)
    // task totals cover the timed window only
    org.apache.spark.sql.graftbridge.Bridge.waitListenerBusEmpty(spark.sparkContext, 30000L)
    val listener = new LayerListener
    spark.sparkContext.addSparkListener(listener)

    // the open loop: file i is due at t0 + i·interval, whatever the job does
    val due = new Array[Long](nFiles)
    val moved = new Array[Long](nFiles)
    val cpu0 = Bench.cpuSeconds()
    val t0 = System.currentTimeMillis() + 200L
    val gen = new Thread(() => {
      staged.zipWithIndex.foreach { case (f, i) =>
        due(i) = t0 + math.round(i * intervalMs)
        val wait = due(i) - System.currentTimeMillis()
        if (wait > 0) Thread.sleep(wait)
        release(f)
        moved(i) = System.currentTimeMillis()
      }
    }, "hostbench-open-loop")
    gen.start()
    gen.join()
    drainBoth()
    val cpu = Bench.cpuSeconds() - cpu0
    hs.all.foreach(_.stop())
    org.apache.spark.sql.graftbridge.Bridge.waitListenerBusEmpty(spark.sparkContext, 30000L)
    spark.streams.removeListener(log)
    spark.sparkContext.removeSparkListener(listener)

    val events = log.events.asScala.toSeq
    val sinksId = hs.sinks.id.toString; val countsId = hs.counts.id.toString
    // batches of the timed files only
    def timed(id: String) =
      events.filter(e => e.query == id && e.inputRows > 0 && e.batchId > lastUntimed(id))
    val sinksBatches = timed(sinksId)
    val countsBatches = timed(countsId)
    val batchOf = fileBatches(new File(s"$out/_ck/sinks/sources/0"))
    val byBatch = events.filter(_.query == sinksId).map(e => e.batchId -> e).toMap
    val names = staged.map(_.getName)
    val latency = names.indices.flatMap { i =>
      batchOf.get(names(i)).flatMap(byBatch.get).map(b => (b.endMs - due(i)) / 1e3)
    }
    val queueWait = names.indices.flatMap { i =>
      batchOf.get(names(i)).flatMap(byBatch.get).map(b => (b.startMs - due(i)) / 1e3)
    }
    // files due but not yet routed, sampled at each sinks commit
    val backlog = sinksBatches.map { b =>
      val dueBy = due.count(_ <= b.endMs)
      val doneBy = names.count(n => batchOf.get(n).flatMap(byBatch.get).exists(_.endMs <= b.endMs))
      dueBy - doneBy
    }

    // check: sink rows per route against a batch route tag of the same files
    val expected = RouteStage.tagsExploded(
      Pipeline.parseEnrich(spark, spark.read.parquet(in.getPath)), Pipeline.routeTable)
      .groupBy("route").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val got = Fanout.routes.map { r =>
      val dir = new File(s"$out/sinks/$r")
      val parts = Option(dir.listFiles()).toSeq.flatten.exists(_.getName.startsWith("batch_id="))
      r -> (if (parts) spark.read.parquet(dir.getPath).count() else 0L)
    }.toMap

    def durations(bs: Seq[Progress], keys: String*): Seq[Double] =
      bs.map(b => keys.map(b.durations.getOrElse(_, 0L)).sum / 1e3)
    val result = Map(
      "latency_s" -> latency, "queue_wait_s" -> queueWait,
      "files" -> nFiles, "files_routed" -> latency.size,
      "cpu_s" -> cpu,
      "gen_late_ms" -> due.indices.map(i => (moved(i) - due(i)).toDouble),
      "sinks_batch_s" -> durations(sinksBatches, "triggerExecution"),
      "sinks_add_batch_s" -> durations(sinksBatches, "addBatch"),
      "planning_s" -> durations(sinksBatches, "queryPlanning"),
      "wal_commit_s" -> durations(sinksBatches, "walCommit", "commitOffsets"),
      "counts_batch_s" -> durations(countsBatches, "triggerExecution"),
      "rows_per_batch" -> sinksBatches.map(_.inputRows.toDouble),
      "state_rows" -> (0L +: countsBatches.map(_.stateRows)).max,
      "state_memory_bytes" -> (0L +: countsBatches.map(_.stateMemory)).max,
      "backlog_files" -> (0 +: backlog).max,
      "route_rows" -> got, "route_rows_expected" -> expected,
      "layers" -> Map("streaming" -> Fanout.totals(listener.sum(_.startsWith("stream:")))),
      "setup_s" -> setupS, "compile_s" -> compileS,
      "host" -> Bench.hostInfo(cores))
    Json.write(a("out"), result)
    spark.stop()
  }
}
