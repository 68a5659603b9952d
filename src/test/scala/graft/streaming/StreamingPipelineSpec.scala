package graft.streaming

import java.nio.file.{Files, Paths}
import java.sql.Timestamp

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.{col, udf}
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery}
import org.apache.spark.sql.util.QueryExecutionListener

import graft.SparkSpec
import graft.model.Turn

class StreamingPipelineSpec extends SparkSpec {
  import spark.implicits._

  private def ts(min: Int): Timestamp = Timestamp.valueOf(f"2024-01-01 00:$min%02d:00")
  private def turn(c: String, i: Int, min: Int, text: String = "t") =
    Turn(c, i, "user", text, "", ts(min))

  test("windowed counts with watermark emit finalized windows") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Turn]
    val counts = StreamingPipeline.windowedCounts(
      mem.toDF(), "10 minutes", "5 minutes", Seq("role"))
    val q = counts.writeStream.format("memory").queryName("wc")
      .outputMode(OutputMode.Append).start()
    try {
      mem.addData(turn("c1", 0, 1), turn("c1", 1, 2), turn("c2", 0, 11))
      q.processAllAvailable()
      // watermark now 11-5=6min → window [0,10) not yet final under Append
      mem.addData(turn("c2", 1, 25)) // advances watermark to 20min
      q.processAllAvailable()
      val rows = spark.table("wc")
        .select("window_start", "n").as[(Timestamp, Long)].collect().toSet
      assert(rows.contains((ts(0), 2L)), s"got $rows")
      assert(rows.contains((ts(10), 1L)), s"got $rows")
    } finally q.stop()
  }

  test("late data beyond the watermark is dropped from finalized windows") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Turn]
    val counts = StreamingPipeline.windowedCounts(
      mem.toDF(), "10 minutes", "5 minutes", Seq("role"))
    val q = counts.writeStream.format("memory").queryName("late")
      .outputMode(OutputMode.Append).start()
    try {
      mem.addData(turn("c1", 0, 1))
      q.processAllAvailable()
      mem.addData(turn("c2", 0, 40)) // watermark → 35min; window [0,10) finalized with n=1
      q.processAllAvailable()
      mem.addData(turn("c1", 1, 2))  // late arrival into the finalized window
      mem.addData(turn("c3", 0, 55))
      q.processAllAvailable()
      val w0 = spark.table("late").filter(col("window_start") === ts(0))
        .select("n").as[Long].collect().toSeq
      assert(w0 == Seq(1L), s"late row leaked into finalized window: $w0")
    } finally q.stop()
  }

  test("streaming restart from checkpoint: no duplicates, no loss") {
    implicit val sqlCtx = spark.sqlContext
    val outDir = Files.createTempDirectory("graft_restart_out").toString
    val ckDir = Files.createTempDirectory("graft_restart_ck").toString

    val mem1 = MemoryStream[Turn]
    val q1 = mem1.toDF().writeStream.format("parquet")
      .option("path", outDir).option("checkpointLocation", ckDir)
      .outputMode(OutputMode.Append).start()
    mem1.addData(turn("c1", 0, 1, "a"), turn("c1", 1, 2, "b"))
    q1.processAllAvailable()
    q1.stop()

    // restart with a NEW source feeding the same checkpoint lineage
    val mem2 = MemoryStream[Turn]
    mem2.addData(turn("c1", 0, 1, "a"), turn("c1", 1, 2, "b")) // replay (offsets committed → skipped)
    mem2.addData(turn("c1", 2, 3, "c"))
    val q2 = mem2.toDF().writeStream.format("parquet")
      .option("path", outDir).option("checkpointLocation", ckDir)
      .outputMode(OutputMode.Append).start()
    q2.processAllAvailable()
    q2.stop()

    val rows = spark.read.parquet(outDir).select("text").as[String]
      .collect().sorted.toSeq
    // batch 0 (a,b) exactly once + batch 1 (c): MemoryStream replays by
    // batch id, the parquet sink's commit log dedupes re-run batches
    assert(rows == Seq("a", "b", "c"), s"restart broke exactly-once: $rows")
  }

  test("streaming servicegraph: matched edges complete, unpaired halves expire into the timeout bucket") {
    implicit val sqlCtx = spark.sqlContext
    val cMem = MemoryStream[StreamingPipelineSpec.CHalf]
    val sMem = MemoryStream[StreamingPipelineSpec.SHalf]
    val edges = StreamingPipeline.serviceGraph(
      cMem.toDF(), sMem.toDF(), lateness = "0 seconds", ttl = "5 minutes")
    val q = edges.writeStream.format("memory").queryName("sg")
      .outputMode(OutputMode.Append).start()
    try {
      // corr 1: paired within ttl → complete (failed from the server half)
      // corr 2: client never answered → expired_no_server
      // corr 9: orphan server half → expired_no_client
      cMem.addData(
        StreamingPipelineSpec.CHalf("c1", 1L, "assistant", false, ts(1)),
        StreamingPipelineSpec.CHalf("c1", 2L, "assistant", false, ts(3)))
      sMem.addData(
        StreamingPipelineSpec.SHalf("c1", 1L, "bash", true, ts(2)),
        StreamingPipelineSpec.SHalf("c1", 9L, "search", false, ts(4)))
      q.processAllAvailable()
      // push BOTH watermarks past every deadline (ts + ttl)
      cMem.addData(StreamingPipelineSpec.CHalf("cx", 99L, "assistant", false, ts(50)))
      sMem.addData(StreamingPipelineSpec.SHalf("cx", 98L, "bash", false, ts(50)))
      q.processAllAvailable()
      val out = spark.table("sg")
        .select("corr_id", "client_service", "server_service",
          "connection_type", "failed")
        .collect().map(r => (r.getLong(0),
          (r.getString(1), r.getString(2), r.getString(3), r.getBoolean(4)))).toMap
      assert(out(1L) == (("assistant", "bash", "complete", true)))
      assert(out(2L) == (("assistant", "unknown", "expired_no_server", false)))
      assert(out(9L) == (("user", "search", "expired_no_client", false)))
    } finally q.stop()
  }

  test("routed streaming sinks deliver disjoint route partitions") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Turn]
    val tagged = graft.route.RouteStage.tagged(
      graft.run.Pipeline.parseEnrich(spark, mem.toDF()), graft.run.Pipeline.routeTable)
    val outDir = Files.createTempDirectory("graft_stream_out").toString
    val ckDir = Files.createTempDirectory("graft_stream_ck").toString
    val q = StreamingPipeline.startRoutedSinksMultiplexed(
      tagged, Seq("user_turns", "default"), outDir, ckDir)
    try {
      mem.addData(
        Turn("c1", 0, "user", "user=1 action=msg cents=5", "", ts(1)),
        Turn("c1", 1, "system", "INFO [comp-1] signup user=1", "", ts(2)))
      q.processAllAvailable()
      val user = spark.read.parquet(s"$outDir/user_turns")
      val dflt = spark.read.parquet(s"$outDir/default")
      assert(user.count() == 1 && dflt.count() == 1)
    } finally q.stop()
  }

  test("multiplexed routed sink: one upstream pass, per-sink rows ≡ per-query path") {
    implicit val sqlCtx = spark.sqlContext
    val turns = Seq(
      Turn("c1", 0, "user", "user=1 action=msg cents=5", "", ts(1)),
      Turn("c1", 1, "system", "INFO [comp-1] signup user=1", "", ts(2)),
      Turn("c2", 0, "user", "user=2 action=msg cents=9", "", ts(3)))
    val sinks = Seq("user_turns", "default")

    // multiplexed path, with an upstream row counter: the accumulator
    // rides a nondeterministic filter ABOVE parse+enrich+tagging, so it
    // counts upstream executions — k per-query sinks would count each
    // row k times, the multiplexer's single cached materialization
    // counts it once
    val acc = spark.sparkContext.longAccumulator("upstream_rows")
    val bump = udf { (_: String) => acc.add(1L); true }.asNondeterministic()
    val mem = MemoryStream[Turn]
    val tagged = graft.route.RouteStage.tagged(
        graft.run.Pipeline.parseEnrich(spark, mem.toDF()), graft.run.Pipeline.routeTable)
      .filter(bump(col("conv_id")))
    val outDir = Files.createTempDirectory("graft_stream_mux").toString
    val ckDir = Files.createTempDirectory("graft_stream_mux_ck").toString
    // Spark jobs started by the micro-batch, and the executed plan of
    // every action in it: one partitioned write is one job over the
    // upstream, with no cached relation in between. The enrich table's
    // broadcast is a job of its own (tagged `broadcast exchange`) that
    // every rendering of the body runs once; it is not counted
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]()
    val jobListener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val p = e.properties
        if (!String.valueOf(p.getProperty("spark.job.tags")).contains("broadcast exchange"))
          jobs.add((String.valueOf(p.getProperty("sql.streaming.queryId")),
            String.valueOf(p.getProperty("streaming.sql.batchId"))))
      }
    }
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val planListener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        plans.add(qe.executedPlan.toString)
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    spark.sparkContext.addSparkListener(jobListener)
    spark.listenerManager.register(planListener)
    val q = StreamingPipeline.startRoutedSinksMultiplexed(tagged, sinks, outDir, ckDir)
    try {
      mem.addData(turns: _*)
      q.processAllAvailable()
    } finally {
      q.stop()
      Bridge.waitListenerBusEmpty(spark.sparkContext, 30000L)
      spark.sparkContext.removeSparkListener(jobListener)
      spark.listenerManager.unregister(planListener)
    }
    assert(acc.value === turns.size,
      s"upstream executed ${acc.value.toDouble / turns.size}x, expected once")
    val batchJobs = jobs.asScala.count(_ == ((q.id.toString, "0")))
    assert(batchJobs === 1, s"the sinks micro-batch ran $batchJobs Spark jobs")
    assert(plans.asScala.nonEmpty && !plans.asScala.exists(_.contains("InMemoryRelation")),
      s"the sinks micro-batch reads a cached relation: ${plans.asScala.mkString("\n")}")

    // per-query reference path on the same input
    val mem2 = MemoryStream[Turn]
    val tagged2 = graft.route.RouteStage.tagged(
      graft.run.Pipeline.parseEnrich(spark, mem2.toDF()), graft.run.Pipeline.routeTable)
    val outDir2 = Files.createTempDirectory("graft_stream_mux_ref").toString
    val ckDir2 = Files.createTempDirectory("graft_stream_mux_ref_ck").toString
    val qs = StreamingPipelineSpec.startRoutedSinks(tagged2, sinks, outDir2, ckDir2)
    try {
      mem2.addData(turns: _*)
      qs.foreach(_.processAllAvailable())
    } finally qs.foreach(_.stop())

    // routed-row-set equality per sink (batch_id is the multiplexer's
    // idempotence partition column, not payload — drop it)
    sinks.foreach { name =>
      val got = spark.read.parquet(s"$outDir/$name").drop("batch_id")
      val want = spark.read.parquet(s"$outDir2/$name")
      assert(got.columns.sorted.toSeq === want.columns.sorted.toSeq)
      val cols = got.columns.sorted.map(col).toSeq
      assert(got.select(cols: _*).collect().map(_.toString).sorted.toSeq ===
        want.select(cols: _*).collect().map(_.toString).sorted.toSeq,
        s"sink $name diverges from the per-query path")
      assert(got.count() > 0) // both routes exercised by the fixture
    }
  }

  // one turn per flagship route: tool_calls, errors, user_turns, default
  private val routedTurns = Seq(
    Turn("c1", 0, "user", "user=1 action=msg cents=5", "", ts(1)),
    Turn("c1", 1, "system", "ERROR [comp-1] boom", "", ts(2)),
    Turn("c1", 2, "assistant", """CALL tool=search args={"q":1} dur_ms=5""", "search", ts(3)),
    Turn("c2", 0, "system", "INFO [comp-1] signup user=1", "", ts(4)))
  private val flagshipSinks = graft.run.Pipeline.routeTable.sinkNames
  private def flagshipTagged: DataFrame = graft.route.RouteStage.tagsExploded(
    graft.run.Pipeline.parseEnrich(spark, routedTurns.toDS().toDF()), graft.run.Pipeline.routeTable)

  private def sortedRows(df: DataFrame): Seq[String] = {
    val cols = df.columns.sorted.map(col).toSeq
    df.select(cols: _*).collect().map(_.toString).sorted.toSeq
  }

  /** Every routed row of `batch` sits in its sink exactly once, and the
    * batch's staging directory is gone. */
  private def assertRoutedOnce(batch: DataFrame, outDir: String, batchId: Long): Unit = {
    flagshipSinks.foreach { name =>
      val want = sortedRows(batch.filter(col("route") === name))
      assert(want.nonEmpty, s"fixture routes no row to $name")
      assert(sortedRows(spark.read.parquet(s"$outDir/$name").drop("batch_id")) === want,
        s"sink $name")
    }
    assert(!Files.exists(Paths.get(s"$outDir/_staging/batch_id=$batchId")),
      "staging directory left behind")
  }

  test("routed micro-batch replayed with the same batch id replaces its output") {
    val outDir = Files.createTempDirectory("graft_stream_replay").toString
    val batch = flagshipTagged
    StreamingPipeline.writeRoutedBatch(batch, 7L, flagshipSinks, outDir)
    StreamingPipeline.writeRoutedBatch(batch, 7L, flagshipSinks, outDir)
    assertRoutedOnce(batch, outDir, 7L)
  }

  test("routed micro-batch replayed after a kill mid-commit: stale staging, one sink moved") {
    val outDir = Files.createTempDirectory("graft_stream_kill").toString
    val batch = flagshipTagged
    // the killed attempt: the batch staged, then only the first sink's
    // route directory renamed into place
    val staging = Paths.get(s"$outDir/_staging/batch_id=7")
    batch.withColumn(StreamingPipeline.StagedRoute, col("route"))
      .write.partitionBy(StreamingPipeline.StagedRoute).parquet(staging.toString)
    val first = Paths.get(s"$outDir/${flagshipSinks.head}/batch_id=7")
    Files.createDirectories(first.getParent)
    Files.move(staging.resolve(s"${StreamingPipeline.StagedRoute}=${flagshipSinks.head}"), first)
    StreamingPipeline.writeRoutedBatch(batch, 7L, flagshipSinks, outDir)
    assertRoutedOnce(batch, outDir, 7L)
  }

  /** `rows` through one micro-batch of the multiplexed sinks; returns
    * the sinks' directory. */
  private def routeOneBatch(sinks: Seq[String], rows: StreamingPipelineSpec.Routed*): String = {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[StreamingPipelineSpec.Routed]
    val outDir = Files.createTempDirectory("graft_stream_layout").toString
    val ckDir = Files.createTempDirectory("graft_stream_layout_ck").toString
    val q = StreamingPipeline.startRoutedSinksMultiplexed(mem.toDF(), sinks, outDir, ckDir)
    try {
      mem.addData(rows: _*)
      q.processAllAvailable()
    } finally q.stop()
    outDir
  }

  test("routed sink layout: a route name Spark escapes lands under its raw name") {
    val outDir = routeOneBatch(Seq("a:b", "plain"),
      StreamingPipelineSpec.Routed("x", "a:b"), StreamingPipelineSpec.Routed("y", "plain"))
    // a partition path would escape it as `a%3Ab`; the sink keeps the name
    assert(Files.isDirectory(Paths.get(s"$outDir/a:b/batch_id=0")))
    val got = spark.read.parquet(s"$outDir/a:b")
      .select("payload", "route").as[(String, String)].collect().toSeq
    assert(got === Seq(("x", "a:b")))
  }

  test("routed sink layout: a sink with no rows in a batch stays readable, same schema") {
    val outDir = routeOneBatch(Seq("full", "empty"), StreamingPipelineSpec.Routed("x", "full"))
    val full = spark.read.parquet(s"$outDir/full")
    val empty = spark.read.parquet(s"$outDir/empty")
    assert(full.count() === 1L && empty.count() === 0L)
    assert(empty.schema === full.schema)
    assert(empty.columns.toSeq === Seq("payload", "route", "batch_id"))
  }

  private def tsm(min: Int): Timestamp = new Timestamp(ts(0).getTime + min * 60000L)

  test("sessionize (batch): gap merge, inclusive boundary, strict-> split, end = last + gap") {
    import StreamingPipelineSpec.Ev
    val events = Seq(
      Ev(1L, tsm(0), "view"), Ev(1L, tsm(110), "error"), // 110m < 120m -> merge
      Ev(1L, tsm(230), "view"), // exactly 120m after 110 -> still merges (inclusive)
      Ev(1L, tsm(351), "view"), // 121m after 230 -> NEW session
      Ev(2L, tsm(30), "view")).toDS().toDF()
    val out = StreamingPipeline.sessionize(events, "user_id", "ts",
        "120 minutes", "0 seconds",
        Seq(org.apache.spark.sql.functions.sum(
          org.apache.spark.sql.functions.when(col("event_type") === "error", 1L)
            .otherwise(0L)).as("n_errors")))
      .select("user_id", "n_events", "n_errors", "session_start", "session_end")
      .as[(Long, Long, Long, Timestamp, Timestamp)].collect().toSet
    assert(out == Set(
      (1L, 3L, 1L, tsm(0), tsm(350)),   // end = 230 + 120
      (1L, 1L, 0L, tsm(351), tsm(471)),
      (2L, 1L, 0L, tsm(30), tsm(150))), s"got $out")
  }

  test("sessionize (batch): session_window ≡ lag/cumsum gaps-and-islands rendering") {
    import StreamingPipelineSpec.Ev
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    // deterministic pseudo-random corpus: 400 events, 17 users, minute
    // offsets folded over one day so real merges and splits both occur
    val events = (0 until 400).map { i =>
      val u = (i * 2654435761L) % 17
      val m = ((i * 40503L + u * 977L) % 1440L).toInt
      Ev(u, tsm(m), if (i % 7 == 0) "error" else "view")
    }.toDS().toDF()
    val got = StreamingPipeline.sessionize(events, "user_id", "ts",
        "45 minutes", "0 seconds")
      .select("user_id", "n_events", "session_start", "session_end")
      .as[(Long, Long, Timestamp, Timestamp)].collect().toSet
    val w = Window.partitionBy("user_id").orderBy("ts")
    val want = events
      .withColumn("new_s", when(lag("ts", 1).over(w).isNull
        .or(col("ts").cast("long") - lag("ts", 1).over(w).cast("long") > 45 * 60L), 1L)
        .otherwise(0L))
      .withColumn("sid", sum("new_s").over(w.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy("user_id", "sid")
      .agg(count(lit(1)).as("n_events"), min("ts").as("session_start"),
        (max("ts").cast("long") + 45 * 60L).cast("timestamp").as("session_end"))
      .select("user_id", "n_events", "session_start", "session_end")
      .as[(Long, Long, Timestamp, Timestamp)].collect().toSet
    assert(got == want, s"diff: ${(got diff want) ++ (want diff got)}")
  }

  test("sessionize (streaming): sessions finalize in append mode once the watermark passes") {
    import StreamingPipelineSpec.Ev
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    val out = StreamingPipeline.sessionize(mem.toDF(), "user_id", "ts",
      "10 minutes", "0 seconds")
    val q = out.writeStream.format("memory").queryName("sess_win")
      .outputMode(OutputMode.Append).start()
    try {
      mem.addData(Ev(1L, tsm(1), "view"), Ev(1L, tsm(5), "view"))
      q.processAllAvailable()
      assert(spark.table("sess_win").isEmpty) // wm=5 < session end 15: still open
      mem.addData(Ev(9L, tsm(40), "view"))    // wm -> 40 > 15: finalize u1
      q.processAllAvailable()
      val rows = spark.table("sess_win")
        .select("user_id", "n_events", "session_start", "session_end")
        .as[(Long, Long, Timestamp, Timestamp)].collect().toSet
      assert(rows == Set((1L, 2L, tsm(1), tsm(15))), s"got $rows")
    } finally q.stop()
  }
}

object StreamingPipelineSpec {
  /** an already-tagged row (top-level: MemoryStream needs a stable encoder) */
  final case class Routed(payload: String, route: String)

  /** sessionize input row (top-level: MemoryStream needs a stable encoder). */
  final case class Ev(user_id: Long, ts: java.sql.Timestamp, event_type: String)

  // servicegraph half-edge rows (top-level case classes: MemoryStream
  // needs a stable encoder)
  final case class CHalf(conv_id: String, corr_id: Long, client_service: String,
                         client_failed: Boolean, client_ts: java.sql.Timestamp)
  final case class SHalf(conv_id: String, corr_id: Long, server_service: String,
                         server_failed: Boolean, server_ts: java.sql.Timestamp)

  /** Per-query reference for the multiplexed sink: one streaming query
    * per sink, all fed from the same tagged stream, each with its own
    * checkpoint (the upstream re-executes once per sink). */
  def startRoutedSinks(tagged: org.apache.spark.sql.DataFrame, sinkNames: Seq[String],
                       outDir: String, checkpointDir: String): Seq[StreamingQuery] =
    sinkNames.map { name =>
      tagged.filter(col("route") === name)
        .writeStream
        .format("parquet")
        .option("path", s"$outDir/$name")
        .option("checkpointLocation", s"$checkpointDir/$name")
        .outputMode(OutputMode.Append)
        .start()
    }
}
