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

  test("windowed KMV distinct estimate: finalized windows ≡ batch sketch per window") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Turn]
    val est = StreamingPipeline.windowedDistinctKmv(
      mem.toDF(), "text", "ts", "10 minutes", "5 minutes", k = 4)
    val q = est.writeStream.format("memory").queryName("kmvw")
      .outputMode(OutputMode.Append).start()
    try {
      // window [0,10): 3 distinct texts (< k → exact); window [10,20):
      // 6 distinct texts over 7 rows (> k → estimator path)
      mem.addData(
        turn("c1", 0, 1, "alpha"), turn("c1", 1, 2, "beta"),
        turn("c1", 2, 3, "alpha"), turn("c2", 0, 4, "gamma"),
        turn("c3", 0, 11, "t0"), turn("c3", 1, 12, "t1"),
        turn("c3", 2, 13, "t2"), turn("c3", 3, 14, "t3"),
        turn("c3", 4, 15, "t4"), turn("c3", 5, 16, "t5"),
        turn("c3", 6, 17, "t0"))
      q.processAllAvailable()
      mem.addData(turn("c9", 0, 40, "closer")) // watermark past both windows
      q.processAllAvailable()
      val got = spark.table("kmvw")
        .select("window_start", "n_kept", "est_distinct")
        .as[(Timestamp, Int, Long)].collect().toSet
      // the batch sketch over the same rows is the differential oracle
      import org.apache.spark.sql.functions.lit
      def batch(texts: Seq[String]) = {
        val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
          .toDF("doc_id", "text")
        val r = graft.ops.Sketches.distinctKmv(df, "text", k = 4).collect()(0)
        (r.getInt(0), r.getLong(2))
      }
      val w0 = batch(Seq("alpha", "beta", "alpha", "gamma"))
      val w1 = batch(Seq("t0", "t1", "t2", "t3", "t4", "t5", "t0"))
      assert(got.contains((ts(0), w0._1, w0._2)), s"got $got")
      assert(got.contains((ts(10), w1._1, w1._2)), s"got $got")
      assert(w0 === (3, 3L))  // below k: exact
      assert(w1._1 === 4)     // at k: estimator path exercised
    } finally q.stop()
  }

  test("streaming spanmetrics: windowed delta histograms finalize per bucket") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Timestamp, String, Long)]
    val metrics = StreamingPipeline.spanMetricsStream(
      mem.toDF().toDF("ts", "tool", "dur_ms"),
      "10 minutes", "5 minutes", Seq("tool"), "dur_ms", bucketWidthMs = 1000L)
    val q = metrics.writeStream.format("memory").queryName("sm")
      .outputMode(OutputMode.Append).start()
    try {
      // window [0,10): search 500ms ×2 (bucket 0), search 2500ms (bucket 2),
      // fetch 500ms (bucket 0); late-but-in-watermark arrival included
      mem.addData((ts(1), "search", 500L), (ts(2), "search", 2500L),
        (ts(3), "fetch", 500L))
      q.processAllAvailable()
      mem.addData((ts(4), "search", 700L)) // late within watermark, same window
      q.processAllAvailable()
      mem.addData((ts(25), "search", 100L)) // watermark → 20min, finalizes [0,10)
      q.processAllAvailable()
      val rows = spark.table("sm")
        .select("window_start", "tool", "lin_bucket", "calls", "sum_dur")
        .as[(Timestamp, String, Long, Long, Long)].collect().toSet
      assert(rows == Set(
        (ts(0), "search", 0L, 2L, 1200L),
        (ts(0), "search", 2L, 1L, 2500L),
        (ts(0), "fetch", 0L, 1L, 500L)), s"got $rows")
    } finally q.stop()
  }

  test("streaming recombine emits one ordered rollup per conversation on session timeout") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Turn]
    val sessions = StreamingPipeline.recombine(mem.toDS(), "0 seconds", gapMs = 60000)
    val q = sessions.writeStream.format("memory").queryName("sess")
      .outputMode(OutputMode.Append).start()
    try {
      // out-of-order arrival within conv c1
      mem.addData(turn("c1", 1, 2, "second"), turn("c1", 0, 1, "first"))
      q.processAllAvailable()
      // push watermark far past c1's last turn + gap → timeout fires
      mem.addData(turn("c2", 0, 30, "other"))
      q.processAllAvailable()
      mem.addData(turn("c3", 0, 59, "latest"))
      q.processAllAvailable()
      val out = spark.table("sess").as[StreamingPipeline.ConvSession]
        .collect().map(s => s.conv_id -> s).toMap
      assert(out.contains("c1"), s"c1 not emitted: ${out.keySet}")
      assert(out("c1").full_text == "first\nsecond") // turn_idx order despite arrival order
      assert(out("c1").n_turns == 2)
    } finally q.stop()
  }

  test("hot conversation: recombine state stays bounded via maxTurns chunk flush") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Turn]
    // 1000 turns into ONE conversation with maxTurns=64: state must never
    // hold more than 64 turns; overflow chunks emit immediately
    val sessions = StreamingPipeline.recombine(
      mem.toDS(), "0 seconds", gapMs = 60000, maxTurns = 64)
    val q = sessions.writeStream.format("memory").queryName("hot")
      .outputMode(OutputMode.Append).start()
    try {
      val hot = (0 until 1000).map(i => turn("hot", i, 1, s"t$i"))
      mem.addData(hot: _*)
      q.processAllAvailable()
      mem.addData(turn("zz", 0, 59, "push watermark")) // fire the tail timeout
      q.processAllAvailable()
      val out = spark.table("hot").as[StreamingPipeline.ConvSession]
        .collect().filter(_.conv_id == "hot")
      assert(out.map(_.n_turns).sum == 1000, s"lost turns: ${out.map(_.n_turns).toSeq}")
      assert(out.forall(_.n_turns <= 64), s"chunk exceeded maxTurns: ${out.map(_.n_turns).toSeq}")
      assert(out.length >= 1000 / 64, s"expected chunked flushes, got ${out.length}")
    } finally q.stop()
  }

  test("streaming tail sampling: decision_wait releases/drops whole conversations on timeout") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Turn]
    // decision fires 5 minutes (event time) after a conversation's FIRST turn
    val kept = StreamingPipeline.tailSample(
      mem.toDS(), "0 seconds", decisionWaitMs = 5 * 60000L,
      StreamingPipeline.streamErrorPolicy)
    val q = kept.writeStream.format("memory").queryName("tail")
      .outputMode(OutputMode.Append).start()
    try {
      // c_err has an ERROR turn → must be released wholesale, ordered;
      // c_ok has none → dropped wholesale
      mem.addData(
        turn("c_err", 1, 2, "ERROR [db] boom"), turn("c_err", 0, 1, "INFO [db] start"),
        turn("c_ok", 0, 1, "INFO [web] fine"), turn("c_ok", 1, 3, "INFO [web] done"))
      q.processAllAvailable()
      assert(spark.table("tail").isEmpty) // undecided: nothing released yet
      mem.addData(turn("c_push", 0, 30, "watermark push")) // wm → 30min > 1+5min
      q.processAllAvailable()
      val out = spark.table("tail").as[Turn].collect()
      assert(out.map(_.conv_id).toSet == Set("c_err"), s"got ${out.toSeq}")
      assert(out.sortBy(_.turn_idx).map(_.text).toSeq ==
        Seq("INFO [db] start", "ERROR [db] boom"))
      // post-decision turn of a kept conversation forwards immediately
      mem.addData(turn("c_err", 2, 31, "INFO [db] late"))
      q.processAllAvailable()
      assert(spark.table("tail").as[Turn].collect().count(_.conv_id == "c_err") == 3)
      // post-decision turn of a dropped conversation stays dropped
      mem.addData(turn("c_ok", 2, 31, "INFO [web] late"))
      q.processAllAvailable()
      assert(!spark.table("tail").as[Turn].collect().exists(_.conv_id == "c_ok"))
    } finally q.stop()
  }

  test("streaming tail sampling: maxBuffer forces an early decision (bounded state)") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Turn]
    val kept = StreamingPipeline.tailSample(
      mem.toDS(), "0 seconds", decisionWaitMs = 5 * 60000L,
      StreamingPipeline.streamLatencyPolicy(60000L), maxBuffer = 50)
    val q = kept.writeStream.format("memory").queryName("tailhot")
      .outputMode(OutputMode.Append).start()
    try {
      // 200 turns spanning >1 minute in one undecided conversation:
      // the 50-turn bound forces the decision without any timeout
      mem.addData((0 until 200).map(i => turn("hot", i, 1 + i % 10, s"t$i")): _*)
      q.processAllAvailable()
      val got = spark.table("tailhot").as[Turn].collect()
      assert(got.length >= 50, s"early decision did not release: ${got.length}")
    } finally q.stop()
  }

  test("forced early decision: cache anchored at decision time, no second verdict") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Turn]
    // error policy: the first 30 turns contain an ERROR turn → the
    // forced verdict at maxBuffer=30 is KEEP; the late turn alone is
    // plain and would get DROP if a second independent decision ran
    val kept = StreamingPipeline.tailSample(
      mem.toDS(), "0 seconds", decisionWaitMs = 5 * 60000L,
      StreamingPipeline.streamErrorPolicy, maxBuffer = 30)
    val q = kept.writeStream.format("memory").queryName("tailpurge")
      .outputMode(OutputMode.Append).start()
    try {
      // turns span min 1-3; firstMs anchor would purge at min 6, the
      // decision-time anchor (max buffered ts = min 3) purges at min 8
      mem.addData(turn("c1", 0, 1, "ERROR boom") +:
        (1 until 30).map(i => turn("c1", i, 1 + i % 3, s"t$i")): _*)
      q.processAllAvailable()
      assert(spark.table("tailpurge").count() == 30)
      // advance the watermark to min 7 (past the OLD purge point, short
      // of the new one)...
      mem.addData(turn("adv1", 0, 7, "advance"))
      q.processAllAvailable()
      // ...and give c1's timeout a DATA-LESS batch to fire in: under the
      // firstMs anchor the cached verdict self-purges here (timeout
      // min 6 ≤ watermark min 7); under the decision-time anchor it
      // survives (min 8 > min 7)
      mem.addData(turn("adv2", 0, 7, "advance"))
      q.processAllAvailable()
      // a late c1 turn must follow the cached KEEP verdict immediately —
      // a purged cache would re-open an undecided buffer and silently
      // hold (then re-decide DROP: the turn has no ERROR)
      mem.addData(turn("c1", 30, 8, "late-after-old-purge-point"))
      q.processAllAvailable()
      val texts = spark.table("tailpurge").as[Turn].collect().map(_.text).toSet
      assert(texts.contains("late-after-old-purge-point"),
        "cached KEEP verdict was purged early — late turn re-decided (old bug)")
    } finally q.stop()
  }

  test("tail sampling decided cache: post-decision turns re-arm the purge (no state leak)") {
    // GroupState clears the timeout on EVERY invocation — before the
    // fix, a post-decision turn left the cached verdict armed with NO
    // timeout, leaking one state row per straggler-touched conversation
    // for the life of the query. Observable: the final state-store row
    // count (the leaked entry survives every later watermark advance).
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Turn]
    val kept = StreamingPipeline.tailSample(
      mem.toDS(), "0 seconds", decisionWaitMs = 2 * 60000L,
      StreamingPipeline.streamErrorPolicy)
    val q = kept.writeStream.format("memory").queryName("tailleak")
      .outputMode(OutputMode.Append).start()
    try {
      mem.addData(turn("c1", 0, 1, "ERROR boom")) // decision deadline min 3
      q.processAllAvailable()
      mem.addData(turn("a0", 0, 10, "advance")) // wm → 10
      q.processAllAvailable()
      mem.addData(turn("a0", 1, 11, "advance")) // c1 decides KEEP; purge ~12
      q.processAllAvailable()
      // two post-decision turns: each must forward AND re-arm the purge
      mem.addData(turn("c1", 1, 12, "late1"))
      q.processAllAvailable()
      mem.addData(turn("c1", 2, 20, "late2")) // re-arms purge to ~min 22
      q.processAllAvailable()
      mem.addData(turn("a1", 0, 30, "advance")) // wm → 30, past every purge
      q.processAllAvailable()
      mem.addData(turn("a1", 1, 31, "advance")) // purge batch: c1 + a0 evict
      q.processAllAvailable()
      val outs = spark.table("tailleak").as[Turn].collect()
      assert(outs.count(_.conv_id == "c1") == 3,
        s"cached KEEP verdict must forward both late turns: ${outs.toSeq}")
      assert(!outs.exists(_.conv_id == "a0")) // plain conv dropped
      // only a1's undecided buffer may remain: c1's cache (touched by
      // stragglers — the leak case) and a0's cache must both have purged
      val stateRows = q.lastProgress.stateOperators.head.numRowsTotal
      assert(stateRows == 1L,
        s"expected only a1's buffer in state, got $stateRows rows (leak)")
    } finally q.stop()
  }

  test("groupbytrace fixed wait_duration: releases one gathered session, deadline not extended") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Turn]
    val sessions = StreamingPipeline.recombineFixedWait(
      mem.toDS(), "0 seconds", waitMs = 5 * 60000L)
    val q = sessions.writeStream.format("memory").queryName("gbt")
      .outputMode(OutputMode.Append).start()
    try {
      mem.addData(turn("c1", 0, 1, "first"), turn("c1", 1, 2, "second"))
      q.processAllAvailable()
      // a turn at minute 4 does NOT extend the deadline (fixed wait from
      // the FIRST turn at minute 1, unlike recombine's gap timeout)
      mem.addData(turn("c1", 2, 4, "third"))
      q.processAllAvailable()
      assert(spark.table("gbt").isEmpty)
      mem.addData(turn("cx", 0, 30, "watermark push")) // wm 30 > 1+5
      q.processAllAvailable()
      val out = spark.table("gbt").as[StreamingPipeline.ConvSession]
        .collect().filter(_.conv_id == "c1")
      assert(out.length == 1 && out.head.n_turns == 3)
      assert(out.head.full_text == "first\nsecond\nthird")
      // post-release turns are dropped (reference forwards them ungrouped)
      mem.addData(turn("c1", 3, 31, "late"))
      q.processAllAvailable()
      assert(spark.table("gbt").as[StreamingPipeline.ConvSession]
        .collect().count(_.conv_id == "c1") == 1)
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

  test("servicegraph metrics aggregate edges per (client, server, type) window") {
    // batch rendering of the same expressions (withWatermark is a no-op
    // in batch): the flush-loop aggregate over a small edge frame
    val edges = Seq(
      ("c1", 1L, "assistant", "bash", "complete", true, ts(1), ts(2)),
      ("c1", 2L, "assistant", "bash", "complete", false, ts(3), ts(4)),
      ("c2", 3L, "assistant", "unknown", "expired_no_server", false, ts(5), null)
    ).toDF("conv_id", "corr_id", "client_service", "server_service",
      "connection_type", "failed", "client_ts", "server_ts")
    val m = StreamingPipeline.serviceGraphMetrics(edges, "1 hour", "0 seconds")
      .select("client_service", "server_service", "connection_type", "n_edges", "n_failed")
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2)) ->
        ((r.getLong(3), r.getLong(4)))).toMap
    assert(m(("assistant", "bash", "complete")) == ((2L, 1L)))
    assert(m(("assistant", "unknown", "expired_no_server")) == ((1L, 0L)))
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
  private val flagshipSinks =
    graft.run.Pipeline.routeTable.routes.map(_.name) :+ graft.run.Pipeline.routeTable.defaultName
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

  test("streaming dedup: duplicates suppressed inside the delay, re-admitted after state eviction") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Turn]
    val out = StreamingPipeline.dedupStream(mem.toDF(), Seq("text"), "ts", "5 minutes")
    val q = out.writeStream.format("memory").queryName("dedup_stream")
      .outputMode(OutputMode.Append).start()
    try {
      mem.addData(turn("c1", 0, 1, "dup"), turn("c2", 0, 2, "dup"),
        turn("c3", 0, 2, "uniq"))
      q.processAllAvailable()
      val first = spark.table("dedup_stream").as[Turn].collect()
      assert(first.count(_.text == "dup") == 1, s"got ${first.toSeq}") // 2nd copy dropped
      assert(first.count(_.text == "uniq") == 1)
      // move the watermark far past min 1 + 5m -> "dup" state evicted
      mem.addData(turn("c4", 0, 30, "wm push"))
      q.processAllAvailable()
      mem.addData(turn("c5", 0, 31, "dup")) // later duplicate: re-admitted
      q.processAllAvailable()
      val all = spark.table("dedup_stream").as[Turn].collect()
      assert(all.count(_.text == "dup") == 2, s"got ${all.toSeq}")
    } finally q.stop()
  }

  test("poison rows: null ts dropped, null text doesn't kill the decision policy") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Turn]
    val kept = StreamingPipeline.tailSample(
      mem.toDS(), "0 seconds", decisionWaitMs = 5 * 60000L,
      StreamingPipeline.streamErrorPolicy)
    val q = kept.writeStream.format("memory").queryName("poison")
      .outputMode(OutputMode.Append).start()
    try {
      // corrupt lines under the nullable input_hint schema: a null
      // event time has no orderable position (dropped pre-watermark),
      // and a null text must not NPE the policy when the decision
      // fires — both previously killed the query from inside
      // flatMapGroupsWithState, and kept killing it on restart since
      // the poison state is checkpointed
      mem.addData(
        Turn("c1", 0, "user", null, "", ts(1)),
        Turn("c1", 1, "user", "ERROR [db] boom", "", ts(2)),
        Turn("cx", 0, "user", "lost in time", "", null))
      q.processAllAvailable()
      mem.addData(turn("c_push", 0, 30, "watermark push"))
      q.processAllAvailable()
      val out = spark.table("poison").as[Turn].collect()
      assert(out.map(_.conv_id).toSet == Set("c1"), s"got ${out.toSeq}")
      assert(out.length == 2) // the null-text turn releases with its conv
    } finally q.stop()
  }

  test("metric series: a null-ts point is dropped, not query-killing") {
    import StreamingPipeline.{CumulativePoint, MetricPoint}
    implicit val sqlCtx = spark.sqlContext
    def mp(s: String, min: Long, v: Double) =
      MetricPoint(s, new Timestamp(ts(0).getTime + min * 60000L), v)
    val mem = MemoryStream[MetricPoint]
    val out = StreamingPipeline.deltaToCumulativeStream(
      mem.toDS(), "5 minutes", maxStaleMs = 30 * 60000L)
    val q = out.writeStream.format("memory").queryName("d2c_poison")
      .outputMode(OutputMode.Append).start()
    try {
      mem.addData(mp("a", 1, 1.0), MetricPoint("a", null, 99.0), mp("a", 2, 2.0))
      q.processAllAvailable()
      val got = spark.table("d2c_poison").as[CumulativePoint].collect()
        .map(p => (p.ts.getTime / 60000 % 60, p.cumulative)).toSet
      assert(got == Set((1L, 1.0), (2L, 3.0)), s"got $got") // 99.0 never folded
    } finally q.stop()
  }

  test("streaming deltatocumulative: running sum carried across micro-batches, O(1) state") {
    import StreamingPipeline.{CumulativePoint, MetricPoint}
    implicit val sqlCtx = spark.sqlContext
    def mp(s: String, min: Long, v: Double) =
      MetricPoint(s, new Timestamp(ts(0).getTime + min * 60000L), v)
    val mem = MemoryStream[MetricPoint]
    val out = StreamingPipeline.deltaToCumulativeStream(
      mem.toDS(), "5 minutes", maxStaleMs = 30 * 60000L)
    val q = out.writeStream.format("memory").queryName("d2c_stream")
      .outputMode(OutputMode.Append).start()
    try {
      // batch 1: out-of-order arrival inside the batch → folded in ts order
      mem.addData(mp("a", 2, 2.0), mp("a", 1, 1.0), mp("b", 1, 10.0))
      q.processAllAvailable()
      // batch 2: state carries the total forward
      mem.addData(mp("a", 3, 4.0))
      q.processAllAvailable()
      val got = spark.table("d2c_stream").as[CumulativePoint].collect()
        .map(p => (p.series, p.ts.getTime / 60000 % 60, p.cumulative)).toSet
      assert(got == Set(("a", 1L, 1.0), ("a", 2L, 3.0), ("a", 3L, 7.0),
        ("b", 1L, 10.0)), s"got $got")
    } finally q.stop()
  }

  test("streaming deltatocumulative: stale series evicted, revived series restarts from zero") {
    import StreamingPipeline.{CumulativePoint, MetricPoint}
    implicit val sqlCtx = spark.sqlContext
    def mp(s: String, min: Long, v: Double) =
      MetricPoint(s, new Timestamp(ts(0).getTime + min * 60000L), v)
    val mem = MemoryStream[MetricPoint]
    val out = StreamingPipeline.deltaToCumulativeStream(
      mem.toDS(), "1 minutes", maxStaleMs = 10 * 60000L)
    val q = out.writeStream.format("memory").queryName("d2c_stale")
      .outputMode(OutputMode.Append).start()
    try {
      mem.addData(mp("a", 1, 5.0))
      q.processAllAvailable()
      // push the watermark far past a's timeout (1 + 10 stale), then one
      // more batch so the timeout actually fires (timeouts are evaluated
      // against the PREVIOUS batch's watermark)
      mem.addData(mp("wm", 60, 0.0))
      q.processAllAvailable()
      mem.addData(mp("wm", 61, 0.0))
      q.processAllAvailable()
      mem.addData(mp("a", 62, 3.0)) // revived: starts over, not 5+3
      q.processAllAvailable()
      val a = spark.table("d2c_stale").as[CumulativePoint].collect()
        .filter(_.series == "a").map(p => p.value -> p.cumulative).toSet
      assert(a == Set(5.0 -> 5.0, 3.0 -> 3.0), s"got $a")
    } finally q.stop()
  }

  test("streaming deltatocumulative: late in-watermark point cannot drag the eviction deadline backwards") {
    import StreamingPipeline.{CumulativePoint, MetricPoint}
    implicit val sqlCtx = spark.sqlContext
    def mp(s: String, min: Long, v: Double) =
      MetricPoint(s, new Timestamp(ts(0).getTime + min * 60000L), v)
    val mem = MemoryStream[MetricPoint]
    val out = StreamingPipeline.deltaToCumulativeStream(
      mem.toDS(), "40 minutes", maxStaleMs = 10 * 60000L)
    val q = out.writeStream.format("memory").queryName("d2c_late")
      .outputMode(OutputMode.Append).start()
    try {
      mem.addData(mp("a", 100, 1.0)) // deadline anchored at 100+10=110min
      q.processAllAvailable()        // watermark → 60min
      // late but in-watermark: must NOT re-anchor the deadline at 70+10
      mem.addData(mp("a", 70, 2.0))
      q.processAllAvailable()
      // watermark → 90min, then one more batch so timeouts are checked
      // against it: a deadline wrongly moved to 80min would evict here
      mem.addData(mp("wm", 130, 0.0))
      q.processAllAvailable()
      mem.addData(mp("wm", 131, 0.0))
      q.processAllAvailable()
      mem.addData(mp("a", 95, 5.0)) // alive: 1+2+5, not a restart at 5
      q.processAllAvailable()
      val a = spark.table("d2c_late").as[CumulativePoint].collect()
        .filter(_.series == "a").map(p => p.value -> p.cumulative).toSet
      assert(a == Set(1.0 -> 1.0, 2.0 -> 3.0, 5.0 -> 8.0), s"got $a")
    } finally q.stop()
  }

  test("streaming cumulativetodelta: null first delta, cross-batch continuation, stale restart") {
    import StreamingPipeline.{DeltaPoint, MetricPoint}
    implicit val sqlCtx = spark.sqlContext
    def mp(s: String, min: Long, v: Double) =
      MetricPoint(s, new Timestamp(ts(0).getTime + min * 60000L), v)
    val mem = MemoryStream[MetricPoint]
    val out = StreamingPipeline.cumulativeToDeltaStream(
      mem.toDS(), "1 minutes", maxStaleMs = 10 * 60000L)
    val q = out.writeStream.format("memory").queryName("c2d_stream")
      .outputMode(OutputMode.Append).start()
    try {
      mem.addData(mp("a", 2, 7.0), mp("a", 1, 5.0)) // in-batch ts order
      q.processAllAvailable()
      mem.addData(mp("a", 3, 10.0)) // continues from state (7 → 10)
      q.processAllAvailable()
      // stale eviction: watermark far past a's 3+10min deadline
      mem.addData(mp("wm", 60, 0.0))
      q.processAllAvailable()
      mem.addData(mp("wm", 61, 0.0))
      q.processAllAvailable()
      mem.addData(mp("a", 62, 12.0)) // revived: first delta null again
      q.processAllAvailable()
      val a = spark.table("c2d_stream").as[DeltaPoint].collect()
        .filter(_.series == "a").map(p => p.value -> p.delta).toSet
      assert(a == Set(5.0 -> None, 7.0 -> Some(2.0), 10.0 -> Some(3.0),
        12.0 -> None), s"got $a")
    } finally q.stop()
  }

  test("streaming deltatorate: per-second rate, null on first point and non-positive gap") {
    import StreamingPipeline.{MetricPoint, RatePoint}
    implicit val sqlCtx = spark.sqlContext
    def mp(s: String, min: Long, v: Double) =
      MetricPoint(s, new Timestamp(ts(0).getTime + min * 60000L), v)
    val mem = MemoryStream[MetricPoint]
    val out = StreamingPipeline.deltaToRateStream(
      mem.toDS(), "5 minutes", maxStaleMs = 60 * 60000L)
    val q = out.writeStream.format("memory").queryName("d2r_stream")
      .outputMode(OutputMode.Append).start()
    try {
      // 120 over 2 min = 1.0/s; duplicate-ts point → null rate
      mem.addData(mp("a", 1, 5.0), mp("a", 3, 120.0))
      q.processAllAvailable()
      mem.addData(mp("a", 3, 120.0)) // same ts as state's last → null
      q.processAllAvailable()
      val a = spark.table("d2r_stream").as[RatePoint].collect()
        .filter(_.series == "a").map(p => p.rate).toSet
      assert(a == Set(None, Some(1.0)), s"got $a")
    } finally q.stop()
  }

  test("interval processor (streaming): batch intervalLast composes with a watermark, append mode") {
    import StreamingPipeline.MetricPoint
    implicit val sqlCtx = spark.sqlContext
    def mp(s: String, min: Long, v: Double) =
      MetricPoint(s, new Timestamp(ts(0).getTime + min * 60000L), v)
    val mem = MemoryStream[MetricPoint]
    val out = graft.agg.Stateful.intervalLast(
      mem.toDF().withWatermark("ts", "2 minutes"),
      Seq("series"), "ts", "value", "10 minutes")
    val q = out.writeStream.format("memory").queryName("interval_stream")
      .outputMode(OutputMode.Append).start()
    try {
      mem.addData(mp("a", 1, 1.0), mp("a", 7, 2.0), mp("a", 4, 9.0))
      q.processAllAvailable()
      mem.addData(mp("a", 25, 0.0)) // watermark 23min → [0,10) finalizes
      q.processAllAvailable()
      val rows = spark.table("interval_stream")
        .select("series", "last_value").as[(String, Double)].collect().toSet
      assert(rows == Set(("a", 2.0)), s"got $rows") // last by ts, not max
    } finally q.stop()
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
