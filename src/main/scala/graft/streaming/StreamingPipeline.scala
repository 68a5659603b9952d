package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, Dataset, Row}
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

import graft.agg.CountStage
import graft.model.PipelineConfig.{AttrSpec, MetricSpec}

/** Structured-Streaming rendering of the pipeline (SURVEY.md §2.9): the
  * windowed count connector and the routed multiplexed sink that
  * `graft.run.StreamingJob` starts, plus the servicegraph join and the
  * sessionization that the p56 and p58 queries run in batch.
  *
  * The reference streams with processing-time tickers and no watermarks;
  * late data silently lands in the current window. We upgrade to
  * event-time windows + watermarks (documented semantic difference):
  * deterministic window assignment, bounded state, explicit late-data
  * policy.
  */
object StreamingPipeline {

  /** Windowed count with watermark — the streaming count connector,
    * [[CountStage.countWindowed]] under a watermark: every attr is
    * required, so a row missing one is skipped like in the batch
    * `counts_<route>` tables (`counter.go:71-73`). State is evicted
    * `lateness` behind the max event time (the analog of the
    * reference's metrics_expiration). */
  def windowedCounts(turns: DataFrame, windowDur: String, lateness: String,
                     attrs: Seq[String]): DataFrame =
    CountStage.countWindowed(turns.withWatermark("ts", lateness),
        MetricSpec("n", attrs = attrs.map(AttrSpec(_))), col("ts"), windowDur)
      .select((col("window_start") +: col("n") +: attrs.map(col)): _*)

  /** Gap-based sessionization — recombine/groupbytrace's inactivity-gap
    * semantics (`transformer/recombine/transformer.go:95-227` force-flush
    * timeout in `/root/reference`) rendered as the engine-managed merging
    * `session_window` aggregate. Two events of one key share a session
    * iff the later arrives within `gap` of the earlier INCLUSIVE
    * (windows merge while next_ts <= prev_ts + gap — an exactly-gap-
    * later event still joins; only diff > gap starts a new session).
    * `session_start` = first event ts, `session_end` = last event
    * ts + gap.
    *
    * Runs identically in batch (the watermark is a no-op) and streaming
    * (state evicted `lateness` behind max event time) — the p56
    * one-operator-two-modes pattern. Scale: ONE shuffle on the key;
    * within-partition session merge is sort-based (UpdatingSessionsExec),
    * no per-key driver state, state size O(open sessions).
    *
    * `extraAggs` are pre-aliased aggregate columns appended after
    * `n_events`. */
  def sessionize(events: DataFrame, keyCol: String, tsCol: String,
                 gap: String, lateness: String,
                 extraAggs: Seq[Column] = Nil): DataFrame = {
    val aggs = count(lit(1)).as("n_events") +: extraAggs
    events.withWatermark(tsCol, lateness)
      .groupBy(col(keyCol), session_window(col(tsCol), gap).as("sw"))
      .agg(aggs.head, aggs.tail: _*)
      .withColumn("session_start", col("sw.start"))
      .withColumn("session_end", col("sw.end"))
      .drop("sw")
  }

  /** Streaming servicegraph — the event-time rendering of the
    * servicegraph connector's edge store
    * (`connector/servicegraphconnector/connector.go:221-330`: client
    * spans upsert an edge keyed (trace_id, span_id), server spans the
    * same key via parent_span_id; an edge with both services completes
    * and emits metrics, an unpaired edge expires after the store TTL —
    * `internal/store/store.go` UpsertEdge/tryEvictHead — and the
    * virtual-node path fills the missing side with "user"/peer).
    *
    * Spark-native shape: a WATERMARKED FULL-OUTER STREAM-STREAM JOIN.
    * Structured Streaming's outer join holds each side in state exactly
    * until the watermark proves no match can still arrive, then emits
    * the held row null-padded — the null-padded rows ARE the
    * reference's expired-half timeout bucket, so the store, its TTL
    * sweep, and the eviction loop all collapse into the join operator's
    * own state management (state is bounded by watermark + the ttl
    * range condition; keys shuffle once on (conv_id, corr_id)).
    *
    * Input contract:
    *  - `clientHalf`: conv_id, corr_id, client_service, client_failed,
    *    client_ts (event time) — the CALL side;
    *  - `serverHalf`: conv_id, corr_id, server_service, server_failed,
    *    server_ts — the RESPONSE side, matching when it lands within
    *    `ttl` AFTER its client half.
    *
    * Output: one row per edge with `connection_type`:
    * "complete" (both halves), "expired_no_server" (client half only —
    * server side null-padded after watermark + ttl), or
    * "expired_no_client" (orphan server half); the virtual-node
    * convention fills the missing service ("user" for a missing client,
    * "unknown" for a missing server — `connector.go:359-382`), `failed`
    * ORs the halves like Edge.Failed.
    */
  def serviceGraph(clientHalf: DataFrame, serverHalf: DataFrame,
                   lateness: String, ttl: String): DataFrame = {
    // dataset aliases, not df("col") refs: both halves are typically
    // carved out of the SAME input frame (batch differential p56), and
    // unqualified attribute refs would be ambiguous in the self-join
    val c = clientHalf.withWatermark("client_ts", lateness).as("sgc")
    val s = serverHalf.withWatermark("server_ts", lateness).as("sgs")
    val joined = c.join(s,
      col("sgc.conv_id") === col("sgs.conv_id") &&
        col("sgc.corr_id") === col("sgs.corr_id") &&
        col("sgs.server_ts") >= col("sgc.client_ts") &&
        col("sgs.server_ts") <= col("sgc.client_ts") + expr(s"INTERVAL $ttl"),
      "full_outer")
    joined.select(
      coalesce(col("sgc.conv_id"), col("sgs.conv_id")).as("conv_id"),
      coalesce(col("sgc.corr_id"), col("sgs.corr_id")).as("corr_id"),
      coalesce(col("client_service"), lit("user")).as("client_service"),
      coalesce(col("server_service"), lit("unknown")).as("server_service"),
      // half-presence is decided on the EVENT-TIME columns (mandatory on
      // each half — the watermark rides on them), not the service
      // values: a successfully joined edge whose service attribute is
      // null must still count as complete, not as an expired half
      when(col("sgc.client_ts").isNotNull && col("sgs.server_ts").isNotNull,
        "complete")
        .when(col("sgs.server_ts").isNull, "expired_no_server")
        .otherwise("expired_no_client").as("connection_type"),
      (coalesce(col("client_failed"), lit(false)) ||
        coalesce(col("server_failed"), lit(false))).as("failed"),
      col("client_ts"), col("server_ts"))
  }

  /** foreachBatch MULTIPLEXER: ONE streaming query, one upstream pass
    * per micro-batch, one partitioned write per micro-batch — the
    * streaming rendering of the reference routing connector's
    * group-then-forward economy (it groups each incoming plog batch by
    * matched route once, then forwards the per-route groups to their
    * consumers — `connector/routingconnector/logs.go:62-103` — rather
    * than re-reading the source per route, which is exactly what k
    * independent per-sink queries would do: Structured Streaming shares
    * nothing between `.start()` calls).
    *
    * Mechanics ([[writeRoutedBatch]]): the micro-batch is written ONCE,
    * partitioned by a copy of `route`, into a hidden staging directory
    * (the source read + parse + enrich + tagging upstream runs a single
    * time, in a single Spark job — no cache, no count, no per-route
    * filter); each sink's staged route directory is then renamed into
    * place as `<outDir>/<name>/batch_id=<id>`. Exactly-once on replay: a
    * batch is committed to the checkpoint only after this body returns,
    * so a batch replayed after a failure rewrites its staging from
    * scratch and REPLACES each sink's `batch_id=<id>` instead of
    * appending duplicates. Readers see one directory per sink —
    * `spark.read.parquet(s"$outDir/<name>")` — with `batch_id` surfaced
    * as a partition column and `route` kept in the data files.
    *
    * vs one query per sink: k× less ingest IO and parse CPU, at the
    * cost of per-sink checkpoint isolation (one checkpoint drives all
    * sinks; a poison-pill sink stalls the batch for every route). */
  def startRoutedSinksMultiplexed(tagged: DataFrame, sinkNames: Seq[String],
                                  outDir: String, checkpointDir: String,
                                  trigger: Option[org.apache.spark.sql.streaming.Trigger] = None): org.apache.spark.sql.streaming.StreamingQuery =
    trigger.foldLeft(tagged.writeStream)(_.trigger(_))
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        writeRoutedBatch(batch, batchId, sinkNames, outDir)
      }
      .start()

  /** Staging partition column: a copy of `route`, because a partitioned
    * write drops its partition column from the data files and the sink
    * files keep `route`. */
  private[streaming] val StagedRoute = "staged_route"

  /** One micro-batch of [[startRoutedSinksMultiplexed]]: one partitioned
    * write into `<outDir>/_staging/batch_id=<id>` (the same idiom as the
    * batch path's [[graft.route.RouteStage.writeMultiMatch]]), then per
    * sink a delete of `<outDir>/<name>/batch_id=<id>` and a rename of the
    * staged route directory into its place, then the staging is
    * dropped. Rows of a route outside `sinkNames` go with the staging.
    * Idempotent per `batchId`: a rerun after a kill at any point
    * overwrites the stale staging and replaces every sink's target. */
  private[streaming] def writeRoutedBatch(batch: DataFrame, batchId: Long,
                                          sinkNames: Seq[String], outDir: String): Unit = {
    val spark = batch.sparkSession
    val staging = new Path(s"$outDir/_staging/batch_id=$batchId")
    val fs = staging.getFileSystem(spark.sparkContext.hadoopConfiguration)
    batch.withColumn(StagedRoute, col("route"))
      .write.mode("overwrite").partitionBy(StagedRoute).parquet(staging.toString)
    sinkNames.foreach { name =>
      val target = new Path(s"$outDir/$name/batch_id=$batchId")
      // the writer's own partition-path escaping: `a:b` stages as `…=a%3Ab`
      val staged = new Path(staging,
        ExternalCatalogUtils.getPartitionPathString(StagedRoute, name))
      fs.delete(target, true)
      if (fs.exists(staged)) {
        fs.mkdirs(target.getParent)
        if (!fs.rename(staged, target))
          throw new java.io.IOException(s"cannot move $staged to $target")
      } else {
        // no row for this sink in this batch: a schema-only file, as an
        // empty filtered write leaves, keeps the sink readable
        spark.createDataFrame(java.util.Collections.emptyList[Row](), batch.schema)
          .write.parquet(target.toString)
      }
    }
    fs.delete(staging, true)
  }
}
