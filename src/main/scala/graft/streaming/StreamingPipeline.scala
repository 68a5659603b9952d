package graft.streaming

import java.sql.Timestamp

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.agg.CountStage
import graft.model.PipelineConfig.{AttrSpec, MetricSpec}
import graft.model.Turn

/** Structured-Streaming rendering of the pipeline (SURVEY.md §2.9).
  *
  * The reference streams with processing-time tickers and no watermarks
  * (interval processor `processor.go:70-84`, recombine force-flush
  * `transformer.go:58-81`, groupbytrace expiry `processor.go:151-173` in
  * `/root/reference`); late data silently lands in the current window.
  * We upgrade to event-time windows + watermarks (documented semantic
  * difference): deterministic window assignment, bounded state, explicit
  * late-data policy.
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

  /** Streaming spanmetrics — the RED-metrics connector rendered over
    * event-time windows (`connector/spanmetricsconnector/connector.go:
    * 328-406` in `/root/reference` aggregates under lock and flushes on
    * a processing-time ticker; here window assignment is event-time-
    * deterministic and state evicts `lateness` behind max event time —
    * the streaming analog of metrics_expiration). Emits one row per
    * (window, dims…, lin_bucket): calls + duration sum — the explicit-
    * buckets histogram in DELTA temporality (each window's counts are
    * independent, exactly the connector's delta mode; deltatocumulative
    * downstream composes for cumulative).
    *
    * Scale: ONE shuffle keyed by (window, dims, bucket) with map-side
    * partial aggregation; state is one count+sum per open
    * (window, group, bucket) — bounded by `lateness`, not the stream. */
  def spanMetricsStream(spans: DataFrame, windowDur: String, lateness: String,
                        dims: Seq[String], durCol: String,
                        bucketWidthMs: Long, tsCol: String = "ts"): DataFrame = {
    require(bucketWidthMs > 0, s"bucketWidthMs must be positive: $bucketWidthMs")
    val keys = (window(col(tsCol), windowDur) +: dims.map(col)) :+
      floor(col(durCol) / bucketWidthMs).cast("bigint").as("lin_bucket")
    spans.withWatermark(tsCol, lateness)
      .groupBy(keys: _*)
      .agg(count(lit(1)).as("calls"), sum(durCol).as("sum_dur"))
      .select(col("window.start").as("window_start") +: dims.map(col) ++:
        Seq(col("lin_bucket"), col("calls"), col("sum_dur")): _*)
  }

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

  /** Streaming log dedup — the upstream logdedup processor's semantics
    * (suppress duplicate records, re-admit after the flush interval)
    * rendered with the engine-managed dedup state operator: duplicates
    * on `keyCols` are dropped while their key is inside the watermark
    * delay; once the watermark moves `lateness` past the first-seen
    * occurrence the key's state is evicted and a later duplicate is
    * emitted again — the streaming analog of the processor's per-interval
    * unique-emit (batch exact dedup is `ops.Dedup.exact`, d01).
    * State is O(distinct keys within the delay window), never the
    * record bodies of suppressed rows. */
  def dedupStream(records: DataFrame, keyCols: Seq[String], tsCol: String,
                  lateness: String): DataFrame =
    records.withWatermark(tsCol, lateness)
      .dropDuplicatesWithinWatermark(keyCols)

  /** Streaming per-window distinct-count ESTIMATE — the cardinality rung
    * of the sketch layer ([[graft.ops.Sketches]]) run inside a
    * watermarked event-time window: the same bottom-k (KMV) aggregator
    * keeps the ≤k smallest distinct text fingerprints per open window,
    * so state is O(k) longs per window where an exact streaming
    * distinct-count holds EVERY key seen until the watermark closes the
    * window. Emits `(window_start, n_kept, est_distinct)` per finalized
    * window with d46's integer estimator — per-window results are
    * bitwise equal to running [[graft.ops.Sketches.distinctKmv]] over
    * that window's rows in batch (differential-tested). */
  def windowedDistinctKmv(records: DataFrame, valueCol: String,
                          tsCol: String, windowDur: String, lateness: String,
                          k: Int = 256): DataFrame = {
    import graft.ops.Sketches
    val sketch = records
      .filter(col(valueCol).isNotNull) // a null would reach the primitive
                                       // Long encoder as 0 — a fake hash
      .withWatermark(tsCol, lateness)
      .groupBy(window(col(tsCol), windowDur))
      .agg(Sketches.kmvOf(
        graft.ops.TextAnalysis.fingerprint(col(valueCol)), k).as("ks"))
    val (nKept, _, estDistinct) = Sketches.kmvEstimate(col("ks"), k)
    sketch.select(
      col("window.start").as("window_start"), nKept, estDistinct)
  }

  /** One delta data point of a metric series (streaming metric input). */
  final case class MetricPoint(series: String, ts: Timestamp, value: Double)

  /** [[MetricPoint]] with the running total attached. */
  final case class CumulativePoint(series: String, ts: Timestamp,
                                   value: Double, cumulative: Double)

  /** Streaming deltatocumulative — the reference processor's per-series
    * running sum (`processor/deltatocumulativeprocessor/processor.go:30-138`
    * in `/root/reference`; batch rendering is `agg.Stateful.deltaToCumulative`,
    * p16) carried in engine-managed state across micro-batches.
    *
    * State is one (total, newest-event-ms) pair per live series (O(1)
    * per key — never the points). Within a micro-batch a series' rows
    * fold in (ts, value) order, matching the batch rendering's
    * deterministic order; across micro-batches accumulation is
    * arrival-ordered like the reference's heap map. Series quiet for
    * `maxStaleMs` past the watermark are evicted (the processor's
    * `max_stale` staleness sweep, `internal/streams/expiry` semantics):
    * a revived series restarts its sum from zero, matching the
    * reference's stale-series drop. The eviction deadline is anchored
    * at the HISTORICAL newest event time carried in state — computing
    * it from the current batch alone would let a late (in-watermark)
    * point move the deadline backwards and evict a live series early,
    * silently restarting its running sum. */
  def deltaToCumulativeStream(points: Dataset[MetricPoint], lateness: String,
                              maxStaleMs: Long): Dataset[CumulativePoint] = {
    import points.sparkSession.implicits._
    statefulSeries[Double, CumulativePoint](points, lateness, maxStaleMs,
      init = 0.0) { (series, p, total) =>
      val t2 = total + p.value
      (t2, CumulativePoint(series, p.ts, p.value, t2))
    }
  }

  /** Shared scaffolding for the three stateful metric-series operators
    * ([[deltaToCumulativeStream]] / [[cumulativeToDeltaStream]] /
    * [[deltaToRateStream]]): the null-ts guard, per-series grouping,
    * within-batch (ts, value) ordering, the historical-newest eviction
    * anchor, and the `max_stale` timeout arm live HERE once — the
    * timeout arithmetic had to be fixed in three hand-synced copies in
    * round 4, which is exactly one copy too many twice over. Each
    * operator supplies only its per-point fold `(series, point, acc) →
    * (acc', out-row)`; state is `(acc, newest-event-ms)` per live
    * series, O(1) per key. */
  private def statefulSeries[S, O](points: Dataset[MetricPoint],
      lateness: String, maxStaleMs: Long, init: S)(
      step: (String, MetricPoint, S) => (S, O))(
      implicit es: org.apache.spark.sql.Encoder[(S, Long)],
      eo: org.apache.spark.sql.Encoder[O]): Dataset[O] = {
    require(maxStaleMs > 0, s"maxStaleMs must be positive, got $maxStaleMs"
      + " (zero/negative would evict live series or set timeouts at/behind"
      + " the watermark, killing the query)")
    points
      // a null event time (a corrupt line under the nullable input_hint
      // schema) passes the watermark's late-filter — null comparisons
      // are false, so the row is KEPT — and would NPE in the sort below,
      // killing the query; it carries no orderable position, so drop it
      .filter(_.ts != null)
      .withWatermark("ts", lateness)
      .groupByKey(_.series)(org.apache.spark.sql.Encoders.STRING)
      .flatMapGroupsWithState[(S, Long), O](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (series: String, rows: Iterator[MetricPoint],
         state: GroupState[(S, Long)]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            // one micro-batch of one series is the buffering unit — the
            // state that persists is only the (acc, newest-ts) pair
            var (acc, newestMs) =
              state.getOption.getOrElse((init, Long.MinValue))
            val out = rows.toVector.sortBy(p => (p.ts.getTime, p.value)).map { p =>
              val (a2, o) = step(series, p, acc)
              acc = a2
              newestMs = math.max(newestMs, p.ts.getTime)
              o
            }
            state.update((acc, newestMs))
            state.setTimeoutTimestamp(
              math.max(newestMs, state.getCurrentWatermarkMs()) + maxStaleMs)
            out.iterator
          }
      }
  }

  /** [[MetricPoint]] with the pairwise delta attached (null for the
    * first point of a (re)started series — the reference's drop-first,
    * kept as a null row like the batch rendering's lag). */
  final case class DeltaPoint(series: String, ts: Timestamp,
                              value: Double, delta: Option[Double])

  /** Streaming cumulativetodelta — pairwise difference vs the previous
    * point per series (`processor/cumulativetodeltaprocessor/processor.
    * go:42-162` in `/root/reference`; batch rendering is
    * `agg.Stateful.cumulativeToDelta`, p17). State is one
    * (last value, newest-event-ms) pair per live series; rows fold in
    * (ts, value) order within a micro-batch, arrival-ordered across
    * batches like the reference's heap map. Eviction and the
    * historical-newest anchor follow [[deltaToCumulativeStream]]; a
    * revived series re-emits a null first delta (the reference's
    * restart-on-stale). */
  def cumulativeToDeltaStream(points: Dataset[MetricPoint], lateness: String,
                              maxStaleMs: Long): Dataset[DeltaPoint] = {
    import points.sparkSession.implicits._
    statefulSeries[Option[Double], DeltaPoint](points, lateness, maxStaleMs,
      init = None) { (series, p, prev) =>
      (Some(p.value), DeltaPoint(series, p.ts, p.value, prev.map(p.value - _)))
    }
  }

  /** [[MetricPoint]] with the per-second rate attached (null for the
    * first point of a series and for a non-positive inter-point gap). */
  final case class RatePoint(series: String, ts: Timestamp,
                             value: Double, rate: Option[Double])

  /** Streaming deltatorate — delta value / seconds since the previous
    * point per series (`processor/deltatorateprocessor/processor.go`;
    * batch rendering is `agg.Stateful.deltaToRate`, p18). State is one
    * (last-point-ms, newest-event-ms) pair; a zero or negative gap
    * (timestamp collision, or an out-of-order arrival processed after a
    * newer point) yields a null rate rather than a division blow-up or
    * a negative-interval artifact — the same guard as the batch
    * rendering's dt=0 null. */
  def deltaToRateStream(points: Dataset[MetricPoint], lateness: String,
                        maxStaleMs: Long): Dataset[RatePoint] = {
    import points.sparkSession.implicits._
    statefulSeries[Option[Long], RatePoint](points, lateness, maxStaleMs,
      init = None) { (series, p, prevMs) =>
      val ms = p.ts.getTime
      val rate = prevMs.collect {
        case pm if ms > pm => p.value / ((ms - pm) / 1000.0)
      }
      (Some(ms), RatePoint(series, p.ts, p.value, rate))
    }
  }

  /** One finished conversation (recombine output). */
  final case class ConvSession(conv_id: String, n_turns: Int,
                               first_ts: Timestamp, last_ts: Timestamp,
                               full_text: String)

  /** Streaming recombine: group turns by conv_id, buffer in state, emit
    * one rolled-up conversation when the event-time timeout fires (no
    * new turns for `gapMs` past the watermark) — session semantics, the
    * streaming analog of `transformer/recombine/transformer.go:95-227`
    * (max_batch_size ≙ maxTurns flush, force-flush timeout ≙ state
    * timeout).
    *
    * CHECKPOINT COMPATIBILITY (ADVICE r5): the round-5 null-row
    * tolerance changed this operator's state encoding
    * (`Vector[Turn]` → `(Vector[Turn], Long)`), and cumulativeToDelta's
    * changed likewise (`(Double, Long)` → `(Option[Double], Long)`) — a
    * query restarted from a PRE-change streaming checkpoint fails state
    * deserialization. Pre-release this is acceptable; operators must
    * start fresh checkpoints when upgrading across that boundary.
    */
  def recombine(turns: Dataset[Turn], lateness: String, gapMs: Long,
                maxTurns: Int = 10000): Dataset[ConvSession] = {
    import turns.sparkSession.implicits._
    turns.filter(_.ts != null) // null event time: kept by the watermark's
                               // late-filter (null compares false), would
                               // NPE in the gap arithmetic below
      .withWatermark("ts", lateness)
      .groupByKey(_.conv_id)
      .flatMapGroupsWithState[(Vector[Turn], Long), ConvSession](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (convId: String, rows: Iterator[Turn],
         state: GroupState[(Vector[Turn], Long)]) =>
          if (state.hasTimedOut) {
            val buf = state.get._1
            state.remove()
            emit(convId, buf)
          } else {
            // STRICTLY bounded state for hot conversations: append one
            // turn at a time (Vector, O(1) amortized — a List `++` here
            // is O(n²) across micro-batches) and flush a chunk the moment
            // the buffer hits maxTurns, so executor state never exceeds
            // maxTurns rows no matter how many turns a batch delivers
            // (max_batch_size flush, transformer.go:95-227). The newest
            // event time rides IN state and folds over incoming rows
            // only — recomputing it from the buffer would be an
            // O(buffer) scan on every micro-batch of a hot conversation
            // (the cost tailSample confines to its rare forced path),
            // and the buffer alone under-reads it after a chunk flush:
            // the gap timer measures from the last ACTIVITY, flushed
            // turns included
            var (buf, newestMs) =
              state.getOption.getOrElse((Vector.empty[Turn], Long.MinValue))
            val out = Vector.newBuilder[ConvSession]
            rows.foreach { t =>
              buf = buf :+ t
              newestMs = math.max(newestMs, t.ts.getTime)
              if (buf.size >= maxTurns) {
                out ++= emit(convId, buf)
                buf = Vector.empty
              }
            }
            if (buf.isEmpty) state.remove()
            else {
              state.update((buf, newestMs))
              // clamp above the current watermark (the tailSample /
              // recombineFixedWait discipline): a turn admitted by the
              // PREVIOUS batch's watermark can carry an event time whose
              // natural deadline is already behind the CURRENT one, and
              // setTimeoutTimestamp below the watermark throws and kills
              // the query — such a session just times out next batch
              state.setTimeoutTimestamp(
                clampAboveWatermark(state, newestMs + gapMs))
            }
            out.result().iterator
          }
      }
  }

  /** Event-time timeouts must stay ABOVE the current watermark —
    * `setTimeoutTimestamp` at/below it throws and kills the query, and
    * a late-arriving group's natural deadline can already be behind it.
    * One definition for every stateful operator: three independent
    * copies of this one-liner were three places a future edit could
    * reintroduce the crash the clamp exists to prevent. */
  private def clampAboveWatermark(state: GroupState[_], wantMs: Long): Long =
    math.max(wantMs, state.getCurrentWatermarkMs() + 1)

  private def emit(convId: String, buf: Vector[Turn]): Iterator[ConvSession] = {
    if (buf.isEmpty) Iterator.empty
    else {
      val sorted = buf.sortBy(_.turn_idx)
      Iterator.single(ConvSession(
        convId, sorted.size,
        new Timestamp(sorted.iterator.map(_.ts.getTime).min),
        new Timestamp(sorted.iterator.map(_.ts.getTime).max),
        sorted.iterator.map(_.text).mkString("\n")))
    }
  }

  /** Tail-sampling decision state: buffering until the decision fires,
    * then the cached verdict for late turns. */
  final case class TailState(buf: Vector[Turn], firstMs: Long,
                             decided: Boolean, keep: Boolean)

  /** Streaming tail sampling with `decision_wait` — the event-time
    * rendering of the tail sampling processor's decision loop
    * (`processor/tailsamplingprocessor/processor.go:129-192` in
    * `/root/reference`): a conversation buffers for `decisionWaitMs`
    * after its FIRST turn's event time (not extended by later turns —
    * unlike [[recombine]]'s gap timeout), then the policy evaluates
    * over the gathered turns and either releases the whole buffer or
    * drops it. The verdict stays cached (the reference's decision
    * cache) so turns arriving after the decision follow it immediately;
    * the cache entry self-purges one more `decisionWaitMs` later.
    *
    * Memory bound (the reference's `num_traces` eviction): a
    * conversation exceeding `maxBuffer` undecided turns forces its
    * decision early on the gathered prefix. */
  def tailSample(turns: Dataset[Turn], lateness: String, decisionWaitMs: Long,
                 policy: Seq[Turn] => Boolean,
                 maxBuffer: Int = 100000): Dataset[Turn] = {
    import turns.sparkSession.implicits._
    turns.filter(_.ts != null) // see recombine: a null event time passes
                               // the late-filter and would NPE below
      .withWatermark("ts", lateness)
      .groupByKey(_.conv_id)
      .flatMapGroupsWithState[TailState, Turn](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (convId: String, rows: Iterator[Turn], state: GroupState[TailState]) =>
          def aboveWatermark(wantMs: Long): Long =
            clampAboveWatermark(state, wantMs)
          if (state.hasTimedOut) {
            val st = state.get
            if (st.decided) { state.remove(); Iterator.empty } // purge cache
            else {
              val keep = policy(st.buf)
              state.update(TailState(Vector.empty, st.firstMs, decided = true, keep))
              // purge one decisionWaitMs after the DECISION, which fires
              // at ≈ the watermark — anchoring at firstMs + 2·wait would
              // clamp to watermark+1 whenever the watermark jumped past
              // it in one batch, purging the verdict on the very next
              // batch and re-opening the conversation for a second
              // independent decision
              state.setTimeoutTimestamp(aboveWatermark(
                math.max(state.getCurrentWatermarkMs(),
                  st.firstMs + decisionWaitMs) + decisionWaitMs))
              if (keep) st.buf.sortBy(_.turn_idx).iterator else Iterator.empty
            }
          } else {
            val incoming = rows.toVector
            state.getOption match {
              case Some(st) if st.decided => // cached verdict: forward or drop
                // GroupState clears the timeout on EVERY invocation — a
                // return without re-arming would leave this cache entry
                // in the state store forever. Re-arm one decisionWaitMs
                // past "now" (watermark / newest straggler): each
                // post-decision turn extends the cache's life, and the
                // entry self-purges once stragglers stop
                state.setTimeoutTimestamp(aboveWatermark(
                  math.max(state.getCurrentWatermarkMs(),
                    incoming.iterator.map(_.ts.getTime).max) + decisionWaitMs))
                if (st.keep) incoming.sortBy(_.turn_idx).iterator else Iterator.empty
              case prev =>
                val firstMs = prev.map(_.firstMs)
                  .getOrElse(incoming.iterator.map(_.ts.getTime).min)
                var buf = prev.map(_.buf).getOrElse(Vector.empty) ++ incoming
                val out = Vector.newBuilder[Turn]
                var decidedEarly = false
                var keepEarly = false
                var bufMaxMs = 0L
                if (buf.size >= maxBuffer) { // forced early decision
                  decidedEarly = true
                  keepEarly = policy(buf)
                  // max event time of the WHOLE buffer (earlier batches
                  // included), captured before the buffer is cleared —
                  // the current batch alone can be all-late rows far
                  // behind what round 1 buffered. Computed only on this
                  // rare path: the O(buffer) scan must not run on every
                  // micro-batch of a 100k-turn hot conversation
                  bufMaxMs = buf.iterator.map(_.ts.getTime).max
                  if (keepEarly) out ++= buf.sortBy(_.turn_idx)
                  buf = Vector.empty
                }
                state.update(TailState(buf, firstMs, decidedEarly, keepEarly))
                // A FORCED early decision must cache its verdict for one
                // decisionWaitMs measured from the DECISION (≈ now in
                // event time: max(watermark, newest BUFFERED turn across
                // all batches)) — anchoring at firstMs, or at only the
                // current batch's max, would purge a cache whose natural
                // deadline is already near, re-opening the conversation
                // for an independent second decision on late turns.
                val timeoutBase =
                  if (decidedEarly)
                    math.max(state.getCurrentWatermarkMs(), bufMaxMs)
                  else firstMs
                state.setTimeoutTimestamp(aboveWatermark(timeoutBase + decisionWaitMs))
                out.result().iterator
            }
          }
      }
  }

  /** Streaming groupbytrace with the reference's FIXED `wait_duration`
    * (`processor/groupbytraceprocessor/processor.go:151-173` expiry in
    * `/root/reference`): a conversation is released as ONE gathered
    * session exactly `waitMs` (event time) after its FIRST turn — the
    * deadline is NOT extended by later turns, unlike [[recombine]]'s
    * session-gap timeout; turns arriving after release are dropped
    * (the reference logs-and-forwards them ungrouped). Bounded state:
    * a conversation exceeding `maxTurns` buffered turns flushes early
    * as a chunk, like recombine. */
  def recombineFixedWait(turns: Dataset[Turn], lateness: String, waitMs: Long,
                         maxTurns: Int = 10000): Dataset[ConvSession] = {
    import turns.sparkSession.implicits._
    turns.filter(_.ts != null) // see recombine: a null event time passes
                               // the late-filter and would NPE below
      .withWatermark("ts", lateness)
      .groupByKey(_.conv_id)
      .flatMapGroupsWithState[TailState, ConvSession](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (convId: String, rows: Iterator[Turn], state: GroupState[TailState]) =>
          def aboveWatermark(wantMs: Long): Long =
            clampAboveWatermark(state, wantMs)
          if (state.hasTimedOut) {
            val st = state.get
            if (st.decided) { state.remove(); Iterator.empty } // purge marker
            else {
              state.update(TailState(Vector.empty, st.firstMs, decided = true,
                keep = false))
              // marker purges one waitMs after the RELEASE (≈ the
              // watermark when this timeout fired) — the firstMs + 2·wait
              // anchor can already be behind a watermark that jumped,
              // which would purge the marker next batch and let a
              // straggler re-open the conversation as a spurious second
              // session (tailSample has the same discipline)
              state.setTimeoutTimestamp(aboveWatermark(
                math.max(state.getCurrentWatermarkMs(),
                  st.firstMs + waitMs) + waitMs))
              emit(convId, st.buf)
            }
          } else {
            val incoming = rows.toVector
            state.getOption match {
              case Some(st) if st.decided =>
                // released: late turns drop — but GroupState cleared the
                // marker's timeout on this invocation; re-arm it or the
                // marker row leaks in the state store forever
                state.setTimeoutTimestamp(aboveWatermark(
                  math.max(state.getCurrentWatermarkMs(),
                    incoming.iterator.map(_.ts.getTime).max) + waitMs))
                Iterator.empty
              case prev =>
                val firstMs = prev.map(_.firstMs)
                  .getOrElse(incoming.iterator.map(_.ts.getTime).min)
                var buf = prev.map(_.buf).getOrElse(Vector.empty)
                val out = Vector.newBuilder[ConvSession]
                incoming.foreach { t =>
                  buf = buf :+ t
                  if (buf.size >= maxTurns) { out ++= emit(convId, buf); buf = Vector.empty }
                }
                state.update(TailState(buf, firstMs, decided = false, keep = false))
                state.setTimeoutTimestamp(aboveWatermark(firstMs + waitMs))
                out.result().iterator
            }
          }
      }
  }

  // ---- turn-level policies for tailSample (internal/sampling/*.go) ----

  /** Conversation contains an ERROR/FATAL status turn (status-code
    * policy). Null-tolerant: under the nullable input_hint schema a
    * corrupt line yields text = null, and a policy NPE inside
    * flatMapGroupsWithState kills the query — and keeps killing it on
    * restart, since the poison buffer is checkpointed. */
  val streamErrorPolicy: Seq[Turn] => Boolean =
    _.exists(t => t.text != null &&
      (t.text.startsWith("ERROR ") || t.text.startsWith("FATAL ")))

  /** Latency policy: first→last event time span ≥ threshold. */
  def streamLatencyPolicy(minMs: Long): Seq[Turn] => Boolean = { buf =>
    buf.nonEmpty &&
      (buf.iterator.map(_.ts.getTime).max - buf.iterator.map(_.ts.getTime).min) >= minMs
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

  /** The per-edge aggregate the connector flushes
    * (`aggregateMetricsForEdge`): request count + failed count per
    * (client, server, connection_type) pair, windowed on the edge's
    * event time. Feed it [[serviceGraph]]'s output.
    *
    * WATERMARK CONTRACT (streaming): this stage re-watermarks the
    * derived `edge_ts`, whose watermark is computed from OBSERVED edge
    * timestamps. [[serviceGraph]]'s expired halves emit structurally
    * LATE — an expired client half surfaces only once the join
    * watermark passes client_ts + ttl, so its edge_ts trails the fresh
    * completes by ~ttl. Chained directly onto a live [[serviceGraph]]
    * stream with `lateness` equal to the join's, those expired rows
    * would be silently discarded as late records. Deploy it the way the
    * reference deploys the connector — edges land in a sink (store
    * flush) and this aggregate runs over that edge stream/table — and
    * size THIS stage's `lateness` ≥ join lateness + ttl so the
    * timeout bucket survives the late-record filter. In batch (the
    * p56 differential and the oracle) withWatermark is a no-op and
    * every bucket aggregates exactly. */
  def serviceGraphMetrics(edges: DataFrame, windowDur: String,
                          lateness: String): DataFrame =
    edges
      .withColumn("edge_ts", coalesce(col("client_ts"), col("server_ts")))
      .withWatermark("edge_ts", lateness)
      .groupBy(window(col("edge_ts"), windowDur),
        col("client_service"), col("server_service"), col("connection_type"))
      .agg(count(lit(1)).as("n_edges"),
        sum(when(col("failed"), 1L).otherwise(0L)).as("n_failed"))
      .select(col("window.start").as("window_start"), col("client_service"),
        col("server_service"), col("connection_type"), col("n_edges"),
        col("n_failed"))

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
