package graft.agg

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** spanmetrics connector extensions beyond the bucket/calls core:
  * exemplars and metrics_expiration
  * (`connector/spanmetricsconnector/config.go:47,72`,
  * `connector.go:367,408` in `/root/reference`).
  */
object SpanMetrics {

  /** calls + sum + up-to-k exemplars per (dimensions) group.
    *
    * The reference attaches (trace_id, span_id, value) samples to each
    * data point, capped at `exemplars.max_per_data_point`
    * (`connector.go:408`), keeping arrival-order samples. Arrival order
    * does not exist in a distributed batch engine, so the rendering
    * keeps the k LARGEST durations (the outliers an exemplar exists to
    * surface), deterministically tie-broken by id.
    *
    * ONE hash-aggregate with map-side partials: calls/sum as built-in
    * aggregates, exemplars via the bounded [[TopKExemplars]] aggregator
    * (O(k) state per group per partition, associative merges). The
    * round-2 `row_number().over(Window)` rendering shuffled every span
    * of a group to one reducer and fully sorted it — a serialization
    * point on a hot `tool` value at 10^12 spans; it survives in the
    * test sources as `ProcessorOpsSpec.callsWithExemplarsWindowed`, the
    * differential oracle (ProcessorOpsSpec asserts frame equality).
    */
  def callsWithExemplars(spans: DataFrame, dims: Seq[String], durCol: String,
                         idCol: String, maxPerDataPoint: Int): DataFrame = {
    val keys = dims.map(col)
    spans.groupBy(keys: _*)
      .agg(count(lit(1)).as("calls"),
        sum(durCol).as("sum_dur"),
        TopKExemplars.of(col(durCol).cast("bigint"), col(idCol),
          maxPerDataPoint).as("exemplars"))
  }

  /** Summary-type data points: exact nearest-rank latency quantiles per
    * dimension group (the OTLP Summary sibling of the explicit/exponential
    * histograms — `connector/spanmetricsconnector/connector.go:328` renders
    * histograms; a Summary carries quantile values instead of buckets).
    *
    * Scale design: the raw span set collapses map-side to a
    * `(dims, value)` histogram — bounded by the VALUE DOMAIN, not the row
    * count — and the order statistics run over that tiny frame. The
    * 10^12-row input is never range-partitioned or sorted; the only
    * full-input exchange is the partial-aggregate shuffle of 8-byte keys.
    *
    * Quantile definition is nearest-rank: `q_p` = the smallest value whose
    * cumulative count reaches `ceil(p/100 · n)`. The rank is computed in
    * pure integer arithmetic, `(p·n + 99) div 100` (integral divide — no
    * `0.95 · n` double product and no double DIVISION either, which would
    * silently re-hang the contract on float rounding past ~2^47), so any
    * engine reproduces it bitwise (`percentile_cont`-style interpolation
    * would hang the contract on cross-engine double rounding).
    *
    * Null values are not observations (SQL aggregate semantics — they are
    * excluded here explicitly: left in, they'd inflate the cumulative
    * histogram NULLS-FIRST while the quantile selection skipped them,
    * shifting every rank by the null count).
    *
    * @param ps percentiles as integers in (0, 100], e.g. `Seq(50, 95, 99)`;
    *           emitted as `p{P}_{valueCol}` columns.
    */
  def summaryQuantiles(spans: DataFrame, dims: Seq[String], valueCol: String,
                       ps: Seq[Int]): DataFrame = {
    require(ps.nonEmpty && ps.forall(p => p > 0 && p <= 100),
      s"percentiles must be in (0,100]: $ps")
    val keys = dims.map(col)
    val hist = spans.filter(col(valueCol).isNotNull)
      .groupBy((keys :+ col(valueCol)): _*)
      .agg(count(lit(1)).as("_c"))
    val byKey = Window.partitionBy(keys: _*)
    val cum = hist
      .withColumn("_cum", sum("_c").over(
        byKey.orderBy(col(valueCol))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("_n", sum("_c").over(byKey))
    def rank(p: Int): Column =
      call_function("div", lit(p.toLong) * col("_n") + lit(99L), lit(100L))
    val qCols = ps.map(p =>
      min(when(col("_cum") >= rank(p), col(valueCol))).as(s"p${p}_$valueCol"))
    val aggs = (max("_n").cast("bigint").as("calls") +: qCols) :+
      max(valueCol).as(s"max_$valueCol")
    cum.groupBy(keys: _*).agg(aggs.head, aggs.tail: _*)
  }

  /** metrics_expiration (`config.go:72`): groups receiving no spans for
    * `expiration` before the dataset's max timestamp are stale and not
    * exported. 0 = never expire (reference default). */
  def withExpiration(spans: DataFrame, dims: Seq[String], tsCol: String,
                     expiration: String): DataFrame = {
    val keys = dims.map(col)
    // 0 disables expiration (the reference default, config.go:72): the
    // generic filter below would otherwise keep ONLY groups active at
    // the dataset's single max event time — the exact opposite. Disabled
    // means every span row passes through unchanged, matching the normal
    // path's shape (span rows of surviving groups), not a dim projection.
    if (expiration.trim.takeWhile(c => c.isDigit || c == '.')
        .toDoubleOption.contains(0.0)) {
      return spans
    }
    val lastSeen = spans.groupBy(keys: _*)
      .agg(max(col(tsCol).cast("timestamp")).as("_last_seen"))
    // "now" for a batch = the max event time in the frame (the batch
    // analog of the connector's wall clock at flush) — derived from the
    // small per-group frame (max of group maxes), NOT a third scan of
    // the span input, and broadcast as a 1-row frame instead of an
    // eager driver-side action
    val nowDf = lastSeen.agg(max(col("_last_seen")).as("_now"))
    // NULL-SAFE semi join back onto the spans: groupBy keeps a null dim
    // value as a real group, so the join must too — a bare equi-join on
    // dims never matches NULL=NULL and would silently drop every
    // null-dim span that the expiration=0 path passes through (enabling
    // expiration must not change results for non-stale data)
    val kept = lastSeen
      .crossJoin(broadcast(nowDf))
      .filter(col("_last_seen") >= col("_now") - expr(s"INTERVAL $expiration"))
      .select(dims.map(d => col(d).as(s"_k_$d")): _*)
    spans.join(kept,
      dims.map(d => col(d) <=> col(s"_k_$d")).reduce(_ && _), "left_semi")
  }
}
