package graft.agg

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.functions.{count => sqlCount}

import graft.model.PipelineConfig.{AttrSpec, MetricSpec}

/** Aggregate stage — count-connector semantics (SURVEY.md §2.4).
  *
  * Reference (`connector/countconnector/counter.go:38-128` in
  * `/root/reference`):
  *   - per-metric optional conditions (OR-ed, `parser.go:332-362`);
  *   - group-by attribute list; attrs WITH a default substitute it when
  *     missing (`config.go:17-31`), attrs WITHOUT a default are required
  *     and rows missing them are SKIPPED (`counter.go:71-73`);
  *   - delta temporality: counts per flush window (`counter.go:108-128`)
  *     — in batch, per event-time tumbling window.
  *
  * Physical: `filter → groupBy → count` gets map-side partial
  * aggregation for free (HashAggregate partial → shuffle by group key →
  * final), which is exactly the scalable plan at 10^12 rows: the shuffle
  * carries one row per (window, attrs) per input partition, not per turn.
  */
object CountStage {

  private def attrCol(a: AttrSpec, resolve: String => Column): Column = a.default match {
    case Some(d) => coalesce(resolve(a.key), lit(d)).as(a.key)
    case None    => resolve(a.key).as(a.key)
  }

  /** Count metric over a static frame (no window). `resolve` maps an
    * attribute key to its column (top-level column, map entry, …). */
  def count(df: DataFrame, spec: MetricSpec,
            resolve: String => Column = col): DataFrame =
    counted(df, spec, resolve, None)

  /** Windowed (tumbling, event-time) variant — the batch rendering of the
    * connector's delta temporality; in streaming the same expression runs
    * under a watermark ([[graft.streaming.StreamingPipeline.windowedCounts]]).
    * Emits `window_start` instead of the struct. */
  def countWindowed(df: DataFrame, spec: MetricSpec, tsCol: Column,
                    windowDuration: String,
                    resolve: String => Column = col): DataFrame =
    counted(df, spec, resolve, Some(window(tsCol, windowDuration)))
      .withColumn("window_start", col("window.start"))
      .drop("window")

  /** The one condition-and-skip body: OR-ed conditions, rows missing a
    * required attr (no default) skipped, grouped by the optional window
    * then the attrs. */
  private def counted(df: DataFrame, spec: MetricSpec,
                      resolve: String => Column, win: Option[Column]): DataFrame = {
    val conditioned = spec.conditions.reduceOption(_ || _) match {
      case Some(c) => df.filter(coalesce(c, lit(false)))
      case None    => df
    }
    val required = spec.attrs.filter(_.default.isEmpty)
    val skipped = required.foldLeft(conditioned)((d, a) => d.filter(resolve(a.key).isNotNull))
    val keys = win.toSeq ++ spec.attrs.map(a => attrCol(a, resolve))
    if (keys.isEmpty) skipped.agg(sqlCount(lit(1)).as(spec.name))
    else skipped.groupBy(keys: _*).agg(sqlCount(lit(1)).as(spec.name))
  }
}
