package graft.agg

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Stateful metric processors re-expressed as window functions over a
  * stream identity (SURVEY.md §2.5). In the reference each keeps a
  * per-stream hash map on the heap; relationally they are all
  * `Window.partitionBy(id).orderBy(ts)` — which scales because state
  * never leaves the executor that owns the (hash-partitioned) identity.
  */
object Stateful {

  // Order by ts plus explicit tie-breakers — deterministic state order even
  // when event timestamps collide (the reference relies on arrival order,
  // which a distributed engine must not).
  private def w(idCols: Seq[String], tsCol: String, tieBreak: Seq[String]) =
    Window.partitionBy(idCols.map(col): _*).orderBy((tsCol +: tieBreak).map(col): _*)

  /** deltatocumulative (`processor/deltatocumulativeprocessor/processor.
    * go:30-138` in `/root/reference`): running sum per stream identity. */
  def deltaToCumulative(df: DataFrame, idCols: Seq[String], tsCol: String,
                        valueCol: String, tieBreak: Seq[String] = Nil): DataFrame =
    df.withColumn("cumulative",
      sum(col(valueCol)).over(
        w(idCols, tsCol, tieBreak).rowsBetween(Window.unboundedPreceding, Window.currentRow)))

  /** cumulativetodelta (`processor/cumulativetodeltaprocessor/processor.
    * go:42-162`): pairwise difference vs previous point. First point per
    * stream has no delta (null), matching the reference's drop-first. */
  def cumulativeToDelta(df: DataFrame, idCols: Seq[String], tsCol: String,
                        valueCol: String, tieBreak: Seq[String] = Nil): DataFrame =
    df.withColumn("delta",
      col(valueCol) - lag(col(valueCol), 1).over(w(idCols, tsCol, tieBreak)))

  /** deltatorate (`processor/deltatorateprocessor/processor.go`):
    * delta / seconds-since-previous-point. */
  def deltaToRate(df: DataFrame, idCols: Seq[String], tsCol: String,
                  valueCol: String, tieBreak: Seq[String] = Nil): DataFrame = {
    val win = w(idCols, tsCol, tieBreak)
    // cast covers TIMESTAMP_NTZ inputs (identity under the UTC session tz)
    val tsc = col(tsCol).cast("timestamp")
    val dt = unix_micros(tsc) - unix_micros(lag(tsc, 1).over(win))
    // dt=0 (two points sharing a timestamp — the collision the tieBreak
    // param exists for) → null rate, like the first point: unguarded,
    // ANSI's Divide throws DIVIDE_BY_ZERO and one duplicate pair kills
    // the whole query
    df.withColumn("rate",
      when(dt === 0L, lit(null))
        .otherwise(col(valueCol) / (dt.cast("double") / 1e6)))
  }

  /** metricstransform aggregate-across-label-sets
    * (`processor/metricstransformprocessor/config.go:224-233`):
    * sum/mean/min/max over kept labels. */
  def aggregateLabels(df: DataFrame, keepLabels: Seq[String], valueCol: String,
                      how: String): DataFrame = {
    val v = col(valueCol)
    val agg: Column = how match {
      case "sum"  => sum(v)
      case "mean" => avg(v)
      case "min"  => min(v)
      case "max"  => max(v)
      case other  => throw new IllegalArgumentException(s"unknown aggregation: $other")
    }
    df.groupBy(keepLabels.map(col): _*).agg(agg.as(s"${how}_value"))
  }
}
