package graft.agg

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The metricstransform operation set
  * (`processor/metricstransformprocessor/config.go:59-124` in
  * `/root/reference`), rendered over a metric frame = label columns +
  * a numeric value column. Every operation is a plain projection or
  * aggregation — no per-point loops, codegen end-to-end.
  */
object MetricsTransform {

  /** scale_value (`operation_scale_value.go:12-38`): multiply the value.
    * Integer points go through double and truncate back like Go's
    * `int64(float64(v) * scale)`. */
  def scaleValue(df: DataFrame, valueCol: String, scale: Double): DataFrame = {
    val v = col(valueCol)
    val scaled = df.schema(valueCol).dataType match {
      case org.apache.spark.sql.types.LongType |
           org.apache.spark.sql.types.IntegerType =>
        (v.cast("double") * scale).cast("bigint")
      case _ => v * scale
    }
    df.withColumn(valueCol, scaled)
  }

  /** add_label (`operation_add_label.go`): new constant label on every
    * data point. */
  def addLabel(df: DataFrame, name: String, value: String): DataFrame =
    df.withColumn(name, lit(value))

  /** update_label (`operation_update_label.go`): rename the label and/or
    * rewrite specific values (value_actions). */
  def updateLabel(df: DataFrame, label: String, newLabel: Option[String] = None,
                  valueActions: Seq[(String, String)] = Nil): DataFrame = {
    // single-lookup rename semantics (operation_update_label.go) —
    // see Ottl.simultaneousRemap for why the fold must compare against
    // the original value
    val withValues =
      if (valueActions.isEmpty) df
      else df.withColumn(label,
        graft.functions.Ottl.simultaneousRemap(col(label), valueActions))
    newLabel.fold(withValues)(n => withValues.withColumnRenamed(label, n))
  }

  /** delete_label_value (`operation_delete_label_value.go`): drop every
    * data point carrying this label value. */
  def deleteLabelValue(df: DataFrame, label: String, value: String): DataFrame =
    df.filter(!(col(label) <=> value))

  private def aggExpr(how: String, v: Column): Column = how match {
    case "sum"  => sum(v)
    case "mean" => avg(v)
    case "min"  => min(v)
    case "max"  => max(v)
    case "count" => count(v)
    case "median" => median(v)
    case other  => throw new IllegalArgumentException(s"unknown aggregation: $other")
  }

  /** aggregate_label_values (`operation_aggregate_label_values.go`):
    * merge the listed values of `label` into `newValue`, then aggregate
    * the collapsed label sets. All label columns (with `label` rewritten)
    * form the group key — exactly the reference's "aggregate points whose
    * label sets became identical". */
  def aggregateLabelValues(df: DataFrame, label: String, values: Seq[String],
                           newValue: String, labelCols: Seq[String],
                           valueCol: String, how: String): DataFrame = {
    val merged = df.withColumn(label,
      when(col(label).isin(values: _*), lit(newValue)).otherwise(col(label)))
    merged.groupBy(labelCols.map(col): _*)
      .agg(aggExpr(how, col(valueCol)).as(valueCol))
  }
}
