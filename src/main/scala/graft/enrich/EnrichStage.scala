package graft.enrich

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.model.PipelineConfig.EnrichAction

/** Enrich stage — the attributes/resource-processor lookup re-expressed
  * as a BROADCAST HASH JOIN (SURVEY.md §2.3).
  *
  * Reference semantics (`internal/coreinternal/attraction/attraction.go:
  * 109-129` in `/root/reference`): INSERT (set if absent), UPDATE (set if
  * present), UPSERT (always set). The dimension side is always small
  * (tool/role/route metadata), so we force `broadcast()` — no shuffle of
  * the 10^12-row fact side, the dim hash table ships to every executor.
  */
object EnrichStage {

  /** Left-broadcast-join `dim` onto `df` by `keys`. Columns of `dim`
    * other than the keys are attached per `action`; when the fact side
    * already has a column of the same name, action semantics apply,
    * otherwise the dim value is simply added (null when unmatched).
    */
  def apply(df: DataFrame, dim: DataFrame, keys: Seq[String],
            action: EnrichAction = EnrichAction.Upsert): DataFrame = {
    val dimCols = dim.columns.filterNot(keys.contains)
    val factCols = df.columns.toSet
    // Prefix dim payload cols to avoid collision during the join.
    val prefixed = dimCols.foldLeft(dim) { (d, c) => d.withColumnRenamed(c, s"__dim_$c") }
    // CONTRACT: the dim is semantically a LOOKUP (the reference's
    // attraction processor can never duplicate records) — callers must
    // pass a key-unique dim. The dedup is NOT done here: a
    // dropDuplicates would put an exchange on the build side of every
    // enrich plan (breaking the zero-shuffle tagging plans the gates
    // pin) to defend built-in dims that are statically unique. The one
    // arbitrary-input path (a user dim_path parquet) dedups at load in
    // ConfigLoader.parseEnrich.
    val joined = df.join(broadcast(prefixed), keys, "left")
    dimCols.foldLeft(joined) { (acc, c) =>
      val dimc = col(s"__dim_$c")
      val out = if (!factCols.contains(c)) dimc
      else action match {
        case EnrichAction.Insert => when(col(c).isNull, dimc).otherwise(col(c))
        case EnrichAction.Update => when(col(c).isNotNull && dimc.isNotNull, dimc).otherwise(col(c))
        case EnrichAction.Upsert => when(dimc.isNotNull, dimc).otherwise(col(c))
      }
      acc.withColumn(c, out).drop(s"__dim_$c")
    }
  }

  /** The standard tool-dimension used by the flagship pipeline. Mirrored
    * as a VALUES list in oracle SQL ([[dimToolSqlValues]]). */
  def dimTool(spark: SparkSession): DataFrame = {
    import spark.implicits._
    dimToolRows.toDF("tool", "tool_family", "is_sandboxed", "cost_class")
  }

  val dimToolRows: Seq[(String, String, Boolean, String)] = Seq(
    ("", "none", false, "free"),
    ("bash", "shell", true, "high"),
    ("search", "web", false, "low"),
    ("browser", "web", true, "medium"),
    ("editor", "workspace", true, "low"),
    ("scheduler", "system", false, "low")
  )

  val dimToolSqlValues: String =
    dimToolRows.map { case (t, f, s, c) => s"('$t','$f',$s,'$c')" }
      .mkString(
        "dim_tool(tool, tool_family, is_sandboxed, cost_class) AS (SELECT * FROM (VALUES ",
        ", ",
        "))")
}
