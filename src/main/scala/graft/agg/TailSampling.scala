package graft.agg

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Tail-sampling policy engine — the tail sampling processor
  * (`processor/tailsamplingprocessor/processor.go:36-47,129-192`, policies
  * under `internal/sampling/` in `/root/reference`) re-expressed as
  * whole-conversation predicates over gathered per-trace statistics.
  *
  * Batch rendering: gather per-conversation stats once (one shuffle),
  * evaluate the policy tree as a Column, release or drop ENTIRE
  * conversations (semi-join back to the turns). A policy is a Column
  * over the gathered statistics, so `&&` / `||` compose policies like
  * the reference's and/composite policy nodes.
  */
object TailSampling {

  /** Per-conversation gathered statistics the policies read. */
  def convStats(parsedTurns: DataFrame): DataFrame =
    parsedTurns.groupBy("conv_id").agg(
      count(lit(1)).as("n_turns"),
      max(when(col("parsed").getItem("level") === "ERROR", 1).otherwise(0)).as("has_error"),
      max(when(col("tool") =!= "", 1).otherwise(0)).as("has_tool_call"),
      (unix_micros(max(col("ts")).cast("timestamp"))
        - unix_micros(min(col("ts")).cast("timestamp"))).as("span_micros"))

  // ---- policies (internal/sampling/*.go) ----

  /** status-code/attribute policy: conversation contains an error turn. */
  val errorPolicy: Column = col("has_error") === 1

  /** Apply: keep every turn of every conversation the policy admits
    * (whole-trace release, `processor.go:192` onTick decision). */
  def sample(parsedTurns: DataFrame, policy: Column): DataFrame = {
    val kept = convStats(parsedTurns).filter(policy).select("conv_id")
    parsedTurns.join(kept, Seq("conv_id"), "left_semi")
  }
}
