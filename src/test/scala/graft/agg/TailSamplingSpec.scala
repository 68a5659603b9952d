package graft.agg

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.parse.ParseStage
import graft.run.Pipeline
import graft.synth.TranscriptSynth

class TailSamplingSpec extends SparkSpec {
  import spark.implicits._

  private lazy val parsed = ParseStage(
    TranscriptSynth.generate(spark, TranscriptSynth.Config(3000, 30)),
    Pipeline.parseConfig).cache()

  test("whole-trace release: kept conversations keep ALL their turns") {
    val kept = TailSampling.sample(parsed, TailSampling.errorPolicy)
    val keptConvTurnCounts = kept.groupBy("conv_id").count()
    val allConvTurnCounts = parsed.groupBy("conv_id").count()
    val joined = keptConvTurnCounts.as("k")
      .join(allConvTurnCounts.as("a"), "conv_id")
      .filter(col("k.count") =!= col("a.count")).count()
    assert(joined == 0, "a kept conversation lost turns")
  }

  test("error policy keeps exactly conversations containing an ERROR turn") {
    val expect = parsed.filter(col("parsed").getItem("level") === "ERROR")
      .select("conv_id").distinct().count()
    val got = TailSampling.sample(parsed, TailSampling.errorPolicy)
      .select("conv_id").distinct().count()
    assert(got == expect)
  }

}
