package graft.synth

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.sources.Transcripts

class TranscriptSynthSpec extends SparkSpec {

  test("generation is deterministic and parallelism-independent") {
    val cfg = TranscriptSynth.Config(nTurns = 1000, nConvs = 7)
    val a = TranscriptSynth.generate(spark, cfg)
      .orderBy("conv_id", "turn_idx").collect()
    val b = TranscriptSynth.generate(spark, cfg)
      .repartition(13) // different physical layout
      .orderBy("conv_id", "turn_idx").collect()
    assert(a.toSeq == b.toSeq)
  }

  test("schema matches the input_hint Turn shape") {
    val df = TranscriptSynth.generate(spark, TranscriptSynth.Config(10, 2))
    assert(df.schema.fields.map(f => (f.name, f.dataType)).toSeq ==
      Transcripts.transcriptSchema.fields.map(f => (f.name, f.dataType)).toSeq)
  }

  test("turn_idx is dense and unique per conversation") {
    val df = TranscriptSynth.generate(spark, TranscriptSynth.Config(500, 5)).cache()
    val bad = df.groupBy("conv_id")
      .agg(count(lit(1)).as("n"), max("turn_idx").as("mx"),
        countDistinct("turn_idx").as("d"))
      .filter(col("n") =!= col("d") || col("mx") =!= col("n") - 1)
      .count()
    assert(bad == 0)
  }

  test("text grammar hits all three patterns plus noise") {
    val df = graft.parse.ParseStage(
      TranscriptSynth.generate(spark, TranscriptSynth.Config(2000, 10)),
      graft.run.Pipeline.parseConfig)
    val pats = df.groupBy("pattern").count().collect()
      .map(r => Option(r.getString(0)).getOrElse("null") -> r.getLong(1)).toMap
    assert(pats.keySet == Set("tool_call", "status", "kv", "null"))
  }

  test("degenerate configs fail fast instead of emitting null conv_ids") {
    // pmod(_, 0) is null — nConvs=0 would silently null a column the
    // Turn schema declares non-nullable
    intercept[IllegalArgumentException] {
      TranscriptSynth.generate(spark, TranscriptSynth.Config(1000, 0))
    }
    intercept[IllegalArgumentException] {
      TranscriptSynth.generate(spark, TranscriptSynth.Config(1000, 10, hotPct = 101))
    }
  }
}
