package graft.tools
import org.apache.spark.sql.SparkSession
import graft.synth.TranscriptSynth
object Gen20M {
  def main(args: Array[String]): Unit = {
    val s = SparkSession.builder().master(graft.run.PipelineJob.DefaultMaster)
      .config("spark.sql.shuffle.partitions", 64)
      .config("spark.ui.enabled", "false").getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    TranscriptSynth.generate(s, TranscriptSynth.Config(20000000L, 100000L, hotPct = 5))
      .write.mode("overwrite").parquet("/tmp/graft_bench/turns_20000000")
    s.stop()
  }
}
