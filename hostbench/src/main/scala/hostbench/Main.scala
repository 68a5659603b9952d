package hostbench

/** Entry point of the benchmark JVM: `<mode> --key value ...`, where the
  * mode is one of the workloads or the pinned compute-path child. Each
  * mode writes its raw measurements as JSON to `--out`; `run.py` turns
  * them into the benchmark's metrics and checks the outputs. */
object Main {
  def main(argv: Array[String]): Unit = {
    val a = Args.parse(argv.toSeq.drop(1))
    argv.headOption match {
      case Some("batch_fanout") => Fanout.run(a)
      case Some("compute") => Fanout.compute(a)
      case Some("query_mix") => QueryMix.run(a)
      case Some("stream_tail") => StreamTail.run(a)
      case other => throw new IllegalArgumentException(s"unknown mode $other")
    }
  }
}
