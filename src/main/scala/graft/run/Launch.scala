package graft.run

import org.apache.spark.sql.SparkSession

/** Launch decisions shared by every session the program builds: the
  * master a launch runs on, the heap check of a local master, and the
  * one session builder ([[session]]) of [[PipelineJob]],
  * [[StreamingJob]] and the `graft.tools` mains. */
object Launch {

  /** The local master of a bare launch: every core of this host. */
  private[graft] val DefaultMaster = "local[*]"

  private val ShufflePartitions = "spark.sql.shuffle.partitions"

  /** Spark's local master forms with a thread count: `local[n]`,
    * `local[*]`, and either with a max-failures count, `local[n,f]`. */
  private val LocalMaster = """local\[(\d+|\*)(?:\s*,\s*\d+)?\]""".r

  /** The master a launch runs on: spark-submit's `spark.master`, else
    * `SPARK_GRAFT_MASTER`, else [[DefaultMaster]]. */
  private[run] def launchMaster(
      props: collection.Map[String, String] = sys.props,
      env: collection.Map[String, String] = sys.env): String =
    props.getOrElse("spark.master", env.getOrElse("SPARK_GRAFT_MASTER", DefaultMaster))

  /** Executor threads of a local master (`local` is one thread); None
    * for any other master (a cluster sizes its own executors). */
  private[run] def localThreads(master: String): Option[Int] = master match {
    case "local"          => Some(1)
    case LocalMaster("*") => Some(Runtime.getRuntime.availableProcessors())
    case LocalMaster(n)   => Some(n.toInt)
    case _                => None
  }

  /** The `spark.sql.shuffle.partitions` a session gets: a setting the
    * launch already carries, as given (spark-submit's `--conf` and `-D`
    * arrive as `spark.*` system properties), else one partition per
    * thread of a local master. None on any other master keeps Spark's
    * default: a cluster's executors register only after the session
    * starts, so its `defaultParallelism` cannot size them here. A
    * stateful streaming query keeps the count its checkpoint was
    * started with. */
  private[run] def shufflePartitions(
      master: String,
      props: collection.Map[String, String] = sys.props): Option[String] =
    props.get(ShufflePartitions).orElse(localThreads(master).map(_.toString))

  /** The one session builder: `master`, `app`, UTC, the partition count
    * of [[shufflePartitions]], then the caller's `conf`. */
  private[graft] def session(app: String, master: String,
                             conf: Map[String, String]): SparkSession = {
    val shaped = SparkSession.builder()
      .master(master)
      .appName(app)
      .config("spark.sql.session.timeZone", "UTC")
    val sized = shufflePartitions(master).fold(shaped)(shaped.config(ShufflePartitions, _))
    conf.foldLeft(sized) { case (b, (k, v)) => b.config(k, v) }.getOrCreate()
  }

  /** FAIL FAST on an implausible heap BEFORE building the session:
    * in local mode the driver JVM hosts every executor thread, and
    * spark-submit's default 1g driver heap at local[32] dies with an
    * executor OOM deep in the fan-out write stage, ~20 min into a
    * large input. Rule of thumb: parse → enrich → partitioned fan-out
    * needs ≥ ~256 MB/core of heap; below that, exit NOW with the launch
    * fix instead of OOMing later.
    * Shared by [[PipelineJob]] and [[StreamingJob]]. */
  private[run] def failFastLocalHeap(jobName: String): Unit = {
    val masterStr = launchMaster()
    localThreads(masterStr).foreach { threads =>
      val maxHeap = Runtime.getRuntime.maxMemory()
      val needed = threads.toLong * 256L * 1024 * 1024
      if (maxHeap < needed) {
        System.err.println(
      s"""$jobName: JVM max heap ${maxHeap >> 20} MB is too small for
         |$masterStr ($threads executor threads share this one local-mode
         |JVM; the routed fan-out write needs ~256 MB/core, i.e. >=
         |${needed >> 20} MB here). This launch would OOM mid-run.
         |Fix:  spark-submit --driver-memory 16g --master local[$threads] \\
         |        --class graft.run.$jobName <jar> <in> <out>
         |or reduce parallelism to local[${math.max(1, maxHeap / (256L * 1024 * 1024)).toInt}] for this heap.""".stripMargin)
        sys.exit(2)
      }
    }
  }
}
