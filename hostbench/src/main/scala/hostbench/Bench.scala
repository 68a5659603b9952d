package hostbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

/** `--key value` arguments of one benchmark JVM. */
final case class Args(values: Map[String, String]) {
  def apply(k: String): String =
    values.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
  def int(k: String): Int = apply(k).toInt
  def double(k: String): Double = apply(k).toDouble
  def flag(k: String): Boolean = values.get(k).contains("1")
}

object Args {
  def parse(a: Seq[String]): Args = Args(a.grouped(2).map {
    case Seq(k, v) if k.startsWith("--") => k.drop(2) -> v
    case other => throw new IllegalArgumentException(s"bad argument ${other.mkString(" ")}")
  }.toMap)
}

/** Shared measurement plumbing for the workloads. */
object Bench {

  /** A local session sized like the program's own runners (graft.Bench,
    * QueryTime, ScalingProbe): shuffles sized to the core count, and for
    * batch work scans split at 8 MB. `StreamingJob.main` leaves the scan
    * split at Spark's default, so streaming sessions pass `batch = false`. */
  def session(cores: Int, work: String, app: String, batch: Boolean = true): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(app)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.adaptive.enabled", "true")
    val s = (if (batch) b.config("spark.sql.files.maxPartitionBytes", "8m") else b)
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def elapsed(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def time(body: => Unit): Double = {
    val t0 = System.nanoTime()
    body
    elapsed(t0)
  }

  /** CPU time of this process (all threads), in seconds. */
  def cpuSeconds(): Double =
    ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
      .getProcessCpuTime / 1e9

  /** Peak resident set of this process (VmHWM), in MB. */
  def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0)
      .getOrElse(0.0)

  def loadavg1m(): Double =
    new String(Files.readAllBytes(Paths.get("/proc/loadavg"))).trim.split("\\s+")(0).toDouble

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  def deleteRecursively(path: String): Unit = {
    val p = Paths.get(path)
    if (Files.exists(p)) {
      val all = Files.walk(p).iterator().asScala.toSeq.reverse
      all.foreach(Files.delete)
    }
  }

  /** Set-up, measured `k` times: each round stops the previous session,
    * starts a new one, runs `compile` (config compile) and then `warm`
    * (a warm-up pass). Returns the last session with the round times and
    * the compile times. */
  def repeatedSetup(k: Int, cores: Int, work: String, app: String, batch: Boolean = true)(
      compile: () => Unit)(warm: SparkSession => Unit)
      : (SparkSession, Seq[Double], Seq[Double]) = {
    var spark: SparkSession = null
    val rounds = (1 to k).map { _ =>
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      spark = session(cores, work, app, batch)
      val compileS = time(compile())
      warm(spark)
      (elapsed(t0), compileS)
    }
    (spark, rounds.map(_._1), rounds.map(_._2))
  }

  /** Repeat `body` until `seconds` have passed and at least `minReps`
    * ran. Returns the wall time of each repetition and the CPU seconds
    * the process spent over all of them. */
  def loop(seconds: Double, minReps: Int)(body: Int => Unit): (Seq[Double], Double) = {
    val cpu0 = cpuSeconds()
    val t0 = System.nanoTime()
    val reps = scala.collection.mutable.ArrayBuffer[Double]()
    while (reps.size < minReps || elapsed(t0) < seconds) {
      val i = reps.size
      reps += time(body(i))
    }
    (reps.toSeq, cpuSeconds() - cpu0)
  }

  def hostInfo(cores: Int): Map[String, Any] = Map(
    "peak_rss_mb" -> peakRssMb(),
    "nproc" -> Runtime.getRuntime.availableProcessors(),
    "spark_cores" -> cores,
    "loadavg_1m" -> loadavg1m(),
    "max_heap_mb" -> Runtime.getRuntime.maxMemory() / (1024.0 * 1024.0))
}
