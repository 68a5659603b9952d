package graft.tools

import org.apache.spark.sql.functions._

import graft.route.RouteStage
import graft.run.{Launch, Pipeline}

/** Child-JVM scaling probe, launched by [[graft.Bench]] under
  * `taskset -c 0..N-1`: with the WHOLE JVM (worker, GC and compiler
  * threads) pinned to N CPUs, local[N] faithfully simulates an
  * N-core cluster node — unpinned, the small config borrows extra host
  * CPUs for GC/JIT and the efficiency ratio reads ~15% too low.
  *
  * Runs one warmup on a slice, then up to `maxReps` timed full passes
  * of the pipeline compute path within `repBudgetSec` wall seconds —
  * intra-JVM reps cost no JVM/session startup, and on this shared host
  * the MIN over reps is the consistent estimator under strictly-additive
  * ambient load (each rep samples a different noise micro-window).
  * Prints every rep (`PROBE_REP r`) and the min (`PROBE_SEC s`).
  *
  * The probe input must be LARGE (≥ a few million turns): measured on
  * this host, the fixed per-job cost is ~1-4 s, so at 500k-2M turns it
  * is 20-60% of an 8-core pass and the N→4N ratio collapses to
  * 0.33-0.59 from overhead alone, regardless of engine quality.
  */
object ScalingProbe {
  def main(args: Array[String]): Unit = {
    val Array(coresS, turnsPath) = args.take(2)
    val cores = coresS.toInt
    val repBudgetSec = if (args.length > 2) args(2).toDouble else 40.0
    val maxReps = if (args.length > 3) args(3).toInt else 4
    val spark = Launch.session(s"graft-probe-$cores", s"local[$cores]", Tools.benchConf)

    def run(df: org.apache.spark.sql.DataFrame): Unit = {
      val enriched = Pipeline.parseEnrich(spark, df)
      RouteStage.tagsExploded(enriched, Pipeline.routeTable)
        .groupBy(col("route"), window(col("ts"), "1 hour"), col("role"))
        .agg(count(lit(1)).as("count"))
        .write.format("noop").mode("overwrite").save()
    }
    println(s"PROBE_START cores=$cores path=$turnsPath")
    run(spark.read.parquet(turnsPath).limit(100000)) // JIT/codegen warmup
    println("PROBE_WARM done")
    // TIMED REPS FIRST, calibration LAST: the fixed-cost sample is a
    // correction term, not the product — on the round-3 sf0.1 run a
    // polluted window stretched the pre-rep 100k calibration pass to
    // 39.6 s (quiet: 1-4 s) and the probe was wall-capped before its
    // first real rep ever printed. Reps print incrementally so a capped
    // child still leaves salvageable PROBE_REP lines.
    val t0 = System.nanoTime()
    val reps = scala.collection.mutable.ListBuffer[Double]()
    while (reps.isEmpty ||
        (reps.size < maxReps && (System.nanoTime() - t0) / 1e9 < repBudgetSec)) {
      val r0 = System.nanoTime()
      run(spark.read.parquet(turnsPath))
      val sec = (System.nanoTime() - r0) / 1e9
      reps += sec
      println(s"PROBE_REP $sec")
    }
    println(s"PROBE_SEC ${reps.min}")
    // fixed-cost sample: a 100k pass is dominated by per-job overhead
    // (stage scheduling, codegen, footer reads — measured 1-4 s on this
    // host); Bench subtracts the mins to compute the overhead-corrected
    // marginal efficiency alongside the raw ratio
    locally {
      val f0 = System.nanoTime()
      run(spark.read.parquet(turnsPath).limit(100000))
      println(s"PROBE_FIXED ${(System.nanoTime() - f0) / 1e9}")
    }
    spark.stop()
  }
}
