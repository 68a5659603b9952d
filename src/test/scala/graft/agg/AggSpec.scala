package graft.agg

import java.sql.Timestamp

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.model.PipelineConfig._

class AggSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  private lazy val logs = Seq(
    ("a", "ERROR", "c1", ts("2024-01-01 00:10:00"), 10L),
    ("a", "ERROR", null, ts("2024-01-01 00:20:00"), 20L),
    ("b", "INFO", "c1", ts("2024-01-01 00:30:00"), 30L),
    ("b", "ERROR", "c2", ts("2024-01-01 01:10:00"), 40L),
    ("a", "WARN", "c2", ts("2024-01-01 01:20:00"), 50L)
  ).toDF("svc", "level", "component", "ts", "v")

  test("count: conditions filter, attrs group (counter.go:38-106)") {
    val out = CountStage.count(logs,
      MetricSpec("n", conditions = Seq(col("level") === "ERROR"), attrs = Seq(AttrSpec("svc"))))
      .as[(String, Long)].collect().toMap
    assert(out == Map("a" -> 2, "b" -> 1))
  }

  test("count: required attr skips rows missing it (counter.go:71-73)") {
    val out = CountStage.count(logs,
      MetricSpec("n", attrs = Seq(AttrSpec("component"))))
      .as[(String, Long)].collect().toMap
    assert(out == Map("c1" -> 2, "c2" -> 2)) // null-component row skipped
  }

  test("count: attr default substitutes for missing (config.go defaults)") {
    val out = CountStage.count(logs,
      MetricSpec("n", attrs = Seq(AttrSpec("component", Some("unknown")))))
      .as[(String, Long)].collect().toMap
    assert(out == Map("c1" -> 2, "c2" -> 2, "unknown" -> 1))
  }

  test("count: no attrs = global count") {
    assert(CountStage.count(logs, MetricSpec("n")).as[Long].head() == 5)
  }

  test("windowed count: event-time tumbling windows (delta temporality)") {
    val out = CountStage.countWindowed(logs, MetricSpec("n"), col("ts"), "1 hour")
      .select("window_start", "n").as[(Timestamp, Long)].collect().toMap
    assert(out == Map(ts("2024-01-01 00:00:00") -> 3, ts("2024-01-01 01:00:00") -> 2))
  }

  test("stateful: delta→cumulative per stream identity") {
    val out = Stateful.deltaToCumulative(logs, Seq("svc"), "ts", "v")
      .select("svc", "v", "cumulative").as[(String, Long, Long)].collect().toSet
    assert(out == Set(("a", 10L, 10L), ("a", 20L, 30L), ("a", 50L, 80L),
      ("b", 30L, 30L), ("b", 40L, 70L)))
  }

  test("stateful: cumulative→delta is the inverse (first point null)") {
    val cum = Stateful.deltaToCumulative(logs, Seq("svc"), "ts", "v")
      .withColumnRenamed("cumulative", "c")
    val back = Stateful.cumulativeToDelta(cum, Seq("svc"), "ts", "c")
      .filter(col("delta").isNotNull)
      .select("v", "delta").as[(Long, Long)].collect()
    assert(back.forall { case (v, d) => v == d })
  }

  /** p19 (the interval processor's rendering: last value per user and
    * hour, a `row_number` window) over `rows` written as an events
    * table; `cents` is `round(value * 100)`. */
  private def p19(rows: Seq[(String, String, Timestamp, Long)]): Seq[(String, Long)] = {
    val dir = java.nio.file.Files.createTempDirectory("graft_p19").toString
    rows.map { case (id, user, t, cents) => (id, user, t, cents / 100.0) }
      .toDF("event_id", "user_id", "ts", "value")
      .write.parquet(s"$dir/events.parquet")
    graft.SparkEntry.queries("p19_interval_last")(spark, dir)
      .select("user_id", "last_cents").as[(String, Long)].collect().toSeq
  }

  test("stateful: interval last-value per window") {
    val out = p19(logs.select(monotonically_increasing_id().cast("string"),
      col("svc"), col("ts"), col("v")).as[(String, String, Timestamp, Long)].collect().toSeq)
    assert(out.toSet == Set(("a", 20L), ("a", 50L), ("b", 30L), ("b", 40L)))
  }

  test("aggregate labels: sum/mean/min/max (metricstransform config.go:224-233)") {
    assert(Stateful.aggregateLabels(logs, Seq("svc"), "v", "sum")
      .as[(String, Long)].collect().toMap == Map("a" -> 80, "b" -> 70))
    assert(Stateful.aggregateLabels(logs, Seq("svc"), "v", "max")
      .as[(String, Long)].collect().toMap == Map("a" -> 50, "b" -> 40))
  }

  test("stateful: delta→rate yields null (not a crash) on duplicate timestamps") {
    // two points share a ts — unguarded, value/0.0 throws ANSI
    // DIVIDE_BY_ZERO and one collision kills the whole query
    val dup = Seq(
      ("a", ts("2024-01-01 00:00:00"), 10L, "x"),
      ("a", ts("2024-01-01 00:00:00"), 20L, "y"),
      ("a", ts("2024-01-01 00:00:10"), 30L, "z")
    ).toDF("svc", "ts", "v", "tb")
    val rates = Stateful.deltaToRate(dup, Seq("svc"), "ts", "v", tieBreak = Seq("tb"))
      .select("tb", "rate").as[(String, Option[Double])].collect().toMap
    assert(rates("x").isEmpty)          // first point: no previous
    assert(rates("y").isEmpty)          // dt=0: null, not DIVIDE_BY_ZERO
    assert(rates("z").contains(3.0))    // 30 / 10s
  }

  test("stateful: interval last-value breaks timestamp ties deterministically") {
    val out = p19(Seq(
      ("m", "a", ts("2024-01-01 00:10:00"), 1L),
      ("z", "a", ts("2024-01-01 00:10:00"), 2L), // max tie-break → kept
      ("k", "a", ts("2024-01-01 00:10:00"), 3L)))
    assert(out == Seq(("a", 2L))) // (ts, event_id) descending: "z" wins, every run
  }
}
