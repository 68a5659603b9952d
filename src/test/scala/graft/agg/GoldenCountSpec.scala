package graft.agg

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.model.PipelineConfig._

/** Differential golden test against the reference's OWN count-connector
  * fixtures (`/root/reference/connector/countconnector/testdata/logs/`):
  * the exact 4-resources × 4-records input of `input.yaml`, the exact 8
  * configs of `connector_test.go:537-700` (TestLogsToMetrics), and the
  * exact expected datapoints transcribed from the golden YAMLs
  * (`zero_conditions.yaml` … `condition_and_attribute.yaml`).
  *
  * The per-Resource metric envelope maps to including the resource
  * columns in the group-by; conditions are OR-ed (`parser.go:332-362`);
  * attrs without defaults are required (skip), with defaults substitute
  * (`counter.go:38-106`, `config.go:17-31`).
  */
class GoldenCountSpec extends SparkSpec {
  import spark.implicits._

  /** input.yaml: resources (rr, ro) × records (lr, lo). */
  private lazy val input: DataFrame = {
    val resources = Seq(
      (Some("foo"), Some("bar")),
      (Some("foo"), Some("notbar")),
      (Some("notfoo"), None),
      (None, None))
    val records = Seq(
      (Some("foo"), Some("bar")),
      (Some("foo"), Some("notbar")),
      (Some("notfoo"), None),
      (None, None))
    (for ((rr, ro) <- resources; (lr, lo) <- records)
      yield (rr.orNull, ro.orNull, lr.orNull, lo.orNull, "This is a log message"))
      .toDF("resource_required", "resource_optional", "log_required", "log_optional", "body")
      .cache()
  }

  private val resourceKeys = Seq(AttrSpec("resource_required", Some("__null")),
    AttrSpec("resource_optional", Some("__null")))

  private def run(spec: MetricSpec): Set[(String, String, String, String, Long)] =
    CountStage.count(input, spec.copy(attrs = resourceKeys ++ spec.attrs))
      .collect().map { r =>
        def g(i: Int) = if (r.isNullAt(i)) null else r.getString(i)
        val n = r.getLong(r.length - 1)
        (g(0), g(1),
         if (r.length > 3) g(2) else "-",
         if (r.length > 4) g(3) else "-",
         n)
      }.map { case (a, b, c, d, n) =>
        (if (a == "__null") null else a, if (b == "__null") null else b, c, d, n)
      }.toSet

  private val R = Seq(("foo", "bar"), ("foo", "notbar"), ("notfoo", null), (null, null))

  test("zero_conditions: every resource counts 4 (zero_conditions.yaml)") {
    val got = run(MetricSpec("log.record.count"))
    val want = R.map { case (rr, ro) => (rr, ro, "-", "-", 4L) }.toSet
    assert(got == want)
  }

  test("one_condition: only resources with resource.optional (one_condition.yaml)") {
    val got = run(MetricSpec("count.if", conditions = Seq(col("resource_optional").isNotNull)))
    val want = Set(("foo", "bar", "-", "-", 4L), ("foo", "notbar", "-", "-", 4L))
    assert(got == want)
  }

  test("multiple_conditions are OR-ed (multiple_conditions.yaml)") {
    val got = run(MetricSpec("count.if", conditions =
      Seq(col("resource_optional").isNotNull, col("log_optional").isNotNull)))
    val want = Set(
      ("foo", "bar", "-", "-", 4L), ("foo", "notbar", "-", "-", 4L),
      ("notfoo", null, "-", "-", 2L), (null, null, "-", "-", 2L))
    assert(got == want)
  }

  test("multiple_metrics: count.all and count.if emitted independently (multiple_metrics.yaml)") {
    val all = run(MetricSpec("count.all"))
    val cond = run(MetricSpec("count.if", conditions = Seq(col("resource_optional").isNotNull)))
    assert(all == R.map { case (rr, ro) => (rr, ro, "-", "-", 4L) }.toSet)
    assert(cond == Set(("foo", "bar", "-", "-", 4L), ("foo", "notbar", "-", "-", 4L)))
  }

  test("one_attribute: required attr skips records missing it (one_attribute.yaml)") {
    val got = run(MetricSpec("log.count.by_attr", attrs = Seq(AttrSpec("log_required"))))
    val want = R.flatMap { case (rr, ro) =>
      Seq((rr, ro, "foo", "-", 2L), (rr, ro, "notfoo", "-", 1L))
    }.toSet
    assert(got == want)
  }

  test("multiple_attributes: both required (multiple_attributes.yaml)") {
    val got = run(MetricSpec("log.count.by_attr",
      attrs = Seq(AttrSpec("log_required"), AttrSpec("log_optional"))))
    val want = R.flatMap { case (rr, ro) =>
      Seq((rr, ro, "foo", "bar", 1L), (rr, ro, "foo", "notbar", 1L))
    }.toSet
    assert(got == want)
  }

  test("default_attribute_value substitutes for missing (default_attribute_value.yaml)") {
    val got = run(MetricSpec("log.count.by_attr",
      attrs = Seq(AttrSpec("log_required"), AttrSpec("log_optional", Some("other")))))
    val want = R.flatMap { case (rr, ro) =>
      Seq((rr, ro, "foo", "bar", 1L), (rr, ro, "foo", "notbar", 1L),
          (rr, ro, "notfoo", "other", 1L))
    }.toSet
    assert(got == want)
  }

  test("condition_and_attribute combine (condition_and_attribute.yaml)") {
    val got = run(MetricSpec("log.count.if.by_attr",
      conditions = Seq(col("resource_optional").isNotNull),
      attrs = Seq(AttrSpec("log_required"))))
    val want = Set(
      ("foo", "bar", "foo", "-", 2L), ("foo", "bar", "notfoo", "-", 1L),
      ("foo", "notbar", "foo", "-", 2L), ("foo", "notbar", "notfoo", "-", 1L))
    assert(got == want)
  }

  test("flagship metric table: string-compiled ≡ hand-written (differential)") {
    import graft.config.ConfigLoader
    import graft.run.{FlagshipByHand, Pipeline}
    import graft.synth.TranscriptSynth
    val enriched = Pipeline.parseEnrich(spark,
      TranscriptSynth.generate(spark, TranscriptSynth.Config(3000, 20))).cache()
    val byHand = FlagshipByHand.metricsByHand
    val fromStrings = Pipeline.metricsFromStrings
    assert(fromStrings.map(_.name) == byHand.map(_.name))
    fromStrings.zip(byHand).foreach { case (a, b) =>
      val fa = CountStage.count(enriched, a, ConfigLoader.resolveAttr(Pipeline.parsedFields))
        .collect().map(_.toString).sorted.toSeq
      val fb = CountStage.count(enriched, b, ConfigLoader.resolveAttr(FlagshipByHand.parsedFields))
        .collect().map(_.toString).sorted.toSeq
      assert(fa.nonEmpty && fa == fb, s"metric ${a.name}: string path differs from hand path")
    }
    enriched.unpersist()
  }
}
