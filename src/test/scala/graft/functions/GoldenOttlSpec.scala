package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Differential golden test against the reference's OWN OTTL e2e corpus
  * (`/root/reference/pkg/ottl/e2e/e2e_test.go`): exact statements, exact
  * expected values transcribed from the `want` closures. */
class GoldenOttlSpec extends SparkSpec {
  import spark.implicits._

  private def eval1[T](c: Column): T =
    Seq(Tuple1("x")).toDF("dummy").select(c.as("r")).collect().head.getAs[T]("r")

  test("""FNV("pass") == 266877920130663416 (e2e_test.go:326)""") {
    assert(eval1[Long](Ottl.fnv1a64(lit("pass"))) == 266877920130663416L)
  }

  test("""ExtractPatterns("aa123bb", "(?P<numbers>\d+)") → {numbers: 123} — PARTIAL match (e2e_test.go:319)""") {
    // the product's ExtractPatterns is the parse bank's one-pass
    // extractor, which takes Go `(?P<x>` group syntax and finds the
    // first partial match
    val bank = Seq(graft.model.PipelineConfig.PatternSpec("p", "(?P<numbers>\\d+)", Seq("numbers")))
    val m = Seq(Tuple1("x")).toDF("dummy")
      .select(graft.parse.ParseStage.extract(lit("aa123bb"), bank).getField("fields").as("r"))
      .collect().head.getMap[String, String](0).toMap
    assert(m == Map("numbers" -> "123"))
  }

  test("""Concat(["A","B"], ":") == "A:B" (e2e_test.go:259)""") {
    assert(eval1[String](Ottl.ottlConcat(":", lit("A"), lit("B"))) == "A:B")
  }

  test("ConvertCase family (e2e_test.go:265-283)") {
    assert(eval1[String](Ottl.convertCase(lit("get"), "upper")) == "GET")
    assert(eval1[String](Ottl.convertCase(lit("PASS"), "lower")) == "pass")
    assert(eval1[String](Ottl.convertCase(lit("fooBar"), "snake")) == "foo_bar")
    assert(eval1[String](Ottl.convertCase(lit("foo_bar"), "camel")) == "FooBar")
  }

  test("""Hour(Time("12", "%H")) == 12 (e2e_test.go:332)""") {
    // Time(...) compiles to try_to_timestamp (ExprLang's "Time" converter)
    assert(eval1[Int](Ottl.hourOf(try_to_timestamp(lit("12"), lit("HH")))) == 12)
  }

  test("""Hours(Duration("90m")) == 1.5 (e2e_test.go:338)""") {
    assert(eval1[Double](Ottl.durationSeconds(lit("90m")) / 3600.0) == 1.5)
  }

  test("duration-unit family returns Go time.Duration accessor types (func_hours.go …)") {
    assert(eval1[Double](Ottl.durationHours(lit("90m"))) == 1.5)
    assert(eval1[Double](Ottl.durationSeconds(lit("1h2m3s"))) == 3723.0)
    assert(eval1[Long](Ottl.durationMillis(lit("1.5s"))) == 1500L)
    assert(eval1[Long](Ottl.durationNanos(lit("1.5s"))) == 1500000000L)
    // double-representation hazard: 0.3*1e9 = 2.9999999999999994e8 — a
    // bare bigint cast truncated this to 299999999; Go's exact integer
    // Duration reads 300000000 (round-at-nanos fix)
    assert(eval1[Long](Ottl.durationNanos(lit("0.3s"))) == 300000000L)
    // ...while Go TRUNCATES genuine sub-unit remainders:
    // Duration("0.0015s").Milliseconds() == 1, not 2
    assert(eval1[Long](Ottl.durationMillis(lit("0.0015s"))) == 1L)
    // sub-second units (time.ParseDuration grammar): "100ms" is 0.1 s,
    // NOT 100 minutes — the minutes regex must not grab the 'm' of "ms"
    assert(eval1[Double](Ottl.durationSeconds(lit("100ms"))) == 0.1)
    assert(eval1[Long](Ottl.durationMillis(lit("100ms"))) == 100L)
    assert(eval1[Long](Ottl.durationNanos(lit("300ns"))) == 300L)
    // fractional non-second units parse whole ("1.5m" is 90 s, not 5 min)
    assert(eval1[Double](Ottl.durationSeconds(lit("1.5m"))) == 90.0)
    assert(eval1[Double](Ottl.durationHours(lit("1.5h"))) == 1.5)
    // one leading sign negates the WHOLE duration (Go grammar):
    // ParseDuration("-1.5h") = -5400 s — the unit regexes see only the
    // digits, so the sign previously vanished
    assert(eval1[Double](Ottl.durationSeconds(lit("-1.5h"))) == -5400.0)
    assert(eval1[Long](Ottl.durationMillis(lit("-1.5s"))) == -1500L)
    assert(eval1[Long](Ottl.durationNanos(lit("-0.3s"))) == -300000000L)
  }

  test("UnixNano/Unix round-trip (func_unix_nano.go, func_unix.go)") {
    val ts = lit("1970-01-01 00:00:01.5").cast("timestamp")
    assert(eval1[Long](Ottl.unixNanos(ts)) == 1500000000L)
    assert(eval1[java.sql.Timestamp](Ottl.unixToTime(lit(1L)))
      .getTime == 1000L)
    // Unix(sec, nanos): nanos folded at µs precision
    assert(eval1[java.sql.Timestamp](Ottl.unixToTime(lit(1L), lit(500000000L)))
      .getTime == 1500L)
  }

  private def converter(expr: String): Column =
    graft.expr.ExprLang.value(expr, graft.expr.ExprLang.transcriptResolver(Set.empty))

  test("""Int coercion family: Int(1.0)=1, Int("1")=1 (e2e_test.go:344-350)""") {
    assert(eval1[Long](converter("Int(1.0)")) == 1L)
    assert(eval1[Long](converter("""Int("1")""")) == 1L)
  }

  test("""Double coercions: Double(1)=1.0, Double("1")=1.0 (e2e_test.go:289-307)""") {
    assert(eval1[Double](converter("Double(1)")) == 1.0)
    assert(eval1[Double](converter("""Double("1")""")) == 1.0)
  }

  test("severity default mapping matches severity_builder.go + entry/severity.go exactly") {
    import graft.parse.ParseStage
    val vectors = Seq(
      "trace" -> 1, "trace4" -> 4, "debug" -> 5, "info" -> 9, "info3" -> 11,
      "warn" -> 13, "warning" -> 13, "warning4" -> 16,
      "error" -> 17, "err" -> 17, "err3" -> 19, "fatal" -> 21, "fatal4" -> 24,
      "9" -> 9, "24" -> 24, "ERROR" -> 17, "unknown-text" -> 0)
    vectors.foreach { case (txt, want) =>
      assert(eval1[Int](ParseStage.parseSeverity(lit(txt))) == want, s"severity($txt)")
    }
  }

}
