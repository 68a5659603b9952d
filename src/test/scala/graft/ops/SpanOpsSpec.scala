package graft.ops

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Span processor semantics vs `processor/spanprocessor/span_test.go`
  * (`/root/reference`): from_attributes join + missing-key early return,
  * to_attributes `{group}` substitution, rule chaining, break_after_match. */
class SpanOpsSpec extends SparkSpec {
  import spark.implicits._

  private def one(c: org.apache.spark.sql.Column): org.apache.spark.sql.Row =
    Seq(Tuple1("x")).toDF("dummy").select(c.as("r")).head()

  test("to_attributes: single rule rewrites the matched group to {name} (span_test.go TestSpanProcessor_ToAttributes)") {
    // reference case: ^\/api\/v1\/document\/(?P<documentId>.*)\/update$
    val r = one(SpanOps.toAttributes(lit("/api/v1/document/12345678/update"),
      Seq("^\\/api\\/v1\\/document\\/(?P<documentId>.*)\\/update$")))
    assert(r.getStruct(0).getString(0) == "/api/v1/document/{documentId}/update")
    assert(r.getStruct(0).getMap[String, String](1)("documentId") == "12345678")
  }

  test("to_attributes: unanchored first match, remainder preserved") {
    val r = one(SpanOps.toAttributes(lit("GET /user/9283/detail?x=1"),
      Seq("/user/(?<userId>\\d+)/")))
    assert(r.getStruct(0).getString(0) == "GET /user/{userId}/detail?x=1")
    assert(r.getStruct(0).getMap[String, String](1)("userId") == "9283")
  }

  test("to_attributes: rules chain on the rewritten name; break_after_match stops") {
    val rules = Seq("(?<a>alpha)", "(?<b>beta)")
    val chained = one(SpanOps.toAttributes(lit("alpha beta"), rules))
    assert(chained.getStruct(0).getString(0) == "{a} {b}")
    assert(chained.getStruct(0).getMap[String, String](1) == Map("a" -> "alpha", "b" -> "beta"))
    val broke = one(SpanOps.toAttributes(lit("alpha beta"), rules, breakAfterMatch = true))
    assert(broke.getStruct(0).getString(0) == "{a} beta")
    assert(broke.getStruct(0).getMap[String, String](1) == Map("a" -> "alpha"))
  }

  test("to_attributes: non-matching rule leaves name and attrs untouched") {
    val r = one(SpanOps.toAttributes(lit("nothing here"), Seq("(?<z>zzz)")))
    assert(r.getStruct(0).getString(0) == "nothing here")
    assert(r.getStruct(0).getMap[String, String](1).isEmpty)
  }

  test("to_attributes: a rule with an UNNAMED capturing group is rejected") {
    // the old check compared two counts of the same named-group scan
    // (vacuously equal), so this rule compiled and then crashed — or
    // silently bound values to the wrong attribute names — at runtime
    val e = intercept[Throwable] {
      one(SpanOps.toAttributes(lit("verb v2"), Seq("(?<verb>\\w+) (v\\d+)")))
    }
    // the require may surface wrapped in a SparkException — scan the chain
    val chain = Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
      .map(t => String.valueOf(t.getMessage)).mkString(" | ")
    assert(chain.contains("NAMED"), chain)
  }

  test("from_attributes joins with separator; missing key leaves name untouched") {
    val attrs = map(lit("svc"), lit("auth"), lit("op"), lit("login"))
    assert(one(SpanOps.renameFromAttributes(lit("old"), attrs,
      Seq("svc", "op"), "::")).getString(0) == "auth::login")
    assert(one(SpanOps.renameFromAttributes(lit("old"), attrs,
      Seq("svc", "nope"), "::")).getString(0) == "old")
    // empty separator concatenates (span.go:132-135)
    assert(one(SpanOps.renameFromAttributes(lit("old"), attrs,
      Seq("svc", "op"))).getString(0) == "authlogin")
  }

  test("to_attributes rejects NESTED named groups at construction, not per row") {
    // the {attr} rewrite is ill-defined for overlapping spans (the Go
    // reference panics at match time on oldName[idx:start] with
    // idx > start); the config error must surface when the rule is
    // built, with the rule text in the message
    val e = intercept[IllegalArgumentException] {
      one(SpanOps.toAttributes(lit("xy"), Seq("^(?P<outer>x(?P<inner>y))")))
    }
    assert(e.getMessage.contains("NESTED"))
    // non-nested sibling groups (and lookbehind, which is not a named
    // group) still compile and run
    val ok = one(SpanOps.toAttributes(lit("a-b"),
      Seq("^(?P<l>[a-z])-(?P<r>[a-z])$")))
    assert(ok.getStruct(0).getString(0) == "{l}-{r}")
  }
}
