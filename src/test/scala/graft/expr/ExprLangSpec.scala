package graft.expr

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.run.Pipeline

/** The config-string → Column compiler: golden semantics against
  * hand-written Columns, OTTL nil rules (`pkg/ottl/compare.go`), and
  * the EXPR(...) template flavor
  * (`pkg/stanza/operator/helper/expr_string.go:29-88`). */
class ExprLangSpec extends SparkSpec {
  import spark.implicits._

  private val df = Seq(
    ("c1", 0, "user", "hello world", "", Some(42L)),
    ("c2", 1, "assistant", "CALL tool=search args={} dur_ms=12", "search", None),
    ("c3", 2, "tool", "ERROR [core.engine] boom", "grep", Some(7L))
  ).toDF("conv_id", "turn_idx", "role", "text", "tool", "maybe")

  private val R = ExprLang.transcriptResolver(Set("level", "tool_name"))

  private def rows(cond: String): Set[String] =
    df.filter(ExprLang.condition(cond, R)).select("conv_id").as[String].collect().toSet

  test("comparisons, and/or/not, precedence (or binds loosest)") {
    assert(rows("""role == "user"""") == Set("c1"))
    assert(rows("""role != "user"""") == Set("c2", "c3"))
    assert(rows("""turn_idx > 0 and role == "tool"""") == Set("c3"))
    assert(rows("""role == "user" or turn_idx >= 2""") == Set("c1", "c3"))
    // not binds tighter than and; and tighter than or
    assert(rows("""not role == "user" and turn_idx < 2""") == Set("c2"))
    assert(rows("""role == "user" or role == "tool" and turn_idx == 2""") == Set("c1", "c3"))
    assert(rows("""(role == "user" or role == "tool") and turn_idx == 2""") == Set("c3"))
  }

  test("nil semantics follow compare.go: eq null-safe, ordering vs nil false") {
    assert(rows("maybe == nil") == Set("c2"))
    assert(rows("maybe != nil") == Set("c1", "c3"))
    // ordering against nil is FALSE, not null-propagated: c2 excluded from both
    assert(rows("maybe > 10") == Set("c1"))
    assert(rows("maybe <= 10") == Set("c3"))
  }

  test("converters: IsMatch, Len, Int, Concat, ToUpperCase, Substring") {
    assert(rows("""IsMatch(body, "^CALL ")""") == Set("c2"))
    assert(rows("""Len(body) == 11""") == Set("c1"))
    assert(rows("""Int(turn_idx) + 1 == 3""") == Set("c3"))
    val tagged = df.select(
      ExprLang.value("""Concat([role, tool], "-")""", R).as("tag"))
      .as[String].collect().toSet
    assert(tagged == Set("user-", "assistant-search", "tool-grep"))
    assert(rows("""ToUpperCase(role) == "TOOL"""") == Set("c3"))
    assert(rows("""Substring(body, 0, 4) == "CALL"""") == Set("c2"))
  }

  test("math precedence: product over sum, parens override") {
    assert(rows("turn_idx * 2 + 1 == 5") == Set("c3"))
    assert(rows("turn_idx * (2 + 1) == 6") == Set("c3"))
    assert(rows("6 / 2 - 1 == turn_idx") == Set("c3"))
  }

  test("string-compiled route table matches the hand-written one row-for-row") {
    val tr = graft.sources.Transcripts.fromEvents(spark, "/root/testdata/sf0.001")
    val enriched = Pipeline.parseEnrich(spark, tr)
    val byHand = graft.route.RouteStage.tagged(enriched, graft.run.FlagshipByHand.routeTableByHand)
      .groupBy("route").count().as[(String, Long)].collect().toMap
    val byString = graft.route.RouteStage.tagged(enriched, Pipeline.routeTableFromStrings)
      .groupBy("route").count().as[(String, Long)].collect().toMap
    assert(byHand == byString)
    assert(byHand.keySet == Set("tool_calls", "errors", "user_turns", "default"))
  }

  test("ANSI-safe eval errors: div-by-zero, overflow, bad Time are non-matches, not batch kills") {
    // turn_idx is 0 for c1: a plain `/` would throw DIVIDE_BY_ZERO
    // under Spark 4's default ANSI mode and abort the job — OTTL
    // error_mode=ignore demands the row be a non-match instead
    assert(rows("""42 / turn_idx >= 0""") == Set("c2", "c3"))
    assert(rows("""9223372036854775807 + turn_idx > 0""") == Set("c1")) // overflow rows drop out
    // an unparseable Time value is an eval error → non-match (c1's
    // text is not a timestamp); parseable values still compare
    assert(rows("""Time(text, "yyyy-MM-dd") > Time("2020-01-01", "yyyy-MM-dd")""").isEmpty)
  }

  test("wrong converter arity names the converter, not a bare index error") {
    val e = intercept[IllegalArgumentException] {
      ExprLang.condition("""IsMatch(text)""", R)
    }
    assert(e.getMessage.contains("IsMatch") && e.getMessage.contains("argument"),
      s"got: ${e.getMessage}")
  }

  test("template string literal ending in an escaped backslash still terminates") {
    // the old scanner's look-behind misread `\\"` as an escaped quote,
    // left inStr stuck, and failed this well-formed template
    val out = df.filter($"conv_id" === "c1")
      .select(ExprLang.template("""pre EXPR(Concat(["a\\", role], "-")) post""", R).as("t"))
      .as[String].collect().head
    assert(out == """pre a\-user post""", s"got: $out")
  }

  test("error_mode=ignore: condition evaluating to null does not match") {
    // Int("notanumber") is null under non-ANSI cast → condition false, no throw
    val safe = df.filter(ExprLang.condition("""Int(role) > 0""", R))
    assert(safe.count() == 0)
  }

  test("anyOf ORs conditions like the count connector's multi-condition list") {
    val c = ExprLang.anyOf(Seq("""role == "user"""", """tool == "grep""""), R)
    assert(df.filter(c).select("conv_id").as[String].collect().toSet == Set("c1", "c3"))
  }

  test("EXPR(...) templates interleave literals and stringified expressions") {
    val tag = df.select(ExprLang.template(
      "turn-EXPR(turn_idx) by EXPR(ToUpperCase(role))", R).as("t"))
      .as[String].collect().toSet
    assert(tag == Set("turn-0 by USER", "turn-1 by ASSISTANT", "turn-2 by TOOL"))
  }

  test("OTTL statements: editors with where clauses, sequential semantics") {
    val T = ExprLang.transcriptTargets(Set("level", "tool_name"))
    // set with where: only the matching row's target changes
    val out1 = ExprLang.applyStatement(df,
      """set(role, ToUpperCase(role)) where conv_id == "c1"""", R, T)
      .select("conv_id", "role").as[(String, String)].collect().toMap
    assert(out1 == Map("c1" -> "USER", "c2" -> "assistant", "c3" -> "tool"))
    // replace_pattern on body
    val out2 = ExprLang.applyStatement(df,
      """replace_pattern(body, "[0-9]+", "#") where role == "tool"""", R, T)
      .filter(col("conv_id") === "c3").select("text").as[String].head()
    assert(out2 == "ERROR [core.engine] boom")
    val out2b = ExprLang.applyStatement(df,
      """replace_pattern(body, "o", "0")""", R, T)
      .filter(col("conv_id") === "c1").select("text").as[String].head()
    assert(out2b == "hell0 w0rld")
    // sequential: statement 2 sees statement 1's write
    val out3 = ExprLang.applyStatements(df, Seq(
      """set(role, "merged") where conv_id == "c1"""",
      """set(tool, "was-merged") where role == "merged""""), R, T)
      .select("conv_id", "tool").as[(String, String)].collect().toMap
    assert(out3("c1") == "was-merged" && out3("c2") == "search")
    // map-entry target: set(attributes["tool_name"], ...) rewrites `parsed`
    val withMap = df.withColumn("parsed",
      map(lit("tool_name"), col("tool")))
    val out4 = ExprLang.applyStatement(withMap,
      """set(attributes["tool_name"], "X") where conv_id == "c2"""", R, T)
      .select(col("conv_id"), col("parsed").getItem("tool_name")).as[(String, String)]
      .collect().toMap
    assert(out4("c2") == "X" && out4("c3") == "grep")
    // unknown editor / non-path target rejected
    intercept[IllegalArgumentException](
      ExprLang.applyStatement(df, """bogus(role)""", R, T))
    intercept[IllegalArgumentException](
      ExprLang.applyStatement(df, """set("notapath", 1)""", R, T))
  }

  test("parse errors carry position; unknown converter rejected") {
    intercept[ExprLang.ExprParseException](ExprLang.parse("""role == """))
    intercept[ExprLang.ExprParseException](ExprLang.parse("""role == "unterminated"""))
    intercept[IllegalArgumentException](
      ExprLang.compileExpr(ExprLang.parse("""Bogus(role)"""), R))
  }

  test("subtraction without spaces parses; negative literals stay in operand position") {
    // "100-50" after an operand is binary minus, not TInt(-50) —
    // previously rejected as "trailing input"
    assert(rows("""turn_idx > 100-99""") == Set("c3"))      // 1 → c3 only (idx 2)
    assert(rows("""turn_idx == 2-1""") == Set("c2"))
    assert(rows("""turn_idx - 1 == -1""") == Set("c1"))     // negative literal after op
    assert(rows("""turn_idx == (3)-1""") == Set("c3"))      // after ')' it's subtraction
    assert(rows("""-1 + 2 == turn_idx""") == Set("c2"))     // leading negative literal
    // keywords lex as TIdent but are operators — '-' after them is still
    // operand position (regression: "and -1" was a parse error)
    assert(rows("""turn_idx > 1 and -1 < turn_idx""") == Set("c3"))
    assert(rows("""turn_idx == 0 or -2 == turn_idx - 3""") == Set("c1", "c2"))
    assert(rows("""not -1 == turn_idx""") == Set("c1", "c2", "c3"))
  }

  test("condition over a non-boolean value is a non-match, not an ANSI crash") {
    // try_cast semantics: CAST('hello world' AS BOOLEAN) would throw
    // CAST_INVALID_INPUT under ANSI and kill the batch; the OTTL
    // error_mode=ignore rendering makes the row a non-match instead
    assert(rows("""text""") == Set.empty)
    // the same rule holds for a statement's where clause (same bug
    // class: applyStatement used plain cast while condition() didn't)
    val T = ExprLang.transcriptTargets(Set("level", "tool_name"))
    val out = ExprLang.applyStatement(df,
      """set(role, "flagged") where body""", R, T)
      .select("role").as[String].collect().toSet
    assert(out == Set("user", "assistant", "tool")) // all non-matches, no crash
  }

  test("""ParseKeyValue(target, delimiter, pair_delimiter) follows OTTL arg order""") {
    // func_parse_key_value.go: arg 2 = key-value delimiter, arg 3 =
    // pair separator (both Optional)
    // the transcript resolver maps the OTTL `body` path to the `text` column
    val df2 = Seq("a:1;b:2").toDF("text")
    def m(exprStr: String): Map[String, String] =
      df2.select(ExprLang.value(exprStr, R).as("m"))
        .head().getMap[String, String](0).toMap
    assert(m("""ParseKeyValue(body, ":", ";")""") == Map("a" -> "1", "b" -> "2"))
    // 2-arg form (pair separator defaults to " ")
    val df3 = Seq("a:1 b:2").toDF("text")
    val two = df3.select(ExprLang.value("""ParseKeyValue(body, ":")""", R).as("m"))
      .head().getMap[String, String](0).toMap
    assert(two == Map("a" -> "1", "b" -> "2"))
    // 1-arg default: "k=v k2=v2"
    val df4 = Seq("k=v k2=v2").toDF("text")
    val one = df4.select(ExprLang.value("""ParseKeyValue(body)""", R).as("m"))
      .head().getMap[String, String](0).toMap
    assert(one == Map("k" -> "v", "k2" -> "v2"))
  }

  test("anyOf with an empty condition list matches everything (count-connector default)") {
    assert(df.filter(ExprLang.anyOf(Nil, R)).count() == df.count())
  }

  test("Concat renders nil elements as empty string with delimiters kept (func_concat.go)") {
    val d = Seq((Option("a"), Option("c")), (None, Option("c")),
      (Option("a"), None)).toDF("x", "y")
    val got = d.select(ExprLang.value("""Concat([x, y], "-")""", R).as("s"))
      .as[String].collect().toSeq
    // bare concat_ws would emit "c" / "a" (delimiter dropped with the null)
    assert(got == Seq("a-c", "-c", "a-"))
  }

  test("set() creates a missing attribute instead of throwing UNRESOLVED_COLUMN") {
    val T = ExprLang.transcriptTargets(Set("level"))
    val out = ExprLang.applyStatement(df,
      """set(attributes["env"], "prod") where role == "user"""", R, T)
    assert(out.columns.contains("env"))
    val envs = out.select("role", "env").as[(String, Option[String])]
      .collect().toSet
    assert(envs == Set(("user", Some("prod")), ("assistant", None), ("tool", None)))
  }

  test("malformed numeric literals raise a positioned parse error, not NumberFormatException") {
    val bad = intercept[ExprLang.ExprParseException] {
      ExprLang.parse("dur_ms > 1.2.3")
    }
    assert(bad.getMessage.contains("1.2.3"))
    val over = intercept[ExprLang.ExprParseException] {
      ExprLang.parse("turn_idx == 99999999999999999999")
    }
    assert(over.getMessage.contains("99999999999999999999"))
  }
}
