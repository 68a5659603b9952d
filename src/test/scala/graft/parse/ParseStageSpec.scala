package graft.parse

import java.sql.Timestamp

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.functions.MultiPatternExtract
import graft.model.PipelineConfig._
import graft.run.Pipeline

class ParseStageSpec extends SparkSpec {
  import spark.implicits._

  private def turns(texts: String*) =
    texts.zipWithIndex.map { case (t, i) =>
      ("conv-0", i, "user", t, "", Timestamp.valueOf("2024-01-01 00:00:00"))
    }.toDF("conv_id", "turn_idx", "role", "text", "tool", "ts")

  test("normalizeGroups rewrites Java and Go named groups by position") {
    val (j1, n1) = MultiPatternExtract.normalizeGroups("^(?<tool_name>\\w+) (?<dur_ms>\\d+)$")
    assert(j1 == "^(?<gg0>\\w+) (?<gg1>\\d+)$" && n1 == 2)
    val (j2, n2) = MultiPatternExtract.normalizeGroups("^(?P<level>\\w+)$")
    assert(j2 == "^(?<gg0>\\w+)$" && n2 == 1)
  }

  test("pattern bank extracts fields, first-match-wins") {
    // both patterns match the first row; the first in the bank must win
    // (router semantics, transformer/router/transformer.go:59)
    val bank = Seq(
      PatternSpec("broad", "^(?<all>INFO .*)$", Seq("all")),
      PatternSpec("narrow", "^INFO (?<rest>.*)$", Seq("rest")))
    val df = ParseStage(turns("INFO hello", "nope"), ParseConfig(bank))
    val rows = df.select("pattern", "parsed", "_error").orderBy("turn_idx").collect()
    assert(rows(0).getString(0) == "broad")
    assert(rows(0).getMap[String, String](1)("all") == "INFO hello")
    assert(rows(0).isNullAt(2))
    assert(rows(1).isNullAt(0) && rows(1).getString(2) == ParseStage.ErrorMessage)
  }

  test("on_error=drop filters unparseable rows") {
    val df = ParseStage(
      turns("INFO [c] m", "garbage row ~"),
      Pipeline.parseConfig.copy(onError = OnError.Drop))
    assert(df.count() == 1)
  }

  test("the standard bank parses all three fixture grammars") {
    val df = ParseStage(turns(
      "CALL tool=bash args={\"k\": 7} dur_ms=123",
      "ERROR [comp-1] boom user=3",
      "user=3 action=click cents=964",
      "~~ noise 5 ~~"), Pipeline.parseConfig)
    val byIdx = df.orderBy("turn_idx").select("pattern").as[String].collect()
    assert(byIdx.toSeq == Seq("tool_call", "status", "kv", null))
    val m = df.filter(col("pattern") === "tool_call")
      .select("parsed").as[Map[String, String]].head()
    assert(m == Map("tool_name" -> "bash", "args_json" -> "{\"k\": 7}", "dur_ms" -> "123"))
  }

  test("severity alias table maps level text to enum") {
    val df = turns("x").select(ParseStage.parseSeverity(lit("ERROR")).as("s"),
      ParseStage.parseSeverity(lit("info")).as("i"),
      ParseStage.parseSeverity(lit("whatever")).as("w"))
    val r = df.head()
    assert(r.getInt(0) == 17 && r.getInt(1) == 9 && r.getInt(2) == 0)
  }

  test("MultiPatternExtract works in both codegen and interpreted eval") {
    val bank = Pipeline.parseConfig.patterns
    val input = turns("CALL tool=bash args={\"k\": 1} dur_ms=5")
    // codegen path (default)
    val viaDf = input.select(ParseStage.extract(col("text"), bank).as("x"))
      .select("x.pattern").as[String].head()
    assert(viaDf == "tool_call")
    // interpreted path
    import org.apache.spark.sql.catalyst.expressions.{BoundReference, Literal}
    import org.apache.spark.sql.types.StringType
    import org.apache.spark.unsafe.types.UTF8String
    val e = MultiPatternExtract(Literal.create(
      UTF8String.fromString("ERROR [c] m"), StringType), bank)
    val row = e.eval(null).asInstanceOf[org.apache.spark.sql.catalyst.InternalRow]
    assert(row.getUTF8String(0).toString == "status")
  }

  test("literalPrefix: quantified head chars and alternation never skip matches") {
    import graft.functions.MultiPatternExtract.literalPrefix
    assert(literalPrefix("^abc def") == "abc def")
    assert(literalPrefix("abc") == null)          // unanchored
    assert(literalPrefix("^(?<g>x)") == null)     // no literal head
    // a '?'-quantified head char is optional — the prefix must stop
    // BEFORE it ("^https?://…" must fast-path "http://…" rows)
    assert(literalPrefix("^https?://x") == "http")
    assert(literalPrefix("^ab*c") == "a")
    assert(literalPrefix("^ab{0,2}c") == "a")
    // top-level alternation unanchors the second branch entirely
    assert(literalPrefix("^a|b") == null)
    assert(literalPrefix("^a\\|b") == "a")        // escaped pipe is literal
  }

  test("drop_ratio sampler survives huge and null keys (ANSI overflow guard)") {
    import org.apache.spark.sql.functions._
    val df = Seq((4000000000L, "error"), (5L, "error"),
      (6L, "view")).toDF("k", "t")
      .withColumn("k", when(col("k") === 5L, lit(null)).otherwise(col("k")))
    // unmasked, 4e9 * 2654435761 overflows Long and ANSI throws; a null
    // key must KEEP the row, not silently drop it
    val kept = ParseStage.dropRatioFilter(df, col("t") === "error", 1.0, col("k"))
      .collect().map(r => Option(r.get(0))).toSet
    assert(kept.contains(None))     // null key kept despite dropRatio=1
    assert(kept.contains(Some(6L))) // unmatched row untouched
  }

  test("field count mismatch fails fast at build time") {
    val bad = Seq(PatternSpec("p", "^(?<a>\\w+)$", Seq("a", "b")))
    val ex = intercept[Exception] {
      ParseStage(turns("x"), ParseConfig(bad)).collect()
    }
    assert(ex.getMessage.contains("2 fields declared but 1 named groups")
      || ex.getCause != null)
  }
}
