package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Expression corpus — the OTTL e2e analog (`pkg/ottl/e2e/e2e_test.go`,
  * 95 statements against a fixed record): one case per claimed function,
  * asserting the resulting value (FIXTURES.md §6). */
class OttlSpec extends SparkSpec {
  import spark.implicits._

  private def eval1[T](c: Column): T =
    Seq(Tuple1("x")).toDF("dummy").select(c.as("r")).collect().head.getAs[T]("r")

  private val attrs: Column =
    map(lit("env"), lit("prod"), lit("team"), lit("ml"), lit("secret"), lit("hunter2"))

  private def asMap(c: Column): Map[String, String] =
    Seq(Tuple1("x")).toDF("dummy").select(c.as("r"))
      .collect().head.getMap[String, String](0).toMap

  test("editors: set / delete / keep / merge / limit / truncate") {
    // merge_maps has no rendering: no config or query merges two maps
    assert(asMap(Ottl.setKey(attrs, "env", lit("dev")))("env") == "dev")
    assert(asMap(Ottl.setKey(attrs, "new", lit("v")))("new") == "v")
    assert(!asMap(Ottl.deleteKey(attrs, "secret")).contains("secret"))
    assert(asMap(Ottl.deleteMatchingKeys(attrs, "^sec.*")).keySet == Set("env", "team"))
    assert(asMap(Ottl.keepKeys(attrs, Seq("env"))).keySet == Set("env"))
    assert(asMap(Ottl.keepMatchingKeys(attrs, "^(env|team)$")).keySet == Set("env", "team"))
    assert(asMap(Ottl.limitMap(attrs, 2)).size == 2)
    assert(asMap(Ottl.truncateAll(attrs, 2)).values.forall(_.length <= 2))
  }

  test("replace_match glob / replace_pattern regex") {
    assert(eval1[String](Ottl.replaceMatch(lit("hello world"), "hello*", "redacted")) == "redacted")
    assert(eval1[String](Ottl.replaceMatch(lit("nope"), "hello*", "redacted")) == "nope")
    assert(eval1[String](Ottl.replacePattern(lit("card 1234-5678"), "\\d", "*")) == "card ****-****")
  }

  test("converters: case, substring, split, len, concat") {
    assert(eval1[String](Ottl.convertCase(lit("fooBarBaz"), "snake")) == "foo_bar_baz")
    assert(eval1[String](Ottl.convertCase(lit("foo_bar_baz"), "camel")) == "FooBarBaz")
    assert(eval1[String](Ottl.convertCase(lit("x"), "upper")) == "X")
    assert(eval1[String](Ottl.ottlSubstring(lit("abcdef"), 1, 3)) == "bcd")
    assert(eval1[scala.collection.Seq[String]](Ottl.ottlSplit(lit("a.b.c"), ".")).toSeq
      == Seq("a", "b", "c"))
    assert(eval1[Int](Ottl.ottlLen(lit("abc"))) == 3)
    assert(eval1[String](Ottl.ottlConcat("-", lit("a"), lit("b"))) == "a-b")
  }

  test("IsMatch / ExtractPatterns (the grok primitive)") {
    assert(eval1[Boolean](Ottl.isMatch(lit("v1.2.3"), "^v\\d+")))
    // ExtractPatterns renders as the parse bank's one-pass extractor
    val bank = Seq(graft.model.PipelineConfig.PatternSpec("kv",
      "^id=(?P<id>\\d+) name=(?P<name>\\w+)$", Seq("id", "name")))
    val m = asMap(graft.parse.ParseStage.extract(lit("id=42 name=x"), bank).getField("fields"))
    assert(m == Map("id" -> "42", "name" -> "x"))
  }

  test("parse: json / csv / kv / base64") {
    // ParseJSON renders as the parse stage's field lookup; base64
    // decoding has no rendering (no config or query decodes base64)
    val j = Seq(Tuple1("""{"a": 1, "b": "x"}""")).toDF("s")
      .select(graft.parse.ParseStage.parseJsonField(col("s"), "$.a").cast("int").as("a"),
        graft.parse.ParseStage.parseJsonField(col("s"), "$.b").as("b"))
      .as[(Int, String)].head()
    assert(j == ((1, "x")))
    val c = Seq(Tuple1("1,foo")).toDF("s")
      .select(graft.parse.ParseStage.parseCsv(col("s"), "a INT, b STRING").as("r"))
      .select("r.a", "r.b").as[(Int, String)].head()
    assert(c == ((1, "foo")))
    assert(asMap(Ottl.parseKeyValue(lit("k1=v1 k2=v2"))) == Map("k1" -> "v1", "k2" -> "v2"))
  }

  test("ParseXML: element text and attribute by xpath") {
    // p39 reads what the `/e/t` and `/e/@id` xpaths name, in one
    // from_xml pass over `<e id="event_id"><t>event_type</t></e>`
    val dir = java.nio.file.Files.createTempDirectory("graft_p39").toString
    Seq((7L, "view"), (8L, "click")).toDF("event_id", "event_type")
      .write.parquet(s"$dir/events.parquet")
    val got = graft.SparkEntry.queries("p39_parse_xml")(spark, dir)
      .select("event_id", "t", "id").as[(Long, String, Long)].collect().toSet
    assert(got == Set((7L, "view", 7L), (8L, "click", 8L)))
  }

  test("ParseXML: single-pass from_xml struct (element + attribute)") {
    val r = Seq(Tuple1("""<e id="7"><t>view</t></e>""")).toDF("s")
      .select(Ottl.parseXml(col("s"), "t string, _id bigint").as("p"))
      .select("p.t", "p._id").as[(String, Long)].head()
    assert(r == (("view", 7L)))
  }

  test("hashing: sha1 / sha256 / fnv-1a bit-exact") {
    assert(eval1[String](Ottl.sha1Hex(lit("abc")))
      == "a9993e364706816aba3e25717850c26c9cd0d89d")
    assert(eval1[String](Ottl.sha256Hex(lit("abc")))
      == "ba7816bf8f01cfea414140de5dae2223b00361a396177a9cb410ff61f20015ad")
    // FNV-1a 64 reference vectors (public: tools.ietf.org draft-eastlake-fnv)
    assert(eval1[Long](Ottl.fnv1a64(lit("a"))) == 0xaf63dc4c8601ec8cL)
    assert(eval1[Long](Ottl.fnv1a64(lit("foobar"))) == 0x85944171f73967e8L)
  }

  test("time: parse, truncate, unix epoch family, duration") {
    val t = to_timestamp(lit("2024-03-05 06:07:08"), "yyyy-MM-dd HH:mm:ss")
    assert(eval1[Long](Ottl.unixSeconds(t)) == 1709618828L)
    assert(eval1[Long](Ottl.unixMillis(t)) == 1709618828000L)
    assert(eval1[java.sql.Timestamp](Ottl.truncateTime(t, "hour")).toString
      == "2024-03-05 06:00:00.0")
    assert(eval1[Int](Ottl.hourOf(t)) == 6)
    assert(eval1[Double](Ottl.durationSeconds(lit("1h2m3s"))) == 3723.0)
  }

  test("numeric: casts and log") {
    def converter(expr: String): Column =
      graft.expr.ExprLang.value(expr, graft.expr.ExprLang.transcriptResolver(Set.empty))
    assert(eval1[Long](converter("""Int("42")""")) == 42L)
    assert(eval1[Double](converter("""Double("2.5")""")) == 2.5)
    assert(math.abs(eval1[Double](Ottl.ottlLog(lit(math.E))) - 1.0) < 1e-12)
  }

  test("trace/span id hex decode") {
    val b = eval1[Array[Byte]](Ottl.spanIdFromHex(lit("00ff")))
    assert(b.toSeq == Seq(0.toByte, 0xff.toByte))
  }
}
