package graft.parse

import org.apache.spark.sql.functions._

import graft.SparkSpec

class ParsersSpec extends SparkSpec {
  import spark.implicits._

  test("jsonarray parse with and without header") {
    val df = Seq(Tuple1("""["a", "b", "c"]""")).toDF("s")
    assert(df.select(Parsers.parseJsonArray(col("s")).as("r"))
      .as[Seq[String]].head() == Seq("a", "b", "c"))
    val m = df.select(Parsers.parseJsonArrayWithHeader(col("s"), Seq("x", "y")).as("r"))
      .collect().head.getMap[String, String](0).toMap
    assert(m == Map("x" -> "a", "y" -> "b"))
  }

  test("assign_keys zips values with key names") {
    val df = Seq(Tuple1(Seq("1", "2"))).toDF("v")
    val m = df.select(Parsers.assignKeys(col("v"), Seq("a", "b")).as("r"))
      .collect().head.getMap[String, String](0).toMap
    assert(m == Map("a" -> "1", "b" -> "2"))
  }

  test("assign_keys: a short value list is a per-row null map, never a crash") {
    // map_from_arrays throws SparkRuntimeException on mismatched lengths
    // — one short-but-valid JSON array row must not kill the query
    val df = Seq(Tuple1(Seq("only"))).toDF("v")
    val r = df.select(Parsers.assignKeys(col("v"), Seq("a", "b")).as("r"))
      .collect().head
    assert(r.isNullAt(0))
    // same through the jsonarray+header composition, and null body → null
    val j = Seq(Tuple1("""["x"]"""), Tuple1(null: String)).toDF("s")
      .select(Parsers.parseJsonArrayWithHeader(col("s"), Seq("x", "y")).as("r"))
      .collect()
    assert(j.forall(_.isNullAt(0)))
    // longer lists keep the first n values (slice tolerance unchanged)
    val long = Seq(Tuple1(Seq("1", "2", "3"))).toDF("v")
      .select(Parsers.assignKeys(col("v"), Seq("a", "b")).as("r"))
      .collect().head.getMap[String, String](0).toMap
    assert(long == Map("a" -> "1", "b" -> "2"))
  }

  test("parseTime: malformed stamps null out (on_error), space-padded days parse") {
    import graft.parse.ParseStage
    val df = Seq("2024-01-02 03:04:05", "", "not a time").toDF("s")
    val got = df.select(ParseStage.parseTime(col("s"), "strptime",
        "%Y-%m-%d %H:%M:%S").as("t"))
      .collect().map(r => Option(r.getTimestamp(0)).map(_.toString))
    assert(got(0).contains("2024-01-02 03:04:05.0"))
    assert(got(1).isEmpty && got(2).isEmpty) // nulls, not a query abort
    // epoch branches: garbage nulls out instead of an ANSI cast crash
    val e = Seq("garbage").toDF("s")
      .select(ParseStage.parseTime(col("s"), "epoch", "ms").as("t"))
      .collect().head
    assert(e.isNullAt(0))
    // %e / _2: the classic syslog space-padded single-digit day
    val pad = Seq("Jan  5 2024 12:00:00").toDF("s")
    def parsed(lt: String, layout: String): Option[String] =
      Option(pad.select(ParseStage.parseTime(col("s"), lt, layout).as("t"))
        .collect().head.getTimestamp(0)).map(_.toString)
    assert(parsed("strptime", "%b %e %Y %H:%M:%S").contains("2024-01-05 12:00:00.0"))
    assert(parsed("gotime", "Jan _2 2006 15:04:05").contains("2024-01-05 12:00:00.0"))
  }

  test("RFC3164 syslog parse extracts pri/facility/severity/host/tag/msg") {
    val line = "<34>Oct 11 22:14:15 mymachine su[230]: 'su root' failed for lonvick"
    val r = Seq(Tuple1(line)).toDF("s")
      .select(Parsers.parseSyslog3164(col("s")).as("p"))
      .select("p.priority", "p.facility", "p.severity", "p.host", "p.tag", "p.pid", "p.msg")
      .head()
    assert(r.getInt(0) == 34 && r.getInt(1) == 4 && r.getInt(2) == 2)
    assert(r.getString(3) == "mymachine" && r.getString(4) == "su")
    assert(r.getString(5) == "230")
    assert(r.getString(6) == "'su root' failed for lonvick")
  }

  test("syslog parsers yield null int fields on non-matching lines (ANSI-safe)") {
    // a malformed line must produce null fields (stanza on_error
    // contract), not a CAST_INVALID_INPUT error killing the query:
    // regexp_extract returns "" on no-match and Spark 4's default ANSI
    // mode refuses CAST('' AS INT)
    val rows = Seq("not syslog at all", "").toDF("s")
      .select(Parsers.parseSyslog3164(col("s")).as("p3"),
        Parsers.parseSyslog5424(col("s")).as("p5"))
      .select("p3.priority", "p5.priority", "p5.version")
      .collect()
    assert(rows.forall(r => r.isNullAt(0) && r.isNullAt(1) && r.isNullAt(2)))
  }

  test("RFC5424 syslog parse extracts header fields, SD, and message") {
    val line = "<165>1 2003-10-11T22:14:15.003Z mymachine.example.com evntslog 1234 ID47 " +
      "[exampleSDID@32473 iut=\"3\"] BOMAn application event log entry"
    val r = Seq(Tuple1(line)).toDF("s")
      .select(Parsers.parseSyslog5424(col("s")).as("p"))
      .select("p.priority", "p.facility", "p.severity", "p.version", "p.stamp",
        "p.host", "p.app", "p.pid", "p.msgid", "p.sd", "p.msg")
      .head()
    assert(r.getInt(0) == 165 && r.getInt(1) == 20 && r.getInt(2) == 5)
    assert(r.getInt(3) == 1)
    assert(r.getString(4) == "2003-10-11T22:14:15.003Z")
    assert(r.getString(5) == "mymachine.example.com" && r.getString(6) == "evntslog")
    assert(r.getString(7) == "1234" && r.getString(8) == "ID47")
    assert(r.getString(9) == "[exampleSDID@32473 iut=\"3\"]")
    assert(r.getString(10) == "BOMAn application event log entry")
  }

  test("RFC5424 syslog parse with nil SD and no message") {
    val r = Seq(Tuple1("<34>1 2026-01-02T03:04:05Z h7 app 42 m3 -")).toDF("s")
      .select(Parsers.parseSyslog5424(col("s")).as("p"))
      .select("p.priority", "p.sd", "p.msg").head()
    assert(r.getInt(0) == 34 && r.getString(1) == "-" && r.getString(2) == "")
  }

  test("RFC5424: ']' in the message and multiple SD-elements don't bleed into SD") {
    // a greedy (-|\[.*\]) would swallow "big [5] done" up to the last ']'
    val twoSd = "<165>1 2003-10-11T22:14:15.003Z host app 1 ID1 " +
      "[ex@1 k=\"v]v\"][ex@2 a=\"b\"] job big [5] done"
    val r = Seq(Tuple1(twoSd)).toDF("s")
      .select(Parsers.parseSyslog5424(col("s")).as("p"))
      .select("p.sd", "p.msg").head()
    assert(r.getString(0) == "[ex@1 k=\"v]v\"][ex@2 a=\"b\"]")
    assert(r.getString(1) == "job big [5] done")
    val oneSd = "<34>1 2026-01-02T03:04:05Z h app 4 m [x@1 k=\"v\"] tail [brackets] here"
    val r2 = Seq(Tuple1(oneSd)).toDF("s")
      .select(Parsers.parseSyslog5424(col("s")).as("p"))
      .select("p.sd", "p.msg").head()
    assert(r2.getString(0) == "[x@1 k=\"v\"]")
    assert(r2.getString(1) == "tail [brackets] here")
  }

  test("newline split + multiline recombine by start pattern") {
    // the newline split has no rendering: turns arrive as the line
    // stream (p38), so the lines start out split
    val lines = Seq("ERROR boom", "  at frame1", "  at frame2", "INFO ok",
        "ERROR again", "  at frameX").zipWithIndex
      .map { case (l, i) => ("f1", i, l) }.toDF("source", "line_no", "line")
    val entries = Parsers.recombineMultiline(lines, "^(ERROR|INFO|WARN)")
      .orderBy("first_line").select("entry").as[String].collect().toSeq
    assert(entries == Seq(
      "ERROR boom\n  at frame1\n  at frame2",
      "INFO ok",
      "ERROR again\n  at frameX"))
  }
}
