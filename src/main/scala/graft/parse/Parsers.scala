package graft.parse

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Remaining stanza parser/splitter surface (SURVEY.md §2.1-2.2) beyond
  * the core bank in [[ParseStage]]. All pure Catalyst expressions.
  */
object Parsers {

  /** jsonarray parser (`pkg/stanza/operator/parser/jsonarray/parser.go:
    * 25-125` in `/root/reference`): JSON array body → typed elements;
    * optional header names → map. */
  def parseJsonArray(c: Column, elementType: String = "string"): Column =
    from_json(c, lit(s"array<$elementType>"), new java.util.HashMap[String, String]())

  /** jsonarray with header: zip names onto the parsed slice
    * (the `assign_keys` composition the reference uses). */
  def parseJsonArrayWithHeader(c: Column, headers: Seq[String]): Column =
    assignKeys(parseJsonArray(c), headers)

  /** assign_keys transformer (`transformer/assignkeys/transformer.go:
    * 21-60`): zip a value list with configured key names → map.
    *
    * A list SHORTER than the key set is a per-row parse failure → null
    * map (the on_error rendering), never a crash: map_from_arrays
    * throws a SparkRuntimeException on mismatched lengths, so one short
    * row would otherwise kill the whole query. Longer lists keep the
    * first `keys.length` values (the original slice tolerance). */
  def assignKeys(values: Column, keys: Seq[String]): Column =
    when(size(values) >= keys.length,
      map_from_arrays(lit(keys.toArray), slice(values, 1, keys.length)))

  /** RFC3164 syslog parse (`parser/syslog/parser.go:132` RFC3164 branch):
    * `<PRI>MMM dd HH:mm:ss host tag: msg` → struct(priority, facility,
    * severity, host, tag, msg). Timestamp layout handling is the caller's
    * (year-less RFC3164 stamps need a reference year, as in the
    * reference's time sub-parser). */
  private val Syslog3164 =
    "^<(?<pri>\\d{1,3})>(?<stamp>[A-Z][a-z]{2} [ \\d]\\d \\d{2}:\\d{2}:\\d{2}) " +
    "(?<host>\\S+) (?<tag>[^:\\[ ]+)(?:\\[(?<pid>\\d+)\\])?: (?<msg>.*)$"

  /** ONE regex pass per row (r6): the per-field `regexp_extract`
    * rendering ran the same compiled pattern 8× per row; this routes
    * through [[graft.functions.MultiPatternExtract]] (the parse-bank
    * expression — codegen subexpression elimination keeps the single
    * projection at one evaluation) and unpacks the group map.
    * `regexp_extract` semantics preserved exactly: "" for a
    * non-matching line or a non-participating optional group
    * (coalesce over the map's nulls), null ints on non-match (the
    * map lookup is null there, so the ANSI-safe cast sees null —
    * the nullif guard the old rendering needed). */
  def parseSyslog3164(c: Column): Column = {
    import org.apache.spark.sql.graftbridge.Bridge
    val m = Bridge.column(graft.functions.MultiPatternExtract(
      Bridge.expression(c),
      Seq(graft.model.PipelineConfig.PatternSpec("syslog3164", Syslog3164,
        Seq("pri", "stamp", "host", "tag", "pid", "msg")))))
      .getField("fields")
    def s(k: String) = coalesce(m.getItem(k), lit(""))
    val pri = m.getItem("pri").cast("int")
    struct(
      pri.as("priority"),
      (pri / 8).cast("int").as("facility"),
      pmod(pri, lit(8)).cast("int").as("severity"),
      s("stamp").as("stamp"),
      s("host").as("host"),
      s("tag").as("tag"),
      s("pid").as("pid"),
      s("msg").as("msg"))
  }

  /** RFC5424 syslog parse (`parser/syslog/parser.go:152` RFC5424 branch):
    * `<PRI>VERSION TIMESTAMP HOSTNAME APP-NAME PROCID MSGID SD MSG` →
    * struct(priority, facility, severity, version, stamp, host, app, pid,
    * msgid, sd, msg). Nil fields arrive as the literal `-` per the RFC;
    * structured data is kept raw (`[id k="v"...]` or `-`).
    * SD matching is quote-aware: one-or-more `[...]` elements whose
    * unquoted content can't contain `]` but whose quoted param values
    * can — a greedy `\[.*\]` would swallow message text up to the LAST
    * `]` whenever the MSG itself contains one. */
  private val Syslog5424 =
    "^<(?<pri>\\d{1,3})>(?<ver>\\d+) (?<stamp>\\S+) (?<host>\\S+) (?<app>\\S+) " +
    "(?<pid>\\S+) (?<msgid>\\S+) " +
    "(?<sd>-|(?:\\[[^\\]\"]*(?:\"[^\"]*\"[^\\]\"]*)*\\])+)(?: (?<msg>.*))?$"

  /** ONE regex pass per row — see [[parseSyslog3164]] (r6: was 10×). */
  def parseSyslog5424(c: Column): Column = {
    import org.apache.spark.sql.graftbridge.Bridge
    val m = Bridge.column(graft.functions.MultiPatternExtract(
      Bridge.expression(c),
      Seq(graft.model.PipelineConfig.PatternSpec("syslog5424", Syslog5424,
        Seq("pri", "ver", "stamp", "host", "app", "pid", "msgid", "sd", "msg")))))
      .getField("fields")
    def s(k: String) = coalesce(m.getItem(k), lit(""))
    val pri = m.getItem("pri").cast("int")
    struct(
      pri.as("priority"),
      (pri / 8).cast("int").as("facility"),
      pmod(pri, lit(8)).cast("int").as("severity"),
      m.getItem("ver").cast("int").as("version"),
      s("stamp").as("stamp"),
      s("host").as("host"),
      s("app").as("app"),
      s("pid").as("pid"),
      s("msgid").as("msgid"),
      s("sd").as("sd"),
      s("msg").as("msg"))
  }

  /** scope parser (`parser/scope/parser.go:20`): set scope from a field. */
  def parseScope(c: Column): Column = c.as("scope")

  /** Multiline recombine by line-start pattern (`split.go:59`
    * LineStartSplitFunc + the recombine transformer): consecutive lines
    * group under the last line matching `startPattern`; groups concat in
    * order. Relational rendering: running count of starts = group id.
    * Requires an explicit (source, line_no) order — arrival order is not
    * a thing in a distributed engine. */
  def recombineMultiline(lines: DataFrame, startPattern: String,
                         sep: String = "\n"): DataFrame = {
    val w = Window.partitionBy(col("source")).orderBy(col("line_no"))
    lines
      .withColumn("_start", col("line").rlike(startPattern).cast("int"))
      .withColumn("_grp", sum(col("_start")).over(w))
      .groupBy(col("source"), col("_grp"))
      .agg(
        min("line_no").as("first_line"),
        array_join(transform(
          array_sort(collect_list(struct(col("line_no"), col("line")))),
          x => x.getField("line")), sep).as("entry"))
      .drop("_grp")
  }
}
