package graft.config

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.ObjectNode
import com.fasterxml.jackson.dataformat.yaml.YAMLFactory

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import graft.agg.CountStage
import graft.enrich.EnrichStage
import graft.expr.ExprLang
import graft.model.PipelineConfig._
import graft.parse.ParseStage

/** YAML pipeline-config surface — the last step to "a user ships a
  * config file, not Scala": the analog of the reference collector's
  * confmap round-trip (`pkg/stanza/operator/operatortest/confmap.go`
  * unmarshals a YAML fixture into an operator config struct and asserts
  * equality with the programmatic expectation; our ConfigLoaderSpec
  * does the same for the flagship, `src/main/resources/graft/flagship.yaml`,
  * which [[graft.run.Pipeline]] loads and compiles).
  *
  * The FILE model ([[GraftFileConfig]]) is pure data — pattern strings,
  * OTTL condition strings, attr (key, default) pairs — so it
  * round-trips losslessly ([[ConfigLoader.render]] ∘
  * [[ConfigLoader.load]] = identity). [[ConfigLoader.compile]] turns it
  * into the runtime model exactly the way the collector's `Build()`
  * turns mapstructure configs into operators
  * (`pkg/stanza/operator/helper/parser.go:38-82`): conditions compile
  * through [[ExprLang]] into Catalyst `Column` trees ONCE, driver-side.
  *
  * Schema (every section optional except `parse`):
  * {{{
  * parse:
  *   source: text
  *   on_error: send | drop
  *   patterns:                 # first match wins, like the stanza bank
  *     - name: tool_call
  *       regex: '^CALL tool=(?<tool_name>\w+)$'
  *       fields: [tool_name]
  * enrich:
  *   keys: [tool]
  *   action: insert | update | upsert
  *   dim_path: /path/to/dim.parquet   # omitted -> built-in tool dim
  * routes:
  *   match_once: false
  *   default: default
  *   table:
  *     - name: errors
  *       where: 'attributes["level"] == "ERROR"'
  * metrics:
  *   - name: tool_call_count
  *     conditions: ['tool != ""']
  *     attributes:
  *       - key: tool
  *       - key: cost_class
  *         default: unknown
  * window: 1 hour
  * lateness: 10 minutes    # streaming watermark (StreamingJob only)
  * }}}
  */
object ConfigLoader {

  final case class RouteFileSpec(name: String, where: String)
  final case class RoutesFile(matchOnce: Boolean = false,
                              default: String = "default",
                              table: Seq[RouteFileSpec] = Nil)
  final case class MetricAttr(key: String, default: Option[String] = None)
  final case class MetricFileSpec(name: String,
                                  conditions: Seq[String] = Nil,
                                  attributes: Seq[MetricAttr] = Nil)
  final case class EnrichFile(keys: Seq[String],
                              action: String = "upsert",
                              dimPath: Option[String] = None)

  /** The whole pipeline as round-trippable data. `lateness` is the
    * streaming watermark delay ([[graft.run.StreamingJob]]; ignored by
    * the batch job, where event time is complete by construction). */
  final case class GraftFileConfig(parse: ParseConfig,
                                   enrich: Option[EnrichFile] = None,
                                   routes: RoutesFile = RoutesFile(),
                                   metrics: Seq[MetricFileSpec] = Nil,
                                   window: String = "1 hour",
                                   lateness: String = "10 minutes")

  // one configured ObjectMapper is thread-safe; rebuilding it per
  // load()/render() call would pay full Jackson factory setup each time
  private val mapper = new ObjectMapper(new YAMLFactory())

  // ---------------- load ----------------

  def loadFile(path: String): GraftFileConfig =
    load(new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(path)), "UTF-8"))

  /** A config shipped on the classpath, e.g. `/graft/flagship.yaml`. */
  def loadResource(name: String): GraftFileConfig = {
    val in = getClass.getResourceAsStream(name)
    require(in != null, s"config: no classpath resource $name")
    try load(new String(in.readAllBytes(), "UTF-8")) finally in.close()
  }

  def load(yaml: String): GraftFileConfig = {
    val root = mapper.readTree(yaml)
    require(root.has("parse"), "config: `parse` section is required")
    GraftFileConfig(
      parse = parseSection(root.get("parse")),
      enrich = opt(root, "enrich").map(enrichSection),
      routes = opt(root, "routes").map(routesSection)
        .getOrElse(RoutesFile()),
      metrics = seq(root.get("metrics")).map(metricSection),
      window = str(root, "window", "1 hour"),
      lateness = str(root, "lateness", "10 minutes"))
  }

  private def parseSection(n: JsonNode): ParseConfig = ParseConfig(
    patterns = seq(n.get("patterns")).map { p =>
      PatternSpec(req(p, "name"), req(p, "regex"),
        seq(p.get("fields")).map(_.asText()))
    },
    sourceCol = str(n, "source", "text"),
    onError = str(n, "on_error", "send") match {
      case "send" => OnError.Send
      case "drop" => OnError.Drop
      case other => throw new IllegalArgumentException(
        s"config: on_error must be send|drop, got '$other'")
    })

  private def enrichSection(n: JsonNode): EnrichFile = EnrichFile(
    keys = {
      val ks = seq(n.get("keys")).map(_.asText())
      // empty keys would reach EnrichStage as join(Seq.empty) — a
      // cross-join-shaped plan silently multiplying every fact row by
      // the dim row count; a missing/misspelled `keys:` must be loud
      require(ks.nonEmpty,
        "config: enrich requires a non-empty `keys` list")
      ks
    },
    action = str(n, "action", "upsert") match {
      case a @ ("insert" | "update" | "upsert") => a
      case other => throw new IllegalArgumentException(
        s"config: enrich action must be insert|update|upsert, got '$other'")
    },
    dimPath = opt(n, "dim_path").map(_.asText()))

  private def routesSection(n: JsonNode): RoutesFile = RoutesFile(
    matchOnce = opt(n, "match_once").exists(_.asBoolean(false)),
    default = str(n, "default", "default"),
    table = seq(n.get("table")).map(r =>
      RouteFileSpec(req(r, "name"), req(r, "where"))))

  private def metricSection(n: JsonNode): MetricFileSpec = MetricFileSpec(
    name = req(n, "name"),
    conditions = seq(n.get("conditions")).map(_.asText()),
    attributes = seq(n.get("attributes")).map(a =>
      MetricAttr(req(a, "key"), opt(a, "default").map(_.asText()))))

  // A PRESENT-but-non-array section is a config mistake (usually a
  // mis-indented block Jackson parsed as an object/scalar) and must
  // error loudly — silently reading it as Nil would run the pipeline
  // with an empty pattern bank / route table and produce empty output
  // with no clue. Absent (null) and explicit-null sections mean "none".
  private def seq(n: JsonNode): Seq[JsonNode] =
    if (n == null || n.isNull) Nil
    else if (!n.isArray) throw new IllegalArgumentException(
      s"config: expected a YAML list, got ${n.getNodeType}: $n")
    else n.elements().asScala.toSeq
  // explicit-null values ("field:" with a blank value) behave like the
  // field was absent — NullNode.asText() is the literal string "null",
  // which would otherwise leak in as a column/path/attribute name
  private def opt(n: JsonNode, field: String): Option[JsonNode] =
    Option(n.get(field)).filterNot(_.isNull)
  private def str(n: JsonNode, field: String, dflt: String): String =
    opt(n, field).map(_.asText()).getOrElse(dflt)
  private def req(n: JsonNode, field: String): String = {
    val v = n.get(field)
    require(v != null && !v.isNull,
      s"config: missing required field `$field` in ${n}")
    // a container here is a mis-indented block (the seq() hazard for
    // scalars): ObjectNode.asText() is "", which would silently become
    // an empty pattern name / regex / route predicate
    require(v.isValueNode,
      s"config: field `$field` must be a scalar, got ${v.getNodeType}: $v")
    v.asText()
  }

  // ---------------- render (the round-trip back) ----------------

  /** Serialize back to YAML. `load(render(c)) == c` — ConfigLoaderSpec
    * pins this (the operatortest/confmap.go round-trip law). */
  def render(c: GraftFileConfig): String = {
    val m = mapper
    val root = m.createObjectNode()
    val parse = root.putObject("parse")
    parse.put("source", c.parse.sourceCol)
    parse.put("on_error",
      if (c.parse.onError == OnError.Drop) "drop" else "send")
    val pats = parse.putArray("patterns")
    c.parse.patterns.foreach { p =>
      val o = pats.addObject()
      o.put("name", p.name); o.put("regex", p.regex)
      val f = o.putArray("fields"); p.fields.foreach(f.add)
    }
    c.enrich.foreach { e =>
      val o = root.putObject("enrich")
      val k = o.putArray("keys"); e.keys.foreach(k.add)
      o.put("action", e.action)
      e.dimPath.foreach(o.put("dim_path", _))
    }
    locally {
      val o = root.putObject("routes")
      o.put("match_once", c.routes.matchOnce)
      o.put("default", c.routes.default)
      val t = o.putArray("table")
      c.routes.table.foreach { r =>
        val ro = t.addObject(); ro.put("name", r.name); ro.put("where", r.where)
      }
    }
    if (c.metrics.nonEmpty) {
      val ms = root.putArray("metrics")
      c.metrics.foreach { mspec =>
        val o = ms.addObject()
        o.put("name", mspec.name)
        if (mspec.conditions.nonEmpty) {
          val cs = o.putArray("conditions"); mspec.conditions.foreach(cs.add)
        }
        if (mspec.attributes.nonEmpty) {
          val as = o.putArray("attributes")
          mspec.attributes.foreach { a =>
            val ao = as.addObject(); ao.put("key", a.key)
            a.default.foreach(ao.put("default", _))
          }
        }
      }
    }
    root.put("window", c.window)
    root.put("lateness", c.lateness)
    m.writerWithDefaultPrettyPrinter().writeValueAsString(root)
  }

  // ---------------- compile (file model -> runtime model) ----------------

  /** Attribute resolution for metric attrs: post-parse fields live in the
    * `parsed` map, enriched/base attrs are top-level columns. */
  def resolveAttr(parsedFields: Set[String])(key: String): Column =
    if (parsedFields(key)) col("parsed").getItem(key) else col(key)

  /** Compiled runtime pipeline, built from a file model
    * ([[graft.run.Pipeline]] is this for the flagship file). */
  final case class Compiled(parse: ParseConfig,
                            routeTable: RouteTable,
                            metrics: Seq[MetricSpec],
                            enrich: Option[EnrichFile],
                            window: String,
                            parsedFields: Set[String],
                            lateness: String = "10 minutes") {

    def resolver: ExprLang.Resolver = ExprLang.transcriptResolver(parsedFields)

    private def resolveAttr: String => Column =
      ConfigLoader.resolveAttr(parsedFields)

    /** parse → enrich over a transcripts frame.
      *
      * `barrier=false`: the flagship plan references the bank output
      * only inside one projection (route tags + enrich key), which
      * Catalyst CSE keeps at ONE evaluation — gated by PlanSpec's
      * occurrence count — so it skips the Generate barrier's ~10%
      * overhead (ParseStage.apply scaladoc has the measurements). */
    def parseEnrich(spark: SparkSession, transcripts: DataFrame): DataFrame = {
      val parsed = ParseStage(transcripts, parse, barrier = false)
      enrich match {
        case None => parsed
        case Some(e) =>
          // dedup an ARBITRARY user parquet on the join keys: the
          // enrich is semantically a lookup, and duplicate dim keys
          // would silently multiply every matching fact row through
          // the join (first-by-key wins; dedup deliberately upstream
          // for a deterministic pick). Built-in dims are statically
          // unique, so EnrichStage itself stays dedup-free and its
          // zero-shuffle tagging plans hold.
          val dim = e.dimPath.map(p =>
              spark.read.parquet(p).dropDuplicates(e.keys))
            .getOrElse(EnrichStage.dimTool(spark))
          val action = e.action match {
            case "insert" => EnrichAction.Insert
            case "update" => EnrichAction.Update
            case "upsert" => EnrichAction.Upsert
            case other => throw new IllegalArgumentException( // load() validates;
              s"config: unknown enrich action '$other'")      // guard hand-built configs
          }
          EnrichStage(parsed, dim, e.keys, action)
      }
    }

    /** The config file's metric definitions over one frame. */
    def countMetrics(df: DataFrame,
                     windowOverride: String = window): Map[String, DataFrame] =
      metrics.map(m => m.name ->
        CountStage.countWindowed(df, m, col("ts"), windowOverride, resolveAttr)).toMap
  }

  def compile(c: GraftFileConfig): Compiled = {
    // a duplicate metric name is a map-key collision downstream: it
    // silently loses all but the last entry in countMetrics' .toMap (one
    // streaming sink vanishes with no error) — a copy-paste edit must
    // fail at load, not ship half the sinks. RouteTable's constructor
    // makes the same check for route names and the default sink.
    def dupes(xs: Seq[String]): Seq[String] =
      xs.groupBy(identity).collect { case (k, vs) if vs.size > 1 => k }.toSeq
    val metricDupes = dupes(c.metrics.map(_.name))
    require(metricDupes.isEmpty,
      s"config: duplicate metric names: ${metricDupes.mkString(", ")}")
    val parsedFields = c.parse.patterns.flatMap(_.fields).toSet
    val resolver = ExprLang.transcriptResolver(parsedFields)
    Compiled(
      parse = c.parse,
      routeTable = RouteTable(
        routes = c.routes.table.map(r =>
          RouteSpec(r.name, ExprLang.condition(r.where, resolver))),
        defaultName = c.routes.default,
        matchOnce = c.routes.matchOnce),
      metrics = c.metrics.map(m => MetricSpec(m.name,
        conditions = m.conditions.map(ExprLang.condition(_, resolver)),
        attrs = m.attributes.map(a => AttrSpec(a.key, a.default)))),
      enrich = c.enrich,
      window = c.window,
      parsedFields = parsedFields,
      lateness = c.lateness)
  }
}
