package graft.model

import org.apache.spark.sql.Column

/** Typed pipeline-config model — the analog of the reference's
  * mapstructure operator configs (`pkg/stanza/operator/config.go`,
  * `connector/routingconnector/config.go:22-46`,
  * `connector/countconnector/config.go:34-52`). Config compiles ONCE,
  * driver-side, into Catalyst `Column` trees (the analog of the
  * collector's `Build()` at startup, `helper/parser.go:38-82`);
  * evaluation is vectorised whole-stage codegen.
  */
object PipelineConfig {

  /** One named-capture-group regex in the parse bank.
    * Reference: `pkg/stanza/operator/parser/regex/config.go` — Go RE2
    * `(?P<x>...)` syntax; ours is Java `(?<x>...)`. `fields` lists the
    * group names in order (Java regex can't enumerate them at runtime
    * portably, and explicit order keeps output schemas stable).
    */
  final case class PatternSpec(name: String, regex: String, fields: Seq[String])

  /** Error routing for unparseable rows — the stanza `on_error` policy
    * (`pkg/stanza/operator/helper/transformer.go:97-139`).
    * Send  = keep row, parsed fields null, `_error` column set.
    * Drop  = filter the row out.
    */
  sealed trait OnError
  object OnError {
    case object Send extends OnError
    case object Drop extends OnError
  }

  final case class ParseConfig(
      patterns: Seq[PatternSpec],
      sourceCol: String = "text",
      onError: OnError = OnError.Send
  )

  /** Attribute-action semantics of the attributes/resource processors
    * (`internal/coreinternal/attraction/attraction.go:109-129`). Governs
    * what a broadcast-join enrich does when the target column already
    * exists on the fact side.
    */
  sealed trait EnrichAction
  object EnrichAction {
    /** set only when absent/null on the fact side */
    case object Insert extends EnrichAction
    /** set only when present/non-null on the fact side */
    case object Update extends EnrichAction
    /** always set (dim value wins when matched) */
    case object Upsert extends EnrichAction
  }

  /** One route of the routing-connector table
    * (`connector/routingconnector/config.go:70-82`): a name (== sink id)
    * and a boolean predicate compiled to a Catalyst Column.
    */
  final case class RouteSpec(name: String, predicate: Column)

  /** Routing table. `matchOnce=true` → first-match-wins
    * (`connector/routingconnector/logs.go:87`); default collects rows
    * matching no route (`logs.go:94-97`).
    */
  final case class RouteTable(
      routes: Seq[RouteSpec],
      defaultName: String = "default",
      matchOnce: Boolean = false
  ) {
    // fail at CONSTRUCTION, not at read time: a route named like the
    // default sink (or two routes sharing a name) would silently
    // clobber a map entry in fanOut — rows matching the clobbered
    // predicate would then appear in NO output sink
    require(routes.map(_.name).distinct.size == routes.size,
      s"duplicate route names: ${routes.map(_.name).mkString(", ")}")
    require(!routes.exists(_.name == defaultName),
      s"route name collides with the default sink '$defaultName'")

    /** Every sink of the table: the routes in order, then the default. */
    def sinkNames: Seq[String] = routes.map(_.name) :+ defaultName
  }

  /** A group-by attribute of a count-connector metric
    * (`connector/countconnector/config.go:34-52`): if `default` is None
    * the attribute is REQUIRED and rows missing it are skipped
    * (`counter.go:71-73`); otherwise the default value substitutes.
    */
  final case class AttrSpec(key: String, default: Option[String] = None)

  /** One metric definition of the count connector
    * (`connector/countconnector/counter.go:38-106`): optional conditions
    * (OR-ed in the reference when multiple — `parser.go:332-362`) and
    * group-by attributes.
    */
  final case class MetricSpec(
      name: String,
      conditions: Seq[Column] = Nil,
      attrs: Seq[AttrSpec] = Nil
  )
}
