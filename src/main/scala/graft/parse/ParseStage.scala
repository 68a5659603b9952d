package graft.parse

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge

import graft.functions.MultiPatternExtract
import graft.model.PipelineConfig._

/** Parse stage — the stanza parser chain re-expressed as declarative
  * column projections (SURVEY.md §2.2).
  *
  * Frame semantics preserved from the reference
  * (`pkg/stanza/operator/helper/parser.go:101-187`,
  * `helper/transformer.go:97-139`, in `/root/reference`):
  *   - first-matching-pattern wins per row (router-style bank);
  *   - `on_error=send`: keep row, parsed fields null, `_error` set with
  *     the reference's message text (`parser/regex/parser.go:55`);
  *   - `on_error=drop`: filter the row out.
  *
  * Everything stays a native Catalyst expression — predicate pushdown,
  * column pruning and whole-stage codegen survive (SURVEY.md §4).
  */
object ParseStage {

  val ErrorMessage = "regex pattern does not match"

  /** struct(pattern, fields) column from the one-pass bank expression. */
  def extract(source: Column, patterns: Seq[PatternSpec]): Column =
    Bridge.column(
      MultiPatternExtract(Bridge.expression(source), patterns))

  /** Apply a parse config: adds `pattern: string`, `parsed:
    * map<string,string>` and (on_error=send) `_error: string` columns.
    *
    * With `barrier=true` (default) the bank expression is wrapped in
    * `explode(array(…))` — a one-row-per-row Generate. This is an
    * optimizer BARRIER, not a decoration: a plain projection gets its
    * alias inlined by `PushDownPredicates`/`CollapseProject` into every
    * downstream filter and grouping key, so count-over-parsed plans
    * evaluated the bank (the most expensive expression in the engine)
    * TWICE per row (verified in round 2: two `multi_pattern_extract`
    * occurrences in p12's optimized plan). Filters and grouping keys
    * can reference a generator's output only as an attribute — Catalyst
    * cannot inline through Generate — so the bank runs exactly once per
    * row; PlanSpec gates on the occurrence count. GenerateExec
    * participates in whole-stage codegen, and predicates on OTHER
    * columns still push through the Generate into the scan.
    *
    * `barrier=false` keeps the round-2 plain projection for callers
    * whose downstream plan is PROVEN single-eval by a plan gate (the
    * flagship pipeline: PlanSpec counts occurrences) — measured on the
    * same ambient window (8M turns, 16 cores; BENCH.md): the Generate
    * costs ~10% on an already-single-eval plan (4.45 s vs 4.05 s
    * flagship) while saving ~20% where the inline would double-eval
    * (p12: 1.06 s barrier vs 1.32 s plain). */
  def apply(df: DataFrame, config: ParseConfig,
            barrier: Boolean = true): DataFrame = {
    val ex = extract(col(config.sourceCol), config.patterns)
    val exCol = if (barrier) explode(array(ex)) else ex
    val withParsed = df
      .withColumn("_x", exCol)
      .withColumn("pattern", col("_x.pattern"))
      .withColumn("parsed", col("_x.fields"))
      .drop("_x")
    config.onError match {
      case OnError.Drop => withParsed.filter(col("pattern").isNotNull)
      case OnError.Send =>
        withParsed.withColumn(
          "_error",
          when(col("pattern").isNull, lit(ErrorMessage)).otherwise(lit(null: String)))
    }
  }

  // ---- sub-parsers (reference `helper/parser.go:152-186` post-parse ops) ----

  /** Timestamp parse (`pkg/stanza/operator/helper/time.go:19-83`):
    * strptime/gotime layouts map to Java patterns; epoch variants below.
    * try_to_timestamp / try_cast throughout, NOT the plain forms: a
    * malformed stamp is a per-row parse failure (null, handled by the
    * on_error policy) — under Spark 4's default ANSI mode a plain
    * to_timestamp or cast would abort the WHOLE query on the first bad
    * value (the same contract nullif defends in Parsers' int casts). */
  def parseTime(c: Column, javaFormat: String): Column =
    try_to_timestamp(c, lit(javaFormat))

  /** Config-driven time parse with the reference's layout_type dispatch
    * (`time.go:101-132`): strptime layouts translate via the ctimefmt
    * table, gotime via the reference-time tokens, epoch via its unit
    * sub-layouts (`time.go:83-96`). */
  def parseTime(c: Column, layoutType: String, layout: String): Column =
    layoutType match {
      // space-padded day directives (strptime %e, gotime _2 — the
      // classic syslog "Jan  5" alignment) have no Spark pattern
      // equivalent (no pad modifier in Spark's datetime patterns, both
      // translate to bare "d"), so squeeze interior space runs in the
      // VALUE before parsing — that is exactly the information the
      // padding carries
      case "strptime" =>
        val v = if (layout.contains("%e")) regexp_replace(c, "  +", " ") else c
        try_to_timestamp(v, lit(TimeFormats.strptimeToJava(layout)))
      case "gotime" =>
        val v = if (layout.contains("_2")) regexp_replace(c, "  +", " ") else c
        try_to_timestamp(v, lit(TimeFormats.gotimeToJava(layout)))
      case "epoch" => layout match {
        case "s" => parseEpochSeconds(c)
        case "ms" => parseEpochMillis(c)
        case "us" => timestamp_micros(c.try_cast("long"))
        // integral division (`div` = IntegralDivide), NOT `/`: Column `/`
        // promotes to double, whose 2^53 mantissa loses µs precision for
        // modern nanosecond epochs (~1.7e18, ulp ≈ 256 ns)
        case "ns" => timestamp_micros(
          call_function("div", c.try_cast("long"), lit(1000L)))
        case "s.ms" | "s.us" | "s.ns" => // fractional seconds as double
          timestamp_micros((c.try_cast("double") * 1e6).try_cast("long"))
        case other => throw new IllegalArgumentException(s"invalid epoch layout: $other")
      }
      case other => throw new IllegalArgumentException(s"unknown layout_type: $other")
    }
  def parseEpochSeconds(c: Column): Column = timestamp_seconds(c.try_cast("long"))
  def parseEpochMillis(c: Column): Column = timestamp_millis(c.try_cast("long"))

  /** Severity mapping — the reference's FULL default builtin table
    * (`helper/severity_builder.go:17-87`: otel aliases with 2/3/4
    * sub-levels, numeric strings "1".."24", plus the default extras
    * warningN / errN; enum values from `pkg/stanza/entry/severity.go:13-53`,
    * Default=0 Trace=1 Debug=5 Info=9 Warn=13 Error=17 Fatal=21).
    * Compiled to one CASE chain (codegen'd), not a per-row map lookup. */
  val severityAliases: Seq[(String, Int)] = {
    val bases = Seq("trace" -> 1, "debug" -> 5, "info" -> 9, "warn" -> 13,
      "error" -> 17, "fatal" -> 21)
    val subLevels = bases.flatMap { case (name, base) =>
      Seq(name -> base) ++ (2 to 4).map(i => s"$name$i" -> (base + i - 1))
    }
    val numeric = (1 to 24).map(i => i.toString -> i)
    val extras = Seq("warning" -> 13, "warning2" -> 14, "warning3" -> 15,
      "warning4" -> 16, "err" -> 17, "err2" -> 18, "err3" -> 19, "err4" -> 20)
    subLevels ++ numeric ++ extras
  }
  def parseSeverity(c: Column): Column = {
    import org.apache.spark.sql.graftbridge.Bridge
    Bridge.column(graft.functions.SeverityLookup(
      Bridge.expression(c), severityAliases)).as("severity_num")
  }

  /** Custom severity mapping on top of the builtin table
    * (`severity_builder.go:94-104,205-214`): the special values
    * `2xx`..`5xx` match every HTTP status in that range (the reference
    * expands them to the 100 exact strings, `expandRange`; an anchored
    * 3-digit regex matches the identical string set); other values
    * compare lowercased. Later entries win, like map insertion order. */
  def parseSeverityMapped(c: Column, mapping: Seq[(String, Int)]): Column = {
    val lc = lower(c)
    mapping.foldLeft(parseSeverity(c): Column) { case (acc, (value, num)) =>
      value match {
        case "2xx" | "3xx" | "4xx" | "5xx" =>
          when(lc.rlike("^" + value.head + "[0-9][0-9]$"), lit(num)).otherwise(acc)
        case v => when(lc === v.toLowerCase(java.util.Locale.ROOT), lit(num)).otherwise(acc)
      }
    }.as("severity_num")
  }

  /** filter transformer `drop_ratio`
    * (`pkg/stanza/operator/transformer/filter/transformer.go:26-56`):
    * rows matching `predicate` are dropped with probability `dropRatio`.
    * The reference draws crypto-random per entry (`randInt:47`); a
    * distributed batch engine needs the decision to be a pure function
    * of the row (retries and speculative tasks must agree), so the draw
    * is the same Knuth-hash consistent sampler as the probabilistic
    * sampler: keep iff hash(key) mod 1000 >= dropRatio*1000. */
  def dropRatioFilter(df: DataFrame, predicate: Column, dropRatio: Double,
                      key: Column): DataFrame = {
    val cutoff = math.round(dropRatio * 1000).toInt
    // overflow-safe masked Knuth bucket — see ConsistentHash. A null key
    // KEEPS the row (the sampler can't decide → conservative, and `null
    // >= cutoff` would otherwise silently drop every null-keyed row).
    df.filter(!coalesce(predicate, lit(false)) ||
      coalesce(graft.functions.ConsistentHash.knuthBucket(key, 1000)
        >= cutoff, lit(true)))
  }

  /** JSON body parse (`parser/json/parser.go:23-39`). */
  def parseJsonField(c: Column, path: String): Column = get_json_object(c, path)

  /** CSV parse (`parser/csv/parser.go:29-107`). */
  def parseCsv(c: Column, schemaDdl: String): Column =
    from_csv(c, lit(schemaDdl), new java.util.HashMap[String, String]())

  /** key=value parse (`parser/keyvalue/parser.go:23-48`). */
  def parseKeyValue(c: Column, pairDelim: String = " ", kvDelim: String = "="): Column =
    str_to_map(c, lit(pairDelim), lit(kvDelim))

  /** URI parse (`parser/uri/parser.go:22-121`). */
  def parseUriPart(c: Column, part: String): Column = parse_url(c, lit(part))

  /** Trace parse (`helper/trace.go`): hex → binary. */
  def parseTraceId(c: Column): Column = unhex(c)
}
