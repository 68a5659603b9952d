package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** The OTTL editor/converter surface (reference `pkg/ottl/ottlfuncs/`,
  * index `ottlfuncs/README.md:36-1301` in `/root/reference`) mapped to
  * native Spark column functions — the reference's "UDF library" with no
  * UDFs (SURVEY.md §2.7). Names follow OTTL; semantics follow the cited
  * func_*.go implementations.
  *
  * Editors mutate a map-typed attributes column; converters are pure.
  */
object Ottl {

  // ---------------- editors (func_set.go, func_delete_key.go, ...) ----------------

  /** set(map[key], value) — upsert one key. */
  def setKey(m: Column, key: String, value: Column): Column =
    map_concat(map_filter(m, (k, _) => k =!= key), map(lit(key), value))

  /** delete_key(map, key). */
  def deleteKey(m: Column, key: String): Column =
    map_filter(m, (k, _) => k =!= key)

  /** delete_matching_keys(map, regex). */
  def deleteMatchingKeys(m: Column, regex: String): Column =
    map_filter(m, (k, _) => !k.rlike(regex))

  /** keep_keys(map, keys). */
  def keepKeys(m: Column, keys: Seq[String]): Column =
    map_filter(m, (k, _) => k.isin(keys: _*))

  /** keep_matching_keys(map, regex). */
  def keepMatchingKeys(m: Column, regex: String): Column =
    map_filter(m, (k, _) => k.rlike(regex))

  /** merge_maps(target, source, strategy) — func_merge_maps.go:
    * upsert = source wins; insert = only new keys; update = only existing. */
  def mergeMaps(target: Column, source: Column, strategy: String): Column = strategy match {
    case "upsert" => map_concat(map_filter(target, (k, _) => !array_contains(map_keys(source), k)), source)
    case "insert" => map_concat(target, map_filter(source, (k, _) => !array_contains(map_keys(target), k)))
    case "update" => map_concat(
      map_filter(target, (k, _) => !array_contains(map_keys(source), k)),
      map_filter(source, (k, _) => array_contains(map_keys(target), k)))
    case other => throw new IllegalArgumentException(s"unknown merge strategy: $other")
  }

  /** limit(map, n) — keep at most n entries (entry order). */
  def limitMap(m: Column, n: Int): Column =
    map_from_entries(slice(map_entries(m), 1, n))

  /** truncate_all(map, n) — truncate every string value to n chars. */
  def truncateAll(m: Column, n: Int): Column =
    transform_values(m, (_, v) => substring(v, 1, n))

  /** replace_match(target, glob, replacement) — whole-value glob. */
  def replaceMatch(c: Column, glob: String, replacement: String): Column = {
    val re = "^" + java.util.regex.Pattern.quote(glob)
      .replace("*", "\\E.*\\Q").replace("?", "\\E.\\Q") + "$"
    when(c.rlike(re), lit(replacement)).otherwise(c)
  }

  /** replace_pattern(target, regex, replacement). */
  def replacePattern(c: Column, regex: String, replacement: String): Column =
    regexp_replace(c, regex, replacement)

  /** replace_all_patterns over map values. */
  def replaceAllPatterns(m: Column, regex: String, replacement: String): Column =
    transform_values(m, (_, v) => regexp_replace(v, regex, replacement))

  /** replace_all_matches(map, glob, replacement) — whole-value glob over
    * every map value (func_replace_all_matches.go: values matching the
    * glob are replaced wholesale, others untouched). */
  def replaceAllMatches(m: Column, glob: String, replacement: String): Column =
    transform_values(m, (_, v) => replaceMatch(v, glob, replacement))

  // ---------------- converters (pure; func_*.go) ----------------

  /** Concat (func_concat.go): nil values render as EMPTY STRING with
    * their delimiters kept — bare concat_ws would silently DROP a null
    * element and its delimiter, shifting field positions for any
    * downstream split of the joined value. */
  def ottlConcat(sep: String, cols: Column*): Column =
    concat_ws(sep, cols.map(c => coalesce(c.cast("string"), lit(""))): _*)

  /** ConvertCase — upper/lower/snake/camel (func_convert_case.go). */
  def convertCase(c: Column, to: String): Column = to match {
    case "upper" => upper(c)
    case "lower" => lower(c)
    case "snake" => lower(regexp_replace(c, "([a-z0-9])([A-Z])", "$1_$2"))
    case "camel" => {
      // split on _, capitalize each part, join (func_convert_case.go camel)
      array_join(transform(split(c, "_"), p => initcap(p)), "")
    }
    case other => throw new IllegalArgumentException(s"unknown case: $other")
  }

  def ottlSubstring(c: Column, start: Int, len: Int): Column = substring(c, start + 1, len)
  def ottlSplit(c: Column, sep: String): Column = split(c, java.util.regex.Pattern.quote(sep))
  def ottlLen(c: Column): Column = length(c)
  def isMatch(c: Column, regex: String): Column = c.rlike(regex)

  /** ExtractPatterns — named groups → map (the grok primitive,
    * func_extract_patterns.go). One-pass via MultiPatternExtract. */
  def extractPatterns(c: Column, regex: String, fields: Seq[String]): Column = {
    import graft.model.PipelineConfig.PatternSpec
    import org.apache.spark.sql.graftbridge.Bridge
    Bridge.column(MultiPatternExtract(Bridge.expression(c),
      Seq(PatternSpec("p", regex, fields)))).getField("fields")
  }

  def parseJson(c: Column, schemaDdl: String): Column = from_json(c, lit(schemaDdl),
    new java.util.HashMap[String, String]())
  def parseCsv(c: Column, schemaDdl: String): Column = from_csv(c, lit(schemaDdl),
    new java.util.HashMap[String, String]())
  def parseKeyValue(c: Column, pairSep: String = " ", kvSep: String = "="): Column =
    str_to_map(c, lit(pairSep), lit(kvSep))
  /** ParseXML (func_parse_xml.go) — document → typed struct via the
    * native XML parser (one StAX pass per row; attributes surface with
    * the `_` prefix). Preferred at scale over per-path XPath, which
    * builds a DOM per row per path. */
  def parseXml(c: Column, schemaDdl: String): Column =
    from_xml(c, lit(schemaDdl), new java.util.HashMap[String, String]())
  /** XPath-style access variants of ParseXML (element / numeric). */
  def parseXmlString(c: Column, path: String): Column =
    xpath_string(c, lit(path))
  def parseXmlLong(c: Column, path: String): Column =
    xpath_long(c, lit(path))

  def base64Decode(c: Column): Column = unbase64(c).cast("string")

  def sha1Hex(c: Column): Column = sha1(c.cast("binary"))
  def sha256Hex(c: Column): Column = sha2(c.cast("binary"), 256)

  /** FNV-1a 64-bit, bit-identical to Go's hash/fnv (func_fnv.go) — a
    * custom codegen expression because the wrapping multiply traps under
    * ANSI arithmetic. */
  def fnv1a64(c: Column): Column = {
    import org.apache.spark.sql.graftbridge.Bridge
    Bridge.column(Fnv1a64(Bridge.expression(c)))
  }

  def timeParse(c: Column, fmt: String): Column = to_timestamp(c, fmt)
  def truncateTime(c: Column, unit: String): Column = date_trunc(unit, c)
  def unixSeconds(c: Column): Column = unix_seconds(c.cast("timestamp"))
  def unixMillis(c: Column): Column = unix_millis(c.cast("timestamp"))
  def unixMicros(c: Column): Column = unix_micros(c.cast("timestamp"))
  /** UnixNano (func_unix_nano.go) — timestamp precision is µs, so the
    * nano rendering is exact ×1000. */
  def unixNanos(c: Column): Column = unix_micros(c.cast("timestamp")) * 1000L
  /** Unix(seconds[, nanoseconds]) → timestamp (func_unix.go).
    * `div` = IntegralDivide: exact long division like the duration
    * accessors — a double `/` would lose precision above 2^53 nanos.
    * (Truncation toward zero for negative nanos; Go floor-normalizes,
    * out of range for the pipeline's non-negative fractional nanos.) */
  def unixToTime(sec: Column, nanos: Column = lit(0L)): Column =
    timestamp_micros(sec.cast("long") * 1000000L
      + call_function("div", nanos.cast("long"), lit(1000L)))
  /** Now() (func_now.go). Wall-clock at PLAN time per Spark semantics —
    * current_timestamp() is fixed per query (all rows agree), which is
    * the right distributed rendering of the collector's per-batch clock;
    * speculative retries must not disagree on "now". */
  def now(): Column = current_timestamp()
  def hourOf(c: Column): Column = hour(c)
  def durationSeconds(c: Column): Column = { // Duration("-1h2m3.5s") → seconds
    // Go time.ParseDuration unit grammar: h, m, s, ms, us/µs, ns — each
    // with an optional fraction. Unit-boundary care: the minutes regex
    // needs (?!s) so it can't grab the 'm' of "100ms" (which previously
    // read as 100 MINUTES); the plain-seconds regex requires a digit
    // right before 's', which already excludes ms/us/ns tails.
    // regexp_extract yields "" on no-match; nullif keeps ANSI casts happy.
    def part(re: String) = nullif(regexp_extract(c, re, 1), lit(""))
    def num(re: String) = coalesce(part(re).cast("double"), lit(0.0))
    val magnitude =
      num("(\\d+(?:\\.\\d+)?)h") * 3600.0 +
      num("(\\d+(?:\\.\\d+)?)m(?!s)") * 60.0 +
      num("(\\d+(?:\\.\\d+)?)s") +
      num("(\\d+(?:\\.\\d+)?)ms") / 1e3 +
      num("(\\d+(?:\\.\\d+)?)[uµ]s") / 1e6 +
      num("(\\d+(?:\\.\\d+)?)ns") / 1e9
    // Go's grammar takes one leading sign for the whole duration
    // ("-1.5h" = -5400 s) — the unit regexes see only the digits, so
    // without this the sign silently vanished
    when(c.startsWith("-"), -magnitude).otherwise(magnitude)
  }
  /** Duration-unit family (func_hours.go, func_minutes.go, …):
    * Hours/Minutes/Seconds return float64, Milliseconds/Microseconds/
    * Nanoseconds int64 — exactly Go `time.Duration`'s accessor types. */
  def durationHours(c: Column): Column = durationSeconds(c) / 3600.0
  def durationMinutes(c: Column): Column = durationSeconds(c) / 60.0
  // Go's Duration is an exact integer-nanosecond count, and its
  // Milliseconds()/Microseconds() accessors TRUNCATE sub-unit remainders
  // of that exact count. A double seconds*1e9 product carries binary-
  // representation error (0.3s * 1e9 = 2.9999999999999994e8; a bare
  // bigint cast under-reads by 1 ns vs Go's 300000000) — so round ONCE
  // at the nanos level, where the true value is integral, then derive
  // millis/micros by integer division to keep Go's truncation.
  def durationNanos(c: Column): Column = round(durationSeconds(c) * 1e9).cast("bigint")
  def durationMillis(c: Column): Column = // `div` = IntegralDivide: exact long division
    call_function("div", durationNanos(c), lit(1000000L))
  def durationMicros(c: Column): Column =
    call_function("div", durationNanos(c), lit(1000L))

  def ottlLog(c: Column): Column = log(c)
  def toInt(c: Column): Column = c.cast("bigint")
  def toDouble(c: Column): Column = c.cast("double")
  def toStringCol(c: Column): Column = c.cast("string")
  def traceIdFromHex(c: Column): Column = unhex(c)
  def spanIdFromHex(c: Column): Column = unhex(c)

  // ---------------- dynamic-type predicates (func_is_bool.go …) ----------------

  /** IsBool/IsDouble/IsInt/IsString/IsMap/IsList over VARIANT-typed
    * columns (the Spark rendering of pcommon.Value's dynamic type):
    * `parse_json` a raw value into a variant, then test its runtime
    * schema. Strings stay strings — IsDouble("1.5") is false, exactly
    * like the reference's type switch. */
  def isBool(c: Column): Column = schema_of_variant(c) === "BOOLEAN"
  /** JSON fractional numbers surface as DECIMAL(p,s) in the variant
    * schema; pcommon treats any fractional number as Double. */
  def isDouble(c: Column): Column =
    schema_of_variant(c) === "DOUBLE" || schema_of_variant(c).startsWith("DECIMAL")
  def isInt(c: Column): Column = schema_of_variant(c) === "BIGINT"
  def isString(c: Column): Column = schema_of_variant(c) === "STRING"
  def isMap(c: Column): Column = schema_of_variant(c).startsWith("OBJECT")
  def isList(c: Column): Column = schema_of_variant(c).startsWith("ARRAY")

  /** Simultaneous map lookup as a when-chain: every branch compares
    * against the ORIGINAL `src`, never the already-rewritten
    * accumulator, so pairs (a→b, b→c) rewrite "a" to "b" (not cascade to
    * "c") and a↔b swaps don't corrupt — the single-lookup semantics of
    * the reference's rename maps (`operation_update_label.go`; schema
    * processor revision maps). Shared by MetricsTransform.updateLabel
    * and SchemaTransform.translateAttrs so the subtlety lives once. */
  def simultaneousRemap(src: Column, pairs: Seq[(String, String)]): Column =
    pairs.foldLeft(src) { case (acc, (from, to)) =>
      when(src === from, lit(to)).otherwise(acc)
    }
}
