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

  def parseKeyValue(c: Column, pairSep: String = " ", kvSep: String = "="): Column =
    str_to_map(c, lit(pairSep), lit(kvSep))
  /** ParseXML (func_parse_xml.go) — document → typed struct via the
    * native XML parser (one StAX pass per row; attributes surface with
    * the `_` prefix). Preferred at scale over per-path XPath, which
    * builds a DOM per row per path. */
  def parseXml(c: Column, schemaDdl: String): Column =
    from_xml(c, lit(schemaDdl), new java.util.HashMap[String, String]())

  def sha1Hex(c: Column): Column = sha1(c.cast("binary"))
  def sha256Hex(c: Column): Column = sha2(c.cast("binary"), 256)

  /** FNV-1a 64-bit, bit-identical to Go's hash/fnv (func_fnv.go) — a
    * custom codegen expression because the wrapping multiply traps under
    * ANSI arithmetic. */
  def fnv1a64(c: Column): Column = {
    import org.apache.spark.sql.graftbridge.Bridge
    Bridge.column(Fnv1a64(Bridge.expression(c)))
  }

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
  /** Duration-unit family (func_hours.go, …): Hours/Seconds return
    * float64, Milliseconds/Nanoseconds int64 — exactly Go
    * `time.Duration`'s accessor types. */
  def durationHours(c: Column): Column = durationSeconds(c) / 3600.0
  // Go's Duration is an exact integer-nanosecond count, and its
  // Milliseconds()/Microseconds() accessors TRUNCATE sub-unit remainders
  // of that exact count. A double seconds*1e9 product carries binary-
  // representation error (0.3s * 1e9 = 2.9999999999999994e8; a bare
  // bigint cast under-reads by 1 ns vs Go's 300000000) — so round ONCE
  // at the nanos level, where the true value is integral, then derive
  // millis by integer division to keep Go's truncation.
  def durationNanos(c: Column): Column = round(durationSeconds(c) * 1e9).cast("bigint")
  def durationMillis(c: Column): Column = // `div` = IntegralDivide: exact long division
    call_function("div", durationNanos(c), lit(1000000L))

  def ottlLog(c: Column): Column = log(c)
  def toStringCol(c: Column): Column = c.cast("string")
  def spanIdFromHex(c: Column): Column = unhex(c)

  /** Simultaneous map lookup as a when-chain: every branch compares
    * against the ORIGINAL `src`, never the already-rewritten
    * accumulator, so pairs (a→b, b→c) rewrite "a" to "b" (not cascade to
    * "c") and a↔b swaps don't corrupt — the single-lookup semantics of
    * the reference's rename maps (`operation_update_label.go`; schema
    * processor revision maps), used by MetricsTransform.updateLabel. */
  def simultaneousRemap(src: Column, pairs: Seq[(String, String)]): Column =
    pairs.foldLeft(src) { case (acc, (from, to)) =>
      when(src === from, lit(to)).otherwise(acc)
    }
}
