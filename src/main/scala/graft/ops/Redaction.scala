package graft.ops

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** The redaction processor over a `map<string,string>` attributes column
  * (`processor/redactionprocessor/processor.go:83-144` in
  * `/root/reference`, lists `:177-211`):
  *
  *   1. ignored keys pass through untouched;
  *   2. with `allowAllKeys=false`, keys outside the allowlist are
  *      DELETED (the audit keys themselves are always allowed);
  *   3. surviving values have every blocked-values regex match masked
  *      with `****` (each pattern applied in turn, like the reference's
  *      sequential ReplaceAllString);
  *   4. audit attributes summarize the changes: `redaction.redacted.keys`
  *      / `.count` for deletions, `redaction.masked.keys` / `.count` for
  *      maskings, `redaction.ignored.count` — keys sorted and
  *      comma-joined under `summary=debug`, counts under info|debug,
  *      and (like the reference's early return) only present when the
  *      corresponding count is non-zero.
  *
  * Counts are rendered as string values — the attributes map is
  * string-typed here, where the reference's pcommon.Map is variant.
  * One expression tree, no UDFs: map_filter/transform_values are
  * codegen'd by Catalyst.
  */
object Redaction {

  final case class Config(
      allowAllKeys: Boolean = true,
      allowedKeys: Seq[String] = Nil,
      ignoredKeys: Seq[String] = Nil,
      blockedValues: Seq[String] = Nil,
      summary: String = "info") // none | info | debug

  private val RedactedKeys = "redaction.redacted.keys"
  private val RedactedCount = "redaction.redacted.count"
  private val MaskedKeys = "redaction.masked.keys"
  private val MaskedCount = "redaction.masked.count"
  private val IgnoredCount = "redaction.ignored.count"
  private[graft] val AuditKeys = Seq(RedactedKeys, RedactedCount, MaskedKeys,
    MaskedCount, IgnoredCount)

  /** Redact one attributes map; returns the new map (surviving keys,
    * masked values, audit attributes). One codegen pass
    * ([[graft.functions.RedactAttrsExpr]]); the declarative rendering
    * below is the differential oracle. */
  def redactAttrs(m: Column, cfg: Config): Column = {
    import org.apache.spark.sql.graftbridge.Bridge
    Bridge.column(graft.functions.RedactAttrsExpr(Bridge.expression(m), cfg))
  }

  /** Declarative map_filter/transform_values rendering of
    * [[redactAttrs]] (differential oracle — identical semantics): ~10
    * interpreted-lambda passes over the map per row, NOT for hot paths. */
  def redactAttrsDeclarative(m: Column, cfg: Config): Column = {
    def isIgnored(k: Column): Column =
      if (cfg.ignoredKeys.isEmpty) lit(false) else k.isin(cfg.ignoredKeys: _*)
    def isAllowed(k: Column): Column =
      if (cfg.allowAllKeys) lit(true)
      else k.isin((cfg.allowedKeys ++ AuditKeys): _*)
    def matchesBlocked(v: Column): Column =
      if (cfg.blockedValues.isEmpty) lit(false)
      else cfg.blockedValues.map(v.rlike).reduce(_ || _)

    // drop STALE audit attributes first: re-redacting already-redacted
    // data (the processor at two pipeline stages) would otherwise carry
    // the old audit entries into maskedPart and map_concat them with
    // this pass's same-keyed audits → DUPLICATED_MAP_KEY at runtime;
    // this pass's audit REPLACES the previous one (the reference
    // upserts audit attrs — same observable result)
    val base = map_filter(m, (k, _) => !k.isin(AuditKeys: _*))
    val ignoredPart = map_filter(base, (k, _) => isIgnored(k))
    val allowedPart = map_filter(base, (k, _) => !isIgnored(k) && isAllowed(k))
    val deletedKeys = sort_array(map_keys(
      map_filter(base, (k, _) => !isIgnored(k) && !isAllowed(k))))
    val maskedKeys = sort_array(map_keys(
      map_filter(allowedPart, (_, v) => matchesBlocked(v))))
    val maskedPart = transform_values(allowedPart, (_, v) =>
      cfg.blockedValues.foldLeft(v)((acc, re) => regexp_replace(acc, re, "****")))
    val ignoredCount = size(map_entries(ignoredPart))

    // typed empty map<string,string> (bare map() would be map<null,null>
    // and map_concat would reject the mix)
    val emptyMap = map_filter(m, (_, _) => lit(false))
    def audit(cond: Column, key: String, value: Column): Column =
      when(cond, map(lit(key), value.cast("string"))).otherwise(emptyMap)

    val debugOn = cfg.summary == "debug"
    val infoOn = cfg.summary == "info" || debugOn
    val audits = Seq(
      if (debugOn) audit(size(deletedKeys) > 0, RedactedKeys, array_join(deletedKeys, ",")) else emptyMap,
      if (infoOn) audit(size(deletedKeys) > 0, RedactedCount, size(deletedKeys)) else emptyMap,
      if (debugOn) audit(size(maskedKeys) > 0, MaskedKeys, array_join(maskedKeys, ",")) else emptyMap,
      if (infoOn) audit(size(maskedKeys) > 0, MaskedCount, size(maskedKeys)) else emptyMap,
      if (infoOn) audit(ignoredCount > 0, IgnoredCount, ignoredCount) else emptyMap)

    (Seq(ignoredPart, maskedPart) ++ audits).reduce(map_concat(_, _))
  }
}
