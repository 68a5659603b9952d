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
    * in ProcessorOpsSpec is the differential oracle. */
  def redactAttrs(m: Column, cfg: Config): Column = {
    import org.apache.spark.sql.graftbridge.Bridge
    Bridge.column(graft.functions.RedactAttrsExpr(Bridge.expression(m), cfg))
  }
}
