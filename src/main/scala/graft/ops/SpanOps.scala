package graft.ops

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** The span processor (`processor/spanprocessor/span.go` in
  * `/root/reference`): span rename from attributes, attribute extraction
  * from the span name, and status update — the traces-context sibling of
  * the attributes processor, expressed as pure column functions.
  */
object SpanOps {

  /** from_attributes rename (`span.go:99-158`): new name = the listed
    * attribute values joined by `separator`; if ANY key is missing the
    * name is left untouched (the reference returns early). */
  def renameFromAttributes(name: Column, attrs: Column, keys: Seq[String],
                           separator: String = ""): Column = {
    val vals = keys.map(k => element_at(attrs, k))
    when(vals.map(_.isNotNull).reduce(_ && _), concat_ws(separator, vals: _*))
      .otherwise(name)
  }

  /** to_attributes (`span.go:160-225`): named-group extraction from the
    * span name with in-name `{group}` substitution, rules chained on the
    * rewritten name. Returns struct(name, attrs). */
  def toAttributes(name: Column, rules: Seq[String],
                   breakAfterMatch: Boolean = false): Column = {
    import org.apache.spark.sql.graftbridge.Bridge
    Bridge.column(graft.functions.SpanToAttributes(
      Bridge.expression(name), rules, breakAfterMatch))
  }
}
