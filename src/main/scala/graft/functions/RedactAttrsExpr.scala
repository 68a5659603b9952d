package graft.functions

import java.util.regex.Pattern

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, GenericArrayData, MapData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** One-pass redaction over a `map<string,string>` attributes column —
  * the codegen replacement for the declarative
  * [[graft.ops.Redaction.redactAttrs]] expression tree, whose ~10
  * `map_filter`/`transform_values` passes run their lambdas interpreted
  * per entry (the dominant cost of the redaction query at sf0.1:
  * measured ~5 s for 100k rows × 5 keys). Semantics are identical and
  * pinned by a differential test: ignore list passes through, keys
  * outside the allowlist are deleted, blocked-value patterns mask every
  * match with `****` (detection on the ORIGINAL value, patterns folded
  * sequentially), audit attributes appear only when the corresponding
  * count is non-zero (key lists under summary=debug, counts under
  * info|debug), entry order = ignored ++ masked-allowed ++ audits.
  *
  * Reference: `processor/redactionprocessor/processor.go:83-144`.
  */
case class RedactAttrsExpr(child: Expression, cfg: graft.ops.Redaction.Config)
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case MapType(StringType, StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"redact_attrs requires map<string,string>, got ${other.catalogString}")
  }

  override def dataType: DataType =
    MapType(StringType, StringType, valueContainsNull = true)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "redact_attrs"

  @transient private lazy val ignoredSet: java.util.HashSet[String] = {
    val s = new java.util.HashSet[String]()
    cfg.ignoredKeys.foreach(s.add)
    s
  }
  @transient private lazy val allowedSet: java.util.HashSet[String] = {
    val s = new java.util.HashSet[String]()
    (cfg.allowedKeys ++ Seq("redaction.redacted.keys", "redaction.redacted.count",
      "redaction.masked.keys", "redaction.masked.count",
      "redaction.ignored.count")).foreach(s.add)
    s
  }
  @transient private lazy val auditKeySet: java.util.HashSet[String] = {
    val s = new java.util.HashSet[String]()
    graft.ops.Redaction.AuditKeys.foreach(s.add)
    s
  }
  @transient private lazy val blockedRes: Array[Pattern] =
    cfg.blockedValues.map(Pattern.compile).toArray
  @transient private lazy val debugOn = cfg.summary == "debug"
  @transient private lazy val infoOn = cfg.summary == "info" || debugOn

  /** Public so generated code can call it. */
  def redact(m: MapData): MapData = {
    val n = m.numElements()
    val ks = m.keyArray()
    val vs = m.valueArray()
    // classification in entry order
    val ignoredK = new java.util.ArrayList[UTF8String](2)
    val ignoredV = new java.util.ArrayList[UTF8String](2)
    val keptK = new java.util.ArrayList[UTF8String](n)
    val keptV = new java.util.ArrayList[UTF8String](n)
    val deleted = new java.util.ArrayList[String](2)
    val masked = new java.util.ArrayList[String](2)
    var i = 0
    while (i < n) {
      val k = ks.getUTF8String(i)
      val kStr = k.toString
      val v = if (vs.isNullAt(i)) null else vs.getUTF8String(i)
      if (auditKeySet.contains(kStr)) {
        // stale audit attribute from a previous redaction pass: dropped
        // and replaced by THIS pass's audit (duplicate map keys
        // otherwise; the declarative oracle in ProcessorOpsSpec strips
        // them the same way)
      } else if (ignoredSet.contains(kStr)) {
        ignoredK.add(k); ignoredV.add(v)
      } else if (!cfg.allowAllKeys && !allowedSet.contains(kStr)) {
        deleted.add(kStr)
      } else if (v == null) {
        keptK.add(k); keptV.add(null)
      } else {
        var sv = v.toString
        var hit = false
        var p = 0
        while (p < blockedRes.length) {
          // ONE matcher per pattern: replaceAll resets before scanning,
          // so reusing the find() matcher halves the regex passes; the
          // replaceAll only runs when the pattern actually matched
          val m = blockedRes(p).matcher(sv)
          if (m.find()) { hit = true; sv = m.replaceAll("****") }
          p += 1
        }
        if (hit) masked.add(kStr)
        keptK.add(k)
        // untouched values keep the original UTF8String — no re-encode
        keptV.add(if (hit) UTF8String.fromString(sv) else v)
      }
      i += 1
    }
    val outK = new java.util.ArrayList[UTF8String](n + 5)
    val outV = new java.util.ArrayList[UTF8String](n + 5)
    outK.addAll(ignoredK); outV.addAll(ignoredV)
    outK.addAll(keptK); outV.addAll(keptV)
    def add(k: String, v: String): Unit = {
      outK.add(UTF8String.fromString(k)); outV.add(UTF8String.fromString(v))
    }
    if (!deleted.isEmpty) {
      java.util.Collections.sort(deleted)
      if (debugOn) add("redaction.redacted.keys", String.join(",", deleted))
      if (infoOn) add("redaction.redacted.count", deleted.size.toString)
    }
    if (!masked.isEmpty) {
      java.util.Collections.sort(masked)
      if (debugOn) add("redaction.masked.keys", String.join(",", masked))
      if (infoOn) add("redaction.masked.count", masked.size.toString)
    }
    if (infoOn && !ignoredK.isEmpty)
      add("redaction.ignored.count", ignoredK.size.toString)
    new ArrayBasedMapData(
      new GenericArrayData(outK.toArray.asInstanceOf[Array[Any]]),
      new GenericArrayData(outV.toArray.asInstanceOf[Array[Any]]))
  }

  override def nullSafeEval(input: Any): Any =
    redact(input.asInstanceOf[MapData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val refTerm = ctx.addReferenceObj("rda", this, classOf[RedactAttrsExpr].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $refTerm.redact($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): RedactAttrsExpr =
    copy(child = newChild)
}
