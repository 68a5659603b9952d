package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** Token n-gram shingles of a space-separated string in ONE byte-level
  * pass — `hashed = true` emits `array<bigint>` of xxhash64(shingle)
  * instead of the strings (the shuffle-slimming path); `distinct =
  * false` keeps EVERY window in document order (array index = 0-based
  * token position of the window start — the positional form consumed by
  * duplicated-span detection and repetition metrics, where
  * multiplicity and position carry the signal).
  *
  * Bit-identical to the HOF rendering (`graft.ops.HofOracles.shinglesHof`, test sources)
  * `array_distinct(transform(sequence(0, greatest(0, size(toks)-n)),
  * i -> concat_ws(" ", get(toks, i), …, get(toks, i+n-1))))` with
  * `toks = split(text, " ")` — but that form re-evaluates the `split`
  * inside every lambda invocation (the outer `toks` is not a lambda
  * variable, so each of the n `get`s re-splits the whole string), making
  * it O(tokens²) interpreted work per row; this expression is O(bytes).
  *
  * The equivalence rests on two invariants of the HOF form:
  *   - tokens are the byte spans between single 0x20 bytes (regex " "
  *     with limit -1: empties kept, and a UTF-8 continuation byte can
  *     never be 0x20), so a window of n consecutive tokens re-joined by
  *     " " is exactly the contiguous input substring from the start of
  *     token i to the end of token i+n-1 — including runs of spaces;
  *   - for docs shorter than n tokens there is exactly one window
  *     (sequence(0, greatest(0, L-n)) = [0]) whose out-of-range `get`s
  *     are nulls that concat_ws skips, i.e. the whole input — again a
  *     contiguous substring.
  * So every shingle is a (start, end) byte slice; distinct keeps first
  * occurrence order exactly like array_distinct. The empty string yields
  * [""] (one empty token, one degenerate shingle), never an empty array.
  *
  * Scope: bit-identity assumes VALID UTF-8 input. For strings carrying
  * invalid byte sequences the HOF path round-trips through
  * java.lang.String (invalid sequences collapse to U+FFFD) while this
  * expression slices the raw bytes — raw slicing is the more faithful
  * behavior for dedup, but it diverges from the HOF on such rows.
  *
  * Hashed variant ≡ `array_distinct(transform(shingles, xxhash64))`:
  * distinct strings hash in first-occurrence order and the set dedupes
  * hash collisions the same way the outer array_distinct would.
  *
  * Reference: near-dup shingling as in MinHash banding pipelines
  * (Broder '97); consumed by [[graft.ops.Dedup]] and
  * [[graft.ops.TextAnalysis.contamination]].
  */
case class ShingleArray(child: Expression, n: Int, hashed: Boolean,
                        distinct: Boolean = true)
    extends UnaryExpression {
  require(n > 0, "shingle size must be positive")

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"shingle_array requires a string input, got ${child.dataType.catalogString}")

  override def dataType: DataType =
    if (hashed) ArrayType(LongType, containsNull = false)
    else ArrayType(StringType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "shingle_array"

  /** Public so generated code can call it. */
  def shingle(s: UTF8String): ArrayData = {
    val base = s.getBaseObject
    val off = s.getBaseOffset
    val nb = s.numBytes()
    // token boundaries: starts(t) .. ends(t) are byte offsets
    val (starts, ends, tokCount) = TokenBounds.scan(base, off, nb)
    val windows = math.max(0, tokCount - n) + 1
    if (!distinct) return shingleAll(base, off, starts, ends, tokCount, windows)
    // presize hint only — clamp so a pathological token-dense giant doc
    // (GiB of spaces → windows near 2^30) can't overflow `windows * 2`
    // into a negative capacity; the sets still grow to any size
    val cap = math.min(windows.toLong * 2, 1L << 20).toInt
    if (hashed) {
      val seen = new java.util.LinkedHashSet[java.lang.Long](cap)
      var w = 0
      while (w < windows) {
        val from = starts(w)
        val until = ends(math.min(w + n - 1, tokCount - 1))
        seen.add(XXH64.hashUnsafeBytes(base, off + from, until - from, 42L))
        w += 1
      }
      val out = new Array[Long](seen.size)
      val it = seen.iterator()
      var k = 0
      while (it.hasNext) { out(k) = it.next(); k += 1 }
      new GenericArrayData(out)
    } else {
      val seen = new java.util.LinkedHashSet[UTF8String](cap)
      var w = 0
      while (w < windows) {
        val from = starts(w)
        val until = ends(math.min(w + n - 1, tokCount - 1))
        val len = until - from
        val bytes = new Array[Byte](len)
        Platform.copyMemory(base, off + from, bytes,
          Platform.BYTE_ARRAY_OFFSET, len)
        seen.add(UTF8String.fromBytes(bytes))
        w += 1
      }
      val out = new Array[AnyRef](seen.size)
      val it = seen.iterator()
      var k = 0
      while (it.hasNext) { out(k) = it.next(); k += 1 }
      new GenericArrayData(out)
    }
  }

  /** Non-distinct path: every window in order, index = window start. */
  private def shingleAll(base: AnyRef, off: Long, starts: Array[Int],
                         ends: Array[Int], tokCount: Int,
                         windows: Int): ArrayData = {
    if (hashed) {
      val out = new Array[Long](windows)
      var w = 0
      while (w < windows) {
        val from = starts(w)
        val until = ends(math.min(w + n - 1, tokCount - 1))
        out(w) = XXH64.hashUnsafeBytes(base, off + from, until - from, 42L)
        w += 1
      }
      new GenericArrayData(out)
    } else {
      val out = new Array[AnyRef](windows)
      var w = 0
      while (w < windows) {
        val from = starts(w)
        val until = ends(math.min(w + n - 1, tokCount - 1))
        val len = until - from
        val bytes = new Array[Byte](len)
        Platform.copyMemory(base, off + from, bytes,
          Platform.BYTE_ARRAY_OFFSET, len)
        out(w) = UTF8String.fromBytes(bytes)
        w += 1
      }
      new GenericArrayData(out)
    }
  }

  override def nullSafeEval(input: Any): Any =
    shingle(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val refTerm = ctx.addReferenceObj("sha", this, classOf[ShingleArray].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $refTerm.shingle($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): ShingleArray =
    copy(child = newChild)
}
