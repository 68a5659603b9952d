package graft.agg

import org.apache.spark.sql.{Column, Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator

/** Bounded top-k exemplar aggregator — the scale-safe rendering of the
  * spanmetrics connector's per-data-point exemplar cap
  * (`connector/spanmetricsconnector/connector.go:408`,
  * `exemplars.max_per_data_point` in `config.go:47`, `/root/reference`).
  *
  * Keeps the k largest (value, span_id) samples per group, ordered by
  * (value DESC, span_id DESC). Implemented as a typed `Aggregator` (the
  * same pattern as [[ExpHistogram]]): each map-side partial carries at
  * most k elements, merges are associative bounded list-merges, so a hot
  * dimension group costs O(k) state per partition instead of the
  * round-2 `row_number().over(Window)` rendering that shuffled EVERY
  * span of the group to one reducer and fully sorted it — the one
  * scale-killer the round-2 audit found
  * (the window rendering is kept in the test sources as the
  * differential oracle; ProcessorOpsSpec asserts equality).
  */
object TopKExemplars {

  final case class Ex(value: Long, span_id: String)

  /** UTF-8 byte-wise (unsigned) comparison — Spark's UTF8String binary
    * ordering, which is also code-point order. Java's String.compareTo
    * is UTF-16 code-UNIT order and diverges for supplementary
    * characters (surrogates 0xD800-0xDFFF sort below 0xE000-0xFFFF
    * code units but encode code points ABOVE all of the BMP) — the
    * aggregator must tie-break exactly like the windowed differential
    * oracle's ORDER BY or the equivalence breaks off-ASCII. */
  private def utf8Gt(a: String, b: String): Boolean = {
    // allocation-free code-point walk (UTF-8 byte order == code-point
    // order): this runs inside the aggregator's per-row reduce on value
    // ties, where a getBytes-based compare would generate two garbage
    // arrays per comparison. A single index advances both strings —
    // valid because every earlier code point compared equal, so the
    // char widths match position by position.
    val n = math.min(a.length, b.length)
    var i = 0
    while (i < n) {
      val cpa = a.codePointAt(i)
      val cpb = b.codePointAt(i)
      if (cpa != cpb) return cpa > cpb
      i += Character.charCount(cpa)
    }
    a.length > b.length
  }

  /** Descending (value, span_id) — largest first, deterministic. NOTE
    * the Long-typed value means a null duration is coerced to 0 by the
    * primitive encoder, while the window-oracle path sorts nulls last
    * (i.e. below every non-null under DESC) — identical only because
    * spanmetrics durations are computed non-null from the timestamp
    * pair and are ≥ 0, so coerced-0 and nulls-last coincide at the
    * bottom of the order. Callers feeding nullable NEGATIVE values
    * must pre-filter nulls. */
  private def gt(a: Ex, b: Ex): Boolean =
    a.value > b.value || (a.value == b.value &&
      (a.span_id != null && (b.span_id == null || utf8Gt(a.span_id, b.span_id))))

  /** Merge two descending-sorted bounded lists, keep the k largest. */
  private def mergeSorted(a: Seq[Ex], b: Seq[Ex], k: Int): Seq[Ex] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[Ex]
    var i = 0
    var j = 0
    while (out.length < k && (i < a.length || j < b.length)) {
      if (j >= b.length || (i < a.length && !gt(b(j), a(i)))) {
        out += a(i); i += 1
      } else {
        out += b(j); j += 1
      }
    }
    out.toSeq
  }

  /** Bounded buffer: descending-sorted ≤k samples. */
  final case class Buf(items: Seq[Ex])

  /** Aggregator keeping the k largest samples. */
  def aggregator(k: Int): Aggregator[Ex, Buf, Seq[Ex]] =
    new Aggregator[Ex, Buf, Seq[Ex]] {
      def zero: Buf = Buf(Nil)
      def reduce(buf: Buf, v: Ex): Buf = Buf(mergeSorted(buf.items, Seq(v), k))
      def merge(a: Buf, b: Buf): Buf = Buf(mergeSorted(a.items, b.items, k))
      def finish(buf: Buf): Seq[Ex] = buf.items
      def bufferEncoder: Encoder[Buf] = Encoders.product[Buf]
      def outputEncoder: Encoder[Seq[Ex]] =
        org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[Ex]]()
    }

  /** UDAF column: `groupBy(dims).agg(TopKExemplars.of(valueCol, idCol, k))`.
    * (A product-encoded UDAF input binds the case-class FIELDS as
    * separate arguments.) */
  def of(value: Column, id: Column, k: Int): Column = {
    import org.apache.spark.sql.functions.udaf
    val enc: Encoder[Ex] = Encoders.product[Ex]
    udaf(aggregator(k), enc)(value, id)
  }
}
