package graft.ops

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Interpreted higher-order-function renderings of the codegen column
  * expressions in [[Dedup]], [[Similarity]] and [[TextAnalysis]] — the
  * differential oracles their specs compare against. No product path
  * calls them: each walks its arrays through interpreted lambdas, which
  * is why the codegen expressions exist. */
object HofOracles {

  /** Interpreted-HOF rendering of [[Dedup.shinglesAll]] (differential oracle —
    * bit-identical, minus the array_distinct of [[shinglesHof]]). */
  def shinglesAllHof(textCol: Column, n: Int = 3): Column = {
    val toks = split(textCol, " ")
    val starts = sequence(lit(0), greatest(lit(0), size(toks) - lit(n)))
    transform(starts, i =>
      concat_ws(" ", (0 until n).map(j => get(toks, i + lit(j))): _*))
  }

  /** Interpreted-HOF rendering of [[Dedup.shingles]] (differential oracle —
    * bit-identical): 0-based `get` (null past the end, ANSI-safe) +
    * concat_ws's null-skipping give the short-doc degenerate shingle;
    * note the lambda body re-evaluates `split` per element, which is why
    * the codegen expression exists. */
  def shinglesHof(textCol: Column, n: Int = 3): Column = {
    val toks = split(textCol, " ")
    val starts = sequence(lit(0), greatest(lit(0), size(toks) - lit(n)))
    array_distinct(transform(starts, i =>
      concat_ws(" ", (0 until n).map(j => get(toks, i + lit(j))): _*)))
  }

  /** Interpreted-HOF rendering of [[Dedup.minhashSignature]] (differential
    * oracle — bit-identical): walks the shingle array numHashes times
    * through interpreted lambdas and re-hashes every string each pass. */
  def minhashSignatureHof(shinglesCol: Column, numHashes: Int = 64): Column =
    transform(sequence(lit(0), lit(numHashes - 1)), h =>
      array_min(transform(shinglesCol, s => xxhash64(s, h))))

  /** Interpreted-HOF rendering of [[Dedup.bandHashes]] (differential oracle —
    * bit-identical on non-null signatures): `bands` interpreted lambda
    * evals per row, each slicing a copy of the signature. */
  def bandHashesHof(sigCol: Column, numHashes: Int, bands: Int): Column = {
    val r = numHashes / bands
    require(bands * r == numHashes, s"bands=$bands must divide numHashes=$numHashes")
    transform(sequence(lit(0), lit(bands - 1)), b =>
      xxhash64(slice(sigCol, b * lit(r) + lit(1), lit(r)), b))
  }

  /** HOF rendering of [[Dedup.jaccard]] (differential oracle): evaluates
    * array_intersect twice per row. The two-empty-arrays case is
    * guarded to 0.0 exactly like the codegen expression — unguarded,
    * ANSI mode throws DIVIDE_BY_ZERO on the 0/0 (Spark's Divide errors
    * on a zero divisor for doubles too). Unreachable from the dedup
    * pipeline (shingles() always emits ≥1 degenerate shingle); pinned
    * by DedupSpec so the bit-exactness contract covers the edge. */
  def jaccardHof(a: Column, b: Column): Column = {
    val inter = size(array_intersect(a, b)).cast("double")
    when(size(a) + size(b) === 0, lit(0.0))
      .otherwise(inter / (size(a) + size(b) - size(array_intersect(a, b))))
  }

  /** The declarative HOF rendering of [[Dedup.simhash64]] (kept as the
    * differential oracle for the custom expression — bit-identical). */
  def simhash64Hof(textCol: Column): Column = {
    val th = transform(split(textCol, " "), t => xxhash64(t))
    aggregate(
      sequence(lit(0), lit(63)),
      lit(0L),
      (acc, i) => {
        // call_function: shiftleft/shiftright with a column shift amount
        // (the functions._ overloads only take Int literals)
        val bitSum = aggregate(th, lit(0),
          (c, h) => c + call_function("shiftright", h, i)
            .bitwiseAND(lit(1L)).cast("int") * 2 - 1)
        acc.bitwiseOR(
          when(bitSum > 0, call_function("shiftleft", lit(1L), i)).otherwise(lit(0L)))
      })
  }

  /** Interpreted-HOF rendering of [[Similarity.cosine]] — kept as the differential
    * oracle for the codegen expression (bit-identical: same sequential
    * accumulation order, same null-on-length-mismatch semantics). NOT
    * for hot paths: the lambdas evaluate interpreted per element. */
  def cosineHof(a: Column, b: Column): Column = {
    val dot = aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), _ + _)
    val na = sqrt(aggregate(transform(a, x => x * x), lit(0.0), _ + _))
    val nb = sqrt(aggregate(transform(b, x => x * x), lit(0.0), _ + _))
    // zero-norm guard like the codegen expression (and like jaccardHof):
    // unguarded, ANSI's Divide throws DIVIDE_BY_ZERO where CosineSim
    // returns 0.0, breaking the bit-identity contract on zero vectors
    when(na * nb === 0.0, lit(0.0)).otherwise(dot / (na * nb))
  }

  /** Interpreted-HOF rendering of [[Similarity.lshBucket]] (differential oracle):
    * `signBits` separate aggregate passes per row. */
  def lshBucketHof(vec: Column, planes: Seq[Array[Double]]): Column =
    planes.zipWithIndex.map { case (p, i) =>
      val dot = aggregate(zip_with(vec, lit(p), (x, y) => x * y), lit(0.0), _ + _)
      when(dot >= 0, lit(1L << i)).otherwise(lit(0L))
    }.reduce((a, b) => a.bitwiseOR(b))

  /** Declarative HOF rendering of [[TextAnalysis.stopwordCount]] (differential oracle). */
  def stopwordCountHof(text: Column, words: Seq[String]): Column =
    size(filter(split(lower(text), "\\s+"), t => t.isin(words: _*)))

  /** Declarative HOF rendering of [[TextAnalysis.fingerprint]] (differential oracle
    * for the one-pass codegen expression — bit-identical, ~50× slower). */
  def fingerprintHof(text: Column): Column =
    aggregate(split(text, ""), lit(0L),
      (acc, ch) => pmod(acc * 31 + ascii(ch), lit(2147483647L)))
}
