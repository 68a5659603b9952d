package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._

/** Bounded-memory corpus statistics — the sketch layer every 10^12-row
  * pipeline needs when the exact answer's state is unbounded: KMV
  * (bottom-k) distinct-value estimation (Bar-Yossef et al. 2002; Beyer
  * et al. 2007 "On Synopses for Distinct-Value Estimation under
  * Multiset Operations") and count-min frequency estimation (Cormode &
  * Muthukrishnan 2005). The reference collector's analog is the
  * cardinality-capped dimension tracking in its metrics connectors
  * (e.g. `connector/spanmetricsconnector` caps resource-metric
  * cardinality by eviction); here the bound is a SKETCH with a proven
  * error envelope instead of an eviction policy.
  *
  * Both sketches are rendered with the suite's small-modulus rolling
  * hash ([[graft.functions.RollingFingerprint]], base-31 mod 2^31−1)
  * and pure integer arithmetic, so a SQL engine recomputes the ENTIRE
  * sketch — including its collision-induced over/under-estimates —
  * bitwise from the same parquet. Collisions are part of the contract,
  * not noise: the oracle makes the same ones.
  *
  * Scale design:
  *  - KMV: a typed `Aggregator` whose buffer is the ascending array of
  *    the ≤k smallest DISTINCT hashes — O(k) state per partition,
  *    map-side partials, merges are bounded sorted-merges, and the
  *    final exchange moves ≤k longs per partition. The corpus is
  *    scanned once and NOTHING is shuffled but sketches. An exact
  *    `count_distinct` at 10^12 rows shuffles every distinct key.
  *  - CMS: the sketch is `groupBy(j, bucket).count` — after map-side
  *    partial aggregation at most depth×width rows reach the reducers
  *    REGARDLESS of corpus size, and the probe-estimate join
  *    broadcasts the (bounded) sketch.
  */
object Sketches {

  /** Hash range of [[graft.functions.RollingFingerprint]]: [0, M). */
  val M: Long = 2147483647L

  // ---- KMV / bottom-k distinct-value sketch ----

  /** Ascending, deduplicated, ≤k smallest hash values. */
  final case class KmvBuf(items: Seq[Long])

  /** Merge two ascending distinct sequences, dedup, keep the k smallest. */
  private def mergeKmv(a: Seq[Long], b: Seq[Long], k: Int): Seq[Long] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[Long]
    var i = 0
    var j = 0
    while (out.length < k && (i < a.length || j < b.length)) {
      val takeA =
        j >= b.length || (i < a.length && a(i) <= b(j))
      val v = if (takeA) a(i) else b(j)
      if (takeA) i += 1 else j += 1
      if (out.isEmpty || out.last != v) out += v
    }
    out.toSeq
  }

  /** Bottom-k aggregator over hash values: keeps the k smallest
    * distinct inputs. Associative + commutative (sorted-set semantics),
    * property-tested in SketchesSpec. */
  def kmvAggregator(k: Int): Aggregator[Long, KmvBuf, Seq[Long]] = {
    require(k >= 2, s"kmv: k must be >= 2 (k-1 in the numerator and " +
      s"h_(k) > 0 both need it), got $k")
    new Aggregator[Long, KmvBuf, Seq[Long]] {
      def zero: KmvBuf = KmvBuf(Nil)
      def reduce(buf: KmvBuf, v: Long): KmvBuf =
        // fast path — after warmup almost every row fails v < h_(k):
        // a full buffer rejects it (or already holds it, when v == last
        // ∈ buffer) with ZERO allocation, instead of an O(k) merge copy
        // per input row
        if (buf.items.length >= k && v >= buf.items.last) buf
        else KmvBuf(mergeKmv(buf.items, Seq(v), k))
      def merge(a: KmvBuf, b: KmvBuf): KmvBuf =
        KmvBuf(mergeKmv(a.items, b.items, k))
      def finish(buf: KmvBuf): Seq[Long] = buf.items
      def bufferEncoder: Encoder[KmvBuf] = Encoders.product[KmvBuf]
      def outputEncoder: Encoder[Seq[Long]] =
        org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[Long]]()
    }
  }

  /** UDAF column form: `df.agg(Sketches.kmvOf(hashCol, k))`. */
  def kmvOf(hash: Column, k: Int): Column =
    udaf(kmvAggregator(k), Encoders.scalaLong)(hash)

  /** The KMV estimator columns shared by every rendering of the sketch
    * (the batch aggregator and SketchesSpec's declarative differential)
    * — ONE definition, so the renderings agree by construction, not by
    * keeping hand-written copies in sync. `ks` is the ascending
    * bottom-k hash array; returns (n_kept, kth_hash, est_distinct)
    * where est_distinct = n_kept exactly while the sketch is short of
    * k, else `(k-1)·M div h_(k)` in integer division. */
  def kmvEstimate(ks: Column, k: Int): (Column, Column, Column) = (
    size(ks).cast("int").as("n_kept"),
    when(size(ks) >= k, element_at(ks, k)).as("kth_hash"),
    when(size(ks) < k, size(ks).cast("bigint"))
      .otherwise(call_function("div",
        lit((k - 1).toLong * M), element_at(ks, k)))
      .as("est_distinct"))

  /** Corpus distinct-TEXT estimate from a bottom-k sketch over the
    * rolling fingerprint. Returns ONE row:
    * `(n_kept:int, kth_hash:bigint?, est_distinct:bigint)` where
    *  - fewer than k distinct hashes seen → the sketch IS the exact
    *    distinct set: `est_distinct = n_kept`, `kth_hash` null;
    *  - otherwise the standard KMV estimator with the hash range [0,M):
    *    `est_distinct = (k-1)·M div h_(k)` — integer division on both
    *    sides so the oracle replays it bitwise.
    * Fingerprint collisions merge documents on BOTH sides (the oracle
    * dedups the same hash), so the estimate is of distinct HASHES —
    * within ~d²/2M of distinct texts, the usual small-modulus caveat
    * documented on the d01/d07 hashed paths. */
  def distinctKmv(docs: DataFrame, textCol: String, k: Int = 256): DataFrame = {
    val sketch = docs
      .filter(col(textCol).isNotNull)
      .select(TextAnalysis.fingerprint(col(textCol)).as("hv"))
      .agg(kmvOf(col("hv"), k).as("ks"))
    val (nKept, kthHash, estDistinct) = kmvEstimate(col("ks"), k)
    sketch.select(nKept, kthHash, estDistinct)
  }

  // ---- count-min frequency sketch ----

  /** The fixed pairwise-independent hash family: row j maps a token's
    * fingerprint f to bucket `((f·a_j + b_j) mod M) mod width`. All
    * constants < 2^31 so every intermediate fits a signed 64-bit
    * integer (max ~2^52) — no overflow semantics to reconcile between
    * engines. Literal constants (not derived from data or time) so the
    * oracle embeds the same family. */
  val cmsHashes: Seq[(Long, Long)] =
    Seq((1000003L, 12345L), (999983L, 54321L), (1000033L, 98765L))

  private def cmsBucket(fp: Column, a: Long, b: Long, width: Int): Column =
    (fp * lit(a) + lit(b)) % lit(M) % lit(width.toLong)

  /** Whitespace tokens of the corpus (suite tokenization: single-space
    * split, empty tokens dropped — matches d43's convention and the
    * oracle's `string_split(text, ' ')`). */
  private def tokens(docs: DataFrame, textCol: String): DataFrame =
    docs.filter(col(textCol).isNotNull)
      .select(explode(split(col(textCol), " ")).as("token"))
      .filter(col("token") =!= "")

  /** The depth×width count-min sketch of the corpus token stream:
    * `(j:int, bucket:bigint, c:bigint)`. After map-side combine at most
    * depth·width rows shuffle, whatever the corpus size. */
  def cmsSketch(docs: DataFrame, textCol: String,
                width: Int = 1024): DataFrame = {
    require(width > 0, s"cms: width must be positive, got $width")
    val fp = TextAnalysis.fingerprint(col("token"))
    tokens(docs, textCol)
      .select(explode(array(cmsHashes.zipWithIndex.map { case ((a, b), j) =>
        struct(lit(j).as("j"), cmsBucket(fp, a, b, width).as("bucket"))
      }: _*)).as("jb"))
      .groupBy(col("jb.j").as("j"), col("jb.bucket").as("bucket"))
      .agg(count(lit(1)).as("c"))
  }

  // ---- Bloom-filter membership ----

  /** The set bits of a Bloom filter over the index documents' text
    * fingerprints: each doc sets `depth` bits
    * `((fp·a_j + b_j) mod M) mod m` (the CMS hash family re-used as the
    * Bloom family — same constants, so one oracle idiom covers both).
    * Returned as the DISTINCT bit positions — ≤m rows whatever the
    * index size, the broadcastable representation of the filter. */
  def bloomBits(index: DataFrame, textCol: String, m: Int = 4096): DataFrame = {
    require(m > 0, s"bloom: m must be positive, got $m")
    val fp = TextAnalysis.fingerprint(col(textCol))
    index.filter(col(textCol).isNotNull)
      .select(explode(array(cmsHashes.map { case (a, b) =>
        cmsBucket(fp, a, b, m)
      }: _*)).as("bit"))
      .distinct()
  }

  /** Probabilistic membership of each shard document in the index — the
    * ingest-time dedup PRE-FILTER: a shard doc whose `depth` bits are
    * all set MIGHT be in the index (verify exactly downstream); a doc
    * with ANY unset bit is DEFINITELY new and skips the exact check.
    * No false negatives (`bloom_member >= exact_member` row-wise,
    * asserted in SketchesSpec); false positives at the classic
    * (fill_ratio)^depth rate, and each one reproduces exactly in the
    * SQL oracle because the bit array is deterministic.
    *
    * Returns `(idCol, bloom_member, exact_member)` — exact_member (an
    * unbounded anti-join in general) is the demonstration column; the
    * production path keeps only `bloom_member` and routes the
    * maybe-members to the real dedup join, shrinking ITS left side by
    * the definite-new fraction.
    *
    * Scale design: the filter is ≤m distinct bit rows built in one
    * bounded aggregation over the index, then BROADCAST — once per hash
    * function, as a plain equality broadcast join on that function's
    * bit column. The shard side is a narrow map (one fingerprint, 3 bit
    * expressions) plus 3 broadcast probes and a conjunction: ZERO
    * exchange of shard rows. (The first rendering exploded the 3 bits
    * into rows and counted matches per doc — the map-side partial
    * collapsed it to one narrow row per doc, but that is still a
    * shuffle of every doc id at 10^12 docs, which this operator exists
    * to avoid.) */
  def bloomMembership(shard: DataFrame, idCol: String, textCol: String,
                      index: DataFrame, indexTextCol: String,
                      m: Int = 4096): DataFrame = {
    // materialize the ≤m-row bit set ONCE: each of the 3 probe joins
    // broadcasts it, and without this the index would be rescanned and
    // re-aggregated per hash function
    val bits = bloomBits(index, indexTextCol, m).localCheckpoint(true)
    val fp = TextAnalysis.fingerprint(col(textCol))
    val withBuckets = shard.filter(col(textCol).isNotNull)
      .select(Seq(col(idCol), col(textCol)) ++
        cmsHashes.zipWithIndex.map { case ((a, b), j) =>
          cmsBucket(fp, a, b, m).as(s"_b$j")
        }: _*)
    val probed = cmsHashes.indices.foldLeft(withBuckets) { (df, j) =>
      df.join(
        broadcast(bits.select(col("bit").as(s"_b$j"))
          .withColumn(s"_s$j", lit(true))),
        Seq(s"_b$j"), "left")
    }
    // exact_member is the DEMONSTRATION column (it joins the raw index
    // texts — the unbounded work the bloom pre-filter exists to avoid);
    // it chains onto the same frame so the production `bloom_member`
    // path never re-keys by id. Drop this join in production.
    probed
      .join(index.filter(col(indexTextCol).isNotNull)
          .select(col(indexTextCol).as(textCol)).distinct()
          .withColumn("_in", lit(true)),
        Seq(textCol), "left")
      .select(col(idCol),
        cmsHashes.indices.map(j => coalesce(col(s"_s$j"), lit(false)))
          .reduce(_ && _).as("bloom_member"),
        coalesce(col("_in"), lit(false)).as("exact_member"))
  }

  /** Point-query the sketch for a fixed probe-token set and report the
    * estimate next to the exact count: `(token, exact_n, cms_est)`.
    * CMS guarantees `cms_est >= exact_n` (each row j's bucket count is
    * the token's count plus its colliders'; min over j can only
    * over-count) — asserted corpus-wide in SketchesSpec. A probe absent
    * from the corpus reads whatever its buckets hold (possibly 0 via
    * the missing-row → 0 coalesce).
    *
    * Plan: the sketch (≤ depth·width rows) and the probe table
    * (literal) both broadcast; the corpus is scanned twice (sketch +
    * exact) — drop the exact side in production, it is the
    * demonstration column. */
  def cmsTokenCounts(docs: DataFrame, textCol: String,
                     probes: Seq[String], width: Int = 1024): DataFrame = {
    require(probes.nonEmpty, "cms: probe set must be non-empty")
    val spark: SparkSession = docs.sparkSession
    import spark.implicits._
    val sketch = cmsSketch(docs, textCol, width)
    val fp = TextAnalysis.fingerprint(col("token"))
    val probeBuckets = probes.toDF("token")
      .select(col("token"), explode(array(cmsHashes.zipWithIndex.map {
        case ((a, b), j) =>
          struct(lit(j).as("j"), cmsBucket(fp, a, b, width).as("bucket"))
      }: _*)).as("jb"))
      .select(col("token"), col("jb.j").as("j"), col("jb.bucket").as("bucket"))
    val est = probeBuckets
      .join(broadcast(sketch), Seq("j", "bucket"), "left")
      .groupBy("token")
      .agg(min(coalesce(col("c"), lit(0L))).as("cms_est"))
    val exact = tokens(docs, textCol)
      .filter(col("token").isin(probes: _*))
      .groupBy("token").agg(count(lit(1)).as("exact_n"))
    est.join(exact, Seq("token"), "left")
      .select(col("token"),
        coalesce(col("exact_n"), lit(0L)).as("exact_n"),
        col("cms_est"))
  }
}
