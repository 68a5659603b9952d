package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

class SketchesSpec extends SparkSpec {
  import spark.implicits._

  private def corpus(n: Int, dups: Int): org.apache.spark.sql.DataFrame =
    // n distinct texts, each duplicated `dups` times, plus a null row
    (0 until n).flatMap(i => Seq.fill(dups)(s"doc body number $i with words"))
      .zipWithIndex.map { case (t, id) => (id.toLong, t) }
      .toDF("doc_id", "text")
      .unionByName(Seq((9999L, null: String)).toDF("doc_id", "text"))

  // ---- KMV ----

  test("kmv: fewer distinct than k → exact count, null kth_hash") {
    val out = Sketches.distinctKmv(corpus(37, 3), "text", k = 256).collect()
    assert(out.length === 1)
    assert(out(0) === Row(37, null, 37L))
  }

  test("kmv: estimator formula replayed from the declarative rendering") {
    val docs = corpus(900, 2)
    val fast = Sketches.distinctKmv(docs, "text", k = 64).collect()(0)
    val slow = SketchesSpec.distinctKmvDeclarative(docs, "text", k = 64).collect()(0)
    assert(fast === slow)
    assert(fast.getInt(0) === 64) // sketch full
    val kth = fast.getLong(1)
    assert(fast.getLong(2) === 63L * Sketches.M / kth) // integer div
  }

  test("kmv: estimate is within 3/sqrt(k) of the true distinct count") {
    // standard KMV relative-error envelope (~1/sqrt(k) std): sanity
    // that the small-modulus hash behaves uniformly enough on word-ish
    // text for the estimator to be meaningful, not just bit-stable
    val n = 5000
    val est = Sketches.distinctKmv(corpus(n, 1), "text", k = 256)
      .collect()(0).getLong(2)
    val rel = math.abs(est.toDouble - n) / n
    assert(rel < 3.0 / math.sqrt(256.0), s"relative error $rel (est $est)")
  }

  test("kmv aggregator: dedup, bound, merge associativity/commutativity") {
    val agg = Sketches.kmvAggregator(4)
    val items = Seq(9L, 3L, 3L, 7L, 1L, 9L, 5L, 2L)
    val red = items.foldLeft(agg.zero)(agg.reduce)
    assert(agg.finish(red) === Seq(1L, 2L, 3L, 5L)) // 4 smallest distinct
    // merge of arbitrary splits == sequential reduce
    for (cut <- 0 to items.length) {
      val (l, r) = items.splitAt(cut)
      val m = agg.merge(l.foldLeft(agg.zero)(agg.reduce),
                        r.foldLeft(agg.zero)(agg.reduce))
      assert(agg.finish(m) === Seq(1L, 2L, 3L, 5L), s"cut=$cut")
      val mRev = agg.merge(r.foldLeft(agg.zero)(agg.reduce),
                           l.foldLeft(agg.zero)(agg.reduce))
      assert(agg.finish(mRev) === Seq(1L, 2L, 3L, 5L), s"rev cut=$cut")
    }
  }

  test("kmv: k below 2 is refused") {
    intercept[IllegalArgumentException](Sketches.kmvAggregator(1))
  }

  // ---- CMS ----

  test("cms: estimates dominate exact counts corpus-wide (min over rows)") {
    val docs = corpus(400, 2)
    // probe every distinct token in the corpus plus two absent ones
    val present = docs.filter($"text".isNotNull)
      .select(explode(split($"text", " ")).as("t"))
      .distinct().as[String].collect().toSeq
    val probes = present ++ Seq("absent_token_a", "absent_token_b")
    val out = Sketches.cmsTokenCounts(docs, "text", probes, width = 64)
      .collect()
    assert(out.length === probes.distinct.length)
    out.foreach { r =>
      assert(r.getLong(2) >= r.getLong(1),
        s"cms underestimated ${r.getString(0)}: est ${r.getLong(2)} < exact ${r.getLong(1)}")
    }
    // tiny width=64 over ~400 distinct tokens MUST collide somewhere:
    // the over-estimate property is being exercised, not vacuous
    assert(out.exists(r => r.getLong(2) > r.getLong(1)))
  }

  test("cms: sketch row sums each equal the total token count") {
    val docs = corpus(50, 3)
    val total = docs.filter($"text".isNotNull)
      .select(explode(split($"text", " ")).as("t")).filter($"t" =!= "")
      .count()
    val sums = Sketches.cmsSketch(docs, "text", width = 32)
      .groupBy("j").agg(sum("c").as("s"))
      .select("s").as[Long].collect()
    assert(sums.length === Sketches.cmsHashes.length)
    assert(sums.forall(_ === total))
  }

  test("cms: exact for a collision-free probe in a tiny corpus") {
    val docs = Seq((1L, "alpha beta alpha"), (2L, "beta alpha"))
      .toDF("doc_id", "text")
    val out = Sketches.cmsTokenCounts(docs, "text",
      Seq("alpha", "beta", "gamma"), width = 1024)
      .orderBy("token").collect()
    // width 1024 over 2 distinct tokens: collisions impossible to matter
    // unless both tokens share a bucket in EVERY row — verify exactness
    assert(out(0) === Row("alpha", 3L, 3L))
    assert(out(1) === Row("beta", 2L, 2L))
    assert(out(2).getString(0) === "gamma")
    assert(out(2).getLong(1) === 0L)
  }

  // ---- Bloom ----

  test("bloom: no false negatives — exact members are always flagged") {
    val docs = corpus(300, 1)
    val index = docs.filter($"doc_id" % 7 =!= 0)
    val out = Sketches.bloomMembership(docs, "doc_id", "text",
      index, "text", m = 4096).collect()
    assert(out.length === 300) // null-text row excluded
    out.foreach { r =>
      if (r.getBoolean(2)) assert(r.getBoolean(1),
        s"false negative for doc ${r.getLong(0)}")
    }
    // the index docs themselves are exact members and bloom members
    assert(out.count(_.getBoolean(2)) === out.count(r => r.getLong(0) % 7 != 0))
  }

  test("bloom: definite-new detection works at a healthy fill ratio") {
    val docs = corpus(200, 1)
    val index = docs.filter($"doc_id" < 100)
    val out = Sketches.bloomMembership(docs, "doc_id", "text",
      index, "text", m = 65536).collect()
    // at ~0.5% fill the FP rate is ~1e-7: every non-member reads false
    val nonMembersFlagged = out.count(r => r.getBoolean(1) && !r.getBoolean(2))
    assert(nonMembersFlagged === 0)
    assert(out.count(r => !r.getBoolean(1)) === 100) // the 100 new docs
  }

  test("bloom: saturated filter (tiny m) flags everything, never errs") {
    val docs = corpus(100, 1)
    val index = docs.filter($"doc_id" < 50)
    val out = Sketches.bloomMembership(docs, "doc_id", "text",
      index, "text", m = 4).collect()
    // 50 docs × 3 hashes into 4 bits: filter saturates → all maybe-members
    assert(out.forall(_.getBoolean(1)))
    assert(out.count(_.getBoolean(2)) === 50)
  }

  test("bloom: plan gate — zero shard-row exchange on the probe path") {
    // the production path must stay a narrow map + broadcast-join chain:
    // every Exchange in the plan belongs to the BOUNDED bit-set build
    // (collapsed into the localCheckpoint scan) or a broadcast — a
    // hashpartitioning exchange over shard rows is the regression the
    // first rendering had (explode + groupBy(doc_id) = one shuffled row
    // per shard doc at 10^12 docs)
    val docs = corpus(100, 1)
    val probe = Sketches.bloomMembership(docs, "doc_id", "text",
      docs.filter($"doc_id" < 50), "text", m = 1024)
      .select("doc_id", "bloom_member") // the production projection
    val plan = probe.queryExecution.executedPlan.toString
    val shuffles = plan.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(shuffles === 0, s"unexpected shuffle in bloom probe plan:\n$plan")
    assert(plan.contains("BroadcastHashJoin"), plan)
  }

  test("bloom: bit set is bounded by m and by 3·|index|") {
    val docs = corpus(40, 1)
    val n = Sketches.bloomBits(docs, "text", m = 4096).count()
    assert(n <= 4096 && n <= 3L * 40)
    assert(Sketches.bloomBits(docs, "text", m = 16).count() <= 16)
  }

  test("cms: empty probe set refused; null texts excluded") {
    intercept[IllegalArgumentException](
      Sketches.cmsTokenCounts(corpus(2, 1), "text", Nil))
    val onlyNull = Seq((1L, null: String)).toDF("doc_id", "text")
    val out = Sketches.cmsTokenCounts(onlyNull, "text", Seq("x")).collect()
    assert(out.toSeq === Seq(Row("x", 0L, 0L)))
  }
}

object SketchesSpec {
  /** Declarative rendering of the same sketch (differential oracle for
    * the bounded aggregator): global distinct + ascending sort + limit.
    * Exact but unbounded — a full distinct shuffle — kept ONLY to pin
    * the aggregator's semantics in SketchesSpec. */
  def distinctKmvDeclarative(docs: DataFrame, textCol: String,
                             k: Int = 256): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val ks = docs.filter(col(textCol).isNotNull)
      .select(TextAnalysis.fingerprint(col(textCol)).as("hv"))
      .distinct().orderBy(col("hv").asc).limit(k)
      .as[Long].collect().toSeq // bounded: ≤k longs, test-only path
    val arr = typedLit(ks)
    val (nKept, kthHash, estDistinct) = Sketches.kmvEstimate(arr, k)
    docs.sparkSession.range(1).select(nKept, kthHash, estDistinct)
  }
}
