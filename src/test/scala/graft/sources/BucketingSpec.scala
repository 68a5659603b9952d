package graft.sources

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec

class BucketingSpec extends SparkSpec {
  import spark.implicits._
  import BucketingSpec.isExchangeFree

  test("co-located join of same-bucketed tables is exchange-free and correct") {
    val turns = (0 until 200).map(i => (s"conv-${i % 17}", i, s"t$i"))
      .toDF("conv_id", "turn_idx", "text")
    val convMeta = (0 until 17).map(i => (s"conv-$i", i % 3))
      .toDF("conv_id", "tier")

    Bucketing.writeBucketed(turns, "bk_turns", 4, Seq("conv_id"))
    Bucketing.writeBucketed(convMeta, "bk_meta", 4, Seq("conv_id"))
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force SMJ
    try {
      val joined = Bucketing.colocatedJoin(spark, "bk_turns", "bk_meta", Seq("conv_id"))
      assert(isExchangeFree(joined),
        s"expected no Exchange:\n${joined.queryExecution.executedPlan}")
      // row-set equality with the plain (shuffled) join
      val plain = turns.join(convMeta, "conv_id")
        .select("conv_id", "turn_idx", "tier").as[(String, Int, Int)].collect().toSet
      val got = joined.select("conv_id", "turn_idx", "tier")
        .as[(String, Int, Int)].collect().toSet
      assert(got == plain && got.size == 200)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      spark.sql("DROP TABLE IF EXISTS bk_turns")
      spark.sql("DROP TABLE IF EXISTS bk_meta")
    }
  }

  test("groupBy on the bucket key needs no exchange either") {
    val turns = (0 until 100).map(i => (s"conv-${i % 7}", i)).toDF("conv_id", "turn_idx")
    Bucketing.writeBucketed(turns, "bk_g", 4, Seq("conv_id"))
    try {
      val agg = spark.table("bk_g").groupBy("conv_id").agg(count(lit(1)).as("n"))
      assert(isExchangeFree(agg),
        s"expected no Exchange:\n${agg.queryExecution.executedPlan}")
      assert(agg.as[(String, Long)].collect().toMap.values.sum == 100L)
    } finally spark.sql("DROP TABLE IF EXISTS bk_g")
  }

  test("isExchangeFree rejects every shuffle kind, allows broadcast") {
    val df = (0 until 50).map(i => (s"k$i", i)).toDF("k", "v")
    // RoundRobinPartitioning (repartition(n)) — the gate used to
    // enumerate hash/range/single partitionings and let this through
    assert(!isExchangeFree(df.repartition(8)),
      "repartition(n) shuffle passed the zero-shuffle gate")
    assert(!isExchangeFree(df.repartition(8, col("k"))))
    assert(!isExchangeFree(df.groupBy("k").count()))
    // broadcast join: the only allowed exchange
    val joined = df.join(broadcast((0 until 5).map(i => (s"k$i", "x"))
      .toDF("k", "tag")), "k")
    assert(isExchangeFree(joined),
      s"broadcast flagged as shuffle:\n${joined.queryExecution.executedPlan}")
  }
}

object BucketingSpec {
  /** True iff the physical plan contains no SHUFFLE exchange (broadcast
    * exchanges don't move the fact side and are allowed) — the property
    * [[Bucketing.colocatedJoin]] exists to guarantee. */
  def isExchangeFree(df: DataFrame): Boolean = {
    val plan = df.queryExecution.executedPlan.toString
    // ANY exchange that is not a broadcast is a shuffle — enumerating
    // partitionings (hash/range/single) missed RoundRobinPartitioning
    // (repartition(n)) and rebalance, letting a fully-shuffled plan
    // pass the zero-shuffle gate. ReusedExchange is exempt too: a plan
    // reusing a BroadcastExchange prints "ReusedExchange", whose
    // "Exchange" is preceded by "Reused", not "Broadcast" — without the
    // second guard the gate reports a shuffle on a genuinely
    // exchange-free plan. (A reused SHUFFLE exchange cannot slip
    // through: its original Exchange node is still in the plan text.)
    !"(?<!Broadcast)(?<!Reused)Exchange".r.findFirstIn(plan).isDefined
  }
}
