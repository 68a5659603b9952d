package graft

import java.sql.Timestamp
import java.util.regex.Pattern

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalacheck.rng.Seed

import graft.agg.Rollup
import graft.functions.Ottl
import graft.model.PipelineConfig._
import graft.parse.ParseStage
import graft.route.RouteStage

/** ScalaCheck property suite — the upgrade over the reference's test
  * method promised in SURVEY.md §5: the reference has no property-based
  * testing; these laws pin the invariants the north rule names
  * (ordering invariance, route disjointness/coverage) over arbitrary
  * generated inputs, not just fixtures.
  */
class PropertySpec extends SparkSpec {
  import spark.implicits._

  private def check(label: String, cases: Int)(p: Prop): Unit = {
    val params = SCTest.Parameters.default
      .withMinSuccessfulTests(cases)
      .withInitialSeed(Seed(42L))
      .withWorkers(1)
    val r = SCTest.check(params, p)
    assert(r.passed, s"$label: ${r.status}")
  }

  // ---- rollup: ordering invariance + salted ≡ plain (north rule §7.1-5) ----

  private val genWord: Gen[String] =
    Gen.oneOf("alpha", "beta beta", "", "CALL tool=a", "x:42", "~noise~")

  private case class TRow(conv: String, idx: Int, text: String, ts: Timestamp)

  private val genTranscript: Gen[List[TRow]] = for {
    nConv <- Gen.choose(1, 4)
    sizes <- Gen.listOfN(nConv, Gen.choose(1, 10))
    words <- Gen.listOfN(sizes.sum, genWord)
    shuffleSeed <- Gen.choose(0L, Long.MaxValue)
  } yield {
    val rows = sizes.zipWithIndex.flatMap { case (sz, c) =>
      (0 until sz).map { t =>
        TRow(s"conv-$c", t, s"${words(sizes.take(c).sum + t)}#$c.$t",
          new Timestamp(1700000000000L + (c * 100 + t) * 1000L))
      }
    }
    new scala.util.Random(shuffleSeed).shuffle(rows).toList
  }

  test("property: rollup is input-order invariant and salted ≡ plain") {
    check("rollup", 10)(Prop.forAll(genTranscript) { rows =>
      val expected = rows.groupBy(_.conv).map { case (c, rs) =>
        c -> ((rs.size.toLong, rs.sortBy(_.idx).map(_.text).mkString("\n")))
      }
      val df = rows.map(r => (r.conv, r.idx, r.text, r.ts))
        .toDF("conv_id", "turn_idx", "text", "ts")
      def got(out: org.apache.spark.sql.DataFrame): Map[String, (Long, String)] =
        out.select("conv_id", "n_turns", "full_text").collect()
          .map(r => r.getString(0) -> ((r.getLong(1), r.getString(2)))).toMap
      got(Rollup.rollup(df)) == expected &&
        got(Rollup.rollupSalted(df, blockSize = 2)) == expected &&
        got(Rollup.rollupSalted(df, blockSize = 7)) == expected
    })
  }

  // ---- route: disjointness, coverage, first-match, multi-match set equality ----

  private case class RRow(id: Int, role: String, v: Option[Int])

  private val genRouteRows: Gen[List[RRow]] = Gen.listOf(for {
    role <- Gen.oneOf("user", "assistant", "tool")
    v <- Gen.option(Gen.choose(0, 20))
  } yield RRow(0, role, v)).map(_.zipWithIndex.map { case (r, i) => r.copy(id = i) })

  test("property: route fan-out = exact predicate sets; match_once partitions") {
    val table = RouteTable(Seq(
      RouteSpec("a", col("role") === "assistant"),
      RouteSpec("b", col("v") > 10), // null v → null predicate → ignore
      RouteSpec("c", col("role") === "user" && col("v") < 5)))
    check("route", 10)(Prop.forAll(genRouteRows) { rows =>
      val m = rows.map { r =>
        r.id -> Seq(
          "a" -> (r.role == "assistant"),
          "b" -> r.v.exists(_ > 10),
          "c" -> (r.role == "user" && r.v.exists(_ < 5))).filter(_._2).map(_._1)
      }.toMap
      val df = rows.map(r => (r.id, r.role, r.v)).toDF("id", "role", "v")
      val sinks = RouteStage.fanOut(df, table)
      val fanOutOk = Seq("a", "b", "c").forall { s =>
        sinks(s).select("id").as[Int].collect().toSet ==
          m.collect { case (id, hits) if hits.contains(s) => id }.toSet
      } && sinks("default").select("id").as[Int].collect().toSet ==
        m.collect { case (id, hits) if hits.isEmpty => id }.toSet
      val tagged = RouteStage.tagged(df, table)
        .select("id", "route").as[(Int, String)].collect().toMap
      val firstMatchOk = rows.forall { r =>
        tagged(r.id) == m(r.id).headOption.getOrElse("default")
      }
      // coverage + disjointness: every row exactly one match_once route
      fanOutOk && firstMatchOk && tagged.size == rows.size
    })
  }

  // ---- parse bank: one-pass expression ≡ sequential find() semantics ----

  private val bank = Seq(
    PatternSpec("p1", "^a=(?P<av>\\d+) b=(?P<bv>\\w+)$", Seq("a", "b")),
    PatternSpec("p2", "x:(?P<xv>\\w+)", Seq("x")),
    PatternSpec("p3", "(?P<num>\\d+)", Seq("num")))
  private val mirror = Seq(
    ("p1", Pattern.compile("^a=(\\d+) b=(\\w+)$"), Seq("a", "b")),
    ("p2", Pattern.compile("x:(\\w+)"), Seq("x")),
    ("p3", Pattern.compile("(\\d+)"), Seq("num")))

  private val genLine: Gen[String] = Gen.oneOf(
    Gen.zip(Gen.choose(0, 999), Gen.alphaLowerStr.map(_.take(5)))
      .map { case (n, w) => s"a=$n b=w$w" },
    Gen.alphaLowerStr.map(w => s"x:q${w.take(6)}"),
    Gen.choose(0, 99999).map(n => s"junk $n end"),
    Gen.alphaLowerStr.map(_.take(10)),
    Gen.const(""))

  test("property: MultiPatternExtract ≡ first partial match of the bank") {
    check("bank", 10)(Prop.forAll(Gen.listOf(genLine)) { lines =>
      def expected(s: String): Option[(String, Map[String, String])] =
        mirror.view.flatMap { case (name, pat, fields) =>
          val mm = pat.matcher(s)
          if (mm.find())
            Some(name -> fields.zipWithIndex.map { case (f, i) => f -> mm.group(i + 1) }.toMap)
          else None
        }.headOption
      val got = lines.zipWithIndex.map(_.swap).toDF("i", "s")
        .select(col("i"), ParseStage.extract(col("s"), bank).as("x"))
        .select(col("i"), col("x.pattern"), col("x.fields"))
        .collect().map { r =>
          r.getInt(0) -> (if (r.isNullAt(1)) None
            else Some(r.getString(1) -> r.getMap[String, String](2).toMap))
        }.toMap
      lines.zipWithIndex.forall { case (s, i) => got(i) == expected(s) }
    })
  }

  // ---- k-means Lloyd step laws (Similarity.kmeansStep / e21) ----

  test("property: kmeansStep partitions the corpus; means bounded; input-order invariant") {
    val dim = 4
    val genVec: Gen[Array[Double]] =
      Gen.containerOfN[Array, Double](dim, Gen.chooseNum(-2.0, 2.0))
    val genCorpus: Gen[List[Array[Double]]] =
      Gen.nonEmptyListOf(genVec).map(_.take(40))
    check("kmeans", 8)(Prop.forAll(genCorpus, Gen.chooseNum(1, 3)) { (vecs, k) =>
      val centroids = Seq.tabulate(k)(i =>
        Array.tabulate(dim)(j => if (j == i % dim) 1.0 else 0.1 * i))
      val df = vecs.zipWithIndex.map { case (v, i) => (i.toLong, v) }
        .toDF("vec_id", "vec")
      val rows = graft.ops.Similarity.kmeansStep(df, "vec", centroids)
        .as[(Int, Int, Long, Long)].collect().toSeq
      // every occupied cell reports all dims with one shared occupancy,
      // occupancies sum to the corpus size (assignment is a partition)
      val byCell = rows.groupBy(_._1)
      val partitioned = byCell.values.forall { rs =>
        rs.map(_._2).sorted == (0 until dim) && rs.map(_._3).distinct.size == 1
      } && byCell.values.map(_.head._3).sum == vecs.size.toLong
      // each mean lies within the generator's floored component range
      // (floor division of exact e6 sums cannot escape [min, max])
      val bounded = rows.forall { case (_, _, n, mean) =>
        n > 0 && mean >= -2000000L && mean <= 2000000L
      }
      // order invariance: reversed input produces the identical row set
      val rev = graft.ops.Similarity.kmeansStep(
        df.orderBy(col("vec_id").desc), "vec", centroids)
        .as[(Int, Int, Long, Long)].collect().toSeq
      partitioned && bounded && rows.toSet == rev.toSet
    })
  }
}
