package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec

class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  private val dim = 16
  private lazy val vectors = {
    val rnd = new scala.util.Random(11)
    Seq.tabulate(300)(i => (i.toLong, Array.fill(dim)(rnd.nextGaussian().toFloat).toSeq))
      .toDF("vec_id", "embedding").cache()
  }
  private lazy val query: Array[Double] =
    vectors.filter(col("vec_id") === 42).select("embedding")
      .as[Seq[Float]].head().map(_.toDouble).toArray

  test("brute-force top-k: the query's own vector ranks first with cosine 1") {
    val top = Similarity.bruteForceTopK(vectors, "vec_id", "embedding", query, 5)
      .as[(Long, Double)].collect()
    assert(top.length == 5)
    assert(top.head._1 == 42L && math.abs(top.head._2 - 1.0) < 1e-9)
    assert(top.map(_._2).sliding(2).forall(p => p(0) >= p(1)), "not sorted desc")
  }

  test("LSH top-k finds the exact match and only returns verified cosines") {
    val top = Similarity.lshTopK(vectors, "vec_id", "embedding", query, 5, signBits = 8)
      .as[(Long, Double)].collect()
    assert(top.nonEmpty && top.head._1 == 42L, s"exact match missed: ${top.toSeq}")
  }

  test("IVF: cell assignment is total; probing nearest cells finds the match") {
    val centroids = vectors.filter(col("vec_id") % 30 === 0)
      .select("embedding").as[Seq[Float]].collect()
      .map(_.map(_.toDouble).toArray).toSeq
    val assigned = Similarity.ivfAssign(vectors, "embedding", centroids).cache()
    assert(assigned.filter(col("cell").isNull || col("cell") < 0
      || col("cell") >= centroids.size).count() == 0)
    val top = Similarity.ivfTopK(assigned, "vec_id", "embedding", query,
      centroids, k = 5, nProbe = 3).as[(Long, Double)].collect()
    assert(top.head._1 == 42L, s"IVF missed exact match: ${top.toSeq}")
  }

  test("IVF: a single-centroid quantizer assigns every row to cell 0") {
    // legal degenerate coarse quantizer — greatest() needs >= 2 args,
    // so the 1-centroid case takes the direct path
    val one = Seq(Array.fill(64)(0.1)).toSeq
    val assigned = Similarity.ivfAssign(vectors, "embedding", one)
    assert(assigned.filter(col("cell") =!= 0).count() == 0)
    intercept[IllegalArgumentException] {
      Similarity.ivfAssign(vectors, "embedding", Nil)
    }
  }

  test("PQ top-k ≡ plain-Scala reference (codes, tables, integer ranking)") {
    val m = 4 // dim 16 → 4 subspaces of 4
    val seeds = vectors.filter(col("vec_id") % 30 === 1)
      .orderBy("vec_id").limit(4)
      .select("embedding").as[Seq[Float]].collect()
      .map(_.map(_.toDouble).toArray).toSeq
    val codebook = Similarity.pqCodebook(seeds, m)
    val got = Similarity.pqTopK(vectors, "vec_id", "embedding", query, codebook, 10)
      .as[(Long, Long)].collect().toSeq
    // reference: same float→double inputs, same left-fold quantized L2
    val sub = dim / m
    def dE6(a: Array[Double], c: Array[Double]): Long =
      math.floor(1e6 * a.zip(c).map { case (x, y) => (x - y) * (x - y) }
        .reduceLeft(_ + _)).toLong
    val dtab = (0 until m).map(j =>
      codebook(j).map(c => dE6(query.slice(j * sub, (j + 1) * sub), c)))
    val expected = vectors.select("vec_id", "embedding")
      .as[(Long, Seq[Float])].collect()
      .map { case (id, vf) =>
        val v = vf.map(_.toDouble).toArray
        val adt = (0 until m).map { j =>
          val ds = codebook(j).map(c => dE6(v.slice(j * sub, (j + 1) * sub), c))
          dtab(j)(ds.zipWithIndex.minBy { case (d, ci) => (d, ci) }._2)
        }.sum
        (id, adt)
      }.sortBy { case (id, adt) => (adt, id) }.take(10).toSeq
    assert(got == expected, s"got $got\nexpected $expected")
  }

  test("IVF-PQ: probing all cells ≡ flat PQ; pruning keeps the query's cell") {
    val m = 4
    val seeds = vectors.filter(col("vec_id") % 30 === 1)
      .orderBy("vec_id").limit(4)
      .select("embedding").as[Seq[Float]].collect()
      .map(_.map(_.toDouble).toArray).toSeq
    val codebook = Similarity.pqCodebook(seeds, m)
    val centroids = vectors.filter(col("vec_id") % 30 === 0)
      .orderBy("vec_id").limit(8)
      .select("embedding").as[Seq[Float]].collect()
      .map(_.map(_.toDouble).toArray).toSeq
    // nProbe = all cells: the coarse layer prunes nothing → exactly the
    // flat pqTopK ranking
    val all = Similarity.ivfPqTopK(vectors, "vec_id", "embedding", query,
      centroids, codebook, k = 10, nProbe = centroids.size)
      .as[(Long, Long)].collect().toSeq
    val flat = Similarity.pqTopK(vectors, "vec_id", "embedding", query,
      codebook, 10).as[(Long, Long)].collect().toSeq
    assert(all == flat)
    // pruned probe: results come only from probed cells, and the
    // query's own vector (same cell as the query by construction —
    // distance 0 to itself) survives the pruning
    val pruned = Similarity.ivfPqTopK(vectors, "vec_id", "embedding", query,
      centroids, codebook, k = 10, nProbe = 2)
      .as[(Long, Long)].collect().toSeq
    assert(pruned.size == 10)
    assert(pruned.map(_._1).contains(42L), s"query vector pruned away: $pruned")
    // ADT values agree with the flat ranking for every surviving id
    val flatMapByid = flat.toMap
    pruned.filter(p => flatMapByid.contains(p._1)).foreach { case (id, adt) =>
      assert(adt == flatMapByid(id), s"ADT drifted for $id")
    }
    intercept[IllegalArgumentException] {
      Similarity.ivfPqTopK(vectors, "vec_id", "embedding", query,
        centroids, codebook, k = 10, nProbe = 0)
    }
  }

  test("PQ loop expressions ≡ the unrolled declarative renderings, all rows") {
    // PqAdtE6 / PqCellAssignE6 replaced ~2-3k-node unrolled plans; this
    // pins bit-equality on every row (not just the top-k), codegen vs
    // the element_at/least(struct) arithmetic the SQL oracles replay
    import org.apache.spark.sql.graftbridge.Bridge
    val m = 4; val sub = dim / m
    val seeds = vectors.filter(col("vec_id") % 30 === 1)
      .orderBy("vec_id").limit(4)
      .select("embedding").as[Seq[Float]].collect()
      .map(_.map(_.toDouble).toArray).toSeq
    val codebook = Similarity.pqCodebook(seeds, m)
    val dtab: Seq[Array[Long]] = codebook.zipWithIndex.map { case (cents, j) =>
      cents.map { c =>
        val qs = query.slice(j * sub, (j + 1) * sub)
        math.floor(1e6 * qs.zip(c).map { case (q, w) => (q - w) * (q - w) }
          .reduceLeft(_ + _)).toLong
      }.toArray
    }
    val dv = col("embedding").cast("array<double>")
    val fastAdt = Bridge.column(graft.functions.PqAdtE6(
      Bridge.expression(dv), codebook.map(_.toArray).toArray, dtab.toArray))
    val slowAdt = codebook.indices.map(j =>
      element_at(lit(dtab(j)), col(s"code_$j") + 1)).reduceLeft(_ + _)
    val adtDiff = SimilaritySpec.pqEncode(vectors, "embedding", codebook)
      .select(fastAdt.as("fast"), slowAdt.as("slow"))
      .as[(Long, Long)].collect()
    assert(adtDiff.length == 300 && adtDiff.forall { case (f, s) => f == s })

    val centroids = vectors.filter(col("vec_id") % 30 === 0)
      .orderBy("vec_id").limit(8)
      .select("embedding").as[Seq[Float]].collect()
      .map(_.map(_.toDouble).toArray).toSeq
    def subDist(c: Array[Double], j: Int): org.apache.spark.sql.Column = {
      val terms = (0 until sub).map { i =>
        val el = element_at(dv, j * sub + i + 1)
        (el - lit(c(j * sub + i))) * (el - lit(c(j * sub + i)))
      }
      floor(lit(1e6) * terms.reduceLeft(_ + _)).cast("bigint")
    }
    val scored = centroids.zipWithIndex.map { case (c, i) =>
      struct((0 until m).map(subDist(c, _)).reduceLeft(_ + _).as("d"),
        lit(i).as("cell"))
    }
    val fastCell = Bridge.column(graft.functions.PqCellAssignE6(
      Bridge.expression(dv), centroids.toArray, m))
    val cellDiff = vectors
      .select(fastCell.as("fast"), least(scored: _*).getField("cell").as("slow"))
      .as[(Int, Int)].collect()
    assert(cellDiff.length == 300 && cellDiff.forall { case (f, s) => f == s })
  }

  test("SQ8 top-k ≡ plain-Scala reference; self-match at distance 0") {
    val (mn, mx) = Similarity.sqMinMax(vectors, "embedding")
    val got = Similarity.sqTopK(vectors, "vec_id", "embedding", query, mn, mx, 10)
      .as[(Long, Long)].collect().toSeq
    // reference: same min/max (exact selections recomputed in Scala),
    // same quantize expression, same integer distance
    val all = vectors.select("vec_id", "embedding")
      .as[(Long, Seq[Float])].collect()
      .map { case (id, vf) => (id, vf.map(_.toDouble).toArray) }
    val refMn = (0 until dim).map(i => all.map(_._2(i)).min).toArray
    val refMx = (0 until dim).map(i => all.map(_._2(i)).max).toArray
    assert(mn.toSeq == refMn.toSeq && mx.toSeq == refMx.toSeq,
      "sqMinMax drifted from the exact per-dim selections")
    val qc = Similarity.sqQuantize(query, mn, mx)
    val expected = all.map { case (id, v) =>
      val c = Similarity.sqQuantize(v, mn, mx)
      (id, qc.zip(c).map { case (a, b) => (a - b) * (a - b) }.sum)
    }.sortBy { case (id, d) => (d, id) }.take(10).toSeq
    assert(got == expected, s"got $got\nexpected $expected")
    // the query IS vec_id 42's vector: it quantizes to its own codes
    assert(got.head == ((42L, 0L)), s"self-match not first: ${got.head}")
  }

  test("SQ8: constant dims code to 0 (no divide-by-zero NaN)") {
    val flat = Seq((1L, Seq(1.0f, 3.0f)), (2L, Seq(1.0f, 7.0f)),
      (3L, Seq(1.0f, 5.0f))).toDF("vec_id", "embedding")
    val (mn, mx) = Similarity.sqMinMax(flat, "embedding")
    assert(mn(0) == 1.0 && mx(0) == 1.0)
    val q = Array(1.0, 3.0)
    assert(Similarity.sqQuantize(q, mn, mx).head == 0L)
    val top = Similarity.sqTopK(flat, "vec_id", "embedding", q, mn, mx, 3)
      .as[(Long, Long)].collect().toSeq
    // dim 0 contributes 0 everywhere; dim 1 codes: 3→0, 5→127, 7→255
    assert(top == Seq((1L, 0L), (3L, 127L * 127L), (2L, 255L * 255L)),
      s"got $top")
  }

  test("SQ8 recall on separated clusters is exact (near-lossless family)") {
    // cluster size == k: the ground-truth top-10 is exactly the query's
    // co-member set, so the assertion is about cluster MEMBERSHIP
    // surviving quantization. (Within-cluster ORDER does scramble when
    // the 8-bit step range/256 exceeds the noise scale — a 30-member
    // cluster at σ=0.05 reads recall 0.7 for exactly that reason.)
    val rnd = new scala.util.Random(7)
    val centers = Seq.fill(10)(Array.fill(dim)(rnd.nextGaussian() * 5))
    val clustered = (for { c <- 0 until 10; i <- 0 until 10 } yield
      ((c * 10 + i).toLong,
        centers(c).map(x => (x + rnd.nextGaussian() * 0.05).toFloat).toSeq))
      .toDF("vec_id", "embedding")
    val q = clustered.filter(col("vec_id") === 0).select("embedding")
      .as[Seq[Float]].head().map(_.toDouble).toArray
    val (mn, mx) = Similarity.sqMinMax(clustered, "embedding")
    val r = Similarity.recallAtK(
      Similarity.sqTopK(clustered, "vec_id", "embedding", q, mn, mx, 10),
      Similarity.l2TopK(clustered, "vec_id", "embedding", q, m = 8, k = 10),
      "vec_id", k = 10).as[(Long, Long, Long)].head()
    assert(r._3 >= 9000L, s"SQ8 recall ${r._3} < 0.9 on separated clusters")
  }

  test("PQ/SQ top-k: null vectors are filtered, short vectors fail loud") {
    // a null embedding must not occupy rank 1 via NULLS FIRST ordering
    val withNull = vectors.select("vec_id", "embedding").as[(Long, Seq[Float])]
      .collect().toSeq.map { case (id, v) => (id, Option(v)) }
      .:+((999L, Option.empty[Seq[Float]]))
      .toDF("vec_id", "embedding")
    val seeds = vectors.filter(col("vec_id") % 30 === 1)
      .orderBy("vec_id").limit(4)
      .select("embedding").as[Seq[Float]].collect()
      .map(_.map(_.toDouble).toArray).toSeq
    val codebook = Similarity.pqCodebook(seeds, m = 4)
    val pq = Similarity.pqTopK(withNull, "vec_id", "embedding", query, codebook, 10)
      .as[(Long, Long)].collect()
    assert(!pq.map(_._1).contains(999L), s"null vector ranked: ${pq.toSeq}")
    val (mn, mx) = Similarity.sqMinMax(vectors, "embedding")
    val sq = Similarity.sqTopK(withNull, "vec_id", "embedding", query, mn, mx, 10)
      .as[(Long, Long)].collect()
    assert(!sq.map(_._1).contains(999L), s"null vector ranked: ${sq.toSeq}")
    // a vector SHORTER than the index dim must fail loud, not compute a
    // distance from out-of-bounds bytes (UnsafeArrayData has no check)
    val short = Seq((1L, Seq(1.0f, 2.0f))).toDF("vec_id", "embedding")
    val e = intercept[Exception] {
      Similarity.sqTopK(short, "vec_id", "embedding", query, mn, mx, 1).collect()
    }
    def rootMsg(t: Throwable): String =
      (Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
        .map(x => Option(x.getMessage).getOrElse("")).mkString(" | "))
    assert(rootMsg(e).contains("needs"), s"wrong failure: ${rootMsg(e).take(200)}")
  }

  test("PQ encode: duplicate centroids tie toward the smaller code") {
    val seed = Array.fill(dim)(0.5)
    val codebook = Similarity.pqCodebook(Seq(seed, seed.clone()), m = 4)
    val codes = SimilaritySpec.pqEncode(vectors, "embedding", codebook)
      .select("code_0", "code_1", "code_2", "code_3")
      .as[(Int, Int, Int, Int)].collect()
    assert(codes.forall(c => c == ((0, 0, 0, 0))), "tie must pick code 0")
  }

  test("knn join: brute finds planted cluster co-members for every vector") {
    // 10 clusters of 4 near-identical vectors: each vector's top-3
    // neighbours must be exactly its 3 co-members
    val rnd = new scala.util.Random(5)
    val dim = 16
    val centers = Seq.fill(10)(Array.fill(dim)(rnd.nextGaussian()))
    val clustered = (for {
      c <- 0 until 10; m <- 0 until 4
    } yield ((c * 10 + m).toLong,
        centers(c).map(x => (x + rnd.nextGaussian() * 0.01).toFloat).toSeq))
      .toDF("vec_id", "embedding")
    val brute = Similarity.knnJoinBrute(clustered, "vec_id", "embedding", 3)
      .as[(Long, Long, Int, Long)].collect()
    assert(brute.length == 40 * 3)
    val byId = brute.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    for (c <- 0 until 10; m <- 0 until 4) {
      val id = (c * 10 + m).toLong
      val want = (0 until 4).map(x => (c * 10 + x).toLong).toSet - id
      assert(byId(id) == want, s"vec $id neighbours ${byId(id)}, wanted $want")
    }
    // LSH scale path: recall vs brute on the same clustered corpus
    val lsh = Similarity.knnJoinLsh(clustered, "vec_id", "embedding",
        k = 3, dim = dim, signBits = 6)
      .as[(Long, Long, Int, Long)].collect()
    val lshPairs = lsh.map(r => (r._1, r._2)).toSet
    val brutePairs = brute.map(r => (r._1, r._2)).toSet
    val recall = (lshPairs & brutePairs).size.toDouble / brutePairs.size
    assert(recall >= 0.9, s"LSH knn-join recall $recall < 0.9")
    // and LSH never invents a better-than-brute neighbour: every LSH
    // pair at rank r has cos_e4 <= the brute pair at the same rank
    val bruteRank = brute.map(r => (r._1, r._3) -> r._4).toMap
    assert(lsh.forall(r => r._4 <= bruteRank((r._1, r._3))))
  }

  test("cosine codegen expression is bit-identical to the HOF rendering") {
    val dv = col("embedding").cast("array<double>")
    val diff = vectors.select(
      Similarity.cosine(dv, lit(query)).as("fast"),
      HofOracles.cosineHof(dv, lit(query)).as("slow"))
      .as[(Double, Double)].collect()
    assert(diff.nonEmpty && diff.forall { case (f, h) => f == h })
    // length mismatch → null, like zip_with's null padding
    val bad = Seq(Seq(1.0, 2.0)).toDF("v")
      .select(Similarity.cosine(col("v"), lit(Array(1.0, 2.0, 3.0))).as("fast"),
        HofOracles.cosineHof(col("v"), lit(Array(1.0, 2.0, 3.0))).as("slow"))
      .as[(Option[Double], Option[Double])].head()
    assert(bad._1.isEmpty && bad._2.isEmpty)
    // zero-norm vector → 0.0 in BOTH renderings: unguarded, the codegen
    // path's 0/0 NaN ranks above every threshold (NaN > x in Spark
    // orderings) and the HOF's ANSI Divide throws DIVIDE_BY_ZERO
    val zero = Seq(Seq(0.0, 0.0, 0.0)).toDF("v")
      .select(Similarity.cosine(col("v"), lit(Array(1.0, 2.0, 3.0))).as("fast"),
        HofOracles.cosineHof(col("v"), lit(Array(1.0, 2.0, 3.0))).as("slow"))
      .as[(Double, Double)].head()
    assert(zero._1 == 0.0 && zero._2 == 0.0)
  }

  test("lsh bucket codegen expression matches the per-plane HOF rendering") {
    val planes = Similarity.hyperplanes(dim, 12)
    val dv = col("embedding").cast("array<double>")
    val diff = vectors.select(
      Similarity.lshBucket(dv, planes).as("fast"),
      HofOracles.lshBucketHof(dv, planes).as("slow"))
      .as[(Long, Long)].collect()
    assert(diff.nonEmpty && diff.forall { case (f, h) => f == h })
    // dimension mismatch → bucket 0 (every plane's dot is null → bit 0)
    val bad = Seq(Seq(1.0, 2.0)).toDF("v")
      .select(Similarity.lshBucket(col("v"), planes).as("fast"),
        HofOracles.lshBucketHof(col("v"), planes).as("slow"))
      .as[(Long, Long)].head()
    assert(bad._1 == 0L && bad._2 == 0L)
  }

  test("LSH bucket predicate prunes most of the corpus") {
    val planes = Similarity.hyperplanes(dim, 8)
    val bucketed = vectors.withColumn("bucket",
      Similarity.lshBucket(col("embedding").cast("array<double>"), planes))
    val sizes = bucketed.groupBy("bucket").count().as[(Long, Long)].collect()
    assert(sizes.length > 50, s"only ${sizes.length} buckets for 300 vecs — no spread")
  }

  test("recallAtK: overlap fraction of approx vs exact top-k") {
    val exact = Seq(1L, 2L, 3L, 4L, 5L).toDF("vec_id")
    val approx = Seq(1L, 3L, 5L, 7L, 9L).toDF("vec_id") // 3 of 5 right
    val r = Similarity.recallAtK(approx, exact, "vec_id", k = 5)
      .as[(Long, Long, Long)].head()
    assert(r == ((5L, 3L, 6000L)), s"got $r")
    // disjoint result sets → recall 0 (count over an empty join, not no-row)
    val zero = Similarity.recallAtK(Seq(8L).toDF("vec_id"), exact, "vec_id", 5)
      .as[(Long, Long, Long)].head()
    assert(zero == ((5L, 0L, 0L)))
    // an exact-subset approx result → recall 1
    val full = Similarity.recallAtK(exact, exact, "vec_id", 5)
      .as[(Long, Long, Long)].head()
    assert(full == ((5L, 5L, 10000L)))
    // ground truth smaller than k: denominator is min(k, |GT|), so a
    // perfect answer on a 5-vector corpus at k=10 reads 1.0, not 0.5
    val subK = Similarity.recallAtK(exact, exact, "vec_id", 10)
      .as[(Long, Long, Long)].head()
    assert(subK == ((10L, 5L, 10000L)), s"got $subK")
    // duplicated ids must not multiply join rows past 1.0
    val dup = Similarity.recallAtK(
      Seq(1L, 1L, 1L, 2L, 3L).toDF("vec_id"), exact, "vec_id", 5)
      .as[(Long, Long, Long)].head()
    assert(dup == ((5L, 3L, 6000L)), s"got $dup")
    // empty ground truth → 0 hits over a clamped denominator, not a crash
    val emptyGt = Similarity.recallAtK(
      approx, exact.filter(col("vec_id") > 99), "vec_id", 5)
      .as[(Long, Long, Long)].head()
    assert(emptyGt == ((5L, 0L, 0L)))
  }

  test("rrfFuse: hand-computed integer contributions, absent-id semantics") {
    // list ranks by (score desc, id asc); contrib = 1000000 div (60+rank)
    val l1 = Seq((1L, 100L), (2L, 90L), (3L, 80L)).toDF("vec_id", "s")
    val l2 = Seq((9L, 50L), (3L, 40L), (4L, 30L)).toDF("vec_id", "s")
    val got = Similarity.rrfFuse(Seq(l1, l2), "vec_id", "s", k = 3)
      .as[(Long, Long, Long)].collect().toSeq
    val c1 = 1000000L / 61; val c2 = 1000000L / 62; val c3 = 1000000L / 63
    // id 3 appears in both lists (ranks 3 and 2); ids 1 and 9 tie on one
    // rank-1 contribution each → id asc breaks the tie; id 4 misses k=3
    assert(got == Seq((3L, 2L, c3 + c2), (1L, 1L, c1), (9L, 1L, c1)),
      s"got $got")
  }

  test("ivfCellStats: per-cell integer stats; avg is FLOOR division") {
    // mirror CosineSim's exact accumulation (dot/(√na·√nb)) so the
    // expected e6 floors carry no hand-derived float assumptions
    def e6(v: Array[Double], c: Array[Double]): Long = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < v.length) {
        dot += v(i) * c(i); na += v(i) * v(i); nb += c(i) * c(i); i += 1
      }
      math.floor(1e6 * (dot / (math.sqrt(na) * math.sqrt(nb)))).toLong
    }
    val c0 = Array(1.0, 0.0); val c1 = Array(0.0, 1.0)
    val v1 = Array(1.0, 0.0); val v2 = Array(0.6, 0.8)
    val v3 = Array(0.0, 1.0); val v4 = Array(0.8, 0.6)
    val docs = Seq((1L, v1), (2L, v2), (3L, v3), (4L, v4))
      .toDF("vec_id", "vec")
    val got = Similarity.ivfCellStats(docs, "vec_id", "vec", Seq(c0, c1))
      .as[(Int, Long, Long, Long, Long)].collect().toSet
    def cellRow(cell: Int, es: Seq[Long]) =
      (cell, es.size.toLong, Math.floorDiv(es.sum, es.size.toLong),
        es.min, es.max)
    // sims 0.6 vs 0.8 put v2 in cell 1, v4 in cell 0 (and v1/v3 exact)
    val want = Set(
      cellRow(0, Seq(e6(v1, c0), e6(v4, c0))),
      cellRow(1, Seq(e6(v2, c1), e6(v3, c1))))
    assert(got == want, s"got $got want $want")
    // negative-sum cell: floor(-1000000/3) = -333334, NOT the
    // toward-zero -333333 a bare truncating div would produce
    val neg = Seq(
      (1L, Array(-1.0, 0.0)),  // cent_e6 = -1000000 (exact)
      (2L, Array(0.0, 1.0)),   // cent_e6 = 0 (exact)
      (3L, Array(0.0, -1.0))   // cent_e6 = 0 (exact)
    ).toDF("vec_id", "vec")
    val n = Similarity.ivfCellStats(neg, "vec_id", "vec", Seq(c0))
      .as[(Int, Long, Long, Long, Long)].collect().toSet
    assert(n == Set((0, 3L, -333334L, -1000000L, 0L)), s"got $n")
  }

  test("rrfFuse: within-list score ties rank by id asc") {
    val l = Seq((7L, 100L), (5L, 100L), (6L, 90L)).toDF("vec_id", "s")
    val got = Similarity.rrfFuse(Seq(l), "vec_id", "s", k = 3)
      .as[(Long, Long, Long)].collect().toSeq
    assert(got == Seq(
      (5L, 1L, 1000000L / 61),
      (7L, 1L, 1000000L / 62),
      (6L, 1L, 1000000L / 63)), s"got $got")
  }

  test("kmeansStep: hand case — per-cell per-dim integer means, floor div on negatives") {
    val c0 = Array(1.0, 0.0); val c1 = Array(0.0, 1.0)
    // cell 0: (1,0) and (0.8,-0.6) → dim0 e6 sum 1800000/2, dim1
    // floor(1e6*-0.6) = -600000 → mean floor(-600000/2) = -300000;
    // cell 1: (0,1) alone. -0.6 has no exact double, so floor() is the
    // spec'd quantizer on BOTH sides — compute expectations the same way
    val f = (x: Double) => math.floor(1e6 * x).toLong
    val docs = Seq(
      (1L, Array(1.0, 0.0)), (2L, Array(0.8, -0.6)), (3L, Array(0.0, 1.0))
    ).toDF("vec_id", "vec")
    val got = Similarity.kmeansStep(docs, "vec", Seq(c0, c1))
      .as[(Int, Int, Long, Long)].collect().toSet
    val want = Set(
      (0, 0, 2L, Math.floorDiv(f(1.0) + f(0.8), 2L)),
      (0, 1, 2L, Math.floorDiv(f(0.0) + f(-0.6), 2L)),
      (1, 0, 1L, f(0.0)),
      (1, 1, 1L, f(1.0)))
    assert(got == want, s"got $got want $want")
  }

  test("kmeansStep: output bounded by cells x dim; counts agree with ivfAssign") {
    val centroids = vectors.filter(col("vec_id") % 30 === 0)
      .select("embedding").as[Seq[Float]].collect()
      .map(_.map(_.toDouble).toArray).toSeq
    val step = Similarity.kmeansStep(vectors, "embedding", centroids).cache()
    assert(step.count() <= centroids.size.toLong * dim)
    // every present (cell, j) row carries that cell's full occupancy
    val byCell = step.groupBy("cell").agg(
      countDistinct("j").as("dims"), max("n_vecs").as("mx"),
      min("n_vecs").as("mn")).as[(Int, Long, Long, Long)].collect()
    assert(byCell.forall { case (_, dims, mx, mn) => dims == dim && mx == mn })
    val assignCounts = Similarity.ivfAssign(vectors, "embedding", centroids)
      .groupBy("cell").count().as[(Int, Long)].collect().toMap
    val stepCounts = step.filter(col("j") === 0)
      .select("cell", "n_vecs").as[(Int, Long)].collect().toMap
    assert(stepCounts == assignCounts, s"$stepCounts vs $assignCounts")
    step.unpersist()
  }

  test("embeddingHygiene: one specimen of each defect is counted, clean rows are not") {
    val rows = Seq(
      (1L, null.asInstanceOf[Array[Float]]),        // null vector
      (2L, Array(1.0f, 2.0f)),                      // wrong dim (2 of 3)
      (3L, Array(Float.NaN, 1.0f, 0.0f)),           // NaN component
      (4L, Array(0.0f, 0.0f, 0.0f)),                // all-zero
      (5L, Array(1.0f, 2.0f, 3.0f)),                // clean
      (6L, Array(Float.PositiveInfinity, 0.0f, 0.0f)) // Inf component
    ).toDF("vec_id", "vec")
    val got = Similarity.embeddingHygiene(rows, "vec", dim = 3)
      .as[(Long, Long, Long, Long, Long)].head()
    assert(got == ((6L, 1L, 1L, 2L, 1L)), s"got $got")
  }

  test("labelCentroidMatrix: hand-computed integer dot/dist², all pairs a<b") {
    // exact-binary components so the e6 floors are unambiguous
    val docs = Seq(
      (1L, 0, Array(1.0, 0.0)), (2L, 0, Array(0.5, 0.5)), // centroid (750000, 250000)
      (3L, 1, Array(0.0, 1.0)),                           // centroid (0, 1000000)
      (4L, 2, Array(-0.25, -0.75))                        // centroid (-250000, -750000)
    ).toDF("vec_id", "label", "vec")
    val got = Similarity.labelCentroidMatrix(docs, "vec", "label")
      .as[(Int, Int, Long, Long)].collect().toSet
    def dot(a: (Long, Long), b: (Long, Long)) = a._1 * b._1 + a._2 * b._2
    def d2(a: (Long, Long), b: (Long, Long)) = {
      val (x, y) = (a._1 - b._1, a._2 - b._2); x * x + y * y
    }
    val c0 = (750000L, 250000L); val c1 = (0L, 1000000L)
    val c2 = (-250000L, -750000L)
    val want = Set(
      (0, 1, dot(c0, c1), d2(c0, c1)),
      (0, 2, dot(c0, c2), d2(c0, c2)),
      (1, 2, dot(c1, c2), d2(c1, c2)))
    assert(got == want, s"got $got want $want")
  }

  test("labelCentroidMatrix: pair completeness and identical-label-distribution zero distance") {
    val m = Similarity.labelCentroidMatrix(vectors
      .withColumn("label", (col("vec_id") % 4).cast("int")), "embedding", "label")
      .as[(Int, Int, Long, Long)].collect()
    // every unordered label pair appears exactly once, a < b
    assert(m.length == 6 && m.forall { case (a, b, _, _) => a < b })
    // duplicating a label's rows under a new label yields an identical
    // centroid → dist² = 0 against its twin
    val twin = vectors.filter(col("vec_id") < 50).withColumn("label", lit(0))
    val both = twin.union(twin.withColumn("label", lit(1)))
    val z = Similarity.labelCentroidMatrix(both, "embedding", "label")
      .as[(Int, Int, Long, Long)].head()
    assert(z._4 == 0L, s"twin labels must be at distance 0, got ${z._4}")
  }

  test("two-stage re-rank recall (e20 shape) >= raw PQ@10 recall (e11 shape)") {
    // the exactness argument the e20 query relies on, exercised on a
    // corpus where PQ loss is visible: recall(two-stage) reads the
    // 50-row shortlist's recall, which contains the raw top-10's
    val seeds = vectors.filter(col("vec_id") % 7 === 1)
      .orderBy("vec_id").limit(4)
      .select("embedding").as[Seq[Float]].collect()
      .map(_.map(_.toDouble).toArray).toSeq
    val codebook = Similarity.pqCodebook(seeds, m = 4)
    val gt = Similarity.l2TopK(vectors, "vec_id", "embedding", query, m = 4, k = 10)
    def recall(approx: org.apache.spark.sql.DataFrame): Long =
      Similarity.recallAtK(approx, gt, "vec_id", k = 10)
        .select("recall_e4").as[Long].head()
    val raw = recall(Similarity.pqTopK(vectors, "vec_id", "embedding",
      query, codebook, k = 10))
    val shortlist = Similarity.pqTopK(vectors, "vec_id", "embedding",
      query, codebook, k = 50).select("vec_id")
    val twoStage = recall(Similarity.l2TopK(
      vectors.join(broadcast(shortlist), "vec_id"),
      "vec_id", "embedding", query, m = 4, k = 10))
    assert(twoStage >= raw, s"two-stage $twoStage < raw $raw")
  }
}

object SimilaritySpec {
  /** PQ-encode: adds `code_0 … code_{m-1}` int columns — per subspace
    * the index of the nearest centroid (quantized L2, ties → smaller
    * code). A narrow codegen map: at 10^12 vectors the encoded index is
    * m small ints per row (64-dim float → m=8 codes ≈ 32× smaller), the
    * compression that lets a PQ index sit in memory where raw vectors
    * cannot. */
  def pqEncode(df: DataFrame, vecCol: String,
               codebook: Seq[Seq[Array[Double]]]): DataFrame = {
    val dv = col(vecCol).cast("array<double>")
    codebook.zipWithIndex.foldLeft(df) { case (acc, (cents, j)) =>
      val scored = cents.zipWithIndex.map { case (c, ci) =>
        struct(Similarity.pqDistE6(dv, j, c).as("d"), lit(ci).as("c"))
      }
      val best = if (scored.size == 1) scored.head else least(scored: _*)
      acc.withColumn(s"code_$j", best.getField("c"))
    }
  }
}
