package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec

class DedupSpec extends SparkSpec {
  import spark.implicits._

  /** 30 base docs of 25 random tokens + a near-dup of each doc<10 with
    * one token changed (jaccard ≈ 0.85+) + one exact dup of doc 0. */
  private lazy val corpus = {
    val rnd = new scala.util.Random(7)
    val vocab = Vector.tabulate(200)(i => s"w$i")
    val base = Seq.tabulate(30)(i =>
      (i.toLong, Seq.fill(25)(vocab(rnd.nextInt(vocab.size))).mkString(" ")))
    val nearDups = base.take(10).map { case (i, t) =>
      val toks = t.split(" "); toks(12) = "CHANGED"
      (100L + i, toks.mkString(" "))
    }
    val exactDup = Seq((200L, base.head._2))
    (base ++ nearDups ++ exactDup).toDF("doc_id", "text").cache()
  }

  test("exactByHash groups identical texts") {
    // d01 is the exact dedup: one group per distinct text, its first
    // doc kept
    val dir = java.nio.file.Files.createTempDirectory("graft_d01").toString
    corpus.write.parquet(s"$dir/documents.parquet")
    val groups = graft.SparkEntry.queries("d01_dedup_exact")(spark, dir)
    assert(groups.count() == 40) // 41 docs, one exact dup
    val dupGroup = groups.filter(col("n") === 2).collect()
    assert(dupGroup.length == 1 && dupGroup(0).getAs[Long]("first_doc") == 0L)
  }

  test("brute-force jaccard finds exactly the planted near-dup pairs") {
    val pairs = Dedup.nearDupJaccardBrute(corpus, "doc_id", "text", threshold = 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val planted = (0L until 10L).map(i => (i, 100L + i)).toSet + ((0L, 200L)) + ((100L, 200L))
    assert(planted.subsetOf(pairs), s"missing: ${planted -- pairs}")
    // no spurious pairs between unrelated random docs
    assert(pairs.forall { case (a, b) => planted.contains((a, b)) },
      s"spurious: ${pairs -- planted}")
  }

  test("minhash LSH finds the planted near-dups and only verified pairs") {
    val brute = Dedup.nearDupJaccardBrute(corpus, "doc_id", "text", threshold = 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val lsh = Dedup.nearDupMinhashLsh(corpus, "doc_id", "text",
      numHashes = 64, bands = 16, threshold = 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    // exact-verify step makes LSH ⊆ brute; banding should catch all at j≥0.85
    assert(lsh.subsetOf(brute), s"unverified pairs leaked: ${lsh -- brute}")
    assert(lsh == brute, s"LSH missed: ${brute -- lsh}")
  }

  test("cross-corpus near-dup contamination: broadcast-LSH ≡ brute cross join") {
    val bench = corpus.filter(col("doc_id") < 5)
      .select((col("doc_id") + 1000L).as("bench_id"), col("text"))
    val result = Dedup.contaminationNearDup(corpus, "doc_id", "text",
      bench, "bench_id", "text", shingleSize = 1, threshold = 0.5)
    val lsh = result
      .select(col("doc_id"), col("bench_id"),
        floor(col("jaccard") * 10000).cast("long"))
      .as[(Long, Long, Long)].collect().toSet
    // independent rendering: STRING shingles, HOF jaccard, plain cross
    // join — proves hashed-verify ≡ string AND full LSH recall here
    val d = corpus.select(col("doc_id"), Dedup.shingles(col("text"), 1).as("sa"))
    val b = bench.select(col("bench_id"), Dedup.shingles(col("text"), 1).as("sb"))
    val brute = d.crossJoin(b)
      .select(col("doc_id"), col("bench_id"),
        HofOracles.jaccardHof(col("sa"), col("sb")).as("j"))
      .filter(col("j") >= 0.5)
      .select(col("doc_id"), col("bench_id"), floor(col("j") * 10000).cast("long"))
      .as[(Long, Long, Long)].collect().toSet
    assert(lsh == brute,
      s"missed: ${brute -- lsh}; unverified leaked: ${lsh -- brute}")
    // planted: doc 0 and its exact dup 200 match bench copy of doc 0 at
    // j=1.0; each near-dup 100+i matches bench copy of doc i
    assert(lsh.contains((0L, 1000L, 10000L)) && lsh.contains((200L, 1000L, 10000L)))
    assert((0 until 5).forall(i =>
      lsh.exists(p => p._1 == 100L + i && p._2 == 1000L + i)))
    // scale gate: the candidate join must be broadcast (corpus side
    // never shuffles for the join; only candidate dedup shuffles after)
    val plan = result.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"expected broadcast join:\n$plan")
    intercept[IllegalArgumentException] {
      Dedup.contaminationNearDup(corpus, "doc_id", "text", bench, "doc_id", "text")
    }
  }

  test("minhash LSH: a caller id column named `id` ≡ the same corpus under doc_id") {
    // `id` is the operator's internal candidate-id name: the attach join
    // must not resolve the caller's column against it (was ambiguous)
    val want = Dedup.nearDupMinhashLsh(corpus, "doc_id", "text", threshold = 0.5)
      .select("id_a", "id_b", "jaccard").as[(Long, Long, Double)].collect().toSet
    val got = Dedup.nearDupMinhashLsh(corpus.withColumnRenamed("doc_id", "id"),
        "id", "text", threshold = 0.5)
      .select("id_a", "id_b", "jaccard").as[(Long, Long, Double)].collect().toSet
    assert(got == want && want.nonEmpty)
  }

  test("near-dup contamination: a docs frame already carrying doc_id_c") {
    // `doc_id_c` is the operator's internal corpus-id name: a caller
    // column of that name must neither collide nor leak into the result
    val bench = corpus.filter(col("doc_id") < 5)
      .select((col("doc_id") + 1000L).as("bench_id"), col("text"))
    def pairs(docs: org.apache.spark.sql.DataFrame) =
      Dedup.contaminationNearDup(docs, "doc_id", "text", bench, "bench_id", "text",
          shingleSize = 1, threshold = 0.5)
        .select("doc_id", "bench_id", "jaccard").as[(Long, Long, Double)].collect().toSet
    val want = pairs(corpus)
    val got = pairs(corpus.withColumn("doc_id_c", -col("doc_id")))
    assert(got == want && want.nonEmpty)
  }

  test("simhash: hamming 0 for identical, small for near-dup, large for random") {
    val sigs = corpus.select(col("doc_id"), Dedup.simhash64(col("text")).as("sig"))
      .as[(Long, Long)].collect().toMap
    assert(sigs(0L) == sigs(200L))
    def hamming(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(hamming(sigs(0L), sigs(100L)) <= 16, "near-dup hamming too large")
    assert(hamming(sigs(5L), sigs(17L)) > 16, "random pair suspiciously close")
  }

  test("simhash custom expression is bit-identical to the HOF rendering") {
    val probes = corpus.limit(40)
      .select(Dedup.simhash64(col("text")).as("fast"),
        HofOracles.simhash64Hof(col("text")).as("slow"))
      .as[(Long, Long)].collect()
    assert(probes.nonEmpty && probes.forall { case (f, h) => f == h })
    // edge shapes: empty string, delimiters only, multi-space runs
    val edges = Seq("", " ", "  ", "a", "a b", " a  b ").toDF("text")
      .select(Dedup.simhash64(col("text")).as("fast"),
        HofOracles.simhash64Hof(col("text")).as("slow"))
      .as[(Long, Long)].collect()
    assert(edges.forall { case (f, h) => f == h })
  }

  test("embedding near-dup: LSH finds planted near-identical vectors") {
    val rnd = new scala.util.Random(13)
    val base = Seq.tabulate(100)(i =>
      (i.toLong, Array.fill(64)(rnd.nextGaussian().toFloat).toSeq))
    // plant near-dups: tiny perturbation of vectors 0..4
    val dups = (0 until 5).map { i =>
      (500L + i, base(i)._2.map(x => x + 0.001f))
    }
    val df = (base ++ dups).toDF("vec_id", "embedding")
    val brute = Dedup.nearDupEmbeddingBrute(df, "vec_id", "embedding", 0.99)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val planted = (0 until 5).map(i => (i.toLong, 500L + i)).toSet
    assert(planted.subsetOf(brute), s"brute missed: ${planted -- brute}")
    val lsh = Dedup.nearDupEmbedding(df, "vec_id", "embedding", 0.99)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(lsh.subsetOf(brute), "LSH produced unverified pairs")
    assert(planted.subsetOf(lsh), s"LSH missed planted: ${planted -- lsh}")
    // semantic dedup groups (e07 compose): each planted pair becomes a
    // 2-member component surviving as its min id
    val groups = Dedup.dedupGroups(
      Dedup.nearDupEmbedding(df, "vec_id", "embedding", 0.99))
    val summary = Dedup.dedupGroupSummary(groups)
      .as[(Long, Long)].collect().toMap
    for (i <- 0 until 5) assert(summary(i.toLong) == 2L,
      s"group $i: ${summary.get(i.toLong)}")
    val deletes = DedupSpec.dedupDeleteList(groups)
      .as[(Long, Long)].collect().toSet
    assert((0 until 5).map(i => (500L + i, i.toLong)).toSet.subsetOf(deletes))
  }

  test("band-hash codegen expression is bit-identical to the HOF rendering") {
    val sig = corpus.select(Dedup.minhashSignature(
      Dedup.shingleHashes(col("text"), 1), 64).as("sig"))
    val diff = sig.select(
      Dedup.bandHashes(col("sig"), 64, 16).as("fast"),
      HofOracles.bandHashesHof(col("sig"), 64, 16).as("slow"))
      .as[(Seq[Long], Seq[Long])].collect()
    assert(diff.nonEmpty && diff.forall { case (f, h) => f == h })
    // uneven band count divisor variant
    val diff2 = sig.select(
      Dedup.bandHashes(col("sig"), 64, 8).as("fast"),
      HofOracles.bandHashesHof(col("sig"), 64, 8).as("slow"))
      .as[(Seq[Long], Seq[Long])].collect()
    assert(diff2.forall { case (f, h) => f == h })
  }

  test("minhash codegen expression is bit-identical to the HOF rendering") {
    val sh = corpus.select(Dedup.shingles(col("text"), 3).as("sh"))
    val diff = sh.select(
      Dedup.minhashSignature(col("sh"), 64).as("fast"),
      HofOracles.minhashSignatureHof(col("sh"), 64).as("slow"))
      .as[(Seq[Long], Seq[Long])].collect()
    assert(diff.nonEmpty && diff.forall { case (f, h) => f == h })
    // hashed-shingle (long) input agrees with xxhash64(elem, h) HOF
    val shh = corpus.select(transform(Dedup.shingles(col("text"), 3),
      s => xxhash64(s)).as("shh"))
    val diffL = shh.select(
      Dedup.minhashSignature(col("shh"), 16).as("fast"),
      transform(sequence(lit(0), lit(15)), h =>
        array_min(transform(col("shh"), e => xxhash64(e, h)))).as("slow"))
      .as[(Seq[Long], Seq[Long])].collect()
    assert(diffL.forall { case (f, h) => f == h })
    // empty array → all-null signature like array_min(empty)
    val empty = Seq(Seq.empty[String]).toDF("sh")
      .select(Dedup.minhashSignature(col("sh"), 4).as("fast"),
        HofOracles.minhashSignatureHof(col("sh"), 4).as("slow"))
      .as[(Seq[Option[Long]], Seq[Option[Long]])].head()
    assert(empty._1 == Seq(None, None, None, None) && empty._1 == empty._2)
  }

  test("jaccard codegen expression matches the array_intersect HOF rendering") {
    val sh = corpus.select(col("doc_id"), Dedup.shingles(col("text"), 3).as("sh"))
    val pairs = sh.as("a").crossJoin(sh.as("b"))
      .filter(col("a.doc_id") < col("b.doc_id")).limit(300)
      .select(Dedup.jaccard(col("a.sh"), col("b.sh")).as("fast"),
        HofOracles.jaccardHof(col("a.sh"), col("b.sh")).as("slow"))
      .as[(Double, Double)].collect()
    assert(pairs.nonEmpty && pairs.forall { case (f, h) => f == h })
    // duplicate elements: intersection is distinct-count, sizes raw
    val dup = Seq((Seq("x", "x", "y"), Seq("x", "z"))).toDF("a", "b")
      .select(Dedup.jaccard(col("a"), col("b")).as("fast"),
        HofOracles.jaccardHof(col("a"), col("b")).as("slow"))
      .as[(Double, Double)].head()
    assert(dup._1 == dup._2 && dup._1 == 1.0 / 4.0)
    // two EMPTY arrays: both renderings define J(∅,∅) = 0.0 — an
    // unguarded 0/0 would be NaN in the JVM expression (and NaN sorts
    // ABOVE every threshold in Spark, pairing all empty docs) but a
    // DIVIDE_BY_ZERO error in the ANSI HOF. Unreachable from the dedup
    // pipeline (shingles() emits >=1 degenerate shingle), pinned here
    // so a future rendering change can't silently diverge.
    val empty = Seq((Seq.empty[String], Seq.empty[String])).toDF("a", "b")
      .select(Dedup.jaccard(col("a"), col("b")).as("fast"),
        HofOracles.jaccardHof(col("a"), col("b")).as("slow"))
      .collect().head
    assert(empty.getDouble(0) == 0.0 && empty.getDouble(1) == 0.0)
  }

  test("shingles handle docs shorter than n") {
    val df = Seq((1L, "one two")).toDF("doc_id", "text")
    val sh = df.select(Dedup.shingles(col("text"), 3).as("s"))
      .as[Seq[String]].head()
    assert(sh == Seq("one two")) // degenerate shingle, no crash
  }

  test("shingle codegen expression is bit-identical to the HOF rendering") {
    for (n <- Seq(1, 3, 8)) {
      val diff = corpus.select(Dedup.shingles(col("text"), n).as("fast"),
          HofOracles.shinglesHof(col("text"), n).as("slow"))
        .as[(Seq[String], Seq[String])].collect()
      assert(diff.nonEmpty && diff.forall { case (f, h) => f == h },
        s"n=$n diverged")
    }
    // edge shapes: empty string (one empty token → [""], never []),
    // spaces only, multi-space runs (empty tokens kept, shingles span
    // the original space runs), trailing/leading spaces, repeats
    // (distinct keeps first occurrence), unicode
    val edges = Seq("", " ", "  ", "a", "a b", " a  b ", "a a a a",
        "héllo wörld héllo wörld héllo", "a\tb c")
      .toDF("text")
      .select(Dedup.shingles(col("text"), 3).as("fast"),
        HofOracles.shinglesHof(col("text"), 3).as("slow"))
      .as[(Seq[String], Seq[String])].collect()
    assert(edges.forall { case (f, h) => f == h })
    // hashed variant ≡ array_distinct(transform(shingles, xxhash64))
    val hashed = (corpus.limit(60) union Seq((9001L, ""), (9002L, "a  b"))
        .toDF("doc_id", "text"))
      .select(Dedup.shingleHashes(col("text"), 3).as("fast"),
        array_distinct(transform(HofOracles.shinglesHof(col("text"), 3),
          s => xxhash64(s))).as("slow"))
      .as[(Seq[Long], Seq[Long])].collect()
    assert(hashed.nonEmpty && hashed.forall { case (f, h) => f == h })
  }

  test("positional shingles: in order, duplicates kept, HOF-identical") {
    for (n <- Seq(1, 3, 8)) {
      val diff = corpus.select(Dedup.shinglesAll(col("text"), n).as("fast"),
          HofOracles.shinglesAllHof(col("text"), n).as("slow"))
        .as[(Seq[String], Seq[String])].collect()
      assert(diff.nonEmpty && diff.forall { case (f, h) => f == h },
        s"n=$n diverged")
    }
    val edges = Seq("", " ", "  ", "a", "a b", " a  b ", "a a a a",
        "héllo wörld héllo wörld héllo", "a\tb c")
      .toDF("text")
      .select(Dedup.shinglesAll(col("text"), 3).as("fast"),
        HofOracles.shinglesAllHof(col("text"), 3).as("slow"))
      .as[(Seq[String], Seq[String])].collect()
    assert(edges.forall { case (f, h) => f == h })
    // multiplicity + order: index = window start position
    val rep = Seq("a a a a").toDF("text")
      .select(Dedup.shinglesAll(col("text"), 3).as("s"))
      .as[Seq[String]].head()
    assert(rep == Seq("a a a", "a a a")) // NOT deduped
    // hashed ≡ transform(all-windows HOF, xxhash64)
    val hashed = (corpus.limit(60) union Seq((9001L, ""), (9002L, "a  b"))
        .toDF("doc_id", "text"))
      .select(Dedup.shingleHashesAll(col("text"), 3).as("fast"),
        transform(HofOracles.shinglesAllHof(col("text"), 3),
          s => xxhash64(s)).as("slow"))
      .as[(Seq[Long], Seq[Long])].collect()
    assert(hashed.nonEmpty && hashed.forall { case (f, h) => f == h })
  }

  test("duplicated spans: maximal cross-doc and within-doc span merging") {
    // docs 1/2 share the 4-token substring "a b c d" (two overlapping
    // dup trigram windows → ONE merged span of 4 tokens each); doc 3 is
    // all-unique; doc 4 is a within-doc repeat covering the whole doc;
    // doc 5 is too short for trigram evidence (omitted); doc 6 carries
    // TWO disjoint dup regions (span count 2, no over-merge)
    val docs = Seq(
      (1L, "a b c d e f g h"),
      (2L, "x y z a b c d q"),
      (3L, "p q r s t u v w"),
      (4L, "m m m m m"),
      (5L, "k l"),
      (6L, "a b c d z1 z2 z3 z4 a b c d")).toDF("doc_id", "text")
    val got = Dedup.duplicatedSpans(docs, "doc_id", "text", n = 3)
      .as[(Long, Int, Long, Long, Long)].collect().toSet
    val want = Set(
      (1L, 8, 1L, 4L, 5000L),
      (2L, 8, 1L, 4L, 5000L),
      (3L, 8, 0L, 0L, 0L),
      (4L, 5, 1L, 5L, 10000L),
      (6L, 12, 2L, 8L, 6666L))
    assert(got == want, s"got $got")
  }

  test("duplicated spans: hashed production path ≡ string oracle path") {
    def run(h: Boolean) =
      Dedup.duplicatedSpans(corpus, "doc_id", "text", n = 3, hashed = h)
        .as[(Long, Int, Long, Long, Long)].collect().toSet
    val hashed = run(true)
    assert(hashed.nonEmpty && hashed == run(false))
    // the near-dup corpus must actually light up: docs 0..9 share 24 of
    // 25 tokens with their planted near-dup, so dup coverage is high
    val byId = hashed.map(r => r._1 -> r._4).toMap
    assert(byId(0L) == 25L, "exact dup of doc 0 must cover the whole doc")
    assert(byId(1L) >= 10L, "planted near-dup must produce a long span")
  }

  test("duplicated spans plan: partial agg, local sorts, pruned scan") {
    val plan = Dedup.duplicatedSpans(corpus, "doc_id", "text", n = 3)
      .queryExecution.executedPlan.toString
    // map-side combine on the global n-gram frequency pass — hot
    // n-grams collapse before the 8-byte-key shuffle
    assert(plan.contains("partial_count"), s"no partial aggregation:\n$plan")
    // span merge sorts only within doc partitions — global=false on
    // every Sort (a global sort would serialize the corpus at scale)
    val sorts = plan.linesIterator.filter(_.contains("Sort [")).toSeq
    assert(sorts.nonEmpty && sorts.forall(_.contains("], false, 0")),
      s"global sort in span merge:\n${sorts.mkString("\n")}")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), s"degenerate join:\n$plan")
    // positional hashed windows, never n-gram strings
    assert(plan.contains("shingle_array"), s"codegen shingle missing:\n$plan")
  }

  test("repeated-span removal: hand cases incl. overlap chains and spaces") {
    val cases = Seq(
      "a a a a" -> "a",                       // overlapping repeats chain
      "x y x y x y" -> "x y",                 // alternating boilerplate
      "hello world again hello world again extra"
        -> "hello world again extra",         // verbatim re-emission cut
      "one two" -> "one two",                 // short doc: byte-identical
      "" -> "",
      "a  b a  b a" -> "a  b",                // empty tokens participate
      "p q r s t u v" -> "p q r s t u v")     // no repeats: unchanged
    val got = cases.map(_._1).toDF("text")
      .select(col("text"), Dedup.removeRepeatedSpans(col("text"), 3).as("c"))
      .as[(String, String)].collect().toMap
    cases.foreach { case (in, want) =>
      assert(got(in) == want, s"'$in' → '${got(in)}', wanted '$want'") }
  }

  test("repeated-span removal: expression ≡ plain Scala reference on corpus") {
    def ref(text: String, n: Int): String = {
      val toks = text.split(" ", -1)
      if (toks.length < n) return text
      val seen = scala.collection.mutable.Set[String]()
      val covered = Array.fill(toks.length)(false)
      for (w <- 0 to toks.length - n) {
        val win = toks.slice(w, w + n).mkString(" ")
        if (!seen.add(win)) (w until w + n).foreach(covered(_) = true)
      }
      toks.indices.filterNot(covered).map(toks).mkString(" ")
    }
    val planted = Seq((900L, ("lorem ipsum dolor " * 5).trim),
      (901L, "héllo wörld héllo wörld héllo wörld"))
    val rows = (corpus union planted.toDF("doc_id", "text"))
      .select(col("text"), Dedup.removeRepeatedSpans(col("text"), 3).as("c"))
      .as[(String, String)].collect()
    assert(rows.length > 40 &&
      rows.forall { case (in, out) => out == ref(in, 3) })
    // the planted loop actually shrinks (the operator does real work)
    val m = rows.toMap
    assert(m(planted.head._2) == "lorem ipsum dolor")
  }

  test("dedup groups: connected components, survivor, delete list") {
    // components: {1,2,3,4} (path — needs >1 propagation round),
    // {5,6}, {8,9,10}; 20..26 chain exercises diameter-6 convergence
    val pairs = (Seq((1L, 2L), (2L, 3L), (3L, 4L), (5L, 6L), (8L, 9L), (9L, 10L))
      ++ (20L until 26L).map(i => (i, i + 1)))
      .toDF("id_a", "id_b")
    val groups = Dedup.dedupGroups(pairs)
    val m = groups.as[(Long, Long)].collect().toMap
    assert(Seq(1L, 2L, 3L, 4L).forall(m(_) == 1L))
    assert(m(5L) == 5L && m(6L) == 5L)
    assert(Seq(8L, 9L, 10L).forall(m(_) == 8L))
    assert((20L to 26L).forall(m(_) == 20L))
    val summary = Dedup.dedupGroupSummary(groups)
      .as[(Long, Long)].collect().toMap
    assert(summary == Map(1L -> 4L, 5L -> 2L, 8L -> 3L, 20L -> 7L))
    val deletes = DedupSpec.dedupDeleteList(groups).as[(Long, Long)].collect().toSet
    assert(!deletes.exists { case (del, _) => Set(1L, 5L, 8L, 20L)(del) })
    assert(deletes.size == m.size - 4) // everything but the 4 survivors
  }

  test("dedup groups: non-convergence is loud (strict) or labeled best-effort") {
    // a diameter-9 path cannot converge in 2 rounds of min-label
    // propagation — strict mode must THROW rather than silently return
    // fragmented groups (wrong survivors/delete lists, and a mismatch
    // vs the recursive-CTE oracle which computes the full closure)
    val chain = (0L until 9L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val e = intercept[IllegalStateException] {
      Dedup.dedupGroups(chain, maxRounds = 2).collect()
    }
    assert(e.getMessage.contains("still converging"))
    // best-effort mode returns (fragmented) labels without throwing...
    val loose = Dedup.dedupGroups(chain, maxRounds = 2, strict = false)
      .as[(Long, Long)].collect().toMap
    assert(loose.size == 10 && loose.values.exists(_ != 0L))
    // ...and enough rounds converge the same chain to one component
    val full = Dedup.dedupGroups(chain, maxRounds = 12)
      .as[(Long, Long)].collect().toMap
    assert((0L to 9L).forall(full(_) == 0L))
    // boundary: convergence ON the last allowed round must NOT throw —
    // the diameter-9 chain converges in round 9 while that round still
    // reports movement; the verification round distinguishes this from
    // real fragmentation
    val exact = Dedup.dedupGroups(chain, maxRounds = 9)
      .as[(Long, Long)].collect().toMap
    assert((0L to 9L).forall(exact(_) == 0L))
  }

  test("star contraction: components, long chains, self-loops, single pair") {
    // the d11-style mixed shape
    val pairs = (Seq((1L, 2L), (2L, 3L), (3L, 4L), (5L, 6L), (8L, 9L), (9L, 10L))
      ++ (20L until 26L).map(i => (i, i + 1)))
      .toDF("id_a", "id_b")
    val m = Dedup.dedupGroupsStar(pairs).as[(Long, Long)].collect().toMap
    assert(Seq(1L, 2L, 3L, 4L).forall(m(_) == 1L))
    assert(m(5L) == 5L && m(6L) == 5L)
    assert(Seq(8L, 9L, 10L).forall(m(_) == 8L))
    assert((20L to 26L).forall(m(_) == 20L))
    // diameter-40 path: strict propagation at the default round budget
    // throws; star contraction converges in O(log² n) rounds
    val longChain = (0L until 40L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    intercept[IllegalStateException] {
      Dedup.dedupGroups(longChain).collect()
    }
    val star = Dedup.dedupGroupsStar(longChain).as[(Long, Long)].collect().toMap
    assert(star.size == 41 && (0L to 40L).forall(star(_) == 0L))
    // self-loop-only input: every node labels itself
    val selfOnly = Seq((7L, 7L), (3L, 3L)).toDF("id_a", "id_b")
    assert(Dedup.dedupGroupsStar(selfOnly).as[(Long, Long)].collect().toMap
      == Map(7L -> 7L, 3L -> 3L))
    // single pair, reversed id order in the input
    assert(Dedup.dedupGroupsStar(Seq((9L, 4L)).toDF("id_a", "id_b"))
      .as[(Long, Long)].collect().toMap == Map(9L -> 4L, 4L -> 4L))
  }

  test("star contraction ≡ min-label propagation on random graphs") {
    // deterministic pseudo-random edge sets over 60 nodes: a mix of
    // cliques (near-dup quasi-clique shape), chains, and sparse noise
    val rnd = new scala.util.Random(20260818L)
    (1 to 3).foreach { _ =>
      val edges = (0 until 80).map { _ =>
        val a = rnd.nextInt(60).toLong; val b = rnd.nextInt(60).toLong
        (math.min(a, b), math.max(a, b))
      }.filter(e => e._1 != e._2).distinct
      val pairs = edges.toDF("id_a", "id_b")
      val prop = Dedup.dedupGroups(pairs, maxRounds = 60)
        .as[(Long, Long)].collect().toMap
      val star = Dedup.dedupGroupsStar(pairs).as[(Long, Long)].collect().toMap
      assert(star == prop)
    }
  }

  test("crossSourceDupMatrix: canonical source order, floor-div average") {
    val docs = Seq((1L, "sA"), (2L, "sB"), (3L, "sA"), (4L, "sC"))
      .toDF("doc_id", "source")
    // jaccards are exact dyadics so the e4 floors carry no float doubt
    val pairs = Seq(
      (1L, 2L, 0.875), // (sA, sB)
      (2L, 3L, 0.75),  // id order reverses source order → same (sA, sB)
      (1L, 3L, 1.0),   // within-source (sA, sA)
      (1L, 4L, 0.5)    // (sA, sC)
    ).toDF("id_a", "id_b", "jaccard")
    val got = Dedup.crossSourceDupMatrix(pairs, docs, "doc_id", "source")
      .as[(String, String, Long, Long, Long)].collect().toSet
    assert(got == Set(
      ("sA", "sB", 2L, (8750L + 7500L) / 2, 8750L),
      ("sA", "sA", 1L, 10000L, 10000L),
      ("sA", "sC", 1L, 5000L, 5000L)), s"got $got")
  }

  test("crossSourceDupMatrix over a copy-id corpus (the bench scale shape)") {
    // mirrors Bench's scale-point d35 branch exactly: the 10× corpus
    // carries no source column, so doc_id = base·10 + copy maps back to
    // the base doc's source via (doc_id − doc_id % 10) — this pins the
    // join/pmod composition that the bench's swallowing try would hide
    val base = Seq((0L, "s0"), (1L, "s1")).toDF("doc_id", "source")
    val srcMap = base.select((col("doc_id") * 10).as("base10"), col("source"))
    val docs10x = Seq(0L, 5L, 10L, 11L, 15L).toDF("doc_id")
    val docsSrc = docs10x
      .select(col("doc_id"),
        (col("doc_id") - pmod(col("doc_id"), lit(10))).as("base10"))
      .join(srcMap, "base10").select("doc_id", "source")
    val pairs = Seq((0L, 5L, 1.0), (10L, 15L, 0.875), (5L, 11L, 0.9))
      .toDF("id_a", "id_b", "jaccard")
    val got = Dedup.crossSourceDupMatrix(pairs, docsSrc, "doc_id", "source")
      .as[(String, String, Long, Long, Long)].collect().toSet
    assert(got == Set(
      ("s0", "s0", 1L, 10000L, 10000L),  // copies of base 0
      ("s1", "s1", 1L, 8750L, 8750L),    // copies of base 1
      ("s0", "s1", 1L, 9000L, 9000L)), s"got $got")
  }

  test("semDedup: keep-rule deletes the member closer to the centroid") {
    // two cells (centroids on the axes); within each cell one pair above
    // the threshold where one member IS the centroid direction (cent_e6
    // = 1e6) — the paper's rule deletes it and keeps the less
    // prototypical member; id 3 pairs with nobody at cos_e4 > 9000
    val cents = Seq(Array(1.0, 0.0), Array(0.0, 1.0))
    val docs = Seq(
      (1L, Array(1.0, 0.0)),   // cell 0, cent_e6 = 1000000
      (2L, Array(0.9, 0.1)),   // cell 0, cos(1,2) ≈ 0.9939 → pair
      (3L, Array(0.6, 0.4)),   // cell 0, cos with 1 ≈ 0.832, with 2 ≈ 0.888
      (4L, Array(0.0, 1.0)),   // cell 1, cent_e6 = 1000000
      (5L, Array(0.1, 0.9))    // cell 1, cos(4,5) ≈ 0.9939 → pair
    ).toDF("doc_id", "vec")
    val got = Dedup.semDedup(docs, "doc_id", "vec", cents, thresholdE4 = 9000L)
      .as[(Long, Int, Long)].collect().toSet
    assert(got == Set((1L, 0, 1L), (4L, 1, 1L)), s"got $got")
  }

  test("semDedup: exact centroid-sim tie deletes the larger id") {
    // (0.9, 0.1) and (0.9, -0.1) are mirror images across the centroid
    // axis: identical dot (0.9) and norm (√0.82) → cent_e6 ties exactly;
    // their mutual cos = 0.80/0.82 ≈ 0.9756 clears the threshold
    val docs = Seq(
      (6L, Array(0.9, 0.1)),
      (7L, Array(0.9, -0.1))
    ).toDF("doc_id", "vec")
    val got = Dedup.semDedup(docs, "doc_id", "vec",
        Seq(Array(1.0, 0.0)), thresholdE4 = 9000L)
      .as[(Long, Int, Long)].collect().toSet
    assert(got == Set((7L, 0, 1L)), s"got $got")
  }

  test("semDedup: multi-pair loser collapses to one row with the count") {
    // three mutually-near vectors: 10 (the most central) loses both its
    // pairs; 11 (next most central) loses its pair with 12
    val docs = Seq(
      (10L, Array(1.0, 0.0)),    // cent_e6 = 1000000
      (11L, Array(0.95, 0.05)),  // cent_e6 ≈ 998617
      (12L, Array(0.9, 0.1))     // cent_e6 ≈ 993883
    ).toDF("doc_id", "vec")
    val got = Dedup.semDedup(docs, "doc_id", "vec",
        Seq(Array(1.0, 0.0)), thresholdE4 = 9900L)
      .as[(Long, Int, Long)].collect().toSet
    assert(got == Set((10L, 0, 2L), (11L, 0, 1L)), s"got $got")
    // strict > boundary: cos(10,11) floors to exactly 9986 — it pairs at
    // threshold 9985 and does NOT at its own floor value
    val boundary = Dedup.semDedup(docs, "doc_id", "vec",
        Seq(Array(1.0, 0.0)), thresholdE4 = 9985L)
      .as[(Long, Int, Long)].collect().toSet
    assert(boundary == Set((10L, 0, 1L)), s"got $boundary")
    assert(Dedup.semDedup(docs, "doc_id", "vec",
      Seq(Array(1.0, 0.0)), thresholdE4 = 9986L).count() == 0)
  }

  test("incrementalDedup: rejects batch dups, admits novel, ties to smaller id") {
    val index = Seq(
      (1L, "a b c d e"),
      (2L, "x y z w q"),
      (3L, "a b c d f")
    ).toDF("doc_id", "text")
    val batch = Seq(
      (100L, "a b c d e"), // exact dup of 1 (j=1.0) + near-dup of 3 (4/6)
      (101L, "p q r s t"), // novel (j vs 2 = 1/9) → admitted, no row
      (102L, "a b c d g")  // 4/6 vs BOTH 1 and 3 → tie, best = smaller id
    ).toDF("new_id", "text")
    val got = Dedup.incrementalDedup(index, "doc_id", batch, "new_id",
        "text", "text", threshold = 0.6)
      .as[(Long, Long, Long, Long)].collect().toSet
    val j46 = math.floor(10000 * (4.0 / 6.0)).toLong // 6666
    assert(got == Set(
      (100L, 2L, 1L, 10000L),
      (102L, 2L, 1L, j46)), s"got $got")
    // threshold above the near-dup pair: only the exact dup rejects, and
    // its n_matches drops to the single surviving pair
    val strict = Dedup.incrementalDedup(index, "doc_id", batch, "new_id",
        "text", "text", threshold = 0.9)
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(strict == Set((100L, 1L, 1L, 10000L)), s"got $strict")
  }

  test("exactDedupBestSurvivor: argmax score, id tie-break, hashed ≡ string") {
    val docs = Seq(
      (1L, "Hello, World!", Some(50L)), // normalizes with 2 and 3
      (2L, "hello world", Some(80L)),   // score tie with 3 → smaller id
      (3L, "HELLO  WORLD", Some(80L)),
      (4L, "unique text", Some(10L)),
      (5L, null.asInstanceOf[String], Some(99L)), // null text → dropped
      (6L, "UNIQUE TEXT", None)         // null score: can't be ranked —
                                        // dropped, must NOT win argmax
    ).toDF("doc_id", "text", "score")
    val want = Set(
      ("hello world", 3L, 2L, 80L),
      ("unique text", 1L, 4L, 10L))
    val hashed = Dedup.exactDedupBestSurvivor(docs, "doc_id", "text", "score")
      .as[(String, Long, Long, Long)].collect().toSet
    assert(hashed == want, s"got $hashed")
    val str = Dedup.exactDedupBestSurvivor(docs, "doc_id", "text", "score",
        hashed = false)
      .as[(String, Long, Long, Long)].collect().toSet
    assert(str == want)
  }
}

object DedupSpec {
  /** The rows to DELETE: every group member except the survivor. */
  def dedupDeleteList(groups: DataFrame): DataFrame =
    groups.filter(col("id") =!= col("group"))
      .select(col("id").as("delete_id"), col("group").as("keep_id"))
}
