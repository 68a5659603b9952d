package graft.ops

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

import graft.SparkSpec

class TextAnalysisSpec extends SparkSpec {
  import spark.implicits._

  test("langId identifies languages by stopword profile") {
    val df = Seq(
      ("en", "the cat sat on the mat and it is happy"),
      ("es", "el gato está en la casa y un perro los mira"),
      ("de", "der hund ist nicht mit der katze und das ist gut"),
      ("fr", "le chat est dans la maison et les chiens sont là"),
      ("und", "xyzzy plugh quux")
    ).toDF("expected", "text")
    val out = df.select(col("expected"), TextAnalysis.langId(col("text")).as("got"))
      .as[(String, String)].collect()
    out.foreach { case (exp, got) => assert(exp == got, s"expected $exp got $got") }
  }

  test("token counts: whitespace vs BPE-ish") {
    val r = Seq(Tuple1("hello, world! it's 42"))
      .toDF("text")
      .select(TextAnalysis.tokenCountWhitespace(col("text")).as("ws"))
      .as[Int].head()
    assert(r == 4)
    // the BPE count is the merge encoder's: "the band is on the stand"
    // → [the][ ][b][and][ ][i][s][ ][on][ ][the][ ][st][and] is 14
    // symbols under the demo merges, against 6 whitespace tokens
    val docs = Seq((1L, "the band is on the stand")).toDF("doc_id", "text")
    val ws = docs.select(TextAnalysis.tokenCountWhitespace(col("text"))).as[Int].head()
    val bpe = TextAnalysis.bpeEncodeCounts(docs, "doc_id", "text", TextAnalysis.bpeDemoMerges)
      .select("n_bpe_tokens").as[Long].head()
    assert(ws == 6 && bpe == 14)
  }

  test("repetition metrics: hand-computed fractions and the Gopher cut") {
    val docs = Seq(
      (1L, "a a a a a"),             // degenerate loop: everything dup
      (2L, "the cat sat on the mat"), // clean prose, top bigram AT 2000
      (3L, "x y x y x y"),           // alternating boilerplate
      (4L, "a b")                    // too short for trigram evidence
    ).toDF("doc_id", "text")
    val got = TextAnalysis.repetitionMetrics(docs, "doc_id", "text")
      .as[(Long, Int, Long, Long, Long, Boolean)].collect().toSet
    val want = Set(
      // doc 1: 4 bigrams 1 distinct → 7500; 3 trigrams 1 distinct →
      // 6666; top bigram 4/4 → 10000 → repetitive
      (1L, 5, 7500L, 6666L, 10000L, true),
      // doc 2: all n-grams distinct; top bigram 1/5 → exactly 2000 —
      // the flag is a STRICT > so the boundary doc survives
      (2L, 6, 0L, 0L, 2000L, false),
      // doc 3: bigrams x·y ×3, y·x ×2 → dup 3/5 = 6000; trigrams 2
      // distinct of 4 → 5000; top bigram 3/5 → 6000 → repetitive
      (3L, 6, 6000L, 5000L, 6000L, true))
    assert(got == want, s"got $got")
  }

  test("repetition metrics: hashed production path ≡ string oracle path") {
    val rnd = new scala.util.Random(11)
    val vocab = Vector.tabulate(50)(i => s"w$i")
    val docs = Seq.tabulate(80) { i =>
      val len = 3 + rnd.nextInt(40)
      (i.toLong, Seq.fill(len)(vocab(rnd.nextInt(vocab.size))).mkString(" "))
    }.toDF("doc_id", "text")
    def run(h: Boolean) =
      TextAnalysis.repetitionMetrics(docs, "doc_id", "text", hashed = h)
        .as[(Long, Int, Long, Long, Long, Boolean)].collect().toSet
    val hashed = run(true)
    assert(hashed.size == 80 && hashed == run(false))
  }

  test("repeated-line fraction flags loopy conversations, spares the boundary") {
    val turns =
      Seq("hi", "hi", "hi", "bye").map(("A", _)) ++          // 4 turns, 2 distinct
      Seq("a", "b", "c").map(("B", _)) ++                    // all distinct
      ((1 to 7).map(i => s"t$i") ++ Seq("t1", "t2", "t3"))   // 10 turns, 7 distinct
        .map(("C", _))
    val df = turns.toDF("conv_id", "text")
    val got = TextAnalysis.repeatedLineFraction(df, "conv_id", "text")
      .as[(String, Long, Long, Long, Boolean)].collect().toSet
    val want = Set(
      ("A", 4L, 2L, 5000L, true),
      ("B", 3L, 3L, 0L, false),
      // dup fraction EXACTLY 3000 — the Gopher cut is a strict > so the
      // boundary conversation survives
      ("C", 10L, 7L, 3000L, false))
    assert(got == want, s"got $got")
    // hashed production path ≡ string oracle path
    val str = TextAnalysis.repeatedLineFraction(df, "conv_id", "text",
      hashed = false).as[(String, Long, Long, Long, Boolean)].collect().toSet
    assert(str == got)
  }

  test("repeated-line fraction: null turns count as turns, not distinct values") {
    // SQL count(DISTINCT text) ignores nulls; the hashed path must too
    // (a bare xxhash64(null) would return the seed and be counted)
    val df = Seq(("A", Some("a")), ("A", Some("b")), ("A", None), ("A", None))
      .toDF("conv_id", "text")
    def run(h: Boolean) =
      TextAnalysis.repeatedLineFraction(df, "conv_id", "text", hashed = h)
        .as[(String, Long, Long, Long, Boolean)].head()
    val hashed = run(true)
    assert(hashed == run(false))
    assert(hashed == (("A", 4L, 2L, 5000L, true)))
  }

  test("quality metrics are bounded and favor clean prose") {
    val df = Seq(
      ("clean", "the quick brown fox jumps over the lazy dog and it is a fine day for running"),
      ("junk", "!!! ??? ;;; 123 456 789 000 111 ,,, ...")
    ).toDF("kind", "text")
    val m = df.select(col("kind"), TextAnalysis.qualityMetrics(col("text")).as("q"))
      .select("kind", "q.quality_score").as[(String, Double)].collect().toMap
    assert(m.values.forall(s => s >= 0.0 && s <= 1.0))
    assert(m("clean") > m("junk"))
  }

  test("quality metrics survive an EMPTY document (ANSI divide guard)") {
    // one blank row must not kill the corpus job with DIVIDE_BY_ZERO;
    // ratios read 0.0 (numerators are 0 too)
    val df = Seq(("empty", ""), ("ok", "some words here")).toDF("kind", "text")
    val m = df.select(col("kind"), TextAnalysis.qualityMetrics(col("text")).as("q"))
      .select("kind", "q.n_chars", "q.punct_ratio", "q.digit_ratio")
      .collect().map(r => r.getString(0) -> ((r.getInt(1), r.getDouble(2), r.getDouble(3)))).toMap
    assert(m("empty") == ((0, 0.0, 0.0)))
    assert(m("ok")._1 == 15)
  }

  test("fingerprint is deterministic and flips on single-char edits") {
    val df = Seq(Tuple1("abc def"), Tuple1("abc deg"), Tuple1("abc def")).toDF("text")
    val fps = df.select(TextAnalysis.fingerprint(col("text"))).as[Long].collect()
    assert(fps(0) == fps(2) && fps(0) != fps(1))
    assert(fps.forall(f => f >= 0 && f < 2147483647L))
  }

  test("stopword count expression matches the HOF rendering") {
    val en = TextAnalysis.stopwordBanks("en")
    val df = Seq("", " ", "THE the The", "a  b\tthe\nof", "xthe thex the.",
      "für die straße", "the " * 30).toDF("text")
    val pairs = df.select(TextAnalysis.stopwordCount(col("text"), en).as("fast"),
      HofOracles.stopwordCountHof(col("text"), en).as("slow"))
      .as[(Int, Int)].collect()
    assert(pairs.forall { case (f, h) => f == h }, s"mismatch: ${pairs.mkString(",")}")
    assert(pairs(2) == ((3, 3))) // case-insensitivity really engaged
  }

  test("fingerprint custom expression is bit-identical to the HOF rendering") {
    val df = Seq("", "a", "abc def", "über café", "emoji 🌀 tail",
      "long " * 40).toDF("text")
    val pairs = df.select(TextAnalysis.fingerprint(col("text")).as("fast"),
      HofOracles.fingerprintHof(col("text")).as("slow"))
      .as[(Long, Long)].collect()
    assert(pairs.forall { case (f, h) => f == h },
      s"mismatch: ${pairs.mkString(",")}")
  }

  test("contamination: planted eval overlap scores correctly; hashed ≡ string join") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"), // contains bench trigram
      (2L, "completely unrelated content with zero overlap here"),
      (3L, "quick brown fox and more quick brown fox repeats"),
      (4L, "to sh")). // shorter than n=3 → omitted
      toDF("doc_id", "text")
    val bench = Seq(Tuple1("quick brown fox jumps high")).toDF("text")
    def run(hashed: Boolean) =
      TextAnalysis.contamination(docs, "doc_id", "text", bench, "text",
        n = 3, hashed = hashed)
        .select("doc_id", "n_shingles", "n_contaminated")
        .as[(Long, Long, Long)].collect()
        .map { case (id, a, b) => id -> ((a, b)) }.toMap
    val m = run(hashed = false)
    assert(!m.contains(4L)) // too short: no evidence
    assert(m(2L)._2 == 0L)
    // doc1: trigrams "quick brown fox" + "brown fox jumps" hit the bench
    assert(m(1L) == (7L, 2L))
    // doc3: "quick brown fox" hit (distinct shingles — repeats collapse)
    assert(m(3L)._2 == 1L)
    assert(run(hashed = true) == m) // 8-byte-hash scale path ≡ string join
  }

  test("normalizeForDedup canonicalizes case/punctuation/whitespace variants together") {
    val variants = Seq(
      "Hello, World!", "hello world", "  HELLO   world  ", "hello... WORLD?!")
    val norms = variants.toDF("text")
      .select(TextAnalysis.normalizeForDedup(col("text")).as("n"))
      .as[String].collect().toSet
    assert(norms == Set("hello world"), s"got $norms")
    // distinct content stays distinct
    val other = Seq(Tuple1("hello there")).toDF("text")
      .select(TextAnalysis.normalizeForDedup(col("text"))).as[String].head()
    assert(other == "hello there")
  }

  test("piiScrub: sequential email→ip→phone claim, counts match masks") {
    val docs = Seq(
      (1L, "mail a.b+c@host.org and x@y.io now"),          // 2 emails
      (2L, "src=10.0.3.21 dst=192.168.1.1 up"),            // 2 IPs
      (3L, "call 555-867-5309 or 555.123.4567"),           // 2 phones (dots ≠ IP)
      (4L, "a@b.co from 10.1.2.3 ring 555 123 4567"),      // one of each
      (5L, "no pii here just words 12345"),                // none (bare digits stay)
      (6L, "v1.2.3.4000 is a version not an ip")           // \b guard: 4000 > 3 digits
    ).toDF("doc_id", "text")
    val out = TextAnalysis.piiScrub(docs, "doc_id", "text")
      .as[(Long, Long, Long, Long, String)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
    assert(out(1L)._1 == 2 && out(1L)._4 == "mail <EMAIL> and <EMAIL> now")
    assert(out(2L)._2 == 2 && out(2L)._4 == "src=<IP> dst=<IP> up")
    assert(out(3L)._3 == 2 && out(3L)._4 == "call <PHONE> or <PHONE>")
    assert(out(4L) == ((1L, 1L, 1L, "<EMAIL> from <IP> ring <PHONE>")))
    assert(out(5L) == ((0L, 0L, 0L, "no pii here just words 12345")))
    // 1.2.3.400 would need a ≤3-digit final group with a word boundary;
    // "4000" denies it — nothing masked
    assert(out(6L) == ((0L, 0L, 0L, "v1.2.3.4000 is a version not an ip")))
  }

  test("unigramFreqScore: rare-token docs score below common-token docs") {
    // vocabulary: "the" ×6, "cat"/"dog" ×2 each, "zyx"/"qwv" ×1 → total 12
    val docs = Seq(
      (1L, "the the the cat"),    // common tokens → high mean freq
      (2L, "zyx qwv cat dog"),    // two singletons + two mid → low
      (3L, "the the the dog")
    ).toDF("doc_id", "text")
    val out = TextAnalysis.unigramFreqScore(docs, "doc_id", "text")
      .as[(Long, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    val total = 12L // 3 docs × 4 tokens
    // doc1: the=6 ×3 + cat=2 → sum 20 over 4 tokens
    assert(out(1L)._1 == 4L && out(1L)._2 == 20L)
    // doc2: 1+1+2+2 = 6
    assert(out(2L)._2 == 6L)
    assert(out(3L)._2 == 20L)
    // exact floored-ln check against driver-side arithmetic
    def micro(sumC: Long, n: Long): Long =
      math.floor(1e6 * math.log(sumC.toDouble / (n.toDouble * total))).toLong
    assert(out(1L)._3 == micro(20, 4))
    assert(out(2L)._3 == micro(6, 4))
    assert(out(2L)._3 < out(1L)._3) // the quality ordering the cut relies on
  }

  test("bigramLmScore: hand-computed smoothed bigram log-probs") {
    val docs = Seq(
      (1L, "a b a b"),     // bigrams (a,b) ×2, (b,a) ×1
      (2L, "a b c"),       // (a,b), (b,c)
      (3L, "z"),           // 1 token → no bigrams, drops out
      (4L, null.asInstanceOf[String])
    ).toDF("doc_id", "text")
    // corpus model: C(a,b)=3 C(b,a)=1 C(b,c)=1; contexts a→3, b→2;
    // V = |{a,b,c,z}| = 4 (the 1-token doc still feeds the vocabulary)
    def s(c12: Long, c1: Long): Long =
      math.floor(1e6 * math.log((c12 + 1).toDouble / (c1.toDouble + 4.0))).toLong
    val got = TextAnalysis.bigramLmScore(docs, "doc_id", "text")
      .as[(Long, Long, Long)].collect().toSet
    val want = Set(
      (1L, 3L, 2 * s(3, 3) + s(1, 2)),
      (2L, 2L, s(3, 3) + s(1, 2)))
    assert(got == want, s"got $got want $want")
  }

  test("bigramLmScore: garbled token order scores below natural order") {
    // same unigram bag in every doc — the unigram proxy is blind here;
    // 9 docs share the (the,cat)(cat,sat) pattern, one doc reverses it
    val natural = (1L to 9L).map(i => (i, "the cat sat"))
    val garbled = Seq((10L, "sat cat the"))
    val out = TextAnalysis.bigramLmScore(
      (natural ++ garbled).toDF("doc_id", "text"), "doc_id", "text")
      .as[(Long, Long, Long)].collect().map(r => r._1 -> r._3).toMap
    assert(out(10L) < out(1L),
      s"garbled ${out(10L)} must score below natural ${out(1L)}")
  }

  test("periodicLoopAudit: period detection, stuck tail-run, digit normalization") {
    val turns = Seq(
      // 2-cycle over digit-normalized templates ("step 1"≡"step 3")
      ("A", 0, "step 1"), ("A", 1, "go 2"), ("A", 2, "step 3"), ("A", 3, "go 4"),
      ("B", 0, "same"), ("B", 1, "same"), ("B", 2, "same"), // period 1
      ("C", 0, "x"), ("C", 1, "y"), ("C", 2, "z"),          // aperiodic
      ("D", 0, "x"), ("D", 1, "y"), ("D", 2, "y"),          // stuck tail only
      ("E", 0, "solo"),                                     // 1 turn
      ("F", 0, "x"), ("F", 1, "y"), ("F", 2, "x")           // p2 needs ≥2 cycles
    ).toDF("conv_id", "turn_idx", "text")
    val got = TextAnalysis.periodicLoopAudit(turns, "conv_id", "turn_idx", "text")
      .as[(String, Long, Int, Long, Int)].collect().toSet
    val want = Set(
      ("A", 4L, 2, 1L, 1),
      ("B", 3L, 1, 3L, 1),
      ("C", 3L, 0, 1L, 0),
      ("D", 3L, 0, 2L, 0),
      ("E", 1L, 0, 1L, 0),
      ("F", 3L, 0, 1L, 0))
    assert(got == want, s"got $got want $want")
  }

  test("refusalAudit: phrase hits, turn counts, permille rate, null/absent assistant") {
    val turns = Seq(
      // conv R: one refusing assistant turn (2 hits), one clean one
      ("R", "user", "please do the thing"),
      ("R", "assistant", "I cannot do that. I CANNOT comply."),
      ("R", "assistant", "sure thing"),
      // conv S: no assistant turns at all
      ("S", "user", "hello"),
      // conv T: assistant with null text — a turn, but no hits
      ("T", "assistant", null.asInstanceOf[String]),
      // conv U: two distinct phrases in one turn
      ("U", "assistant", "i'm unable to help and i am unable to continue")
    ).toDF("conv_id", "role", "text")
    val got = TextAnalysis.refusalAudit(turns, "conv_id", "role", "text")
      .as[(String, Long, Long, Option[Long], Long)].collect().toSet
    val want = Set(
      ("R", 2L, 1L, Some(2L), 500L),
      ("S", 0L, 0L, None, 0L),
      ("T", 1L, 0L, None, 0L),
      ("U", 1L, 1L, Some(2L), 1000L))
    assert(got == want, s"got $got want $want")
  }

  test("periodicLoopAudit: null turns run null-safe (a null run is a run)") {
    val turns = Seq(
      ("N", 0, null.asInstanceOf[String]), ("N", 1, null.asInstanceOf[String])
    ).toDF("conv_id", "turn_idx", "text")
    val got = TextAnalysis.periodicLoopAudit(turns, "conv_id", "turn_idx", "text")
      .as[(String, Long, Int, Long, Int)].head()
    assert(got == (("N", 2L, 1, 2L, 1)), s"got $got")
  }

  test("tfIdfTopTerms: hand-computed scores, score-desc/tok-asc ranking") {
    val docs = Seq(
      (1L, "a b a"),
      (2L, "a c"),
      (3L, "c c c")
    ).toDF("doc_id", "text")
    // N=3; df: a→2, b→1, c→2
    def e6(tf: Long, df: Long): Long =
      math.floor(1e6 * tf * math.log(3.0 / df.toDouble)).toLong
    val got = TextAnalysis.tfIdfTopTerms(docs, "doc_id", "text", k = 2)
      .select("doc_id", "rk", "tok", "tf", "df", "score_e6")
      .as[(Long, Int, String, Long, Long, Long)].collect().toSet
    val want = Set(
      (1L, 1, "b", 1L, 1L, e6(1, 1)), // ln 3 beats 2·ln 1.5
      (1L, 2, "a", 2L, 2L, e6(2, 2)),
      (2L, 1, "a", 1L, 2L, e6(1, 2)), // tie with c → tok asc breaks it
      (2L, 2, "c", 1L, 2L, e6(1, 2)),
      (3L, 1, "c", 3L, 2L, e6(3, 2))) // k=2 but doc 3 has one term
    assert(got == want, s"got $got")
  }

  test("dsirWeights: hand-computed smoothed log-ratios, integer-summed") {
    val docs = Seq(
      (1L, "a a b"),
      (2L, "b c")
    ).toDF("doc_id", "text")
    val target = docs.filter(col("doc_id") === 2L)
    // cc: a→2 b→2 c→1; Nc=5; V=3; ct: b→1 c→1; Nt=2
    def score(ct: Long, cc: Long): Long =
      math.floor(1e6 * (math.log((ct + 1).toDouble / (2.0 + 3.0)) -
        math.log((cc + 1).toDouble / (5.0 + 3.0)))).toLong
    val got = TextAnalysis.dsirWeights(docs, "doc_id", "text", target, "text")
      .as[(Long, Long, Long)].collect()
      .map { case (id, n, w) => id -> ((n, w)) }.toMap
    assert(got(1L) == ((3L, 2 * score(0, 2) + score(1, 2))))
    assert(got(2L) == ((2L, score(1, 2) + score(1, 1))))
    // the target doc outranks the off-target one; the token unseen in
    // the target ("a") scores negative but FINITE (the smoothing)
    assert(got(2L)._2 > got(1L)._2)
    assert(score(0, 2) < 0)
  }

  test("bm25TopK: hand-computed scores, query-term pruning, k limit") {
    val docs = Seq(
      (1L, "spark merge spark"), // len 3: tf(spark)=2, tf(merge)=1
      (2L, "merge hash"),        // len 2: tf(merge)=1 ("hash" not queried)
      (3L, "a b c d")            // len 4: no query terms → absent
    ).toDF("doc_id", "text")
    // N=3, avglen=3.0, df(spark)=1, df(merge)=2; mirror the operator's
    // exact parenthesization (k1=1.2, b=0.75)
    def term(tf: Long, len: Long, df: Long): Long = {
      val idf = math.log(((3L - df).toDouble + 0.5) / (df.toDouble + 0.5) + 1.0)
      val norm = tf.toDouble * (1.2 + 1) /
        (tf.toDouble + 1.2 * ((1 - 0.75) + 0.75 * (len.toDouble / 3.0)))
      math.floor(1e6 * (idf * norm)).toLong
    }
    val got = TextAnalysis.bm25TopK(docs, "doc_id", "text",
        Seq("spark", "merge"), k = 10)
      .as[(Long, Long, Long)].collect().toSeq
    val d1 = term(2, 3, 1) + term(1, 3, 2)
    val d2 = term(1, 2, 2)
    assert(got == Seq((1L, 2L, d1), (2L, 1L, d2)), s"got $got")
    // the rare term dominates: doc 1's spark contribution alone beats
    // doc 2's whole score (idf ln(8/3) vs ln(8/5))
    assert(term(2, 3, 1) > d2)
    // k truncates the list at the integer-score boundary
    val top1 = TextAnalysis.bm25TopK(docs, "doc_id", "text",
        Seq("spark", "merge"), k = 1)
      .as[(Long, Long, Long)].collect().toSeq
    assert(top1 == Seq((1L, 2L, d1)))
  }

  test("qualityLogit: integer dot product, cap, verdicts, null drop") {
    val docs = Seq(
      (1L, "the cat sat"),                      // prose-ish: 1 stopword
      (2L, "1.2.3 4;5!"),                        // punct+digit boilerplate
      (3L, Seq.fill(600)("w").mkString(" ")),    // length cap at 500
      (4L, null.asInstanceOf[String])            // dropped
    ).toDF("doc_id", "text")
    val full = TextAnalysis.qualityLogit(docs, "text")
      .select($"doc_id", $"logit_micro", $"keep")
      .as[(Long, Long, Boolean)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    // doc 1: n_tok=3, stops=1 → stop_pm = 1000/3 = 333 (truncating div)
    assert(full(1L) == ((-100000L + 800 * 3 + 900 * 333, true)))
    // doc 2: n_tok=2, n_chars=10, punct=4, digits=5 → 400/500 permille
    assert(full(2L) == ((-100000L + 800 * 2 - 2500 * 400 - 3000 * 500, false)))
    // doc 3: 600 tokens cap to 500; no stops/punct/digits
    assert(full(3L) == ((-100000L + 800 * 500, true)))
    assert(full.size == 3) // null text dropped
  }

  test("frequentNgrams: hand-counted bigrams, minDocs cut, short-doc drop") {
    val docs = Seq(
      (1L, "click here to buy now"),
      (2L, "click here for more"),
      (3L, "click here to win"),
      (4L, "unrelated text entirely"),
      (5L, "to"),                      // 1 token: no bigram
      (6L, null.asInstanceOf[String])  // dropped
    ).toDF("doc_id", "text")
    val got = TextAnalysis.frequentNgrams(docs, "doc_id", "text",
      n = 2, minDocs = 2)
      .as[(String, Long, Long)].collect().toSet
    // "click here" in docs 1,2,3; "here to" in docs 1,3; everything
    // else appears in one doc only
    assert(got == Set(("click here", 3L, 3L), ("here to", 2L, 2L)), s"got $got")
  }

  test("frequentNgrams: null doc ids add uses but never documents (count_distinct null semantics)") {
    val docs = Seq(
      (java.lang.Long.valueOf(1L), "spam ham spam ham"),
      (java.lang.Long.valueOf(2L), "spam ham eggs"),
      // null-id rows: their grams count toward n_uses, but the null
      // group is NOT a document — and a gram seen ONLY in null-id rows
      // has n_docs = 0, so it never passes any minDocs cut
      (null.asInstanceOf[java.lang.Long], "spam ham spam ham zzz qqq")
    ).toDF("doc_id", "text")
    for (h <- Seq(true, false)) {
      val got = TextAnalysis.frequentNgrams(docs, "doc_id", "text",
        n = 2, minDocs = 1, hashed = h)
        .as[(String, Long, Long)].collect()
        .map(r => r._1 -> ((r._2, r._3))).toMap
      assert(got == Map(
        "spam ham" -> ((2L, 5L)), "ham spam" -> ((1L, 2L)),
        "ham eggs" -> ((1L, 1L))), s"hashed=$h got $got")
    }
  }

  test("frequentNgrams: hashed production path ≡ string oracle path") {
    val rnd = new scala.util.Random(43)
    val vocab = Vector.tabulate(12)(i => s"w$i")
    val docs = Seq.tabulate(60) { i =>
      (i.toLong, Seq.fill(20)(vocab(rnd.nextInt(vocab.size))).mkString(" "))
    }.toDF("doc_id", "text")
    def run(h: Boolean) =
      TextAnalysis.frequentNgrams(docs, "doc_id", "text", n = 3,
        minDocs = 2, hashed = h)
        .as[(String, Long, Long)].collect().toSet
    val hashed = run(true)
    assert(hashed.nonEmpty && hashed == run(false))
  }

  test("frequencySpectrum: hand-counted count-of-counts; hashed ≡ string; mass conserved") {
    val docs = Seq(
      (1L, "a b a c"),
      (2L, "b d  e"),                  // double space → empty tok dropped
      (3L, null.asInstanceOf[String])  // dropped
    ).toDF("doc_id", "text")
    // occurrences: a=2 b=2 c=1 d=1 e=1 → spectrum {1→3 types, 2→2 types}
    val got = TextAnalysis.frequencySpectrum(docs, "text")
      .as[(Long, Long)].collect().toSet
    assert(got == Set((1L, 3L), (2L, 2L)), s"got $got")

    val rnd = new scala.util.Random(44)
    val vocab = Vector.tabulate(15)(i => s"w$i")
    val corpus = Seq.tabulate(80) { i =>
      (i.toLong, Seq.fill(25)(vocab(rnd.nextInt(vocab.size))).mkString(" "))
    }.toDF("doc_id", "text")
    def run(h: Boolean) = TextAnalysis.frequencySpectrum(corpus, "text",
      hashed = h).as[(Long, Long)].collect().toSet
    val hashed = run(true)
    assert(hashed.nonEmpty && hashed == run(false))
    // Σ r·N_r must equal the total token count — the Good-Turing
    // mass-conservation identity the spectrum is consumed through
    assert(hashed.map { case (r, nr) => r * nr }.sum == 80L * 25L)
  }

  test("lengthBuckets: nearest-rank quartiles, ties to the lower bucket, monotone") {
    // lengths: 1,1,2,2,3,3,4,4 (n=8) → boundaries at ranks 2,4,6 →
    // b1=1 b2=2 b3=3 → buckets: len1→0, len2→1, len3→2, len4→3
    val docs = Seq(
      (1L, "a"), (2L, "b"), (3L, "a b"), (4L, "c d"),
      (5L, "a b c"), (6L, "d e f"), (7L, "a b c d"), (8L, "e f g h"),
      (9L, null.asInstanceOf[String])
    ).toDF("doc_id", "text")
    val got = TextAnalysis.lengthBuckets(docs, "doc_id", "text")
      .as[(Long, Int, Int)].collect().sortBy(_._1)
    assert(got.map(_._3).toSeq == Seq(0, 0, 1, 1, 2, 2, 3, 3), s"got ${got.toSeq}")

    // property corpus: buckets monotone in length, equal length ⇒ equal
    // bucket, sizes near-equal up to tie mass
    val rnd = new scala.util.Random(45)
    val corpus = Seq.tabulate(200) { i =>
      (i.toLong, Seq.fill(1 + rnd.nextInt(40))("t").mkString(" "))
    }.toDF("doc_id", "text")
    val rows = TextAnalysis.lengthBuckets(corpus, "doc_id", "text")
      .as[(Long, Int, Int)].collect()
    assert(rows.length == 200)
    val byLen = rows.groupBy(_._2).view.mapValues(_.map(_._3).toSet)
    assert(byLen.values.forall(_.size == 1), "equal length must mean equal bucket")
    val sorted = rows.sortBy(_._2).map(_._3)
    assert(sorted.zip(sorted.tail).forall { case (a, b) => a <= b },
      "bucket must be monotone in length")
    assert(rows.map(_._3).toSet.subsetOf(Set(0, 1, 2, 3)))
    // each bucket's size ≤ n/4 + the largest tie mass
    val maxTie = rows.groupBy(_._2).values.map(_.length).max
    rows.groupBy(_._3).values.map(_.length)
      .foreach(sz => assert(sz <= 50 + maxTie, s"bucket size $sz"))
  }

  test("boilerplateScrub: templates above the permille cut drop, rare ones stay") {
    // template "ok id=0" is in 3/3 convs (≥ 667‰); "rare id=0" in 1/3
    val turns = Seq(
      ("A", "user", "ok id=1"), ("A", "user", "rare id=7"),
      ("B", "user", "ok id=2"), ("B", "user", "ok id=3"),
      ("C", "user", "ok id=9"), ("C", "tool", "ok id=9"), // role differs → distinct template
      ("C", "user", null.asInstanceOf[String])            // null never matches
    ).toDF("conv_id", "role", "text")
    val got = TextAnalysis.boilerplateScrub(turns, "conv_id", "role",
      "text", minConvPermille = 667)
      .as[(String, Long, Long)].collect().toSet
    assert(got == Set(("A", 1L, 1L), ("B", 0L, 2L), ("C", 2L, 1L)), s"got $got")
  }

  test("bpeMergeCandidates: hand-counted pair frequencies, tie by pair asc") {
    // corpus words: low low low lower newest newest
    // pairs: lo×4, ow×4, we×3 (1 in lower + 2 in newest), er×1, ne×2,
    //        ew×2, es×2, st×2
    val docs = Seq((1L, "low low low"), (2L, "lower newest newest"))
      .toDF("doc_id", "text")
    val out = TextAnalysis.bpeMergeCandidates(docs, "text", topK = 4).collect()
    // top-4: counts (4,4,3,2…) — rank-4 tie among {es,ew,ne,st} at 2
    // breaks to "es" (pair asc)
    assert(out.toSeq === Seq(Row("lo", 4L), Row("ow", 4L),
      Row("we", 3L), Row("es", 2L)))
  }

  test("bpeMergeCandidates: single-char words contribute nothing; null text skipped") {
    val docs = Seq((1L, "a b c ab"), (2L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val out = TextAnalysis.bpeMergeCandidates(docs, "text", topK = 10).collect()
    assert(out.toSeq === Seq(Row("ab", 1L)))
  }

  test("boilerplateScrub: hashed production path ≡ string oracle path") {
    val rnd = new scala.util.Random(17)
    val turns = Seq.tabulate(300) { i =>
      (s"conv-${i % 25}", if (i % 3 == 0) "assistant" else "user",
        s"tmpl-${rnd.nextInt(6)} id=$i n=${rnd.nextInt(1000)}")
    }.toDF("conv_id", "role", "text")
    def run(h: Boolean) =
      TextAnalysis.boilerplateScrub(turns, "conv_id", "role", "text",
        minConvPermille = 800, hashed = h)
        .as[(String, Long, Long)].collect().toSet
    val hashed = run(true)
    assert(hashed.size == 25 && hashed == run(false))
  }

  test("bpeEncodeCounts: hand-traced merges, word-boundary isolation, rank order") {
    val docs = Seq(
      (1L, "the"),        // t+h→th, th+e→the: 3 chars → 1 token
      (2L, "and"),        // a+n→an, an+d→and: 3 chars → 1 token
      (3L, "t h"),        // space symbol between: NO merge → 3 tokens
      (4L, "then"),       // th, the → "the","n": 4 chars → 2 tokens
      (5L, "zzz"),        // no merge applies: 3 tokens
      (6L, "stander")     // a+n→an, an+d→and, e+r→er, s+t→st: 7 chars →
                          // "st","and","er" = 3 tokens
    ).toDF("doc_id", "text")
    val out = TextAnalysis.bpeEncodeCounts(docs, "doc_id", "text",
      TextAnalysis.bpeDemoMerges)
      .orderBy("doc_id").as[(Long, Long, Long)].collect().toSeq
    assert(out === Seq((1L, 3L, 1L), (2L, 3L, 1L), (3L, 3L, 3L),
      (4L, 4L, 2L), (5L, 3L, 3L), (6L, 7L, 3L)))
  }

  test("bpeEncodeCounts: merges apply in rank order, not jointly") {
    // "th" only forms via rank-1 (t,h); rank-2 (th,e) must see it —
    // applying (th,e) BEFORE (t,h) would never fire
    val docs = Seq((1L, "thethe")).toDF("doc_id", "text")
    val one = TextAnalysis.bpeEncodeCounts(docs, "doc_id", "text",
      Seq("t" -> "h", "th" -> "e")).collect()(0)
    assert(one.getLong(2) === 2L) // "the","the"
    val wrongOrder = TextAnalysis.bpeEncodeCounts(docs, "doc_id", "text",
      Seq("th" -> "e", "t" -> "h")).collect()(0)
    assert(wrongOrder.getLong(2) === 4L) // th,e,th,e — (th,e) fired on nothing
    intercept[IllegalArgumentException](
      TextAnalysis.bpeEncodeCounts(docs, "doc_id", "text", Nil))
  }
}
