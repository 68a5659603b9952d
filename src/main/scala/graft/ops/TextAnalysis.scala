package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text-analysis operators for training-data curation: language ID,
  * quality scoring, token counting, fingerprinting. All pure Catalyst
  * column expressions — codegen'd, no UDFs, no shuffle (narrow maps over
  * the corpus; only downstream groupBys shuffle).
  */
object TextAnalysis {

  // ---- normalization (pre-dedup canonicalization) ----

  /** Digit collapse — the p63/d12 template trick ("step 7 of 9" and
    * "step 8 of 9" normalize to one template). ONE definition: p63's
    * boilerplate scrub, p66's prefix dedup, p67's near-dup render, and
    * p68's loop audit must all cut on the SAME normalization, or their
    * groups silently diverge. */
  def normalizeDigits(text: Column): Column =
    regexp_replace(text, "[0-9]+", "0")

  /** Canonical text for near/exact dedup: lowercase, punctuation
    * stripped, whitespace runs collapsed, edges trimmed. Exact dedup
    * over the NORMALIZED text catches trivially-reformatted duplicates
    * (case, spacing, punctuation variants) that raw-byte hashing
    * misses — the standard first pass of a training-data dedup
    * pipeline. Pure codegen column (3 regex passes + lower), oracle-
    * expressible with the same regexes in any SQL engine. */
  def normalizeForDedup(text: Column): Column =
    trim(regexp_replace(
      regexp_replace(lower(text), "[^a-z0-9\\s]", " "),
      "\\s+", " "))

  // ---- benchmark decontamination ----

  /** Benchmark contamination score: the fraction of a document's
    * distinct word n-grams that appear in a benchmark/eval corpus — the
    * standard pre-training decontamination check (docs overlapping the
    * eval set inflate reported model quality and must be dropped).
    *
    * Scale design: the benchmark shingle set is SMALL (eval suites are
    * ~10^5-10^6 n-grams) → `broadcast` left join against the exploded
    * corpus shingles; the 10^12-doc side never shuffles. With
    * `hashed=true` (the production default) the join carries 8-byte
    * `xxhash64` shingle keys instead of n-gram strings (~10× lighter
    * rows, same trick as the MinHash-LSH verify join); `hashed=false`
    * keeps raw strings so a SQL oracle can reproduce the join — the
    * spec proves both variants identical.
    *
    * Docs shorter than n words have no n-grams and are omitted (no
    * contamination evidence either way). */
  def contamination(docs: DataFrame, idCol: String, textCol: String,
                    benchmark: DataFrame, benchTextCol: String,
                    n: Int = 8, hashed: Boolean = true): DataFrame = {
    // hashed path hashes INSIDE the shingle expression (one byte pass,
    // no n-gram strings ever materialize); the string path exists for
    // the SQL-reproducible oracle join
    def shingled(df: DataFrame, keep: Seq[Column], c: Column): DataFrame = {
      val sh = if (hashed) Dedup.shingleHashes(c, n) else Dedup.shingles(c, n)
      df.filter(size(split(c, " ")) >= n)
        .select((keep :+ explode(sh).as("sh")): _*)
    }
    val benchSh = shingled(benchmark, Nil, col(benchTextCol))
      .distinct().withColumn("_hit", lit(1))
    shingled(docs, Seq(col(idCol)), col(textCol))
      .join(broadcast(benchSh), Seq("sh"), "left")
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_shingles"), count(col("_hit")).as("n_contaminated"))
      .withColumn("contamination", col("n_contaminated") / col("n_shingles"))
  }

  // ---- within-document repetition (quality filter) ----

  /** Gopher-style repetition metrics (Rae et al. 2021, "Scaling
    * Language Models: … Gopher", arXiv:2112.11446 §A1.1 repetition
    * filters), token-based rendering: per document the fraction of
    * bigram/trigram occurrences that are repeats of an earlier n-gram
    * (`dup_*_frac`) and the share held by the single most frequent
    * bigram (`top_bigram_frac`) — boilerplate and degenerate-loop text
    * scores high on these and is dropped before training. Fractions are
    * over token n-grams rather than characters (documented deviation
    * from the paper; same signal, SQL-oracle-expressible), and the
    * `repetitive` flag applies Gopher-magnitude thresholds to the
    * floored e4 values so the cut is bit-stable across engines.
    *
    * Scale design: the dup fractions are a pure narrow map — two
    * codegen byte passes per n ([[Dedup.shingleHashesAll]] total vs
    * [[Dedup.shingleHashes]] distinct), no shuffle; only the per-doc
    * bigram mode shuffles, keyed by (doc, 8-byte window hash) with
    * map-side partial aggregation, then by doc. `hashed=false` keeps
    * n-gram strings for the SQL oracle; the spec proves hashed ≡ string
    * (a collision could only merge two n-grams: ~1e-13 here). Docs
    * shorter than 3 tokens have no trigram evidence and are omitted. */
  def repetitionMetrics(df: DataFrame, idCol: String, textCol: String,
                        hashed: Boolean = true): DataFrame = {
    val t = col(textCol)
    def all(nn: Int) = if (hashed) Dedup.shingleHashesAll(t, nn)
                       else Dedup.shinglesAll(t, nn)
    def dist(nn: Int) = if (hashed) Dedup.shingleHashes(t, nn)
                        else Dedup.shingles(t, nn)
    val eligible = df.filter(size(split(t, " ")) >= 3)
    def fracE4(c: Column): Column = floor(c * 10000).cast("bigint")
    // totals are arithmetic, not a shingle pass: an eligible (≥3-token)
    // doc has exactly n_tokens-1 bigram and n_tokens-2 trigram windows,
    // so only the DISTINCT counts pay a byte pass
    val nTok = size(split(t, " "))
    val base = eligible.select(col(idCol),
      nTok.as("n_tokens"),
      (nTok - 1).cast("double").as("n2"),
      size(dist(2)).cast("double").as("d2"),
      (nTok - 2).cast("double").as("n3"),
      size(dist(3)).cast("double").as("d3"))
    val topBigram = eligible
      .select(col(idCol), explode(all(2)).as("sh"))
      .groupBy(col(idCol), col("sh")).agg(count(lit(1)).as("c"))
      .groupBy(idCol).agg(max("c").as("topc"))
    base.join(topBigram, Seq(idCol))
      .select(col(idCol), col("n_tokens"),
        fracE4((col("n2") - col("d2")) / col("n2")).as("dup_bigram_frac_e4"),
        fracE4((col("n3") - col("d3")) / col("n3")).as("dup_trigram_frac_e4"),
        fracE4(col("topc") / col("n2")).as("top_bigram_frac_e4"))
      .withColumn("repetitive",
        col("top_bigram_frac_e4") > 2000 || col("dup_trigram_frac_e4") > 3000)
  }

  /** Group-level repeated-line filter — the Gopher duplicate-line
    * fraction (arXiv:2112.11446 §A1.1) rendered over grouped lines: per
    * group (a conversation, with turns as lines) the fraction of
    * members whose text repeats an earlier member. Agent transcripts
    * stuck in a loop re-emit near-identical turns; conversations above
    * the Gopher 0.30 line-dup threshold are flagged `loopy` for
    * curation. The flag thresholds the floored e4 value (strict >) so
    * the cut is bit-stable across engines.
    *
    * Scale design: one aggregation keyed by the high-cardinality group
    * column; with `hashed=true` (production default) the distinct count
    * runs over 8-byte xxhash64(text) so the distinct-expand shuffle
    * never carries turn bodies (a collision could only merge two
    * distinct turns: ~1e-13 at test scale). `hashed=false` counts raw
    * strings for SQL-oracle parity; the spec proves both identical. */
  def repeatedLineFraction(df: DataFrame, groupCol: String, textCol: String,
                           hashed: Boolean = true): DataFrame = {
    // null-preserving hash: count_distinct ignores nulls, and a bare
    // xxhash64(null) would return the seed (a countable value) — the
    // hashed path must drop null turns from the distinct count exactly
    // like the string path / SQL count(DISTINCT text) do
    val key = if (hashed) when(col(textCol).isNotNull, xxhash64(col(textCol)))
              else col(textCol)
    df.groupBy(groupCol)
      .agg(count(lit(1)).as("n_turns"),
        count_distinct(key).as("n_distinct"))
      .select(col(groupCol), col("n_turns"), col("n_distinct"),
        floor(((col("n_turns") - col("n_distinct")) / col("n_turns")) * 10000)
          .cast("bigint").as("dup_turn_frac_e4"))
      .withColumn("loopy", col("dup_turn_frac_e4") > 3000)
  }

  /** Periodic agent-loop audit — the structural upgrade of
    * [[repeatedLineFraction]]: a duplicate-turn FRACTION cannot tell "a
    * greeting repeated across a long conversation" from "the agent is
    * cycling the same k turns forever". Per conversation, over
    * digit-normalized turn templates in (conv, turn_idx) order, this
    * reports (a) the smallest period p ≤ maxPeriod for which the WHOLE
    * template sequence is p-periodic with at least two full cycles
    * (0 = aperiodic) and (b) the trailing stuck-run: how many final
    * turns share the last turn's template (re-emitting one turn is the
    * most common agent-loop failure and needs no full periodicity).
    *
    * Scale design: ONE aggregation keyed by the high-cardinality
    * conversation column (the [[repeatedLineFraction]] shuffle shape);
    * the periodicity and tail-run checks are pure array HOFs over each
    * conversation's bounded template list — no self-join, no window, no
    * second pass. Null templates compare with null-safe equality so a
    * run of null turns is a run, not a mismatch. */
  def periodicLoopAudit(df: DataFrame, convCol: String, idxCol: String,
                        textCol: String, maxPeriod: Int = 4): DataFrame = {
    require(maxPeriod >= 1 && maxPeriod <= 16,
      s"periodicLoopAudit: maxPeriod must be in [1,16], got $maxPeriod")
    // p63's template convention: digits collapse so "step 7 of 9" and
    // "step 8 of 9" cycle as one template
    val tmpl = normalizeDigits(col(textCol))
    val periodic = (1 to maxPeriod).map { p =>
      // if() evaluates lazily per row — sequence(p, n-1) is only built
      // when n ≥ 2p, so the descending-sequence trap (n-1 < p) can't fire
      expr(s"if(n_turns >= ${2 * p}, " +
        s"forall(sequence($p, cast(n_turns as int) - 1), " +
        s"i -> _arr[i] <=> _arr[i - $p]), false)")
    }
    val period = periodic.zipWithIndex.foldRight(lit(0)) {
      case ((c, i), els) => when(c, lit(i + 1)).otherwise(els)
    }
    // last mismatch position vs the final template (ascending fold keeps
    // the max); -1 = every turn matches the last one
    val tailRun = expr("cast(n_turns as int) - 1 - " +
      "aggregate(sequence(0, cast(n_turns as int) - 1), -1, " +
      "(acc, i) -> if(NOT(_arr[i] <=> _arr[cast(n_turns as int) - 1]), i, acc))")
    df.select(col(convCol), col(idxCol).as("_i"), tmpl.as("_t"))
      .groupBy(convCol)
      .agg(expr("transform(array_sort(collect_list(struct(_i, _t))), s -> s._t)")
        .as("_arr"))
      .withColumn("n_turns", size(col("_arr")).cast("bigint"))
      .select(col(convCol), col("n_turns"),
        period.as("period"),
        tailRun.cast("bigint").as("tail_run"),
        when(period > 0, 1).otherwise(0).as("looping"))
  }

  /** Default refusal-phrase bank (public boilerplate-refusal markers;
    * lowercase, matched as literal substrings). */
  val DefaultRefusalPhrases: Seq[String] = Seq(
    "i cannot", "i can't", "i won't", "i am unable", "i'm unable",
    "as an ai", "i'm sorry, but")

  /** Refusal/compliance audit — the over-refusal filter an SFT ingest
    * applies: per conversation, how many assistant turns contain a
    * refusal-boilerplate phrase, total phrase hits, and the refusal
    * rate in integer permille. Conversations where the assistant
    * reflexively refuses teach the model to refuse; ones with zero
    * refusals on harmful prompts are a separate (labelled) concern —
    * this op surfaces the rate, the policy sits with the caller.
    *
    * Scale design: occurrence counting is the pure-codegen
    * (len − len(replace))/len(phrase) idiom on the lowered text —
    * exact integers, no regex, no explode — folded over the phrase
    * bank in one projection; then ONE aggregation keyed by the
    * high-cardinality conversation column. Null assistant texts count
    * as turns but score no hits (null-skipping sums on both engines). */
  def refusalAudit(df: DataFrame, convCol: String, roleCol: String,
                   textCol: String,
                   phrases: Seq[String] = DefaultRefusalPhrases): DataFrame = {
    require(phrases.nonEmpty, "refusalAudit: phrase bank must be non-empty")
    require(phrases.forall(p => p.nonEmpty && p == p.toLowerCase),
      "refusalAudit: phrases must be non-empty and lowercase")
    val lt = lower(col(textCol))
    val occ = phrases.map { p =>
      call_function("div",
        (length(lt) - length(call_function("replace", lt, lit(p), lit(""))))
          .cast("bigint"),
        lit(p.length.toLong))
    }.reduce(_ + _)
    val isAssist = col(roleCol) === "assistant"
    df.groupBy(convCol)
      .agg(
        sum(when(isAssist, 1L).otherwise(0L)).as("n_assistant"),
        sum(when(isAssist && occ > 0, 1L).otherwise(0L)).as("n_refusal_turns"),
        sum(when(isAssist, occ)).as("n_refusal_hits"))
      .withColumn("refusal_permille",
        when(col("n_assistant") > 0,
          call_function("div", col("n_refusal_turns") * lit(1000L),
            col("n_assistant"))).otherwise(0L))
  }

  // ---- cross-corpus boilerplate ----

  /** Cross-document frequent word n-grams — the detection side of
    * CCNet-style boilerplate filtering (Wenzek et al., arXiv:1911.00359
    * §4.1: text recurring across many DISTINCT documents is template /
    * boilerplate — headers, license blurbs, canned phrases — not
    * natural language). Returns `(gram, n_docs, n_uses)` for every word
    * n-gram appearing in at least `minDocs` distinct documents — the
    * set a downstream removal pass broadcasts.
    *
    * Scale design: the gram explode is a narrow codegen map
    * (`sequence`+`transform`+`slice` over the split array — no UDF);
    * the ONLY shuffle is the gram aggregation, partial map-side combine
    * first. With `hashed=true` (production default) the shuffle key is
    * `xxhash64(gram)` — 8 bytes instead of n-gram strings — and the
    * gram string rides as a `min` payload (merging two grams needs a
    * 64-bit collision, ~1e-13 at any realistic vocabulary);
    * `hashed=false` groups raw strings so a SQL oracle reproduces the
    * aggregation — the spec proves both identical. Output is the tiny
    * frequent tail, sized for a broadcast in removal joins. */
  def frequentNgrams(docs: DataFrame, idCol: String, textCol: String,
                     n: Int, minDocs: Int,
                     hashed: Boolean = true): DataFrame = {
    require(n > 0, s"frequentNgrams: n must be positive, got $n")
    require(minDocs > 0, s"frequentNgrams: minDocs must be positive, got $minDocs")
    val toks = split(col(textCol), " ")
    val grams = docs
      .filter(col(textCol).isNotNull && size(toks) >= n)
      // all n-grams in document order via the one-pass codegen
      // expression (r6): the transform/sequence/slice/array_join HOF
      // rendering evaluated interpreted lambdas per gram — same
      // pathology and fix as the shingle paths; the ≥n filter above
      // keeps ShingleArray's short-doc degenerate shingle unreachable,
      // so the gram sets are identical
      .select(col(idCol),
        explode(graft.ops.Dedup.shinglesAll(col(textCol), n)).as("gram"))
    // two-phase instead of count_distinct: a single-pass
    // `count_distinct(id) + count(*)` makes Catalyst EXPAND the
    // exploded gram stream ×2 (one copy per aggregate group) before the
    // shuffle. Grouping by (k, id) first collapses within-doc repeats
    // MAP-SIDE — frequent grams repeat inside documents by definition,
    // so shuffle 1 carries |distinct (gram, doc)| rows instead of
    // 2×|gram occurrences|; shuffle 2 groups the near-distinct
    // remainder by the 8-byte key only. Same result: n_docs = rows per
    // key after phase 1, n_uses = sum of per-doc uses. n_docs counts
    // `count(idCol)` — null-skipping, so a null-id group contributes
    // its uses but no document, exactly the single-pass
    // `count_distinct(idCol)` null semantics this rewrite replaced.
    //
    // r6: the display gram rides the GROUP KEY, not a `min(gram)`
    // payload — a string-buffer aggregate is not hash-aggregable, so
    // both phases ran as SortAggregate and the exploded gram stream was
    // SORTED three times (measured: the dominant d43 cost; a
    // re-attach-by-second-pass variant re-paid the gram explode and
    // measured slower). Group keys may be strings under HashAggregate,
    // and map-side combine collapses to per-partition distinct grams
    // either way, so the shuffle byte profile matches the old payload
    // rendering while every sort disappears. With `hashed=true` the
    // 8-byte key leads the grouping; a 64-bit key collision now keeps
    // the colliding grams as separate rows instead of silently merging
    // them under one min() representative — the strictly more faithful
    // reading of "grams recurring in ≥ minDocs docs".
    val keyCols = if (hashed) Seq(xxhash64(col("gram")).as("k"), col("gram"))
                  else Seq(col("gram"))
    val phase2Keys = if (hashed) Seq(col("k"), col("gram")) else Seq(col("gram"))
    grams.groupBy((keyCols :+ col(idCol)): _*)
      .agg(count(lit(1)).as("uses"))
      .groupBy(phase2Keys: _*)
      .agg(count(col(idCol)).as("n_docs"), sum(col("uses")).as("n_uses"))
      .filter(col("n_docs") >= minDocs)
      .select("gram", "n_docs", "n_uses")
  }

  /** Token frequency SPECTRUM — the count-of-counts table (how many
    * token TYPES occur exactly r times in the corpus) that Good-Turing
    * smoothing reads as its N_r input and corpus-health checks read as
    * the Zipf head/tail profile (a singleton fraction collapsing after
    * an ingest usually means a dedup or normalization bug upstream).
    * Returns `(n_occ, n_types)` ascending by occurrence count.
    *
    * Scale design: shuffle 1 carries 8-byte hashed token keys with
    * map-side partial combine (`hashed=true`, the production default;
    * `hashed=false` groups raw token strings so a SQL oracle reproduces
    * the aggregation — the spec proves both identical). Caveat on
    * `hashed=true`: unlike d46/d47 the downstream never sees the hash,
    * so a 64-bit key collision silently merges two token types — the
    * birthday bound n²/2^65 is negligible to ~10^8 types but not at
    * 10^9+ (≈3% at 1e9); pass `hashed=false` when the spectrum must be
    * exact at that vocabulary scale. Shuffle 2 is bounded by the number
    * of DISTINCT occurrence counts — O(√N) under any Zipf-like law —
    * not by the vocabulary or the corpus. */
  def frequencySpectrum(docs: DataFrame, textCol: String,
                        hashed: Boolean = true): DataFrame = {
    val toks = docs.filter(col(textCol).isNotNull)
      .select(explode(split(col(textCol), " ")).as("tok"))
      .filter(col("tok") =!= "")
    val key = if (hashed) xxhash64(col("tok")) else col("tok")
    toks.groupBy(key.as("k"))
      .agg(count(lit(1)).as("n_occ"))
      .groupBy(col("n_occ"))
      .agg(count(lit(1)).as("n_types"))
      .orderBy(col("n_occ"))
  }

  /** Curriculum LENGTH BUCKETING: assign each doc one of `nBuckets`
    * corpus-quantile buckets by token length — the sampler input for
    * length-ordered curricula and bucketed batch packing — WITHOUT
    * `ntile`, which would range-partition and sort all 10^12 rows.
    *
    * Definition (all integer arithmetic, so any engine replays it
    * bitwise): boundary_b = the smallest length whose cumulative doc
    * count reaches `ceil(b·n/nBuckets)` (nearest-rank, the p59 idiom);
    * a doc's bucket = how many boundaries are strictly below its
    * length. Ties therefore always land in the LOWER bucket — docs of
    * equal length are never split across buckets (what a curriculum
    * needs) — and buckets are equal-sized up to tie mass.
    *
    * Scale design: the corpus collapses map-side to a length histogram
    * (shuffle bounded by the length DOMAIN); the single-partition
    * cumulative window runs over that tiny frame only; the boundary
    * frame is ONE row broadcast back over the corpus (the
    * SpanMetrics one-row-crossJoin idiom — not a real cross join). */
  def lengthBuckets(docs: DataFrame, idCol: String, textCol: String,
                    nBuckets: Int = 4): DataFrame = {
    require(nBuckets >= 2, s"lengthBuckets: need >=2 buckets, got $nBuckets")
    val d = docs.filter(col(textCol).isNotNull)
      .select(col(idCol),
        size(split(col(textCol), " ")).cast("int").as("n_tokens"))
    val hist = d.groupBy(col("n_tokens").as("v")).agg(count(lit(1)).as("c"))
    val cum = hist
      .withColumn("_cum", sum("c").over(Window.orderBy(col("v"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("_n", sum("c").over(Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing)))
    def rank(b: Int): Column = call_function("div",
      lit(b.toLong) * col("_n") + lit((nBuckets - 1).toLong),
      lit(nBuckets.toLong))
    val bCols = (1 until nBuckets).map(b =>
      min(when(col("_cum") >= rank(b), col("v"))).as(s"_b$b"))
    val bounds = cum.agg(bCols.head, bCols.tail: _*)
    val bucket = (1 until nBuckets)
      .map(b => when(col("n_tokens") > col(s"_b$b"), 1).otherwise(0))
      .reduce(_ + _)
    d.crossJoin(broadcast(bounds))
      .select(col(idCol), col("n_tokens"), bucket.cast("int").as("bucket"))
  }

  /** Cross-conversation boilerplate-turn scrub — the removal step over
    * canned templates. A turn's digit-normalized text (the CCNet
    * number-normalization trick: ids, counters, and amounts collapse to
    * `0`, so `user=17 …cents=420` and `user=3 …cents=7` share one
    * template) that recurs in at least `minConvPermille`/1000 of ALL
    * conversations is boilerplate (canned status lines, templated tool
    * echoes) and is dropped from the training corpus. Returns the
    * per-conversation `(conv, n_kept, n_dropped)` audit the curation
    * report joins. The threshold compares exact integers
    * (`n_convs_with_template * 1000 >= minConvPermille * n_convs`) so
    * the cut is bit-stable across engines — a double `ceil(frac * n)`
    * can land on either side of the integer for the same inputs
    * depending on the engine's literal type.
    *
    * Scale design: template detection is ONE aggregation whose shuffle
    * key is `xxhash64(role, template)` when `hashed=true` (8-byte rows;
    * turn bodies never shuffle — `hashed=false` keys the raw strings
    * for SQL-oracle parity, spec-proven identical); the corpus
    * conversation count is a LAZY one-row broadcast (the d25 idiom — no
    * driver-side action); the boilerplate set itself is tiny (templates,
    * not turns) → broadcast left join back onto the corpus, which
    * therefore never reshuffles. */
  def boilerplateScrub(turns: DataFrame, convCol: String, roleCol: String,
                       textCol: String, minConvPermille: Int = 900,
                       hashed: Boolean = true): DataFrame = {
    require(minConvPermille > 0 && minConvPermille <= 1000,
      s"boilerplateScrub: minConvPermille in (0, 1000], got $minConvPermille")
    val tmpl = normalizeDigits(col(textCol))
    // null-preserving key (the repeatedLineFraction discipline): a null
    // turn must never match a boilerplate template in either path. The
    // guard covers BOTH columns: xxhash64 silently SKIPS a null child
    // (a null role would still hash to a matchable key) while concat
    // and a SQL equality join null out, so guarding only tmpl would let
    // the hashed path drop null-role turns the other two paths keep
    val nonNull = col(roleCol).isNotNull && col("tmpl").isNotNull
    val key =
      if (hashed) when(nonNull,
        xxhash64(col(roleCol), col("tmpl")))
      else when(nonNull,
        concat(col(roleCol), lit("\u0000"), col("tmpl")))
    // pin the narrow (conv, key) manifest ONCE (r6): three consumers
    // walk it (the template aggregate, the per-conversation audit, and
    // the corpus conversation count), and without the checkpoint each
    // replayed the upstream — for transcript inputs that is the full
    // events window + digit normalization per pass. Only the 8-byte key
    // and the conversation id are pinned; templates and turn bodies
    // drop before the checkpoint.
    val tt = turns.select(col(convCol), col(roleCol), tmpl.as("tmpl"))
      .withColumn("k", key)
      .select(col(convCol), col("k"))
      .localCheckpoint(true)
    val nConvs = tt.select(col(convCol)).distinct()
      .agg(count(lit(1)).as("_n_convs"))
    val boiler = tt.groupBy(col("k"))
      .agg(count_distinct(col(convCol)).as("nc"))
      .crossJoin(broadcast(nConvs))
      .filter(col("nc") * 1000 >= lit(minConvPermille) * col("_n_convs"))
      .select(col("k"), lit(1).as("_boiler"))
    tt.join(broadcast(boiler), Seq("k"), "left")
      .groupBy(col(convCol))
      .agg(sum(when(col("_boiler").isNull, 1L).otherwise(0L)).as("n_kept"),
        sum(when(col("_boiler").isNotNull, 1L).otherwise(0L)).as("n_dropped"))
  }

  // ---- token counting ----

  /** Whitespace token count. */
  def tokenCountWhitespace(text: Column): Column =
    size(split(text, "\\s+"))

  // ---- language ID (n-gram/stopword heuristic) ----

  /** Tiny per-language stopword banks (public common-word lists). */
  val stopwordBanks: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "and", "of", "to", "a", "in", "is", "that", "it", "for"),
    "es" -> Seq("el", "la", "de", "que", "y", "en", "un", "los", "del", "las"),
    "de" -> Seq("der", "die", "und", "das", "ist", "von", "mit", "den", "ein", "nicht"),
    "fr" -> Seq("le", "la", "de", "et", "les", "des", "est", "un", "une", "dans")
  )

  /** One-pass codegen count of lowered whitespace tokens in `words`
    * ([[graft.functions.StopwordCount]]) — replaces the interpreted
    * `size(filter(split(lower(text)), isin))` lambda in the hot paths. */
  def stopwordCount(text: Column, words: Seq[String]): Column =
    org.apache.spark.sql.graftbridge.Bridge.column(
      graft.functions.StopwordCount(
        org.apache.spark.sql.graftbridge.Bridge.expression(text), words))

  /** Heuristic language ID: the language whose stopword bank hits the
    * most tokens; "und" (undetermined) when nothing hits. */
  def langId(text: Column): Column = {
    val scored = stopwordBanks.toSeq.sortBy(_._1).map { case (lang, words) =>
      struct(stopwordCount(text, words).as("hits"), lit(lang).as("lang"))
    }
    when(greatest(scored: _*).getField("hits") > 0,
      greatest(scored: _*).getField("lang")).otherwise(lit("und"))
  }

  // ---- quality scoring ----

  /** Quality metrics struct: char/token counts, mean token length,
    * punctuation & stopword & digit ratios, plus a composite [0,1]
    * score (longer, lower-punctuation, some-stopword text scores high —
    * the usual pretraining-corpus heuristics). */
  def qualityMetrics(text: Column): Column = {
    val toks = split(text, "\\s+")
    val nTok = size(toks).cast("double")
    val nChar = length(text).cast("double")
    val punct = length(regexp_replace(text, "[^.,;:!?'\"()\\[\\]{}]", "")).cast("double")
    val digits = length(regexp_replace(text, "[^0-9]", "")).cast("double")
    val stops = stopwordCount(text, stopwordBanks("en")).cast("double")
    // greatest(…, 1) denominators: an EMPTY document has nChar = 0 and
    // an unguarded 0/0 throws DIVIDE_BY_ZERO under Spark 4's default
    // ANSI mode (killing the whole corpus job on one blank row); the
    // numerators are 0 there too, so ratios correctly read 0.0. nTok is
    // never 0 (split of "" yields [""]), guarded anyway for symmetry.
    val meanTokLen = (nChar - (nTok - 1)) / greatest(nTok, lit(1.0))
    val punctRatio = punct / greatest(nChar, lit(1.0))
    val stopRatio = stops / greatest(nTok, lit(1.0))
    val digitRatio = digits / greatest(nChar, lit(1.0))
    val score =
      least(nTok / 100.0, lit(1.0)) * 0.4 +
      (lit(1.0) - least(punctRatio * 5, lit(1.0))) * 0.2 +
      least(stopRatio * 4, lit(1.0)) * 0.2 +
      (lit(1.0) - least(digitRatio * 5, lit(1.0))) * 0.2
    struct(
      nChar.cast("int").as("n_chars"),
      nTok.cast("int").as("n_tokens"),
      meanTokLen.as("mean_token_len"),
      punctRatio.as("punct_ratio"),
      stopRatio.as("stopword_ratio"),
      digitRatio.as("digit_ratio"),
      score.as("quality_score"))
  }

  // ---- PII detection & scrubbing ----

  /** PII patterns shared by the scrubber and its SQL oracle. Restricted
    * to the regex intersection of Java's engine and RE2 (no lookaround,
    * no backrefs) so any SQL engine reproduces the match set exactly:
    * emails, dotted-quad IPv4 literals, and NNN[-. ]NNN[-. ]NNNN phone
    * shapes. Deliberately high-recall/low-precision — the standard
    * pre-training scrub errs toward masking. */
  val piiEmail = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val piiIpv4 = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
  val piiPhone = "\\b\\d{3}[-. ]\\d{3}[-. ]\\d{4}\\b"

  /** PII scrub: per document, counts of detected emails / IPv4 / phone
    * numbers plus the masked text. Matching is SEQUENTIAL on
    * progressively-masked text (emails first — their local parts can
    * embed digit runs; then IPv4 — a dotted quad must not half-match as
    * a phone; then phones), so each character is claimed by exactly one
    * category and the count/mask pair is unambiguous.
    *
    * Scale design: a pure narrow map — six codegen regex passes
    * (3 counts + 3 replaces over shared intermediates), no shuffle, no
    * UDFs; Catalyst collapses the chain into one projection inside
    * WholeStageCodegen. At 10^12 docs this is scan-bound, exactly like
    * [[normalizeForDedup]]. */
  def piiScrub(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val raw = col(textCol)
    val m1 = regexp_replace(raw, piiEmail, "<EMAIL>")
    val m2 = regexp_replace(m1, piiIpv4, "<IP>")
    val m3 = regexp_replace(m2, piiPhone, "<PHONE>")
    df.select(col(idCol),
      regexp_count(raw, lit(piiEmail)).cast("bigint").as("n_emails"),
      regexp_count(m1, lit(piiIpv4)).cast("bigint").as("n_ipv4"),
      regexp_count(m2, lit(piiPhone)).cast("bigint").as("n_phones"),
      m3.as("scrubbed"))
  }

  // ---- corpus-level unigram LM quality (perplexity proxy) ----

  /** Unigram-LM document quality score — the cheap perplexity proxy of
    * the CCNet/Gopher lineage: documents made of corpus-rare tokens
    * (garbled text, hex dumps, boilerplate IDs) score low and are cut.
    * Two passes: (1) global unigram counts — ONE shuffle keyed by token
    * with map-side partials, output is vocab-sized (~10^7-10^8 rows at
    * web scale, orders below the corpus); (2) tokens re-joined to the
    * counts via `broadcast` — the 10^12-doc side never shuffles — and
    * reduced per doc.
    *
    * Hash-stability: the per-doc reduction carries only exact integers
    * (`sum_tok_count` is a bigint sum — no float reduction whose order
    * could differ across engines); the one inexact step is a single
    * ln() on one deterministically-rounded double per doc, floored at
    * 1e-6 granularity: `logmeanfreq_micro = floor(1e6 * ln(sum_c /
    * (n_tok * total)))` — ln of the doc's mean token corpus-frequency.
    *
    * The vocab rides an explicit `broadcast`, which carries a size
    * contract: it must fit Spark's broadcast-table limit (8 GB) and
    * the driver heap. A web-scale vocabulary that exceeds it should be
    * min-frequency cut first (the singleton tail dominates the row
    * count and a cut changes which tokens exist, so it is the CALLER's
    * modelling decision, not a silent fallback here) — or the hint
    * dropped so AQE picks a shuffle join. */
  def unigramFreqScore(df: DataFrame, idCol: String,
                       textCol: String): DataFrame = {
    val toks = df.filter(col(textCol).isNotNull)
      .select(col(idCol), explode(split(col(textCol), " ")).as("tok"))
    val counts = toks.groupBy("tok").agg(count(lit(1)).as("c"))
    // corpus total = sum over the vocab, carried as a LAZY one-row
    // broadcast (an eager head() here would run the corpus pass twice —
    // once at plan-build, once per action — and freeze a total that
    // could go stale vs the per-action counts). Both consumers sit on
    // an identical tok-keyed shuffle, which AQE's runtime stage cache
    // deduplicates (the static plan prints two Exchanges; the second
    // reuses the first's shuffle files), so the corpus tokenize pays
    // its shuffle once per action. Measured: the lazy form is ~40%
    // faster than the eager-collect one at sf0.1.
    val total = counts.agg(sum("c").cast("double").as("_total"))
    toks.join(broadcast(counts), Seq("tok"))
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_tokens"), sum("c").as("sum_tok_count"))
      .crossJoin(broadcast(total))
      .select(col(idCol), col("n_tokens"), col("sum_tok_count"),
        floor(lit(1e6) * log(col("sum_tok_count").cast("double") /
          (col("n_tokens").cast("double") * col("_total"))))
          .cast("bigint").as("logmeanfreq_micro"))
  }

  /** Bigram-LM document quality score — the next rung above
    * [[unigramFreqScore]] on the CCNet/KenLM ladder: an add-one-smoothed
    * bigram language model trained ON the corpus itself, scoring each
    * document by the summed log-probability of its adjacent token pairs
    * P(w2|w1) = (C(w1,w2)+1) / (C(w1→·)+V). Repetitive/templated text
    * scores high, shuffled or garbled text scores low even when every
    * individual token is corpus-common — the failure mode the unigram
    * proxy cannot see.
    *
    * Scale shape: bigram extraction is a zero-shuffle narrow map
    * (adjacent pairs from the split array — no positional self-join);
    * model training is ONE shuffle bounded by the bigram vocabulary
    * (≪ corpus; the context totals reduce that frame); scoring re-joins
    * the corpus to the `broadcast` model table — the 10^12-doc side
    * never shuffles except the final 8-byte doc-key reduction. The
    * corpus LINEAGE (scan + split) runs three times per action — the
    * count pass, the vocabulary pass (V must see last/lone tokens that
    * open no bigram, so it cannot derive from the bigram frame), and
    * the scoring pass; each is a narrow single-column scan, and a
    * caller with memory to spare can persist the tokenized frame to
    * collapse them. Same broadcast size contract as
    * [[unigramFreqScore]]: a web-scale bigram table should be
    * min-frequency cut by the caller first.
    *
    * Hash-stability (the d25/d30 contract): per-bigram scores floor to
    * e6 integers BEFORE the per-doc sum, so the reduction is exact and
    * order-free; the one inexact step is a single ln of a
    * deterministically-computed double ratio per MODEL entry. Documents
    * with fewer than two tokens have no bigrams and drop out — the same
    * on both engines. */
  def bigramLmScore(df: DataFrame, idCol: String,
                    textCol: String): DataFrame = {
    val docs = df.filter(col(textCol).isNotNull)
      .select(col(idCol), col(textCol))
    // bigrams as "w1 w2" gram STRINGS via the one-pass codegen shingle
    // expression (r6): the transform(sequence, i -> struct(toks[i],
    // toks[i+1])) rendering evaluated interpreted lambdas per bigram,
    // twice (count pass + scoring pass). Tokens are space-split, so
    // gram ↔ (w1, w2) is a bijection and grouping/joining on the gram
    // is identical to grouping/joining on the pair; w1 recovers as
    // substring_index(gram, ' ', 1) for the context totals. The ≥2
    // token filter keeps ShingleArray's short-doc degenerate shingle
    // unreachable.
    val big = docs.filter(size(split(col(textCol), " ")) >= 2)
      .select(col(idCol),
        explode(graft.ops.Dedup.shinglesAll(col(textCol), 2)).as("bg"))
    val c12 = big.groupBy("bg").agg(count(lit(1)).as("c12"))
    // context totals C(w1→·) reduce the bigram frame — the sum over
    // observed followers, NOT the unigram count (the last token of each
    // doc opens no bigram); V is the full unigram vocabulary, the
    // add-one denominator mass
    val c1 = c12.groupBy(substring_index(col("bg"), " ", 1).as("w1"))
      .agg(sum("c12").as("c1"))
    val vocab = docs.select(explode(split(col(textCol), " ")).as("tok"))
      .agg(count_distinct(col("tok")).cast("double").as("_v"))
    val model = c12.withColumn("w1", substring_index(col("bg"), " ", 1))
      .join(broadcast(c1), Seq("w1"))
      .crossJoin(broadcast(vocab))
      .select(col("bg"),
        floor(lit(1e6) * log((col("c12") + lit(1L)).cast("double") /
          (col("c1").cast("double") + col("_v"))))
          .cast("bigint").as("s_micro"))
    big.join(broadcast(model), Seq("bg"))
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_bigrams"), sum("s_micro").as("logprob_micro"))
  }

  /** Per-document top-k TF-IDF terms — the classic keyword/topic signal
    * a curation pipeline uses for domain tagging and mixture audits.
    * score(t, d) = tf(t, d) · ln(N / df(t)) with df = number of docs
    * containing t; ships as `floor(1e6·score)` so the integer ranking
    * (score desc, then token asc) is engine-reproducible — ONE ln of a
    * deterministically-computed ratio per vocab entry, the d25 hazard
    * class (ulp divergence only at the 1e-6 floor boundary).
    *
    * Scale: tf is one (doc, tok) shuffle carrying 8-byte counts; df and
    * N reduce the tf/doc frames (no second corpus pass); the df table is
    * vocabulary-sized and rides an explicit broadcast (same size
    * contract as [[unigramFreqScore]] — min-frequency cut a web-scale
    * singleton tail first, the caller's modelling decision). The final
    * window partitions by DOCUMENT — millions of ~vocab(d)-row groups,
    * the healthy high-cardinality window shape, never a corpus sort. */
  def tfIdfTopTerms(df: DataFrame, idCol: String, textCol: String,
                    k: Int): DataFrame = {
    require(k > 0, s"tfIdfTopTerms: k must be positive, got $k")
    val docs = df.filter(col(textCol).isNotNull)
    val tf = docs
      .select(col(idCol), explode(split(col(textCol), " ")).as("tok"))
      .groupBy(idCol, "tok").agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("tok").agg(count(lit(1)).as("df"))
    // corpus doc count as a LAZY one-row broadcast (the d25 idiom: an
    // eager count() would scan the corpus once at plan-build and once
    // per action); derived from tf so AQE reuses the (doc, tok) shuffle
    val nDocs = tf.select(col(idCol)).distinct()
      .agg(count(lit(1)).cast("double").as("_n_docs"))
    val scored = tf.join(broadcast(dfreq), Seq("tok"))
      .crossJoin(broadcast(nDocs))
      .select(col(idCol), col("tok"), col("tf"), col("df"),
        floor(lit(1e6) * col("tf") *
          log(col("_n_docs") / col("df").cast("double")))
          .cast("bigint").as("score_e6"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(idCol).orderBy(col("score_e6").desc, col("tok"))
    scored.withColumn("rk", row_number().over(w)).filter(col("rk") <= k)
  }

  /** BM25 lexical retrieval (Robertson/Sparck-Jones weighting with the
    * +1-smoothed idf): top-k documents for one bag-of-words query,
    *   score(d) = Σ_{t∈q∩d} idf(t) · tf·(k1+1) / (tf + k1·(1−b+b·len/avglen))
    *   idf(t)   = ln(1 + (N − df + 0.5)/(df + 0.5))
    * Per-(doc, term) contributions quantize to `floor(1e6·)` integers
    * BEFORE the per-document sum (order-free exact integer arithmetic —
    * the [[dsirWeights]] discipline); ties at the k boundary break on
    * doc id. k1/b fold into double literals once on the driver, so the
    * oracle can interpolate the exact same doubles
    * (shortest-roundtrip toString).
    *
    * Scale: the explode filters to QUERY tokens before the (doc, tok)
    * shuffle — only matching postings move, the corpus text never
    * shuffles; doc length rides the posting rows (8 bytes) instead of
    * re-joining a corpus-sized length table; df and the (N, avglen)
    * stats are broadcast one-row/vocab-row frames. The final top-k is
    * a TakeOrderedAndProject, never a global sort. */
  def bm25TopK(df: DataFrame, idCol: String, textCol: String,
               queryToks: Seq[String], k: Int,
               k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(queryToks.nonEmpty, "bm25TopK: empty query")
    require(k > 0, s"bm25TopK: k must be positive, got $k")
    val docs = df.filter(col(textCol).isNotNull)
    val lens = docs.select(col(idCol),
      size(split(col(textCol), " ")).cast("bigint").as("len"))
    // (N, avglen) over the FULL corpus — tf below sees only query-token
    // postings, so the normalizing stats need their own (cheap, map-
    // side-partial) aggregate over the lengths frame
    val stats = lens.agg(count(lit(1)).as("_n"),
      (sum("len").cast("double") / count(lit(1)).cast("double")).as("_avglen"))
    val tf = docs
      .select(col(idCol), size(split(col(textCol), " ")).cast("bigint").as("len"),
        explode(split(col(textCol), " ")).as("tok"))
      .filter(col("tok").isin(queryToks: _*))
      .groupBy(col(idCol), col("tok"))
      .agg(count(lit(1)).as("tf"), first("len").as("len"))
    val dfreq = tf.groupBy("tok").agg(count(lit(1)).as("df"))
    val idf = log(((col("_n") - col("df")).cast("double") + lit(0.5)) /
      (col("df").cast("double") + lit(0.5)) + lit(1.0))
    val norm = col("tf").cast("double") * lit(k1 + 1) /
      (col("tf").cast("double") +
        lit(k1) * (lit(1 - b) + lit(b) * (col("len").cast("double") / col("_avglen"))))
    tf.join(broadcast(dfreq), Seq("tok"))
      .crossJoin(broadcast(stats))
      .select(col(idCol),
        floor(lit(1e6) * (idf * norm)).cast("bigint").as("term_e6"))
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_terms"), sum("term_e6").as("score_e6"))
      .orderBy(col("score_e6").desc, col(idCol))
      .limit(k)
  }

  /** DSIR-style importance weights (Xie et al. 2023, "Data Selection
    * for Language Models via Importance Resampling", arXiv:2302.03169):
    * rank raw-corpus documents by how target-domain-like they are under
    * two unigram bag-of-words LMs,
    *   w(d) = Σ_{tok occurrences} [ln p̂_target(tok) − ln p̂_corpus(tok)]
    * with add-one smoothing over the CORPUS vocabulary (p̂(t) =
    * (c(t)+1)/(N+V)), so a token unseen in the target still scores
    * finite. Per-token log-ratios quantize to `floor(1e6·)` integers
    * BEFORE the per-document sum — the sum is order-free exact integer
    * arithmetic (the PQ lesson applied to importance weights; a float
    * sum over a document's tokens would be accumulation-order hazard).
    *
    * Scale: one (tok) shuffle each for corpus and target counts; the
    * scored vocabulary broadcasts ([[unigramFreqScore]]'s size
    * contract); the weight is then a map-side-partial groupBy over the
    * corpus tokens. The target sample is config-sized by construction
    * (DSIR targets are curated sets, not corpora). */
  def dsirWeights(df: DataFrame, idCol: String, textCol: String,
                  target: DataFrame, targetTextCol: String): DataFrame = {
    val toks = df.filter(col(textCol).isNotNull)
      .select(col(idCol), explode(split(col(textCol), " ")).as("tok"))
    val cc = toks.groupBy("tok").agg(count(lit(1)).as("cc"))
    val ct = target.filter(col(targetTextCol).isNotNull)
      .select(explode(split(col(targetTextCol), " ")).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("ct"))
    // corpus totals (N_c, V) and target total (N_t) as ONE lazy one-row
    // broadcast; coalesce guards the empty-target degenerate case
    val stats = cc.agg(sum("cc").cast("double").as("_nc"),
        count(lit(1)).cast("double").as("_v"))
      .crossJoin(ct.agg(coalesce(sum("ct"), lit(0L)).cast("double").as("_nt")))
    val vocab = cc.join(ct, Seq("tok"), "left")
      .crossJoin(broadcast(stats))
      .select(col("tok"),
        floor(lit(1e6) *
          (log((coalesce(col("ct"), lit(0L)) + lit(1L)).cast("double") /
             (col("_nt") + col("_v"))) -
           log((col("cc") + lit(1L)).cast("double") / (col("_nc") + col("_v")))))
          .cast("bigint").as("tok_score_micro"))
    toks.join(broadcast(vocab), Seq("tok"))
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_tokens"),
        sum("tok_score_micro").as("w_micro"))
  }

  /** Linear quality-classifier inference — the fastText/CCNet-style
    * "model-scored filtering" seam of a curation pipeline: a logistic-
    * regression keep score evaluated as an EXACT INTEGER dot product.
    * Features are integer counts/permilles (capped token count,
    * stopword / punctuation / digit permille via truncating integer
    * division), weights are integer micro-units, so the logit — and
    * therefore the keep verdict and any ordering built on it — is
    * engine-reproducible bitwise with NO float anywhere. The monotone
    * sigmoid is never materialized: threshold and argmax decisions only
    * need the logit. Weights ship as parameters (production loads them
    * from an offline training job); the defaults encode the usual
    * prose-vs-boilerplate heuristics (length and stopword density up,
    * punctuation/digit density down).
    *
    * Scale: a narrow codegen map over the corpus — no shuffle, no UDF,
    * no broadcast. Returns (id, logit_micro, keep). */
  def qualityLogit(df: DataFrame, textCol: String,
                   bias: Long = -100000L,
                   wTok: Long = 800L, tokCap: Long = 500L,
                   wStop: Long = 900L, wPunct: Long = -2500L,
                   wDigit: Long = -3000L): DataFrame = {
    val text = col(textCol)
    val nTok = size(split(text, "\\s+")).cast("bigint")
    val nChar = greatest(length(text).cast("bigint"), lit(1L))
    val stops = stopwordCount(text, stopwordBanks("en")).cast("bigint")
    val punct = length(regexp_replace(text, "[^.,;:!?'\"()\\[\\]{}]", ""))
      .cast("bigint")
    val digits = length(regexp_replace(text, "[^0-9]", "")).cast("bigint")
    // nTok ≥ 1 always (split of "" is [""]); nChar guarded above
    val stopPm = call_function("div", lit(1000L) * stops, nTok)
    val punctPm = call_function("div", lit(1000L) * punct, nChar)
    val digitPm = call_function("div", lit(1000L) * digits, nChar)
    val logit = lit(bias) + lit(wTok) * least(nTok, lit(tokCap)) +
      lit(wStop) * stopPm + lit(wPunct) * punctPm + lit(wDigit) * digitPm
    // preserves the input columns (narrow map), so downstream curation
    // stages compose without re-joining the corpus
    df.filter(text.isNotNull)
      .withColumn("logit_micro", logit)
      .withColumn("keep", col("logit_micro") > 0L)
  }

  // ---- fingerprinting ----

  /** Polynomial rolling-hash fingerprint over the raw characters
    * (base-31 mod 2^31−1) — deterministic, order-sensitive: any
    * single-character change flips it. Modular (not wrapping) so
    * engines that trap on bigint overflow reproduce it. */
  def fingerprint(text: Column): Column =
    org.apache.spark.sql.graftbridge.Bridge.column(
      graft.functions.RollingFingerprint(
        org.apache.spark.sql.graftbridge.Bridge.expression(text)))

  // ---- tokenizer induction (BPE merge statistics) ----

  /** One BPE training iteration over the corpus (Sennrich et al. 2016
    * §3.2): count adjacent symbol pairs inside whitespace words —
    * occurrence-weighted, which equals the classic word-frequency
    * weighting — and return the top `topK` merge candidates. The
    * highest-count pair IS the first merge a BPE tokenizer learns;
    * re-running after applying a merge yields the next, so this
    * operator is the inner loop of corpus-specific tokenizer training
    * (the loop itself is a driver-side iteration over a top-1 result,
    * like IVF's Lloyd rounds). The cut is deterministic: ties broken by
    * pair ascending, so the top-K set is engine-independent.
    *
    * Scale: the pair explode is a narrow codegen map (`sequence` +
    * `transform` + 2-char `substr` — adjacent pair = 2-char substring,
    * no array-of-chars materialization); the ONLY shuffle is the pair
    * aggregation, whose key space is bounded by the symbol alphabet
    * squared (map-side partials collapse hard), followed by a global
    * top-K on that tiny aggregate (TakeOrderedAndProject, no sort of
    * the corpus). */
  def bpeMergeCandidates(docs: DataFrame, textCol: String,
                         topK: Int = 20): DataFrame = {
    require(topK > 0, s"bpeMergeCandidates: topK must be positive, got $topK")
    val word = col("word")
    docs
      .filter(col(textCol).isNotNull)
      .select(explode(split(col(textCol), " ")).as("word"))
      .filter(length(word) >= 2)
      .select(explode(transform(
        sequence(lit(1), length(word) - 1),
        i => word.substr(i, lit(2)))).as("pair"))
      .groupBy(col("pair"))
      .agg(count(lit(1)).as("n_occ"))
      .orderBy(col("n_occ").desc, col("pair"))
      .limit(topK)
  }

  /** The d50 demonstration merge table: 8 plausible English merges in
    * rank order (what one d44 iteration per rank would learn). ONE
    * definition — the d50 oracle SQL is GENERATED from this list (the
    * p69 phrase-bank idiom), so engine and oracle cannot drift. */
  val bpeDemoMerges: Seq[(String, String)] = Seq(
    "t" -> "h", "th" -> "e", "a" -> "n", "an" -> "d",
    "i" -> "n", "o" -> "n", "e" -> "r", "s" -> "t")

  /** BPE merge APPLICATION — the encode step that pairs with
    * [[bpeMergeCandidates]]'s training statistics (together they are
    * one full tokenizer-training loop: count pairs → pick merges →
    * apply → recount). Classic BPE apply (Sennrich et al. 2016): the
    * text becomes its character-symbol sequence joined by a separator,
    * and each merge `(a,b)` in rank order rewrites `a SEP b → ab` —
    * exactly Python's `word.replace(f"{a} {b}", f"{a}{b}")`, rendered
    * as a chain of `replace` calls every SQL engine executes with the
    * same leftmost-non-overlapping semantics, so the oracle replays the
    * token counts bitwise. The separator is U+0001 (not space), so
    * the original space SYMBOL sits between words and no merge can
    * bridge a word boundary unless it names the space symbol itself.
    *
    * Returns `(id, n_chars, n_bpe_tokens)` — the compression the merge
    * table achieves per doc. Pure per-row projection: zero shuffle,
    * plan inherited from the scan. */
  def bpeEncodeCounts(docs: DataFrame, idCol: String, textCol: String,
                      merges: Seq[(String, String)]): DataFrame = {
    require(merges.nonEmpty, "bpeEncodeCounts: merge list must be non-empty")
    val SEP = "\u0001"
    merges.foreach { case (a, b) =>
      require(!a.contains(SEP) && !b.contains(SEP) && a.nonEmpty && b.nonEmpty,
        s"bpeEncodeCounts: bad merge ('$a','$b')")
    }
    val symbols = array_join(split(col(textCol), ""), SEP)
    val encoded = merges.foldLeft(symbols) { case (acc, (a, b)) =>
      // LITERAL replace (not regexp): leftmost non-overlapping, no
      // rescan of replaced text — the exact Python str.replace /
      // DuckDB replace() semantics the oracle runs
      call_function("replace", acc, lit(a + SEP + b), lit(a + b))
    }
    docs.filter(col(textCol).isNotNull)
      .select(col(idCol),
        length(col(textCol)).cast("bigint").as("n_chars"),
        size(split(encoded, SEP)).cast("bigint").as("n_bpe_tokens"))
  }
}
