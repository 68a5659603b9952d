package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators for large-scale training-data pipelines.
  *
  * Scale design: exact dedup is a hash groupBy (one shuffle on the text
  * hash, not the text — see [[exactDedupBestSurvivor]]); near-dup
  * avoids the O(n²) pair space via MinHash+LSH banding — only documents
  * sharing a band bucket are compared, so the candidate join is
  * shuffle-partitioned by (band, bucket) and the verify step touches a
  * tiny candidate set.
  */
object Dedup {

  /** Token n-gram shingle set (distinct), guarded for short docs: a doc
    * shorter than n yields one degenerate whole-doc shingle. One codegen
    * byte pass ([[graft.functions.ShingleArray]]); the HOF rendering
    * in the test sources (`graft.ops.HofOracles`) is the differential
    * oracle. */
  def shingles(textCol: Column, n: Int = 3): Column = {
    import org.apache.spark.sql.graftbridge.Bridge
    Bridge.column(graft.functions.ShingleArray(
      Bridge.expression(textCol), n, hashed = false))
  }

  /** Hashed shingle set: distinct xxhash64 of each shingle, never
    * materializing the n-gram strings ≡
    * `array_distinct(transform(shingles(c, n), xxhash64))`. */
  def shingleHashes(textCol: Column, n: Int = 3): Column = {
    import org.apache.spark.sql.graftbridge.Bridge
    Bridge.column(graft.functions.ShingleArray(
      Bridge.expression(textCol), n, hashed = true))
  }

  /** ALL token n-grams in document order (array index = 0-based window
    * start position) — the positional form for duplicated-span
    * detection, where multiplicity and position matter. */
  def shinglesAll(textCol: Column, n: Int = 3): Column = {
    import org.apache.spark.sql.graftbridge.Bridge
    Bridge.column(graft.functions.ShingleArray(
      Bridge.expression(textCol), n, hashed = false, distinct = false))
  }

  /** Positional variant of [[shingleHashes]]: xxhash64 of every window
    * in order, duplicates kept. */
  def shingleHashesAll(textCol: Column, n: Int = 3): Column = {
    import org.apache.spark.sql.graftbridge.Bridge
    Bridge.column(graft.functions.ShingleArray(
      Bridge.expression(textCol), n, hashed = true, distinct = false))
  }

  /** MinHash signature: element h = min over shingles of xxhash64(s, h).
    * One codegen pass hashing each shingle ONCE
    * ([[graft.functions.MinHashSignature]]); the test-side HOF rendering
    * (`graft.ops.HofOracles`) is the differential oracle. */
  def minhashSignature(shinglesCol: Column, numHashes: Int = 64): Column = {
    import org.apache.spark.sql.graftbridge.Bridge
    Bridge.column(graft.functions.MinHashSignature(
      Bridge.expression(shinglesCol), numHashes))
  }

  /** Banded LSH keys: split the signature into `bands` bands of
    * `numHashes/bands` rows and hash each band. Docs sharing ANY
    * (band_idx, band_hash) become near-dup candidates. One codegen
    * pass ([[graft.functions.BandHashes]], r6); the test-side HOF
    * rendering (`graft.ops.HofOracles`) is the differential oracle. */
  def bandHashes(sigCol: Column, numHashes: Int, bands: Int): Column = {
    import org.apache.spark.sql.graftbridge.Bridge
    Bridge.column(graft.functions.BandHashes(
      Bridge.expression(sigCol), numHashes, bands))
  }

  /** Jaccard similarity of two (distinct) shingle arrays — single pass
    * ([[graft.functions.JaccardSim]], string or long elements). */
  def jaccard(a: Column, b: Column): Column = {
    import org.apache.spark.sql.graftbridge.Bridge
    Bridge.column(graft.functions.JaccardSim(
      Bridge.expression(a), Bridge.expression(b)))
  }

  /** MinHash+LSH near-duplicate pairs: shingle → minhash → band →
    * bucket self-join → exact-Jaccard verify. Returns (id_a, id_b,
    * jaccard) with id_a < id_b and jaccard ≥ threshold.
    *
    * The self-join is on (band_idx, band_hash) — the LSH guarantee is
    * that pairs above the threshold share a bucket w.h.p., so the
    * shuffle carries only (key, id, shingles-of-candidates), never the
    * full pair matrix.
    */
  def nearDupMinhashLsh(df: DataFrame, idCol: String, textCol: String,
                        numHashes: Int = 64, bands: Int = 16,
                        shingleSize: Int = 3, threshold: Double = 0.5): DataFrame = {
    // DECIDE with small rows, ATTACH the payload once (guide-§8 proxy
    // discipline, r6): the banded self-join and the pair-dedup carry
    // ONLY (band, bh, id) — 24 bytes/row. Round-5's shape shuffled each
    // doc's full shingle-hash array through the ×bands explode on BOTH
    // join sides and then pair-deduped with first(array) aggregates,
    // which Spark can only run as SortAggregate: every candidate row
    // (up to `bands` per pair) was sorted and exchanged twice with
    // KB-sized array payloads. Candidates are orders below the corpus,
    // so re-fetching their shingle sets by id (one broadcast-filtered
    // re-scan; Jaccard over distinct hashes equals Jaccard over distinct
    // shingles up to xxhash64 collisions, ~2^-64 per pair) replaces that
    // array traffic with two candidate-sized equi-joins.
    val banded = df
      .select(col(idCol).as("id"),
        bandHashes(minhashSignature(shingleHashes(col(textCol), shingleSize),
          numHashes), numHashes, bands).as("bhs"))
      .select(col("id"), col("bhs"), posexplode(col("bhs")).as(Seq("band", "bh")))
    val a = banded.select(col("band"), col("bh"), col("id").as("id_a"),
      col("bhs").as("bhs_a"))
    val b = banded.select(col("band"), col("bh"), col("id").as("id_b"),
      col("bhs").as("bhs_b"))
    // multi-band dedup WITHOUT an aggregate: a true near-dup shares most
    // of its `bands` buckets (up to `bands` join rows per pair), and the
    // round-5 groupBy(id_a, id_b) collapse was the dominant scale-point
    // cost (a corpus-scale exchange+aggregate over every candidate row).
    // Instead each join row keeps itself iff ITS band is the pair's
    // first shared band — a fused codegen filter inside the join stage
    // ([[graft.functions.FirstSharedBand]] over the fixed-width band
    // arrays both sides already carry), so exactly one row per pair
    // survives and nothing aggregates.
    import org.apache.spark.sql.graftbridge.Bridge
    val firstShared = Bridge.column(graft.functions.FirstSharedBand(
      Bridge.expression(col("bhs_a")), Bridge.expression(col("bhs_b"))))
    val cand = a.join(b, Seq("band", "bh"))
      .filter(col("id_a") < col("id_b"))
      .filter(firstShared === col("band"))
      .select(col("id_a"), col("id_b"))
    // candidate members (≪ corpus): broadcast-filter the re-scan so the
    // corpus side never shuffles, then attach each side's shingle set.
    // The re-scan reads (id, text) under the internal names, so neither
    // the caller's id column name nor its other columns can collide with
    // the candidate side's `id`.
    val candIds = cand.select(explode(array(col("id_a"), col("id_b"))).as("id"))
      .distinct()
    val shHit = df.select(col(idCol).as("id"), col(textCol).as("text"))
      .join(broadcast(candIds), "id")
      .select(col("id"),
        // sorted ONCE per doc so the per-pair verify takes JaccardSim's
        // unboxed merge fast path (set semantics: value unchanged)
        sort_array(shingleHashes(col("text"), shingleSize)).as("shh"))
    // broadcast BOTH attach joins: the candidate-pair stream can be far
    // larger than the member set (the pathological self-similar corpus:
    // 17M pairs over 50k docs), and a sort-merge attach would push the
    // pair stream WITH its first attached array through the second
    // join's sort — measured 27 GB of sort traffic at the 10× scale
    // point. As broadcasts, both attaches and the Jaccard verify fuse
    // into one codegen pass over the pair stream; the member set is
    // bounded by the docs that share any bucket, which a near-dup
    // workload keeps orders below the corpus (and the broadcast is of
    // hashed shingle sets, not documents).
    cand
      .join(broadcast(shHit.select(col("id").as("id_a"), col("shh").as("sh_a"))),
        Seq("id_a"))
      .join(broadcast(shHit.select(col("id").as("id_b"), col("shh").as("sh_b"))),
        Seq("id_b"))
      .select(col("id_a"), col("id_b"), jaccard(col("sh_a"), col("sh_b")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Brute-force n-gram Jaccard pairs — the small-scale oracle-checkable
    * variant (O(n²); LSH above is the scale path). */
  def nearDupJaccardBrute(df: DataFrame, idCol: String, textCol: String,
                          shingleSize: Int = 3, threshold: Double = 0.5): DataFrame = {
    val sh = df.select(col(idCol).as("id"), shingles(col(textCol), shingleSize).as("sh"))
    val a = sh.select(col("id").as("id_a"), col("sh").as("sh_a"))
    val b = sh.select(col("id").as("id_b"), col("sh").as("sh_b"))
    a.crossJoin(b)
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), jaccard(col("sh_a"), col("sh_b")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Near-duplicate benchmark decontamination: MinHash-LSH candidate
    * pairs between the corpus and a small benchmark/eval set, verified
    * with exact Jaccard — catches PARAPHRASED eval leakage the exact
    * n-gram check ([[TextAnalysis.contamination]]) misses. Returns
    * (docId, benchId, jaccard) for every cross-corpus pair with
    * jaccard ≥ threshold (a benchmark doc present verbatim in the
    * corpus matches itself at 1.0).
    *
    * Scale design — the cross-corpus asymmetry is the whole point: the
    * BENCHMARK side (eval suites: ~10^4-10^6 docs) is shingled, banded
    * and `broadcast`; the corpus side computes signatures in a narrow
    * codegen map and broadcast-joins on (band, band_hash), so the
    * 10^12-doc side NEVER shuffles — unlike the self-join dedup path
    * ([[nearDupMinhashLsh]]), which must shuffle by bucket. Only the
    * candidate hits (≈ contaminated docs × bands, orders below the
    * corpus) pay the multi-band-dedup shuffle before the exact verify.
    */
  def contaminationNearDup(docs: DataFrame, idCol: String, textCol: String,
                           benchmark: DataFrame, benchIdCol: String,
                           benchTextCol: String,
                           numHashes: Int = 64, bands: Int = 16,
                           shingleSize: Int = 1,
                           threshold: Double = 0.85): DataFrame = {
    require(idCol != benchIdCol,
      s"idCol and benchIdCol must differ (both '$idCol'): the output carries one column per side")
    // DECIDE with small rows, ATTACH the payload once (guide-§8, r6 —
    // the [[nearDupMinhashLsh]] restructure applied to the asymmetric
    // join): the band join carries ONLY (band, bh, id) — round-5's
    // shape rode each corpus doc's full shingle-hash array through the
    // ×bands explode and pair-deduped with first(array) SortAggregates.
    // Candidate hits (≈ contaminated docs, orders below the corpus)
    // re-fetch their shingle sets via a broadcast-filtered re-scan; the
    // corpus side still never shuffles.
    def bandedIds(df: DataFrame, id: Column, idName: String,
                  t: Column): DataFrame =
      df.select(id.as(idName),
          bandHashes(minhashSignature(shingleHashes(t, shingleSize),
            numHashes), numHashes, bands).as("_bhs"))
        .select(col(idName), posexplode(col("_bhs")).as(Seq("band", "bh")))
    val corpus = bandedIds(docs, col(idCol), "doc_id_c", col(textCol))
    val bench = bandedIds(benchmark, col(benchIdCol), "bench_id_c",
      col(benchTextCol))
    // a true near-dup shares most of its bands — dedup pair hits
    // before the exact-Jaccard verify (16-byte HashAggregate rows; the
    // distinct's exchange doubles as the reuse boundary that keeps the
    // corpus-side minhash pass at ONE execution across the two
    // consumers below — measured faster here than the in-join-stage
    // FirstSharedBand dedup the self-join path uses, whose exchange-free
    // pair stream had to be pinned or recomputed per consumer)
    val cand = corpus.join(broadcast(bench), Seq("band", "bh"))
      .select(col("doc_id_c"), col("bench_id_c")).distinct()
    val candDocIds = cand.select(col("doc_id_c")).distinct()
    // re-scan under the internal names: a caller column that is itself
    // named `doc_id_c` cannot make the join key ambiguous
    val corpusSh = docs.select(col(idCol).as("doc_id_c"), col(textCol).as("text_c"))
      .join(broadcast(candDocIds), "doc_id_c")
      .select(col("doc_id_c"),
        // sorted once per doc -> JaccardSim merge fast path (see
        // nearDupMinhashLsh; set semantics, value unchanged)
        sort_array(shingleHashes(col("text_c"), shingleSize)).as("sh_d"))
    val benchSh = benchmark.select(col(benchIdCol).as("bench_id_c"),
      sort_array(shingleHashes(col(benchTextCol), shingleSize)).as("sh_b"))
    cand.join(corpusSh, Seq("doc_id_c"))
      .join(broadcast(benchSh), Seq("bench_id_c"))
      .select(col("doc_id_c").as(idCol), col("bench_id_c").as(benchIdCol),
        jaccard(col("sh_d"), col("sh_b")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Quality-aware survivor selection for exact-normalized dedup: group
    * documents by canonical text ([[TextAnalysis.normalizeForDedup]])
    * and keep the HIGHEST-scoring member instead of the smallest id —
    * the curation refinement of d12 (among reformatted
    * copies, retain the best-quality rendition). The pick is decided on
    * the caller's integer score column (score desc, then id asc), so a
    * SQL oracle replays it exactly.
    *
    * Scale: one groupBy; with `hashed=true` (production default) the
    * shuffle key is the 8-byte xxhash64 of the normalized text rather
    * than the text itself — members of a group share norm_text, so
    * min(norm_text) reconstructs the display key exactly (null texts
    * are dropped: there is nothing to keep). Null-SCORED rows are
    * dropped too — inside min(struct(-score, id)) a null score would
    * sort FIRST and win every argmax (the d20 null-conflation trap);
    * an unscored member can be neither ranked nor kept. Collision
    * caveat of the 64-bit key: ~n²/2⁶⁵ across the corpus. */
  def exactDedupBestSurvivor(df: DataFrame, idCol: String,
                             textCol: String, scoreCol: String,
                             hashed: Boolean = true): DataFrame = {
    val base = df.filter(col(textCol).isNotNull && col(scoreCol).isNotNull)
      .select(col(idCol), col(scoreCol),
        TextAnalysis.normalizeForDedup(col(textCol)).as("norm_text"))
    val key = if (hashed) xxhash64(col("norm_text")) else col("norm_text")
    base.groupBy(key.as("_k"))
      .agg(min("norm_text").as("norm_text"),
        count(lit(1)).as("n_members"),
        min(struct((-col(scoreCol)).as("ns"), col(idCol).as("sid")))
          .as("best"))
      .select(col("norm_text"), col("n_members"),
        col("best.sid").as("survivor_id"),
        (-col("best.ns")).as("survivor_score"))
  }

  /** Ingest-time incremental dedup: admit/reject a NEW batch of
    * documents against the already-kept corpus INDEX without re-pairing
    * the index with itself. Returns one row per REJECTED batch doc —
    * (batchId, n_matches, best_match_id, best_jaccard_e4); the best
    * match is the highest floored-integer jaccard, ties to the smallest
    * index id (both integer-decided, so a SQL oracle reproduces the
    * pick). Batch docs with no index match above the threshold are
    * admitted, i.e. absent from the output.
    *
    * Scale: [[contaminationNearDup]] with the roles swapped — the BATCH
    * (one ingest shard, orders of magnitude below the corpus) is
    * shingled, banded and broadcast; the index side computes signatures
    * in a narrow codegen map and NEVER shuffles. At 100 TB the index's
    * band table is precomputed once and reused per shard; recomputing
    * it here is the stateless rendering of the same join. */
  def incrementalDedup(index: DataFrame, indexIdCol: String,
                       batch: DataFrame, batchIdCol: String,
                       textCol: String, batchTextCol: String,
                       numHashes: Int = 64, bands: Int = 16,
                       shingleSize: Int = 1,
                       threshold: Double = 0.85): DataFrame = {
    val pairs = contaminationNearDup(index, indexIdCol, textCol,
      batch, batchIdCol, batchTextCol, numHashes, bands, shingleSize,
      threshold)
    pairs
      .select(col(batchIdCol), col(indexIdCol),
        floor(col("jaccard") * 10000).cast("bigint").as("j_e4"))
      .groupBy(batchIdCol)
      .agg(count(lit(1)).as("n_matches"),
        min(struct((-col("j_e4")).as("nj"), col(indexIdCol).as("mid")))
          .as("best"))
      .select(col(batchIdCol), col("n_matches"),
        col("best.mid").as("best_match_id"),
        (-col("best.nj")).as("best_jaccard_e4"))
  }

  /** Embedding-cosine near-duplicate pairs, brute-force (small-scale
    * oracle path): all pairs with cosine ≥ threshold. */
  def nearDupEmbeddingBrute(df: DataFrame, idCol: String, vecCol: String,
                            threshold: Double): DataFrame = {
    val v = df.select(col(idCol).as("id"), col(vecCol).cast("array<double>").as("v"))
    val a = v.select(col("id").as("id_a"), col("v").as("v_a"))
    val b = v.select(col("id").as("id_b"), col("v").as("v_b"))
    a.crossJoin(b).filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        Similarity.cosine(col("v_a"), col("v_b")).as("cosine"))
      .filter(col("cosine") >= threshold)
  }

  /** Embedding-cosine near-dup at scale: random-hyperplane LSH buckets
    * (near-identical vectors share all sign bits w.h.p.), candidate join
    * within buckets, exact-cosine verify — the same band-then-verify
    * shape as MinHash LSH but over the embedding space. */
  def nearDupEmbedding(df: DataFrame, idCol: String, vecCol: String,
                       threshold: Double, signBits: Int = 12,
                       dim: Int = 64, seed: Long = 42L): DataFrame = {
    Similarity.requireDim(df, vecCol, dim, "nearDupEmbedding")
    val planes = Similarity.hyperplanes(dim, signBits, seed)
    val v = df.select(col(idCol).as("id"), col(vecCol).cast("array<double>").as("v"))
      .withColumn("bucket", Similarity.lshBucket(col("v"), planes))
    val a = v.select(col("bucket"), col("id").as("id_a"), col("v").as("v_a"))
    val b = v.select(col("bucket"), col("id").as("id_b"), col("v").as("v_b"))
    a.join(b, Seq("bucket"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        Similarity.cosine(col("v_a"), col("v_b")).as("cosine"))
      .filter(col("cosine") >= threshold)
    // no pair-dedup aggregate (r6): each vector carries exactly ONE
    // bucket (no multi-probe explode on either side), so a pair joins
    // at most once — the old groupBy(id_a, id_b).agg(first(cosine))
    // was a no-op dedup costing a full exchange of the pair stream
  }

  /** SemDeDup (Abbas et al. 2023, "SemDeDup: Data-efficient learning at
    * web-scale through semantic deduplication", arXiv:2303.09540):
    * semantic near-dup REMOVAL over embeddings — cluster the corpus with
    * a coarse quantizer, compare pairs only WITHIN a cluster, and for
    * every pair above the similarity threshold delete the member closer
    * to the cluster centroid (the paper's §3 keep-rule: retain the
    * example with the LOWEST centroid similarity — the least prototypical
    * one carries the most marginal information).
    *
    * Determinism contract (what makes a SQL oracle exact):
    *  - cell assignment = [[Similarity.ivfAssign]] (ties → larger cell,
    *    the e03-pinned rule);
    *  - pair threshold: STRICT `>` on `floor(1e4·cos)` integers;
    *  - delete pick: larger `floor(1e6·cos-to-centroid)` integer loses;
    *    exact tie → larger id loses.
    *
    * Scale: the cell is the partition key — pairwise work is bounded per
    * cell (the published algorithm's k-means cells, ~corpus/k each), the
    * corpus never joins itself un-bucketed. A doc deleted by several
    * pairs collapses to one row (groupBy), carrying its worst offender
    * count. Returns (delete_id, cell, n_lost_pairs). */
  def semDedup(df: DataFrame, idCol: String, vecCol: String,
               centroids: Seq[Array[Double]],
               thresholdE4: Long): DataFrame = {
    val cents = map(centroids.zipWithIndex.flatMap { case (c, i) =>
      Seq(lit(i), lit(c))
    }: _*)
    val assigned = Similarity.ivfAssign(df, vecCol, centroids)
      .select(col(idCol).as("id"),
        col(vecCol).cast("array<double>").as("v"), col("cell"))
      .withColumn("cent_e6",
        floor(lit(1e6) * Similarity.cosine(col("v"),
          element_at(cents, col("cell")))).cast("bigint"))
    val a = assigned.select(col("cell"), col("id").as("id_a"),
      col("v").as("v_a"), col("cent_e6").as("ca"))
    val b = assigned.select(col("cell"), col("id").as("id_b"),
      col("v").as("v_b"), col("cent_e6").as("cb"))
    a.join(b, Seq("cell"))
      .filter(col("id_a") < col("id_b"))
      .filter(floor(lit(1e4) * Similarity.cosine(col("v_a"), col("v_b")))
        .cast("bigint") > thresholdE4)
      .select(col("cell"),
        when(col("ca") > col("cb"), col("id_a"))
          .when(col("cb") > col("ca"), col("id_b"))
          .otherwise(greatest(col("id_a"), col("id_b"))).as("delete_id"))
      .groupBy("delete_id", "cell")
      .agg(count(lit(1)).as("n_lost_pairs"))
  }

  /** Cross-source duplication matrix — the mixture-audit view of a
    * near-dup pair list: for every unordered source pair, how many
    * near-dup pairs straddle it and how similar they are on average.
    * The panel that answers "which crawl/mirror duplicates which" before
    * a mixture decision. Sources are ordered canonically per pair
    * (least/greatest — the id order of the pair list is unrelated to
    * source order); similarity ships as floored-e4 integers with the
    * avg as floor division ([[graft.ops.Similarity.ivfCellStats]]'s
    * `(s − pmod(s, n)) div n` rendering), so SQL replays it bitwise.
    *
    * Scale: two joins from the pair list (orders below the corpus) back
    * to the doc→source map — at 10^12 docs the source map rides the
    * pair shuffle as an 8-byte-key equi-join, and the output is
    * |sources|² rows; the heavy work already happened in the LSH stage
    * that produced the pairs. */
  def crossSourceDupMatrix(pairs: DataFrame, docs: DataFrame,
                           idCol: String, srcCol: String,
                           jaccardCol: String = "jaccard"): DataFrame = {
    val withSrc = pairs
      .select(col("id_a"), col("id_b"),
        floor(col(jaccardCol) * 10000).cast("bigint").as("j_e4"))
      .join(docs.select(col(idCol).as("id_a"), col(srcCol).as("src_a")),
        Seq("id_a"))
      .join(docs.select(col(idCol).as("id_b"), col(srcCol).as("src_b")),
        Seq("id_b"))
    val s = sum("j_e4"); val n = count(lit(1))
    withSrc
      .groupBy(least(col("src_a"), col("src_b")).as("source_x"),
        greatest(col("src_a"), col("src_b")).as("source_y"))
      .agg(n.as("n_pairs"),
        call_function("div", s - pmod(s, n), n).as("avg_jaccard_e4"),
        max("j_e4").as("max_jaccard_e4"))
  }

  /** 64-bit SimHash over whitespace tokens: bit i of the result is the
    * sign of Σ_tokens (2·bit_i(xxhash64(token)) − 1). One-pass custom
    * Catalyst expression ([[graft.functions.SimHash64]], codegen) — the
    * equivalent `aggregate(sequence(0,63), …)` HOF rendering walks the
    * token array 64× through interpreted lambdas (~50× slower, measured
    * 20.5s → sub-second at sf0.1). */
  def simhash64(textCol: Column): Column =
    org.apache.spark.sql.graftbridge.Bridge.column(
      graft.functions.SimHash64(
        org.apache.spark.sql.graftbridge.Bridge.expression(textCol)))

  /** Dedup GROUP formation: connected components over a near-dup pair
    * list — the step that turns pairwise similarity output (d07/d08/e04)
    * into deletable duplicate clusters with one canonical survivor.
    *
    * Algorithm: iterative min-label propagation. Every node starts
    * labeled with itself; each round joins labels across edges (both
    * directions) and takes the min; convergence when no label changes.
    * Rounds needed = graph diameter — near-dup components are
    * quasi-cliques by construction (members pairwise similar), so 2-3
    * rounds suffice in practice; `maxRounds` bounds pathological
    * chains, and exhausting it with labels still moving raises an
    * IllegalStateException when `strict` (the default) — a silently
    * fragmented component means wrong survivor/delete lists, strictly
    * worse than a loud failure. Pass `strict = false` for best-effort
    * labels (callers that post-verify, or that tolerate
    * over-segmentation). Scale notes: each round is one shuffle on the
    * node id; `localCheckpoint` truncates the growing lineage so round
    * k does not replay rounds 1..k-1 (the classic iterative-algorithm
    * trap); the convergence check rides on the checkpointed frame (the
    * label join carries `prev` through the shuffle, so detecting
    * quiescence is a cached local scan, not a second shuffle join);
    * the alternating large-star/small-star formulation (Kiveris et
    * al., "Connected Components in MapReduce and Beyond") is the
    * drop-in upgrade if diameters were ever large — for near-dup
    * graphs it buys nothing over propagation.
    *
    * Returns (id, group) — group = min member id of the component.
    */
  def dedupGroups(pairs: DataFrame, idA: String = "id_a", idB: String = "id_b",
                  maxRounds: Int = 12, strict: Boolean = true): DataFrame = {
    // hash-partition the (fixed) edge set by the join key ONCE — the
    // checkpointed frame keeps its outputPartitioning, so every round's
    // label join exchanges only the (small) label frame instead of
    // re-shuffling the full symmetric edge list per round (r6: one
    // setup shuffle buys one saved 2·|pairs|-row exchange per round)
    val edges = pairs.select(col(idA).as("src"), col(idB).as("dst"))
      .union(pairs.select(col(idB).as("src"), col(idA).as("dst")))
      .distinct()
      .repartition(col("dst"))
      .localCheckpoint(true)
    var labels = edges.select(col("src").as("id")).distinct()
      .withColumn("group", col("id"))
      .localCheckpoint(true)
    var round = 0
    var changed = 1L
    def step(): Unit = {
      round += 1
      // candidate label per node = min over its own label and every
      // neighbour's label (one shuffle: groupBy node id); the max
      // candidate tags along so the convergence check never re-shuffles
      val viaEdges = edges
        .join(labels.withColumnRenamed("id", "dst"), "dst")
        .select(col("src").as("id"), col("group"))
      val next = labels.select("id", "group").union(viaEdges)
        .groupBy("id").agg(min("group").as("group"),
          max("group").as("cand_max"))
        .localCheckpoint(true)     // eager: the round's one shuffle job
      // quiescence test over the just-cached partitions — a local scan
      // (round 3 ran a separate shuffle-join count() here: 2 jobs/round).
      // Edges are symmetrized, so the fixed point has every edge's
      // endpoints label-equal ⇒ each node's candidate set is uniform ⇒
      // min == max; any node still converging has min < max. `changed`
      // counts non-quiescent nodes, an upper bound on moved labels.
      changed = next.filter(col("group") < col("cand_max")).count()
      labels = next.select("id", "group")
    }
    while (round < maxRounds && changed > 0) step()
    if (changed > 0) {
      // `changed` measures movement DURING the final round, not residual
      // fragmentation after it: a component of diameter exactly
      // maxRounds converges IN round maxRounds while still reporting
      // changed > 0 (its candidate sets held stale labels that round).
      // One extra verification round distinguishes "converged on the
      // last allowed round" from genuine fragmentation.
      step()
    }
    if (changed > 0) {
      val msg = s"dedupGroups: $changed nodes still converging after " +
        s"$maxRounds rounds — component diameter exceeds the round " +
        "budget; groups would be silently fragmented (wrong survivors). " +
        "Raise maxRounds or pass strict=false for best-effort labels."
      if (strict) throw new IllegalStateException(msg)
      else System.err.println(s"WARN $msg")
    }
    labels
  }

  /** Connected components via alternating large-star/small-star
    * (Kiveris et al. 2014, "Connected Components in MapReduce and
    * Beyond", §3) — the scale-path alternative to [[dedupGroups]]'s
    * min-label propagation. Propagation needs DIAMETER rounds (fine for
    * quasi-clique near-dup components, fatal for chain-shaped graphs:
    * transitive near-dup chains a~b~c~… arise whenever the similarity
    * threshold sits below the corpus's drift rate); star contraction
    * converges in O(log² n) rounds on ANY graph shape, each round two
    * shuffles on 8-byte node ids.
    *
    *   large-star: every edge (u,v), v > u re-attaches v to
    *     m(u) = min(N(u) ∪ {u}) — larger neighbours hop to the
    *     neighbourhood minimum (keeps edges pointing high→low).
    *   small-star: orient edges (a, b), a > b; every a re-attaches its
    *     smaller neighbours AND itself to m(a) = min(N⁻(a)).
    *
    * Both steps preserve connectivity and the a > b invariant
    * (self-loops drop), and the fixed point is a star per component
    * centred on its minimum. Convergence is detected on a (count,
    * xor-of-xxhash64) signature of the edge set — two rounds with equal
    * signatures are confirmed with an exact `exceptAll` check before
    * declaring the fixed point, so a hash coincidence cannot return
    * early. No collect_list anywhere: a hot node's neighbourhood stays
    * distributed (min + join), the same hot-group discipline as
    * [[dedupGroupSummary]].
    *
    * Returns (id, group) — identical contract to [[dedupGroups]]; the
    * spec proves the two agree on random graphs, and that this one
    * handles a diameter-40 path where strict propagation throws.
    */
  def dedupGroupsStar(pairs: DataFrame, idA: String = "id_a", idB: String = "id_b",
                      maxRounds: Int = 30): DataFrame = {
    val nodes = pairs.select(col(idA).as("id"))
      .union(pairs.select(col(idB).as("id")))
      .distinct()
      .localCheckpoint(true)
    // oriented edge set, invariant a > b
    var edges = pairs
      .select(greatest(col(idA), col(idB)).as("a"), least(col(idA), col(idB)).as("b"))
      .filter(col("a") =!= col("b"))
      .distinct()
      .localCheckpoint(true)

    def largeStar(e: DataFrame): DataFrame = {
      val sym = e.select(col("a").as("u"), col("b").as("v"))
        .union(e.select(col("b").as("u"), col("a").as("v")))
      val m = sym.groupBy("u").agg(least(min("v"), first("u")).as("m"))
      // v > u >= m(u), so the emitted (v, m) keeps a > b strictly
      sym.join(m, "u")
        .filter(col("v") > col("u"))
        .select(col("v").as("a"), col("m").as("b"))
        .distinct()
    }

    def smallStar(e: DataFrame): DataFrame = {
      val m = e.groupBy("a").agg(min("b").as("m")) // all b < a, so m < a
      val hop = e.join(m, "a")
        .filter(col("b") =!= col("m"))
        .select(col("b").as("a"), col("m").as("b")) // b > m by minimality
      hop.union(m.select(col("a"), col("m").as("b"))).distinct()
    }

    def signature(e: DataFrame): (Long, Long) = {
      // bit_xor, not sum: ANSI mode makes a Long sum of 2^63-scale
      // hashes throw ARITHMETIC_OVERFLOW; xor is closed and commutative
      val r = e.agg(count(lit(1)),
        call_function("bit_xor", xxhash64(col("a"), col("b")))).head()
      (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
    }

    var sig = signature(edges)
    var round = 0
    var converged = edges.isEmpty
    while (!converged && round < maxRounds) {
      round += 1
      val next = smallStar(largeStar(edges)).localCheckpoint(true)
      val nextSig = signature(next)
      if (nextSig == sig) {
        // confirm the probabilistic signature match exactly — one extra
        // job only on the (single) converging round
        converged = next.exceptAll(edges).isEmpty && edges.exceptAll(next).isEmpty
      }
      sig = nextSig
      edges = next
    }
    if (!converged && !edges.isEmpty) {
      throw new IllegalStateException(
        s"dedupGroupsStar: edge set still moving after $maxRounds rounds — " +
          "exceeds the O(log^2 n) bound; raise maxRounds.")
    }
    // fixed point: (member, component-min) stars; roots label themselves
    nodes.join(edges.withColumnRenamed("a", "id"), Seq("id"), "left")
      .select(col("id"), coalesce(col("b"), col("id")).as("group"))
  }

  /** Per-group summary: canonical survivor (min id) + group size. NO
    * member list — at 10^12 docs a single exact-dup group can hold
    * millions of ids and an unbounded collect_list is exactly the
    * hot-group trap this engine avoids elsewhere; the delete set is the
    * row-per-member frame of the non-survivors instead. */
  def dedupGroupSummary(groups: DataFrame): DataFrame =
    groups.groupBy("group")
      .agg(count(lit(1)).as("n_members"))
      .select(col("group").as("keep_id"), col("n_members"))

  /** Group formation + per-member summary row in one call — the
    * (member, group, group size) frame the d11/e07 queries render;
    * shared so the survivor-join shape and casts stay one fact. */
  def groupsWithSummary(pairs: DataFrame, idName: String,
                        star: Boolean = false): DataFrame = {
    val groups = if (star) dedupGroupsStar(pairs) else dedupGroups(pairs)
    groups.join(dedupGroupSummary(groups), groups("group") === col("keep_id"))
      .select(col("id").cast("bigint").as(idName),
        col("group").cast("bigint").as("group_id"),
        col("n_members"))
  }

  /** Duplicated-span detection: per document, the maximal token spans
    * covered by n-grams that occur ≥ `minCount` times ACROSS THE CORPUS
    * — the token-level distributed rendering of suffix-array substring
    * dedup (Lee et al. 2022, "Deduplicating Training Data Makes
    * Language Models Better", arXiv:2107.06499: remove any substring
    * duplicated verbatim elsewhere). n-gram windows approximate the
    * suffix array: a duplicated substring of length ≥ n tokens is
    * exactly a run of duplicated n-gram windows, and merging
    * overlapping-or-adjacent window starts (pos ≤ prev_end + 1)
    * reconstructs its maximal extent.
    *
    * Output per doc (docs shorter than n tokens carry no n-gram
    * evidence and are omitted): `n_tokens`, `n_spans`, `dup_tokens`
    * (tokens inside duplicated spans), `dup_frac_e4` — the per-doc
    * dup-coverage signal a curation pipeline thresholds on.
    *
    * Scale design at 10^12 turns: the global n-gram frequency pass is a
    * groupBy over 8-byte xxhash64 window keys (`hashed=true`, the
    * production default — map-side partial aggregation collapses hot
    * n-grams before the shuffle); the join back to positions carries the
    * same 8-byte keys; span merging is a window over `idCol` —
    * high-cardinality partitioning key, no global sort. `hashed=false`
    * keeps n-gram strings so a SQL oracle can reproduce the pipeline;
    * the spec proves both variants identical (an xxhash64 collision
    * could only merge two n-grams' counts: ~1e-13 at test scale). */
  def duplicatedSpans(df: DataFrame, idCol: String, textCol: String,
                      n: Int = 3, minCount: Int = 2,
                      hashed: Boolean = true): DataFrame = {
    val nTokens = size(split(col(textCol), " "))
    val eligible = df.filter(nTokens >= n)
    val sh = if (hashed) shingleHashesAll(col(textCol), n)
             else shinglesAll(col(textCol), n)
    val grams = eligible.select(col(idCol), posexplode(sh).as(Seq("pos", "sh")))
    val dupSh = grams.groupBy("sh")
      .agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= minCount)
      .select("sh")
    val dupPos = grams.join(dupSh, Seq("sh"))
      .select(col(idCol), col("pos"), (col("pos") + lit(n - 1)).as("endp"))
    // gaps-and-islands: a window starts a new span iff it begins past
    // the furthest end seen so far plus one (adjacent windows chain)
    val byDoc = Window.partitionBy(idCol).orderBy("pos")
    val prevMax = max(col("endp"))
      .over(byDoc.rowsBetween(Window.unboundedPreceding, -1))
    val spans = dupPos
      .withColumn("_new",
        when(prevMax.isNull || col("pos") > prevMax + 1, 1).otherwise(0))
      .withColumn("isl", sum(col("_new")).over(byDoc))
      .groupBy(col(idCol), col("isl"))
      .agg(min("pos").as("s"), max("endp").as("e"))
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_spans"),
        sum(col("e") - col("s") + 1).as("dup_tokens"))
    eligible.select(col(idCol), nTokens.as("n_tokens"))
      .join(spans, Seq(idCol), "left")
      .na.fill(0L, Seq("n_spans", "dup_tokens"))
      .select(col(idCol), col("n_tokens"), col("n_spans"),
        col("dup_tokens").cast("bigint").as("dup_tokens"),
        floor((col("dup_tokens") / col("n_tokens")) * 10000)
          .cast("bigint").as("dup_frac_e4"))
  }

  /** Within-doc repeated-span removal — the REWRITE step of substring
    * dedup ([[graft.functions.DedupSpans]]): windows repeating an
    * earlier in-doc occurrence are cut, kept tokens re-join on single
    * spaces. Pure narrow map, exact string semantics (no hashes). */
  def removeRepeatedSpans(textCol: Column, n: Int = 3): Column = {
    import org.apache.spark.sql.graftbridge.Bridge
    Bridge.column(graft.functions.DedupSpans(Bridge.expression(textCol), n))
  }
}
