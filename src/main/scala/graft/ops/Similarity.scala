package graft.ops

import scala.util.Random

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (`array<float>`).
  *
  * Baseline: brute-force cosine top-k — a single narrow map + TakeOrdered
  * (no shuffle of the corpus; each partition computes local top-k, the
  * driver merges k·numPartitions rows).
  *
  * Scale path: random-hyperplane LSH — a `signBits`-bit signature per
  * vector; query probes only matching buckets (optionally multi-probe
  * hamming-1 neighbours), then exact-reranks the candidates. The bucket
  * join is a broadcast of the probe set, so the 10^12-vector corpus is
  * filtered by a pushed-down bucket predicate rather than scanned.
  */
object Similarity {

  /** Cosine similarity between an array<double> column and a literal
    * query vector — one codegen pass ([[graft.functions.CosineSim]]);
    * the test-side HOF rendering (`graft.ops.HofOracles.cosineHof`) is
    * the differential oracle. */
  def cosineToQuery(vec: Column, query: Array[Double]): Column =
    cosine(vec, lit(query))

  /** Cosine between two vector columns (codegen, single pass). */
  def cosine(a: Column, b: Column): Column = {
    import org.apache.spark.sql.graftbridge.Bridge
    Bridge.column(graft.functions.CosineSim(
      Bridge.expression(a), Bridge.expression(b)))
  }

  /** Brute-force cosine top-k against one query vector. */
  def bruteForceTopK(df: DataFrame, idCol: String, vecCol: String,
                     query: Array[Double], k: Int): DataFrame =
    df.select(col(idCol),
        cosineToQuery(col(vecCol).cast("array<double>"), query).as("cosine"))
      .orderBy(col("cosine").desc, col(idCol))
      .limit(k)

  /** Deterministic random hyperplanes (seeded) as literal columns —
    * plan-time constants, broadcast with the plan. */
  def hyperplanes(dim: Int, signBits: Int, seed: Long = 42L): Seq[Array[Double]] = {
    val rnd = new Random(seed)
    Seq.fill(signBits)(Array.fill(dim)(rnd.nextGaussian()))
  }

  /** LSH bucket id: sign bits of the dot products with the hyperplanes —
    * one codegen pass ([[graft.functions.LshBucket64]]). */
  def lshBucket(vec: Column, planes: Seq[Array[Double]]): Column = {
    import org.apache.spark.sql.graftbridge.Bridge
    Bridge.column(graft.functions.LshBucket64(Bridge.expression(vec), planes))
  }

  /** LSH-bucketed ANN: probe the query's bucket plus all hamming-1
    * neighbour buckets, exact-rerank candidates, return top-k.
    * Recall < 1 by construction; `signBits` and multi-probe radius trade
    * recall vs candidate count. */
  def lshTopK(df: DataFrame, idCol: String, vecCol: String,
              query: Array[Double], k: Int, signBits: Int = 8,
              seed: Long = 42L): DataFrame = {
    val planes = hyperplanes(query.length, signBits, seed)
    val qBucket = planes.zipWithIndex.map { case (p, i) =>
      val d = p.zip(query).map { case (x, y) => x * y }.sum
      if (d >= 0) 1L << i else 0L
    }.reduce(_ | _)
    val probes = qBucket +: (0 until signBits).map(i => qBucket ^ (1L << i))
    val dv = col(vecCol).cast("array<double>")
    df.withColumn("bucket", lshBucket(dv, planes))
      .filter(col("bucket").isin(probes: _*)) // pushdown-friendly bucket predicate
      .select(col(idCol), cosineToQuery(dv, query).as("cosine"))
      .orderBy(col("cosine").desc, col(idCol))
      .limit(k)
  }

  /** Recall@k of an approximate ANN result against the exact one —
    * "measure, don't guess": every bucketed index (LSH probes, IVF
    * cells) trades recall for scan reduction, and this is the harness
    * that puts a NUMBER on that trade so the trade-off knob (signBits,
    * probe radius, nProbe) is tuned on evidence. Both inputs are top-k
    * frames keyed by `idCol`; `k` is the ground-truth size (recall
    * denominator). The join is k×k rows — driver-trivial at any corpus
    * size, because the heavy lifting already happened in the two ANN
    * queries. */
  def recallAtK(approx: DataFrame, exact: DataFrame, idCol: String,
                k: Int): DataFrame = {
    require(k > 0, s"recallAtK: k must be positive, got $k")
    // distinct both sides: a duplicated id would multiply join rows and
    // push recall past 1; denominator = min(k, |ground truth|) — the
    // standard recall@k when the corpus has fewer than k answers —
    // clamped to ≥1 so an empty ground truth reads 0, not a div-by-zero
    val ex = exact.select(idCol).distinct()
    approx.select(idCol).distinct().join(ex, Seq(idCol))
      .agg(count(lit(1)).as("n_hits"))
      .crossJoin(broadcast(ex.agg(count(lit(1)).as("n_gt"))))
      .select(lit(k).cast("bigint").as("k"), col("n_hits"),
        floor(col("n_hits") * 10000 /
          greatest(lit(1L), least(lit(k.toLong), col("n_gt"))))
          .cast("bigint").as("recall_e4"))
  }

  // ---- product quantization (PQ) ----

  /** Product-quantization codebook from `seeds` (full-dim vectors, e.g.
    * a deterministic data sample): subspace `j`'s centroid `c` is seed
    * `c`'s j-th slice. Returned as codebook(j)(c) = subvector. */
  def pqCodebook(seeds: Seq[Array[Double]], m: Int): Seq[Seq[Array[Double]]] = {
    require(seeds.nonEmpty, "pqCodebook needs at least one seed vector")
    val dim = seeds.head.length
    require(dim % m == 0, s"m=$m must divide dim=$dim")
    val sub = dim / m
    (0 until m).map(j => seeds.map(_.slice(j * sub, (j + 1) * sub)).toSeq)
  }

  /** Integer-quantized squared-L2 between a subvector of `dv` (subspace
    * `j`) and a literal centroid: `floor(1e6 · Σ (v_d − c_d)²)` with a
    * LEFT-ASSOCIATIVE term sum — the quantization (a) makes downstream
    * sums order-free exact integer arithmetic (bitwise reproducible in
    * any engine), (b) mirrors real PQ, whose distance tables are
    * quantized lookups, not float math. */
  private[ops] def pqDistE6(dv: Column, j: Int, centroid: Array[Double]): Column = {
    val sub = centroid.length
    val terms = (0 until sub).map { i =>
      val el = element_at(dv, j * sub + i + 1)
      (el - lit(centroid(i))) * (el - lit(centroid(i)))
    }
    floor(lit(1e6) * terms.reduceLeft(_ + _)).cast("bigint")
  }

  /** PQ ANN top-k: asymmetric-distance search over the encoded index.
    * The query precomputes one integer distance table per subspace
    * (`floor(1e6·L2²(query_sub, centroid))`, plan-time literals); each
    * row's approximate distance is m ARRAY LOOKUPS + an integer sum — no
    * per-row float math at all, the PQ trick. Smallest `adt_e6` wins
    * (ties → smaller id); exactness of the integer arithmetic is what
    * lets a SQL oracle reproduce the ranking bitwise.
    *
    * Scale: narrow map over the encoded index + TakeOrderedAndProject
    * (local top-k per partition, driver merges k·partitions rows); at
    * 10^12 scale compose with [[ivfAssign]] cells so only probed
    * partitions scan. */
  def pqTopK(df: DataFrame, idCol: String, vecCol: String,
             query: Array[Double], codebook: Seq[Seq[Array[Double]]],
             k: Int): DataFrame = {
    val m = codebook.size
    val sub = codebook.head.head.length
    require(query.length == m * sub,
      s"query dim ${query.length} != m*sub ${m * sub}")
    // Scala-side table build mirrors pqDistE6's arithmetic exactly:
    // left-fold term sum, floor(1e6·) quantization
    val dtab: Seq[Array[Long]] = codebook.zipWithIndex.map { case (cents, j) =>
      cents.map { c =>
        val qs = query.slice(j * sub, (j + 1) * sub)
        math.floor(1e6 * qs.zip(c).map { case (q, w) => (q - w) * (q - w) }
          .reduceLeft(_ + _)).toLong
      }.toArray
    }
    // encode+lookup as ONE loop expression ([[graft.functions.PqAdtE6]],
    // bit-identical to the pqEncode + element_at(lit(dtab)) rendering —
    // SimilaritySpec proves it): the unrolled plan is ~2-3k nodes whose
    // janino compile dominates the query at any input size
    import org.apache.spark.sql.graftbridge.Bridge
    val adt = Bridge.column(graft.functions.PqAdtE6(
      Bridge.expression(col(vecCol).cast("array<double>")),
      codebook.map(_.toArray).toArray, dtab.toArray))
    // null vectors have no distance: filtered, like a SQL engine whose
    // unnest/element access drops them — without this, the nullIntolerant
    // expression yields a null adt_e6 and orderBy's NULLS FIRST would
    // rank the null-embedding row at the TOP of the ANN result
    df.filter(col(vecCol).isNotNull)
      .select(col(idCol), adt.as("adt_e6"))
      .orderBy(col("adt_e6").asc, col(idCol).asc)
      .limit(k)
  }

  /** IVF-PQ (IVFADC) top-k — the two standard index layers COMPOSED the
    * way a production vector index (FAISS IVFADC) stacks them: a coarse
    * quantizer assigns every vector to its nearest of `centroids`
    * (integer-quantized L2², same per-subspace `floor(1e6·Σ)` arithmetic
    * as the PQ side so ONE quantization contract covers the whole
    * index), the query probes only the `nProbe` nearest cells, and rows
    * inside probed cells rank by the PQ asymmetric distance table — m
    * integer lookups per row, no float math anywhere past the encode.
    *
    * Scale: `cell` is the partition key at 10^12 vectors — the probe
    * filter is partition pruning, so a 16384-cell/64-probe index scans
    * ~0.4% of the corpus, and the scanned fraction pays only integer
    * ADT lookups. Ties: cell assignment → smaller cell id; ranking →
    * smaller row id (both bit-stable, so the SQL oracle reproduces the
    * full pipeline exactly — assignment, probe set, codes, ranking). */
  def ivfPqTopK(df: DataFrame, idCol: String, vecCol: String,
                query: Array[Double], centroids: Seq[Array[Double]],
                codebook: Seq[Seq[Array[Double]]],
                k: Int, nProbe: Int = 4): DataFrame = {
    val m = codebook.size
    val sub = codebook.head.head.length
    require(query.length == m * sub,
      s"query dim ${query.length} != m*sub ${m * sub}")
    require(centroids.forall(_.length == m * sub),
      "centroid dim must equal m*sub")
    require(nProbe > 0 && nProbe <= centroids.size,
      s"nProbe=$nProbe out of range for ${centroids.size} cells")
    // coarse assignment as ONE loop expression (same arithmetic as the
    // unrolled least(struct(Σ_j pqDistE6, cell)) plan — see PqExprs)
    import org.apache.spark.sql.graftbridge.Bridge
    val winner = Bridge.column(graft.functions.PqCellAssignE6(
      Bridge.expression(col(vecCol).cast("array<double>")),
      centroids.toArray, m))
    // probe pick on the driver — the SAME left-associative float sum +
    // per-subspace floor as pqDistE6, so probe set ≡ what a SQL oracle
    // recomputes (the pqTopK dtab lesson)
    def qDistE6(c: Array[Double]): Long =
      (0 until m).map { j =>
        val qs = query.slice(j * sub, (j + 1) * sub)
        val cs = c.slice(j * sub, (j + 1) * sub)
        math.floor(1e6 * qs.zip(cs).map { case (a, b) => (a - b) * (a - b) }
          .reduceLeft(_ + _)).toLong
      }.sum
    val probeCells = centroids.zipWithIndex
      .map { case (c, i) => (qDistE6(c), i) }.sorted.take(nProbe).map(_._2)
    val pruned = df.withColumn("cell", winner)
      .filter(col("cell").isin(probeCells: _*))
    pqTopK(pruned, idCol, vecCol, query, codebook, k)
  }

  /** Exact-scan L2 top-k with the SAME per-subspace integer quantization
    * as [[pqTopK]] (`Σ_j floor(1e6·L2²_j)`) — the ground truth that
    * isolates PQ's codebook loss: PQ is an L2-METRIC index, so judging
    * it against a cosine ground truth on unnormalized vectors conflates
    * metric mismatch with quantization error (measured: recall@10 = 0.1
    * against cosine, regardless of codebook size — the metric, not the
    * codes; normalize vectors first when cosine semantics are wanted,
    * then L2 ordering ≡ cosine ordering). */
  def l2TopK(df: DataFrame, idCol: String, vecCol: String,
             query: Array[Double], m: Int, k: Int): DataFrame = {
    require(query.length % m == 0, s"m=$m must divide dim=${query.length}")
    val sub = query.length / m
    val dv = col(vecCol).cast("array<double>")
    val dist = (0 until m)
      .map(j => pqDistE6(dv, j, query.slice(j * sub, (j + 1) * sub)))
      .reduceLeft(_ + _)
    df.select(col(idCol), dist.as("dist_e6"))
      .orderBy(col("dist_e6").asc, col(idCol).asc)
      .limit(k)
  }

  // ---- scalar quantization (SQ8) ----

  /** Per-dimension corpus min/max — the SQ8 quantizer's training pass.
    * posexplode → 64-group aggregate: one shuffle of (dim, partial
    * min/max) pairs regardless of corpus size, then a 64-row collect
    * (the codebook of this index family IS those 128 doubles). min/max
    * are exact selections over the double-cast floats, so an engine
    * recomputing them from the same parquet gets bit-identical
    * constants — what makes the e16 oracle self-contained. */
  def sqMinMax(df: DataFrame, vecCol: String): (Array[Double], Array[Double]) = {
    val rows = df
      .select(posexplode(col(vecCol).cast("array<double>")).as(Seq("dim", "val")))
      .groupBy("dim").agg(min("val").as("mn"), max("val").as("mx"))
      .orderBy("dim")
      .collect()
    (rows.map(_.getDouble(1)), rows.map(_.getDouble(2)))
  }

  /** Driver-side SQ8 encode of one vector — the IDENTICAL IEEE sequence
    * as [[graft.functions.SqL2Dist]]'s per-row quantizer:
    * `clamp₀₋₂₅₅(floor((v − mn)·255/(mx − mn)))`, constant dims → 0. */
  def sqQuantize(v: Array[Double], mn: Array[Double],
                 mx: Array[Double]): Array[Long] =
    Array.tabulate(v.length) { i =>
      if (mx(i) == mn(i)) 0L
      else {
        val f = math.floor((v(i) - mn(i)) * 255.0 / (mx(i) - mn(i))).toLong
        math.max(0L, math.min(255L, f))
      }
    }

  /** SQ8 ANN top-k: every row's distance to the query is the exact
    * integer Σ (qcode − code)² over per-dim 8-bit codes (ties → smaller
    * id). The fourth standard index family next to LSH/IVF/PQ — 4×
    * smaller than raw float32 with near-exact recall, and unlike PQ the
    * quantizer has no codebook to train, just per-dim min/max.
    *
    * Scale: a narrow one-expression map + TakeOrderedAndProject; the
    * training pass ([[sqMinMax]]) is one 64-group aggregate. Compose
    * with [[ivfAssign]] cells at 10^12 rows like the PQ side. */
  def sqTopK(df: DataFrame, idCol: String, vecCol: String,
             query: Array[Double], mn: Array[Double], mx: Array[Double],
             k: Int): DataFrame = {
    require(mn.length == mx.length && mn.length == query.length,
      s"dim mismatch: query ${query.length}, mn ${mn.length}, mx ${mx.length}")
    import org.apache.spark.sql.graftbridge.Bridge
    val dist = Bridge.column(graft.functions.SqL2Dist(
      Bridge.expression(col(vecCol).cast("array<double>")),
      mn, mx, sqQuantize(query, mn, mx)))
    // null vectors filtered — same nulls-first hazard as [[pqTopK]],
    // and the e16 oracle's unnest() drops them naturally
    df.filter(col(vecCol).isNotNull)
      .select(col(idCol), dist.as("sq_dist"))
      .orderBy(col("sq_dist").asc, col(idCol).asc)
      .limit(k)
  }

  /** Fail LOUD on a dim mismatch (one-row probe, reads one row group):
    * a wrong `dim` leaves every LSH bit unset, so all rows share bucket
    * 0 and a bucketed join silently degrades to the full O(n²) pair
    * matrix — results stay correct, only the runtime explodes. */
  private[ops] def requireDim(df: DataFrame, vecCol: String, dim: Int,
                              op: String): Unit =
    df.select(size(col(vecCol)).as("d")).limit(1).collect().headOption
      .foreach { r =>
        require(r.getInt(0) == dim,
          s"$op: dim=$dim but $vecCol has ${r.getInt(0)} elements")
      }

  /** Shared per-vector rerank: exact top-k by cosine with the
    * deterministic tie-break (cosine desc, then neighbour id asc) and
    * the e4-floored output contract both e05/e06 oracles pin. */
  private def rerankTopK(pairs: DataFrame, k: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("id_a").orderBy(col("cosine").desc, col("id_b"))
    pairs.withColumn("rk", row_number().over(w)).filter(col("rk") <= k)
      .select(col("id_a"), col("id_b"), col("rk"),
        floor(col("cosine") * 10000).cast("bigint").as("cos_e4"))
  }

  /** Reciprocal-rank fusion (Cormack & Clarke's RRF, the standard
    * hybrid-retrieval combiner): fuse N ranked candidate lists for one
    * query into a single top-k,
    *   rrf(id) = Σ_lists 1_000_000 div (c + rank_list(id))
    * with ranks assigned inside each list by (score desc, id asc) and
    * c = 60 (the published default). The per-list contribution is PURE
    * INTEGER arithmetic (truncating div of exact longs — no float
    * anywhere), so any SQL engine reproduces the fused ordering bitwise;
    * an id absent from a list simply contributes nothing (standard RRF).
    * Final ties break on id.
    *
    * Scale: inputs are already top-k-truncated retrieval lists (k·lists
    * rows total, not corpora) — the unpartitioned rank window and the
    * fuse groupBy run on ≤ k·lists rows by contract; the heavy work
    * happened in the ANN stages that produced the lists. */
  def rrfFuse(lists: Seq[DataFrame], idCol: String, scoreCol: String,
              k: Int, c: Int = 60): DataFrame = {
    require(lists.nonEmpty, "rrfFuse: no input lists")
    require(k > 0 && c >= 0, s"rrfFuse: bad k=$k / c=$c")
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col(scoreCol).desc, col(idCol))
    val contribs = lists.map { l =>
      l.select(col(idCol), col(scoreCol))
        .withColumn("rank", row_number().over(w).cast("bigint"))
        .select(col(idCol),
          call_function("div", lit(1000000L), lit(c.toLong) + col("rank"))
            .as("contrib"))
    }
    contribs.reduce(_ unionByName _)
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_lists"), sum("contrib").as("rrf_e6"))
      .orderBy(col("rrf_e6").desc, col(idCol))
      .limit(k)
  }

  /** Brute k-NN JOIN: top-k cosine neighbours for EVERY vector — the
    * batch form behind near-dup clustering and retrieval-index seeding,
    * vs the single-query [[bruteForceTopK]]. Deliberately quadratic (N²
    * codegen cosines; the d05-style oracle-checkable baseline) —
    * [[knnJoinLsh]] is the scale path. Deterministic tie-break: cosine
    * desc, then neighbour id asc. */
  def knnJoinBrute(df: DataFrame, idCol: String, vecCol: String,
                   k: Int): DataFrame = {
    val dv = col(vecCol).cast("array<double>")
    val a = df.select(col(idCol).as("id_a"), dv.as("va"))
    val b = df.select(col(idCol).as("id_b"), dv.as("vb"))
    rerankTopK(a.crossJoin(b).filter(col("id_a") =!= col("id_b"))
      .select(col("id_a"), col("id_b"),
        cosine(col("va"), col("vb")).as("cosine")), k)
  }

  /** LSH-bucketed k-NN join — the scale path: each vector's probe side
    * explodes its own bucket plus the hamming-1 ball, the candidate set
    * is an equi-join on the bucket id, and only candidates pay an exact
    * cosine + per-vector top-k. The N² pair space never materializes:
    * candidates ≈ N × (signBits+1) × mean bucket occupancy, and the
    * join shuffles on the 8-byte bucket key. Probe values within a ball
    * are distinct, so a pair can match at most once — no dedup needed.
    * Recall < 1 by construction (near neighbours usually share sign
    * bits; the spec measures recall vs brute on planted clusters);
    * raise `signBits` as N grows to hold occupancy flat. */
  def knnJoinLsh(df: DataFrame, idCol: String, vecCol: String,
                 k: Int, dim: Int, signBits: Int = 6,
                 seed: Long = 42L): DataFrame = {
    requireDim(df, vecCol, dim, "knnJoinLsh")
    val planes = hyperplanes(dim, signBits, seed)
    val dv = col(vecCol).cast("array<double>")
    val a = df.select(col(idCol).as("id_a"), dv.as("va"))
      .withColumn("b0", lshBucket(col("va"), planes))
    val probes = col("b0") +: (0 until signBits)
      .map(i => col("b0").bitwiseXOR(lit(1L << i)))
    val aa = a.withColumn("bucket", explode(array(probes: _*))).drop("b0")
    val b = df.select(col(idCol).as("id_b"), dv.as("vb"))
      .withColumn("bucket", lshBucket(col("vb"), planes))
    rerankTopK(aa.join(b, Seq("bucket"))
      .filter(col("id_a") =!= col("id_b"))
      .select(col("id_a"), col("id_b"),
        cosine(col("va"), col("vb")).as("cosine")), k)
  }

  /** IVF-style ANN: assign every vector to its nearest of `centroids`
    * (coarse quantizer); a query scans only the `nProbe` nearest cells.
    * Centroids here are caller-provided (e.g. KMeans or a seeded sample)
    * — the partition-prune structure is the point: cluster column =
    * partition key, probe = partition pruning at 10^12 scale. */
  def ivfAssign(df: DataFrame, vecCol: String,
                centroids: Seq[Array[Double]]): DataFrame = {
    require(centroids.nonEmpty, "ivfAssign needs at least one centroid")
    val dv = col(vecCol).cast("array<double>")
    val best = centroids.zipWithIndex.map { case (c, i) =>
      struct(cosine(dv, lit(c)).as("sim"), lit(i).as("cell"))
    }
    // greatest() requires >= 2 args — a single-centroid quantizer (legal
    // degenerate case) assigns every row to cell 0
    val winner = if (best.size == 1) best.head else greatest(best: _*)
    df.withColumn("cell", winner.getField("cell"))
  }

  def ivfTopK(assigned: DataFrame, idCol: String, vecCol: String,
              query: Array[Double], centroids: Seq[Array[Double]],
              k: Int, nProbe: Int = 4): DataFrame = {
    def cos(c: Array[Double]): Double = {
      val dot = c.zip(query).map { case (x, y) => x * y }.sum
      val n = math.sqrt(c.map(x => x * x).sum) * math.sqrt(query.map(x => x * x).sum)
      if (n == 0) 0 else dot / n
    }
    val probeCells = centroids.zipWithIndex.sortBy { case (c, _) => -cos(c) }
      .take(nProbe).map(_._2)
    assigned.filter(col("cell").isin(probeCells: _*))
      .select(col(idCol),
        cosineToQuery(col(vecCol).cast("array<double>"), query).as("cosine"))
      .orderBy(col("cosine").desc, col(idCol))
      .limit(k)
  }

  /** IVF cell-occupancy audit — the quantizer-balance check an ANN
    * index build runs before committing a codebook: per cell, the
    * vector count and integer centroid-similarity stats. A skewed cell
    * histogram (one hot cell) predicts degenerate probe latency; a low
    * avg centroid similarity flags a centroid that represents nothing.
    * Per-vector similarities floor to e6 integers; the avg is a FLOOR
    * integer division of their exact sum — rendered as
    * `(s − pmod(s, n)) div n` because both Spark's `div` and DuckDB's
    * `//` truncate toward zero on a negative sum (a SQL mirror must
    * subtract the mathematical mod the same way) — pure integer
    * arithmetic after the floor, engine-reproducible bitwise.
    *
    * Scale: one narrow codegen assign+cosine pass over the corpus, then
    * a groupBy with codebook-sized output (map-side partials collapse
    * each partition to ≤ |cells| rows before the shuffle). */
  def ivfCellStats(df: DataFrame, idCol: String, vecCol: String,
                   centroids: Seq[Array[Double]]): DataFrame = {
    val cents = map(centroids.zipWithIndex.flatMap { case (c, i) =>
      Seq(lit(i), lit(c))
    }: _*)
    ivfAssign(df, vecCol, centroids)
      .select(col("cell"),
        floor(lit(1e6) * cosine(col(vecCol).cast("array<double>"),
          element_at(cents, col("cell")))).cast("bigint").as("cent_e6"))
      .groupBy("cell")
      .agg(count(lit(1)).as("n_vecs"),
        call_function("div",
          sum("cent_e6") - pmod(sum("cent_e6"), count(lit(1))),
          count(lit(1))).as("avg_cent_e6"),
        min("cent_e6").as("min_cent_e6"),
        max("cent_e6").as("max_cent_e6"))
  }

  /** One Lloyd (k-means) iteration — the codebook-training step the IVF
    * quantizer assumes has already happened: assign every vector to its
    * nearest centroid ([[ivfAssign]], same cosine + tie-break as the
    * index build), then recompute each cell's mean per dimension. Output
    * = (cell, j, n_vecs, mean_e6): |cells|·dim rows, the updated
    * codebook in exact integers.
    *
    * Arithmetic is engine-reproducible bitwise: each component floors to
    * an e6 integer BEFORE the aggregate, so the per-cell sum is exact
    * integer addition (order-free — a float mean would expose Spark's
    * partition-order summation vs a sequential SQL engine); the mean is
    * the same floor integer division idiom as [[ivfCellStats]]
    * (`(s − pmod(s, n)) div n`, correct for negative sums — embedding
    * components go negative, and bare `div`/`//` truncate toward zero).
    *
    * Scale: one narrow codegen assign pass, then posexplode (dim rows
    * per vector — column-stable width, no data-dependent blowup) into a
    * groupBy whose output is bounded by |cells|·dim regardless of corpus
    * size; map-side partials collapse each partition to ≤ |cells|·dim
    * rows before the shuffle. Iterating = re-calling with the returned
    * means as `centroids`. Null vectors contribute nothing (posexplode
    * of a null array emits zero rows) — a SQL mirror must filter them
    * explicitly or its count(*) denominator silently includes them. */
  def kmeansStep(df: DataFrame, vecCol: String,
                 centroids: Seq[Array[Double]]): DataFrame =
    ivfAssign(df, vecCol, centroids)
      .select(col("cell"),
        posexplode(col(vecCol).cast("array<double>")).as(Seq("j", "x")))
      .select(col("cell"), col("j"),
        floor(lit(1e6) * col("x")).cast("bigint").as("x_e6"))
      .groupBy("cell", "j")
      .agg(count(lit(1)).as("n_vecs"),
        call_function("div",
          sum("x_e6") - pmod(sum("x_e6"), count(lit(1))),
          count(lit(1))).as("mean_e6"))

  /** Embedding ingestion hygiene — the validation gate every vector
    * index build runs before committing a corpus: counts of null
    * vectors, wrong-dimension vectors, vectors carrying any NaN/±Inf
    * component, and all-zero vectors (which break cosine normalization
    * and hash to degenerate LSH/IVF buckets). One narrow full scan into
    * a single global aggregate — map-side partials, a one-row result,
    * no shuffle payload beyond five counters per partition; the checks
    * are array HOFs, no explode. All counts are exact integers, so the
    * audit replays bitwise in SQL. */
  def embeddingHygiene(df: DataFrame, vecCol: String, dim: Int): DataFrame = {
    require(dim > 0, s"embeddingHygiene: dim must be positive, got $dim")
    val v = col(vecCol)
    def cnt(c: org.apache.spark.sql.Column) =
      sum(when(c, 1L).otherwise(0L))
    val nonfinite = expr(s"size(filter($vecCol, x -> isnan(x) " +
      "OR x = cast('Infinity' as double) " +
      "OR x = cast('-Infinity' as double))) > 0")
    // null ELEMENTS drop from both filters (lambda null ≠ true) — an
    // all-null vector therefore counts as zero-norm, matching SQL
    val allZero = expr(s"size(filter($vecCol, x -> x != 0.0)) = 0")
    df.agg(
      count(lit(1)).as("n_rows"),
      cnt(v.isNull).as("n_null"),
      cnt(v.isNotNull && size(v) =!= dim).as("n_wrong_dim"),
      cnt(v.isNotNull && nonfinite).as("n_nonfinite"),
      cnt(v.isNotNull && allZero).as("n_zero"))
  }

  /** Inter-group centroid geometry — the vector-side mixture audit: per
    * label/source, the e6-integer centroid (exact order-free sums +
    * floor-div means, the [[kmeansStep]] arithmetic keyed by label
    * instead of cell), then for every label pair the centroid dot
    * product and squared L2 distance — both pure bigint, so the whole
    * panel replays bitwise in SQL. Answers "are my sources semantically
    * distinct, and which two are collapsing?" before a mixture is
    * committed — the embedding analog of the d35 duplication matrix.
    *
    * Scale shape: the corpus pass is a narrow posexplode map into ONE
    * shuffle bounded by |labels|·dim (10^12 vectors reduce map-side to
    * a few hundred rows); the pairwise stage is a self-join of that
    * tiny frame on the dimension index — |labels|²·dim rows at most,
    * never a corpus operation. Output: |labels|·(|labels|−1)/2 rows. */
  def labelCentroidMatrix(df: DataFrame, vecCol: String,
                          labelCol: String): DataFrame = {
    val m = df.filter(col(vecCol).isNotNull)
      .select(col(labelCol).as("label"),
        posexplode(col(vecCol).cast("array<double>")).as(Seq("j", "x")))
      .select(col("label"), col("j"),
        floor(lit(1e6) * col("x")).cast("bigint").as("x_e6"))
      .groupBy("label", "j")
      .agg(call_function("div",
        sum("x_e6") - pmod(sum("x_e6"), count(lit(1))),
        count(lit(1))).as("mean_e6"))
    val a = m.select(col("label").as("label_a"), col("j"),
      col("mean_e6").as("ma"))
    val b = m.select(col("label").as("label_b"), col("j"),
      col("mean_e6").as("mb"))
    a.join(b, Seq("j")).filter(col("label_a") < col("label_b"))
      .groupBy("label_a", "label_b")
      .agg(sum(col("ma") * col("mb")).as("dot_e12"),
        sum((col("ma") - col("mb")) * (col("ma") - col("mb")))
          .as("dist2_e12"))
  }
}
