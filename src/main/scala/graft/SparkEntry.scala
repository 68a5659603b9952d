package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.agg.{CountStage, Rollup, Stateful}
import graft.enrich.EnrichStage
import graft.model.PipelineConfig._
import graft.ops.{Chunking, Curation, Dedup, Multimodal, SftRender, Similarity, Sketches, TextAnalysis}
import graft.ops.TextAnalysis.{piiEmail, piiIpv4, piiPhone}
import graft.parse.ParseStage
import graft.route.RouteStage
import graft.run.Pipeline
import graft.sources.Transcripts

/** Driver contract — one `queries` entry per implemented operator
  * (SURVEY.md §2), each with a DuckDB oracle where SQL-expressible.
  *
  * The transcript-pipeline queries (p*) run over a transcripts table
  * derived deterministically from the `events` parquet
  * ([[Transcripts.derive]]); the oracle reproduces the same derivation via
  * [[Transcripts.OracleCte]], so parse/enrich/route/aggregate semantics are
  * checked end-to-end against an independent engine.
  */
object SparkEntry {

  // ---------------- shared SQL fragments (DuckDB dialect) ----------------

  private val P1 = "^CALL tool=(\\w+) args=(\\{.*\\}) dur_ms=(\\d+)$"
  private val P2 = "^(TRACE|DEBUG|INFO|WARN|ERROR|FATAL) \\[([\\w.-]+)\\] (.*)$"
  private val P3 = "^\\w+=[^ ]+( \\w+=[^ ]+)*$"

  private def withT(body: String, extra: Seq[String] = Nil): String =
    (Transcripts.OracleCte +: extra).mkString("", ",\n", "\n") + body

  /** p69's DuckDB occurrence expression, generated from the SAME phrase
    * bank the Spark side folds over — one definition, no drift. */
  private def refusalOccSql: String =
    graft.ops.TextAnalysis.DefaultRefusalPhrases.map { p =>
      val esc = p.replace("'", "''")
      s"(length(lt) - length(replace(lt, '$esc', ''))) // ${p.length}"
    }.mkString(" + ")

  private def t(s: SparkSession, dir: String): DataFrame = Transcripts.fromEvents(s, dir)
  private def parsedT(s: SparkSession, dir: String): DataFrame =
    ParseStage(t(s, dir), Pipeline.parseConfig)
  private def events(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/events.parquet")
  private def documents(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/documents.parquet")

  private val centsE = round(col("value") * 100).cast("bigint")

  // ---------------- flagship ----------------

  /** Flagship: full parse→enrich→route→aggregate on sf0.001. */
  def entry(spark: SparkSession): DataFrame = {
    val tr = Transcripts.fromEvents(spark, "/root/testdata/sf0.001")
    val routed = RouteStage.routed(Pipeline.parseEnrich(spark, tr), Pipeline.routeTable)
    CountStage.countWindowed(routed.withColumnRenamed("route", "sink"),
        MetricSpec("count", attrs = Seq(AttrSpec("sink"))), col("ts"), Pipeline.flagship.window)
      .select("sink", "window_start", "count")
  }

  // ---------------- queries + oracles ----------------

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // -- parse stage (stanza regex/severity/kv parsers; on_error policies) --
    "p01_parse_tool_calls" -> ((s, dir) =>
      parsedT(s, dir)
        .filter(col("pattern") === "tool_call")
        .select(col("conv_id"), col("turn_idx"),
          col("parsed").getItem("tool_name").as("tool_name"),
          col("parsed").getItem("args_json").as("args_json"),
          col("parsed").getItem("dur_ms").cast("bigint").as("dur_ms"))),

    "p02_parse_status_severity" -> ((s, dir) =>
      parsedT(s, dir)
        .filter(col("pattern") === "status")
        .select(col("conv_id"), col("turn_idx"),
          col("parsed").getItem("level").as("level"),
          col("parsed").getItem("component").as("component"),
          col("parsed").getItem("msg").as("msg"),
          ParseStage.parseSeverity(col("parsed").getItem("level")).as("severity_num"))),

    "p03_parse_onerror_send" -> ((s, dir) =>
      parsedT(s, dir)
        .filter(col("pattern").isNull)
        .select(col("conv_id"), col("turn_idx"), col("text"), col("_error"))),

    "p04_parse_keyvalue" -> ((s, dir) =>
      parsedT(s, dir)
        .filter(col("pattern") === "kv")
        .withColumn("kvmap", ParseStage.parseKeyValue(col("parsed").getItem("kvpairs")))
        .select(col("conv_id"), col("turn_idx"),
          element_at(col("kvmap"), "action").as("action"),
          element_at(col("kvmap"), "cents").cast("bigint").as("cents"))),

    "p05_parse_json_args" -> ((s, dir) =>
      parsedT(s, dir)
        .filter(col("pattern") === "tool_call")
        .select(col("conv_id"), col("turn_idx"),
          ParseStage.parseJsonField(col("parsed").getItem("args_json"), "$.k")
            .cast("bigint").as("k"))),

    // -- enrich stage (attributes processor as broadcast join) --
    "p06_enrich_broadcast" -> ((s, dir) =>
      Pipeline.parseEnrich(s, t(s, dir))
        .groupBy("tool_family", "cost_class", "is_sandboxed")
        .agg(count(lit(1)).as("n"))),

    // -- route stage (routing connector) --
    "p07_route_multimatch_counts" -> ((s, dir) =>
      // multi-match per-sink counts in ONE scan: exploded route tags ≡
      // the per-sink filters of RouteStage.fanOut (a row reaches each
      // matching sink once either way; no-match rows carry the default
      // tag) — the fanOut composition itself re-ran parseEnrich per
      // sink, 4 scans for 4 counts (p09 + RouteStageSpec still exercise
      // the per-sink-DataFrame API)
      // (right-join the literal sink list so an empty sink still reports
      // n=0, like the per-sink count(*) composition and the oracle)
      {
        import s.implicits._
        val table = Pipeline.routeTable
        val sinkNames = table.sinkNames.toDF("sink")
        RouteStage.tagsExploded(Pipeline.parseEnrich(s, t(s, dir)), table)
          .groupBy("route").agg(count(lit(1)).as("cnt"))
          .join(sinkNames, col("route") === col("sink"), "right")
          .select(col("sink"), coalesce(col("cnt"), lit(0L)).as("n"))
      }),

    "p08_route_first_match" -> ((s, dir) =>
      RouteStage.tagged(Pipeline.parseEnrich(s, t(s, dir)), Pipeline.routeTable)
        .groupBy("route").agg(count(lit(1)).as("n"))),

    "p09_route_default_rows" -> ((s, dir) => {
      val sinks = RouteStage.fanOut(Pipeline.parseEnrich(s, t(s, dir)), Pipeline.routeTable)
      sinks("default").select("conv_id", "turn_idx", "role", "text")
    }),

    // -- aggregate stage (count connector; windows) --
    "p10_count_windowed_by_role" -> ((s, dir) =>
      CountStage.countWindowed(
        t(s, dir), MetricSpec("n", attrs = Seq(AttrSpec("role"))),
        col("ts"), "1 hour")),

    "p11_count_tool_cost_default" -> ((s, dir) =>
      CountStage.count(
        Pipeline.parseEnrich(s, t(s, dir)),
        MetricSpec("n",
          conditions = Seq(col("tool") =!= ""),
          attrs = Seq(AttrSpec("tool"), AttrSpec("cost_class", Some("unknown")))))),

    "p12_count_required_attr_skip" -> ((s, dir) =>
      CountStage.count(
        parsedT(s, dir),
        MetricSpec("n", attrs = Seq(AttrSpec("component"), AttrSpec("level", Some("none")))),
        graft.config.ConfigLoader.resolveAttr(Pipeline.parsedFields))),

    // -- per-conversation rollup (recombine analog) + salted-skew variant --
    "p13_rollup_conversation" -> ((s, dir) => Rollup.rollup(t(s, dir))),
    "p14_rollup_salted" -> ((s, dir) => Rollup.rollupSalted(t(s, dir), blockSize = 8)),

    // -- per-turn text round-trip invariant (north rule) --
    "p15_text_roundtrip" -> ((s, dir) =>
      t(s, dir).select("conv_id", "turn_idx", "role", "text", "tool", "ts")),

    // -- stateful metric processors --
    "p16_delta_to_cumulative" -> ((s, dir) =>
      Stateful.deltaToCumulative(
        events(s, dir).withColumn("cents", centsE),
        Seq("user_id"), "ts", "cents", tieBreak = Seq("event_id"))
        .select(col("event_id"), col("user_id"), col("cumulative").as("cum_cents"))),

    "p17_cumulative_to_delta" -> ((s, dir) =>
      Stateful.cumulativeToDelta(
        events(s, dir).withColumn("cents", centsE),
        Seq("user_id"), "ts", "cents", tieBreak = Seq("event_id"))
        .select(col("event_id"), col("user_id"), col("delta").as("delta_cents"))),

    "p18_delta_to_rate" -> ((s, dir) =>
      Stateful.deltaToRate(
        events(s, dir).withColumn("cents", centsE),
        Seq("user_id"), "ts", "cents", tieBreak = Seq("event_id"))
        .select(col("event_id"), col("user_id"),
          floor(col("rate")).cast("bigint").as("rate_floor"))),

    "p19_interval_last" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id"), col("hour"))
        .orderBy(col("ts").desc, col("event_id").desc)
      events(s, dir).withColumn("hour", date_trunc("hour", col("ts")))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("user_id"), col("hour").as("window_start"),
          centsE.as("last_cents"))
    }),

    "p20_aggregate_labels" -> ((s, dir) =>
      Stateful.aggregateLabels(
        events(s, dir).withColumn("cents", centsE),
        Seq("event_type"), "cents", "sum")
        .withColumnRenamed("sum_value", "sum_cents")),

    // -- processor analogs: redaction, attr-hash, sampler, transform, servicegraph --
    "p21_redaction" -> ((s, dir) =>
      // redaction processor: mask digit runs in user-visible text
      // (processor/redactionprocessor/processor.go:83-144)
      t(s, dir).filter(col("role") === "user")
        .select(col("conv_id"), col("turn_idx"),
          regexp_replace(col("text"), "[0-9]", "#").as("redacted"))),

    "p22_attr_hash" -> ((s, dir) =>
      // attributes processor HASH action (attraction.go SHA-256)
      t(s, dir).filter(col("tool") =!= "")
        .select(col("conv_id"), col("turn_idx"),
          sha2(col("tool").cast("binary"), 256).as("tool_hash"))),

    "p23_sampler_consistent" -> ((s, dir) =>
      // probabilistic sampler: deterministic keyed verdict
      // (probabilisticsamplerprocessor/logsprocessor.go:61-82) — same key
      // always samples the same way; 25% target
      events(s, dir)
        .filter(graft.functions.ConsistentHash
          .knuthBucket(col("event_id"), 1000) < 250)
        .groupBy("event_type").agg(count(lit(1)).as("n"))),

    "p24_transform_set_where" -> ((s, dir) => {
      // transform processor: set(attr, v) where cond ≙ conditional column
      // (transformprocessor internal/common/logs.go:34-56)
      val parsed = parsedT(s, dir)
      parsed.select(col("conv_id"), col("turn_idx"),
        when(col("parsed").getItem("level") === "ERROR", upper(col("role")))
          .otherwise(col("role")).as("role_marked"))
    }),

    "p25_groupbyattrs" -> ((s, dir) =>
      // groupbyattrs processor: regroup records under new key envelope
      t(s, dir).groupBy("role", "tool")
        .agg(countDistinct("conv_id").as("n_convs"), count(lit(1)).as("n_turns"))),

    "p26_servicegraph_edges" -> ((s, dir) => {
      // servicegraph connector: correlate request/response pairs → edges
      // (connector/servicegraphconnector/connector.go:221-330); here:
      // tool-call turn joined to the NEXT turn of the same conversation
      val tr = t(s, dir)
      val a = tr.filter(col("tool") =!= "")
        .select(col("conv_id"), col("turn_idx"), col("tool"))
      val b = tr.select(col("conv_id"), (col("turn_idx") - 1).as("turn_idx"),
        col("role").as("next_role"))
      a.join(b, Seq("conv_id", "turn_idx"))
        .groupBy("tool", "next_role").agg(count(lit(1)).as("n_edges"))
    }),

    "p27_field_ops" -> ((s, dir) =>
      // stanza field transformers in one pass: add / copy / move(rename) /
      // remove / retain / unquote (transformer/{add,copy,move,remove,
      // retain,unquote}) — all projections
      t(s, dir)
        .withColumn("env", lit("prod"))                       // add (static)
        .withColumn("role_copy", col("role"))                 // copy
        .withColumnRenamed("tool", "tool_name")               // move
        .drop("ts")                                           // remove
        .withColumn("quoted", concat(lit("\""), col("role"), lit("\"")))
        .withColumn("unquoted",                               // unquote
          regexp_replace(col("quoted"), "^\"|\"$", ""))
        .select("conv_id", "turn_idx", "env", "role_copy", "tool_name", "unquoted")), // retain

    "p28_spanmetrics_hist" -> ((s, dir) => {
      // spanmetrics connector: RED metrics — call counts + duration
      // histograms by dimension (connector/spanmetricsconnector/
      // connector.go:328-406); linear buckets ≙ explicit_buckets,
      // log2 buckets ≙ exponential histogram scale
      val d = parsedT(s, dir).filter(col("pattern") === "tool_call")
        .withColumn("dur_ms", col("parsed").getItem("dur_ms").cast("bigint"))
        .filter(col("dur_ms") > 0)
      // exp bucket = floor(log2(dur)) computed integer-exactly as
      // bit-length−1 (no float-ulp disagreement across engines)
      d.groupBy(col("tool"),
          floor(col("dur_ms") / 2000).cast("bigint").as("lin_bucket"),
          (length(bin(col("dur_ms"))) - 1).cast("bigint").as("exp_bucket"))
        .agg(count(lit(1)).as("calls"), sum("dur_ms").as("sum_dur_ms"))
    }),

    "p29_metrics_generation" -> ((s, dir) => {
      // metricsgeneration processor: derived metric = f(m1, m2)
      // (processor/metricsgenerationprocessor/processor.go:42-78)
      val base = parsedT(s, dir).filter(col("pattern") === "tool_call")
        .withColumn("dur_ms", col("parsed").getItem("dur_ms").cast("bigint"))
      val m1 = base.groupBy("tool").agg(sum("dur_ms").as("total_dur"))
      val m2 = base.groupBy("tool").agg(count(lit(1)).as("calls"))
      m1.join(m2, "tool")
        .select(col("tool"), col("total_dur"), col("calls"),
          floor(col("total_dur") / col("calls")).cast("bigint").as("mean_dur_floor"))
    }),

    "p30_tail_sampling" -> ((s, dir) => {
      // tail sampling processor: buffer whole trace, apply policy, keep or
      // drop the ENTIRE trace (processor/tailsamplingprocessor): policy =
      // "conversation contains an ERROR turn", via the policy engine's
      // whole-trace release (left_semi — no distinct stage, unlike the
      // filter+distinct+inner-join composition this replaces)
      graft.agg.TailSampling.sample(parsedT(s, dir), graft.agg.TailSampling.errorPolicy)
        .groupBy("conv_id").agg(count(lit(1)).as("n_turns"))
    }),

    "p31_exp_histogram" -> ((s, dir) => {
      // spanmetrics exponential histogram via the custom typed Aggregator
      // (one buffer per group, merged associatively — no explode+groupBy)
      val d = parsedT(s, dir).filter(col("pattern") === "tool_call")
        .select(col("tool"), col("parsed").getItem("dur_ms").cast("bigint").as("dur_ms"))
      d.groupBy("tool").agg(graft.agg.ExpHistogram.of(col("dur_ms")).as("h"))
        .select(col("tool"), posexplode(col("h.bucket_counts")).as(Seq("bucket", "cnt")))
        .filter(col("cnt") > 0)
    }),

    "p32_jsonarray_assign_keys" -> ((s, dir) =>
      // jsonarray parser + assign_keys transformer over a constructed
      // JSON-array body
      events(s, dir).select(
        col("event_id"),
        graft.parse.Parsers.parseJsonArrayWithHeader(
          concat(lit("[\""), col("event_type"), lit("\", \""),
            col("user_id").cast("string"), lit("\"]")),
          Seq("etype", "uid")).as("m"))
        .select(col("event_id"),
          element_at(col("m"), "etype").as("etype"),
          element_at(col("m"), "uid").cast("bigint").as("uid"))),

    // -- classical relational (joins/aggregation; enrich-at-scale analog) --
    "q01_lineitem_agg" -> ((s, dir) =>
      s.read.parquet(s"$dir/lineitem.parquet")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("n"),
          sum(col("l_quantity").cast("bigint")).as("sum_qty"),
          sum(round(col("l_extendedprice") * 100).cast("bigint")).as("sum_price_cents"))),

    "q02_orders_customer_join" -> ((s, dir) => {
      val orders = s.read.parquet(s"$dir/orders.parquet")
      val customer = s.read.parquet(s"$dir/customer.parquet")
      orders.join(broadcast(customer), col("o_custkey") === col("c_custkey"))
        .groupBy("c_mktsegment", "o_orderstatus")
        .agg(count(lit(1)).as("n"),
          sum(round(col("o_totalprice") * 100).cast("bigint")).as("sum_cents"))
    }),

    "q03_topk_order_limit" -> ((s, dir) =>
      // sort + limit (top-k): TakeOrderedAndProject — per-partition top-k,
      // driver merges k×partitions rows, never a full sort at scale
      s.read.parquet(s"$dir/orders.parquet")
        .groupBy("o_custkey")
        .agg(sum(round(col("o_totalprice") * 100).cast("bigint")).as("spend_cents"))
        .orderBy(col("spend_cents").desc, col("o_custkey"))
        .limit(10)),

    "q04_set_ops" -> ((s, dir) => {
      // set operators: union / intersect / except (SURVEY §2.9)
      val e = events(s, dir)
      val big = e.filter(col("value") > 100).select("user_id")
      val err = e.filter(col("event_type") === "error").select("user_id")
      def tag(df: DataFrame, op: String) =
        df.agg(count(lit(1)).as("n")).select(lit(op).as("op"), col("n"))
      tag(big.intersect(err), "intersect")
        .unionByName(tag(big.union(err).distinct(), "union"))
        .unionByName(tag(big.except(err), "except"))
    }),

    // -- training-data ops: documents --
    "d01_dedup_exact" -> ((s, dir) =>
      documents(s, dir)
        .groupBy("text")
        .agg(min("doc_id").as("first_doc"), count(lit(1)).as("n"))),

    "d12_dedup_normalized" -> ((s, dir) =>
      // exact dedup over CANONICALIZED text (lowercase, punctuation →
      // space, whitespace collapsed): catches reformatted duplicates
      // raw-byte hashing misses — the standard dedup first pass
      documents(s, dir)
        .groupBy(TextAnalysis.normalizeForDedup(col("text")).as("norm_text"))
        .agg(min("doc_id").as("first_doc"), count(lit(1)).as("n"))),

    "d13_contamination" -> ((s, dir) => {
      // benchmark decontamination: trigram overlap vs a stand-in eval
      // set (every 97th doc). hashed=true is the production path (the
      // join carries 8-byte shingle hashes, never the n-gram strings);
      // the DuckDB oracle reproduces the join over STRINGS, which gives
      // identical aggregates because TextAnalysisSpec proves hashed ≡
      // string exactly (xxhash64 collisions aside: ~1e-13 for this
      // corpus, and a collision could only inflate n_contaminated)
      val docs = documents(s, dir)
      TextAnalysis.contamination(docs, "doc_id", "text",
          docs.filter(col("doc_id") % 97 === 0), "text", n = 3, hashed = true)
        .select(col("doc_id"), col("n_shingles"), col("n_contaminated"),
          floor(col("contamination") * 10000).cast("bigint").as("contamination_e4"))
    }),

    "d26_contamination_neardup" -> ((s, dir) => {
      // NEAR-DUP decontamination: MinHash-LSH between the corpus and
      // the stand-in eval set (every 97th doc) — catches paraphrased
      // leakage d13's exact-trigram check misses. The bench side is
      // banded + broadcast, so the corpus side never shuffles.
      // ORACLE RECALL ASSUMPTION (same as d11): the DuckDB oracle is
      // the brute-force corpus×bench jaccard>=0.85 cross join while
      // this side verifies LSH candidates, so equality additionally
      // asserts 100% LSH recall here — at 64 hashes / 16 bands a true
      // pair at j=0.85 collides in ≥1 band with p ≈ 0.9997, and the
      // corpus's dup pairs sit well above the threshold (established
      // by d07's green oracle on the same parameters). It also assumes
      // no intra-document xxhash64 token collision (the verify runs
      // Jaccard over HASHED shingle sets, the oracle over strings; a
      // collision shrinks one side's set by 1 and can flip a boundary
      // pair) — probability ~|tokens|²/2^65 per doc, same argument as
      // d07/d13's hashed ≡ string contracts.
      val docs = documents(s, dir)
      Dedup.contaminationNearDup(docs, "doc_id", "text",
          docs.filter(col("doc_id") % 97 === 0)
            .select(col("doc_id").as("bench_id"), col("text")),
          "bench_id", "text",
          numHashes = 64, bands = 16, shingleSize = 1, threshold = 0.85)
        .select(col("doc_id"), col("bench_id"),
          floor(col("jaccard") * 10000).cast("bigint").as("jaccard_e4"))
    }),

    "d02_token_count" -> ((s, dir) =>
      documents(s, dir)
        .select(col("doc_id"), size(split(col("text"), " ")).as("n_tokens"))),

    "d03_text_quality" -> ((s, dir) =>
      documents(s, dir).select(
        col("doc_id"),
        length(col("text")).as("n_chars_actual"),
        size(split(col("text"), " ")).as("n_tokens"),
        floor(lit(1000.0) *
          size(filter(split(col("text"), " "), x => x.isin("the", "a"))) /
          size(split(col("text"), " "))).cast("bigint").as("stopword_permille"))),

    "d04_lang_source_counts" -> ((s, dir) =>
      documents(s, dir)
        .groupBy("lang", "source")
        .agg(count(lit(1)).as("n"), sum("n_chars").as("sum_chars"))),

    // -- training-data ops: dedup --
    "d05_jaccard_pairs_brute" -> ((s, dir) =>
      Dedup.nearDupJaccardBrute(documents(s, dir), "doc_id", "text",
        shingleSize = 1, threshold = 0.85)
        .select(col("id_a"), col("id_b"),
          floor(col("jaccard") * 10000).cast("bigint").as("jaccard_e4"))),

    "d06_fingerprint" -> ((s, dir) =>
      documents(s, dir).select(col("doc_id"),
        TextAnalysis.fingerprint(col("text")).as("fp"))),

    "d07_minhash_lsh_neardups" -> ((s, dir) => // rows-only (xxhash64 family)
      Dedup.nearDupMinhashLsh(documents(s, dir), "doc_id", "text",
        numHashes = 64, bands = 16, shingleSize = 1, threshold = 0.85)
        .select(col("id_a"), col("id_b"),
          floor(col("jaccard") * 10000).cast("bigint").as("jaccard_e4"))),

    "d35_source_dup_matrix" -> ((s, dir) => {
      // mixture audit: which sources near-duplicate which — the d07 LSH
      // pair list joined back to doc→source, canonical source order,
      // floor-div integer average; oracle = d07's brute CTE + the joins
      val docs = documents(s, dir)
      Dedup.crossSourceDupMatrix(
        Dedup.nearDupMinhashLsh(docs, "doc_id", "text",
          numHashes = 64, bands = 16, shingleSize = 1, threshold = 0.85),
        docs, "doc_id", "source")
    }),

    "d11_dedup_groups" -> ((s, dir) => {
      // near-dup GROUP formation: connected components over the LSH
      // pair list + canonical survivor and group size — the actionable
      // dedup output (delete all but min id per component).
      // ORACLE RECALL ASSUMPTION: the DuckDB oracle closes over the
      // BRUTE-FORCE jaccard>=0.85 pair set while this side uses LSH
      // candidates, so equality additionally asserts LSH recall = 100%
      // on this corpus (already established pairwise by d07's green
      // oracle on the same parameters). BAND/ROW RECALL PIN (the p67
      // idiom): at 64 hashes / 16 bands / 4 rows per band, a
      // threshold-boundary pair at j=0.85 collides in ≥1 band with
      // p = 1-(1-0.85^4)^16 ≈ 0.9997 (per-pair miss ≈ 3.3e-4 — NOT
      // negligible over thousands of boundary pairs); the pin holds
      // because the synthetic corpus's true dup pairs are
      // near-identical (j ≈ 1, where a band collides with p ≈ 1 and
      // the miss probability is (1-j^4)^16 ≈ 0 to machine precision),
      // so expected corpus-level misses ≈ 0. A corpus with genuine
      // boundary-mass pairs would need the pair-list-fed oracle
      // variant instead. A miss would also fail d07, so an oracle
      // mismatch HERE isolates group formation, not recall.
      Dedup.groupsWithSummary(
        Dedup.nearDupMinhashLsh(documents(s, dir), "doc_id", "text",
          numHashes = 64, bands = 16, shingleSize = 1, threshold = 0.85),
        idName = "doc_id")
    }),

    "d27_dedup_groups_star" -> ((s, dir) => {
      // Same component formation as d11 but via alternating
      // large-star/small-star contraction (O(log² n) rounds on ANY
      // graph shape vs propagation's diameter rounds) — the scale path
      // for chain-shaped dup graphs. Same oracle as d11: the recursive
      // transitive closure over the brute-force pair set; equality here
      // asserts star ≡ propagation ≡ the true closure on this corpus.
      Dedup.groupsWithSummary(
        Dedup.nearDupMinhashLsh(documents(s, dir), "doc_id", "text",
          numHashes = 64, bands = 16, shingleSize = 1, threshold = 0.85),
        idName = "doc_id", star = true)
    }),

    "d08_simhash_signatures" -> ((s, dir) => { // golden-vector oracle
      // SimHash64 golden vectors: a fixed corpus whose signatures are
      // pinned in the oracle as literals (the HOF differential in
      // DedupSpec proves the expression; this pins cross-run stability)
      import s.implicits._
      GoldenSimhashCorpus.toDF("doc_id", "text")
        .select(col("doc_id"), Dedup.simhash64(col("text")).as("simhash"))
    }),

    "d09_quality_metrics" -> ((s, dir) =>
      documents(s, dir)
        .select(col("doc_id"), TextAnalysis.qualityMetrics(col("text")).as("q"))
        .select(col("doc_id"), col("q.n_tokens").as("n_tokens"),
          col("q.punct_ratio").as("punct_ratio"),
          col("q.stopword_ratio").as("stopword_ratio"),
          col("q.quality_score").as("quality_score"))),

    "d10_langid" -> ((s, dir) =>
      documents(s, dir).select(col("doc_id"),
        TextAnalysis.langId(col("text")).as("lang_pred"))),

    "d14_dup_spans" -> ((s, dir) =>
      // duplicated-span detection (Lee et al. 2022 substring dedup,
      // token n-gram rendering): maximal spans of corpus-duplicated
      // trigram windows per doc. hashed=true is the production path
      // (the global frequency shuffle and join-back carry 8-byte
      // window hashes, never n-gram strings); the DuckDB oracle
      // reproduces the pipeline over STRINGS — DedupSpec proves
      // hashed ≡ string exactly on this corpus (an xxhash64 collision
      // could only widen a span; ~1e-13 odds here)
      Dedup.duplicatedSpans(documents(s, dir), "doc_id", "text",
        n = 3, minCount = 2, hashed = true)),

    "d17_span_removal" -> ((s, dir) =>
      // the REWRITE step of substring dedup: within-doc repeated
      // trigram runs cut, first occurrence kept — exact string
      // semantics (the expression compares window substrings, not
      // hashes), so the SQL oracle reproduces it with no caveat
      documents(s, dir).select(col("doc_id"),
        Dedup.removeRepeatedSpans(col("text"), 3).as("clean_text"))
        .withColumn("n_kept", size(split(col("clean_text"), " ")))),

    "d16_curation" -> ((s, dir) => {
      // the end-to-end curation verdict: exact-dup survivorship →
      // contamination → repetition → quality, first failing check wins.
      // Benchmark stand-in = every 97th doc (the d13 convention); all
      // branch shuffles carry 8-byte keys (hashed=true), the oracle
      // composes the same CTEs over strings
      val docs = documents(s, dir)
      Curation.decide(docs, "doc_id", "text",
        docs.filter(col("doc_id") % 97 === 0), "text")
    }),

    "d15_repetition" -> ((s, dir) =>
      // Gopher-style within-doc repetition quality filter: duplicate
      // bigram/trigram fractions (narrow map, no shuffle) + top-bigram
      // share (per-doc mode over 8-byte window hashes); `repetitive`
      // thresholds the floored e4 values so the cut is bit-stable.
      // Oracle runs the string rendering; TextAnalysisSpec proves
      // hashed ≡ string on this corpus
      TextAnalysis.repetitionMetrics(documents(s, dir), "doc_id", "text",
        hashed = true)),

    "d18_sequence_packing" -> ((s, dir) =>
      // pack-then-split pretraining manifest: global token offsets via
      // the two-phase distributed prefix sum (range partitions → P
      // collected totals → per-partition window cumsum + broadcast
      // offset); oracle is the single-window global cumsum, so equality
      // proves two-phase ≡ global
      Curation.packSequences(documents(s, dir), "doc_id", "text",
        ctxLen = 512)),

    "d19_mixing_sample" -> ((s, dir) =>
      // dataset-mixing sampler: per-source keep rates as a literal map,
      // deterministic Knuth-hash verdict (p23 idiom) — pure codegen
      // filter, zero shuffle
      Curation.mixingSample(documents(s, dir), "doc_id", "source",
        ratesE4 = Map("src0" -> 2500, "src1" -> 5000, "src2" -> 7500),
        defaultE4 = 1000)
        .select(col("doc_id"), col("source"))),

    "d25_unigram_quality" -> ((s, dir) =>
      // corpus-level unigram-LM quality (perplexity proxy): global
      // token counts (one vocab-sized shuffle) broadcast back over the
      // corpus; hashed columns are exact integers + one floored ln
      TextAnalysis.unigramFreqScore(documents(s, dir), "doc_id", "text")),

    "d29_tfidf_topterms" -> ((s, dir) =>
      // per-doc top-3 TF-IDF terms: corpus df table broadcast back over
      // the (doc, tok) tf frame; integer score ranking, per-doc window
      TextAnalysis.tfIdfTopTerms(documents(s, dir), "doc_id", "text", k = 3)
        .select(col("doc_id"), col("rk"), col("tok"), col("tf"),
          col("df"), col("score_e6"))),

    "d30_dsir_weights" -> ((s, dir) => {
      // DSIR importance weights vs the stand-in target set (every 97th
      // doc — the d13/d26 eval-set convention): per-token floored
      // log-ratios integer-summed per doc, so the oracle reproduces the
      // weight bitwise (one ln pair per VOCAB entry, d25 hazard class)
      val docs = documents(s, dir)
      TextAnalysis.dsirWeights(docs, "doc_id", "text",
        docs.filter(col("doc_id") % 97 === 0), "text")
    }),

    "d33_quality_logit" -> ((s, dir) =>
      // model-scored filtering: integer-dot-product logistic inference
      // (permille features × micro-weights — zero float, so the verdict
      // replays bitwise in SQL); weights are the offline-training seam
      TextAnalysis.qualityLogit(documents(s, dir), "text")
        .select(col("doc_id"), col("logit_micro"), col("keep"))),

    "d34_quality_survivor" -> ((s, dir) =>
      // among reformatted duplicates keep the BEST-QUALITY copy (argmax
      // integer logit, ties → smaller id) — the curation refinement of
      // d12's min-id survivor; hashed shuffle key, string oracle
      Dedup.exactDedupBestSurvivor(
        TextAnalysis.qualityLogit(documents(s, dir), "text"),
        "doc_id", "text", "logit_micro")),

    "d31_bm25_topk" -> ((s, dir) =>
      // BM25 top-10 for a fixed 4-term query over the corpus vocabulary:
      // postings filter to query tokens BEFORE the shuffle, per-term
      // contributions floor to integers before the per-doc sum
      TextAnalysis.bm25TopK(documents(s, dir), "doc_id", "text",
        Seq("spark", "merge", "hash", "window"), k = 10)),

    "d32_incremental_dedup" -> ((s, dir) => {
      // ingest-time dedup of a new shard (every 25th doc) against the
      // kept index (the rest): batch side banded + broadcast, the index
      // never shuffles; best match integer-decided (j_e4 desc, id asc).
      // Oracle = brute batch×index jaccard (the d26 recall contract).
      val docs = documents(s, dir)
      Dedup.incrementalDedup(
        docs.filter(col("doc_id") % 25 =!= 0), "doc_id",
        docs.filter(col("doc_id") % 25 === 0)
          .select(col("doc_id").as("new_id"), col("text")), "new_id",
        "text", "text", shingleSize = 1, threshold = 0.85)
    }),

    "d24_pii_scrub" -> ((s, dir) => {
      // the synthetic corpus carries no PII, so the query PLANTS a
      // deterministic specimen per doc_id class (email / dotted-quad
      // pair / phone pair / none) and scrubs it; the oracle plants the
      // identical text. Masking order (email→ip→phone) is part of the
      // operator contract — see TextAnalysis.piiScrub.
      val planted = concat(col("text"),
        when(col("doc_id") % 4 === 0,
          lit(" reach me at user.name+tag@example-host.co for details"))
        .when(col("doc_id") % 4 === 1,
          concat(lit(" src=10.0."), (col("doc_id") % 256).cast("string"),
            lit("."), ((col("doc_id") * 7) % 256).cast("string"),
            lit(" dst=192.168.1.1")))
        .when(col("doc_id") % 4 === 2,
          lit(" call 555-867-5309 or 555.123.4567 today"))
        .otherwise(lit("")))
      TextAnalysis.piiScrub(
        documents(s, dir).withColumn("text", planted), "doc_id", "text")
    }),

    "d23_holdout_split" -> ((s, dir) =>
      // stable train/val labels: pure function of doc_id (5% holdout) —
      // a doc never migrates between splits as the corpus grows
      Curation.holdoutSplit(documents(s, dir), "doc_id", valE4 = 500)
        .select(col("doc_id"), col("split"))),

    "d22_pack_windows" -> ((s, dir) =>
      // the reader plan for d18's manifest: (window, doc, token range)
      // rows; oracle composes the d18 CTE with unnest(generate_series)
      Curation.packWindows(
        Curation.packSequences(documents(s, dir), "doc_id", "text",
          ctxLen = 512),
        "doc_id", ctxLen = 512)),

    "d21_shuffle_order" -> ((s, dir) =>
      // deterministic corpus shuffle for training order: stable rank
      // under sort-by-(knuth(id), id), computed with the same two-phase
      // prefix sum as d18; oracle is the global row_number rendering.
      // shuffleOrder carries the input columns through (so the
      // packSequences composition works); the query pins the 2-col shape
      Curation.shuffleOrder(documents(s, dir), "doc_id")
        .select(col("doc_id"), col("shuffle_rank"))),

    "d20_source_cap" -> ((s, dir) =>
      // per-source cap (keep the 10 longest docs per source, ties →
      // smaller doc_id) via histogram selection — no per-source sort of
      // corpus rows; the DuckDB oracle is the plain windowed rendering,
      // so equality proves selection ≡ sort-rank including boundary ties
      Curation.topNPerGroup(
        documents(s, dir).select(col("source"), col("doc_id"),
          size(split(col("text"), " ")).as("n_tokens")),
        "source", "n_tokens", "doc_id", n = 10)
        .select(col("source"), col("doc_id"), col("n_tokens"))),

    "d28_token_budget" -> ((s, dir) => {
      // mixture-by-token-budget: per source, best-quality docs first
      // until 600 tokens are spent (prefix cut: the straddling doc is
      // kept). Histogram selection — the corpus never sorts by source;
      // the DuckDB oracle is the plain windowed-cumsum rendering, so
      // equality proves the two-phase selection ≡ the global prefix
      // cut, boundary ties included.
      val scored = documents(s, dir).select(col("source"), col("doc_id"),
        size(split(col("text"), " ")).cast("bigint").as("n_tokens"),
        floor(TextAnalysis.qualityMetrics(col("text"))
          .getField("quality_score") * 10000).cast("bigint").as("score_e4"))
      Curation.tokenBudgetPerGroup(scored, "source", "score_e4", "doc_id",
          "n_tokens", budget = 600L)
        .select(col("source"), col("doc_id"), col("n_tokens"), col("score_e4"))
    }),

    "p33_parse_uri" -> ((s, dir) => {
      val url = concat(lit("https://svc-"), col("user_id").cast("string"),
        lit(".example.com/api/v"), (col("event_id") % 3).cast("string"),
        lit("?k="), get_json_object(col("props"), "$.k"))
      events(s, dir).select(col("event_id"),
        ParseStage.parseUriPart(url, "HOST").as("host"),
        ParseStage.parseUriPart(url, "PATH").as("path"),
        parse_url(url, lit("QUERY"), lit("k")).cast("bigint").as("k"))
    }),

    "p34_parse_csv" -> ((s, dir) => {
      // csv parser (parser/csv/parser.go:29-107) over a constructed
      // delimited body — from_csv with a typed schema
      val line = concat_ws(",", col("event_type"), col("user_id").cast("string"),
        round(col("value") * 100).cast("bigint").cast("string"))
      events(s, dir).select(col("event_id"),
          ParseStage.parseCsv(line, "etype string, uid bigint, cents bigint").as("c"))
        .select(col("event_id"), col("c.etype").as("etype"),
          col("c.uid").as("uid"), col("c.cents").as("cents"))
    }),

    "p35_syslog_rfc3164" -> ((s, dir) => {
      // syslog parser, RFC3164 branch (parser/syslog/parser.go:132)
      val line = concat(lit("<"), (col("event_id") % 192).cast("string"),
        lit(">Oct 11 22:14:15 h"), col("user_id").cast("string"),
        lit(" app["), (col("event_id") % 97).cast("string"), lit("]: "),
        col("event_type"), lit(" user="), col("user_id").cast("string"))
      events(s, dir).select(col("event_id"),
          graft.parse.Parsers.parseSyslog3164(line).as("p"))
        .select(col("event_id"), col("p.priority").as("priority"),
          col("p.facility").as("facility"), col("p.severity").as("severity"),
          col("p.host").as("host"), col("p.tag").as("tag"),
          col("p.pid").as("pid"), col("p.msg").as("msg"))
    }),

    "p36_syslog_rfc5424" -> ((s, dir) => {
      // syslog parser, RFC5424 branch (parser/syslog/parser.go:152)
      val line = concat(lit("<"), (col("event_id") % 192).cast("string"),
        lit(">1 2026-01-02T03:04:05Z h"), col("user_id").cast("string"),
        lit(" app "), (col("event_id") % 97).cast("string"),
        lit(" m"), (col("event_id") % 13).cast("string"),
        lit(" - "), col("event_type"))
      events(s, dir).select(col("event_id"),
          graft.parse.Parsers.parseSyslog5424(line).as("p"))
        .select(col("event_id"), col("p.priority").as("priority"),
          col("p.facility").as("facility"), col("p.severity").as("severity"),
          col("p.version").as("version"), col("p.host").as("host"),
          col("p.app").as("app"), col("p.pid").as("pid"),
          col("p.msgid").as("msgid"), col("p.sd").as("sd"),
          col("p.msg").as("msg"))
    }),

    "p37_trace_scope" -> ((s, dir) => {
      // trace parser (helper/trace.go hex decode → fixed-width binary) +
      // scope parser (parser/scope/parser.go:20); hex round-trip and byte
      // width checked against the oracle's independent decode
      val h = md5(col("event_id").cast("string"))
      events(s, dir).select(col("event_id"),
        hex(ParseStage.parseTraceId(h)).as("trace_hex"),
        length(ParseStage.parseTraceId(h)).cast("int").as("trace_bytes"),
        hex(graft.functions.Ottl.spanIdFromHex(substring(h, 1, 16))).as("span_hex"),
        graft.parse.Parsers.parseScope(col("event_type")).as("scope"))
    }),

    "p38_multiline_recombine" -> ((s, dir) => {
      // split/multiline recombine (pkg/stanza/split/split.go:59
      // LineStartSplitFunc + recombine): turns are the line stream, any
      // pattern-bank head token starts a new entry
      val lines = t(s, dir).select(col("conv_id").as("source"),
        col("turn_idx").as("line_no"), col("text").as("line"))
      graft.parse.Parsers.recombineMultiline(lines,
        "^(CALL|TRACE|DEBUG|INFO|WARN|ERROR|FATAL) ")
    }),

    "p39_parse_xml" -> ((s, dir) => {
      // OTTL ParseXML converter (ottlfuncs/func_parse_xml.go) — one
      // from_xml pass per row extracts element text + attribute together
      val x = concat(lit("<e id=\""), col("event_id").cast("string"),
        lit("\"><t>"), col("event_type"), lit("</t></e>"))
      events(s, dir)
        .select(col("event_id"),
          graft.functions.Ottl.parseXml(x, "t string, _id bigint").as("p"))
        .select(col("event_id"), col("p.t").as("t"), col("p._id").as("id"))
    }),

    "p40_flatten" -> ((s, dir) =>
      // flatten transformer (transformer/flatten/transformer.go:27-45):
      // promote a parsed nested struct one level up = select("s.*")
      events(s, dir)
        .select(col("event_id"), from_json(col("props"), lit("k bigint"),
          new java.util.HashMap[String, String]()).as("s"))
        .select(col("event_id"), col("s.*"))),

    // -- expression language (OTTL/EXPR strings → Column; §2.8) --
    "p41_route_string_config" -> ((s, dir) =>
      // identical routing to p08 but the predicates are parsed from OTTL
      // condition STRINGS (the `where` clauses of flagship.yaml →
      // ExprLang) — the config-text path of pkg/ottl/parser.go statement
      // compilation
      RouteStage.tagged(Pipeline.parseEnrich(s, t(s, dir)), Pipeline.routeTableFromStrings)
        .groupBy("route").agg(count(lit(1)).as("n"))),

    "p42_expr_template" -> ((s, dir) =>
      // stanza EXPR(...) string template (helper/expr_string.go:29-88)
      t(s, dir).select(col("conv_id"), col("turn_idx"),
        graft.expr.ExprLang.template(
          "turn-EXPR(turn_idx) role=EXPR(ToUpperCase(role))",
          Pipeline.exprResolver).as("tag"))),

    "p43_count_string_conditions" -> ((s, dir) =>
      // count connector driven by string conditions, OR-ed like the
      // reference's ConditionSequence (parser.go:332-340)
      t(s, dir).filter(graft.expr.ExprLang.anyOf(
          Seq("""IsMatch(body, "^CALL ")""", """role == "user""""),
          Pipeline.exprResolver))
        .groupBy("role").agg(count(lit(1)).as("n"))),

    // -- severity HTTP presets / strptime layouts / drop_ratio --
    "p53_schema_translate" -> ((s, dir) => {
      // schema processor version translation (schemaprocessor/
      // transformer.go): upgrade 1.0.0→1.2.0 composes both revisions'
      // renames; the downgrade leg inverts them (round-trip = identity,
      // asserted in ProcessorOpsSpec)
      import graft.enrich.SchemaTransform._
      val family = Family("transcripts-demo", Seq(
        Revision("1.1.0", Map("event_type" -> "type_name")),
        Revision("1.2.0", Map("user_id" -> "actor_id", "type_name" -> "kind"))))
      translate(events(s, dir).select("event_id", "event_type", "user_id"),
        family, "1.0.0", "1.2.0")
    }),

    "p52_ottl_statements" -> ((s, dir) =>
      // transform processor driven ENTIRELY by config-text OTTL
      // statements (editor + where; parser.go:120-138) — sequential
      // statement semantics: statement 2 sees statement 1's writes
      graft.expr.ExprLang.applyStatements(parsedT(s, dir), Seq(
          """set(role, ToUpperCase(role)) where attributes["level"] == "ERROR"""",
          """replace_pattern(body, "[0-9]", "#") where role == "user""""),
        Pipeline.exprResolver,
        graft.expr.ExprLang.transcriptTargets(Pipeline.parsedFields))
        .select("conv_id", "turn_idx", "role", "text")),

    "p44_severity_http_preset" -> ((s, dir) =>
      // severity parser with 2xx..5xx range presets
      // (helper/severity_builder.go:94-104,205-214)
      events(s, dir).select(col("event_id"),
        ParseStage.parseSeverityMapped(
          (lit(100) + pmod(col("event_id"), lit(500))).cast("string"),
          Seq("2xx" -> 9, "3xx" -> 13, "4xx" -> 17, "5xx" -> 21)).as("severity_num"))),

    "p45_strptime_time_parse" -> ((s, dir) => {
      // time parser layout_type dispatch (helper/time.go:19-83):
      // strptime via the ctimefmt table, gotime via reference-time
      // tokens, epoch seconds — all three against one oracle
      val sstr = concat(lit("2026-01-"),
        lpad((pmod(col("event_id"), lit(28)) + 1).cast("string"), 2, "0"),
        lit("T03:04:05Z"))
      events(s, dir).select(col("event_id"),
        ParseStage.parseTime(sstr, "strptime", "%Y-%m-%dT%H:%M:%SZ").as("t_strp"),
        ParseStage.parseTime(sstr, "gotime", "2006-01-02T15:04:05Z").as("t_go"),
        ParseStage.parseTime(pmod(col("event_id"), lit(100000)), "epoch", "s").as("t_epoch"))
    }),

    "p46_filter_drop_ratio" -> ((s, dir) =>
      // filter transformer drop_ratio (transformer/filter/transformer.go:
      // 26-56) as a consistent keyed sampler
      ParseStage.dropRatioFilter(events(s, dir), col("event_type") === "error",
          0.25, col("event_id"))
        .select("event_id", "event_type")),

    // -- metricstransform operation set (config.go:59-124) --
    "p47_mt_scale_label_ops" -> ((s, dir) => {
      import graft.agg.MetricsTransform._
      val metric = events(s, dir)
        .select(col("event_id"), col("event_type"), centsE.as("v"))
      val out = deleteLabelValue(
        updateLabel(
          addLabel(scaleValue(metric, "v", 3.0), "env", "prod"),
          "event_type", newLabel = Some("etype"),
          valueActions = Seq("error" -> "failure")),
        "etype", "view")
      out.select("event_id", "etype", "env", "v")
    }),

    "p48_mt_aggregate_label_values" -> ((s, dir) => {
      import graft.agg.MetricsTransform._
      val metric = events(s, dir).select(col("event_type"), centsE.as("v"))
      aggregateLabelValues(metric, "event_type", Seq("error", "purchase"),
        "merged", Seq("event_type"), "v", "sum")
        .withColumn("v", col("v").cast("bigint"))
    }),

    "p49_redaction_audit" -> ((s, dir) => {
      // redaction with allowlist + blocked values + ignore list + debug
      // audit attrs (processor/redactionprocessor/processor.go:83-144)
      import graft.ops.Redaction
      val attrs = map(
        lit("user"), col("user_id").cast("string"),
        lit("card"), concat(lit("4111-"), lpad(pmod(col("event_id"), lit(10000)).cast("string"), 4, "0")),
        lit("note"), col("event_type"),
        lit("trace"), md5(col("event_id").cast("string")),
        lit("drop_me"), lit("sensitive"))
      val cfg = Redaction.Config(allowAllKeys = false,
        allowedKeys = Seq("user", "card", "note"),
        ignoredKeys = Seq("trace"),
        blockedValues = Seq("\\d{4}-\\d{4}"),
        summary = "debug")
      events(s, dir)
        .select(col("event_id"), Redaction.redactAttrs(attrs, cfg).as("r"))
        .select(col("event_id"),
          col("r").getItem("user").as("user"),
          col("r").getItem("card").as("card"),
          col("r").getItem("note").as("note"),
          col("r").getItem("trace").as("trace"),
          col("r").getItem("drop_me").as("dropped"),
          col("r").getItem("redaction.redacted.keys").as("redacted_keys"),
          col("r").getItem("redaction.redacted.count").as("redacted_count"),
          col("r").getItem("redaction.masked.keys").as("masked_keys"),
          col("r").getItem("redaction.masked.count").as("masked_count"),
          col("r").getItem("redaction.ignored.count").as("ignored_count"))
    }),

    // -- training-data ops: similarity search --
    "e01_ann_bruteforce" -> ((s, dir) => {
      val q = embeddingQuery(s, dir)
      Similarity.bruteForceTopK(
        s.read.parquet(s"$dir/embeddings.parquet"), "vec_id", "embedding", q, 10)
        .select(col("vec_id"), floor(col("cosine") * 10000).cast("bigint").as("cos_e4"))
    }),

    "e02_ann_lsh" -> ((s, dir) => {
      // full oracle: the seeded hyperplanes are plan-time constants,
      // rendered as literal DOUBLE[] into the SQL so DuckDB reproduces
      // bucket assignment + hamming-1 multi-probe bit-exactly
      val q = embeddingQuery(s, dir)
      Similarity.lshTopK(
        s.read.parquet(s"$dir/embeddings.parquet"), "vec_id", "embedding", q,
        k = 10, signBits = 8)
        .select(col("vec_id"), floor(col("cosine") * 10000).cast("bigint").as("cos_e4"))
    }),

    "e03_ann_ivf" -> ((s, dir) => {
      // full oracle: centroid pick is DETERMINISTIC (ordered by vec_id —
      // round 2's unordered limit(16) was why this was rows-only), so the
      // oracle recomputes cells + probe set from the same data
      val emb = s.read.parquet(s"$dir/embeddings.parquet")
      val centroids = ivfCentroids(emb)
      val q = embeddingQuery(s, dir)
      Similarity.ivfTopK(
        Similarity.ivfAssign(emb, "embedding", centroids),
        "vec_id", "embedding", q, centroids, k = 10, nProbe = 4)
        .select(col("vec_id"), floor(col("cosine") * 10000).cast("bigint").as("cos_e4"))
    }),

    "e10_ann_pq" -> ((s, dir) => {
      // product-quantization ANN — the third standard index family
      // (brute e01, LSH e02, IVF e03, PQ here): 64-dim float vectors
      // compress to 8 one-byte codes; search is 8 integer table lookups
      // per row, no float math. Full oracle: the codebook seeds are a
      // deterministic data pick (vec_id % 7 = 1, first 16 by vec_id)
      // and EVERY distance is floor(1e6·L2²) integer-quantized at the
      // subspace level, so the SQL oracle reproduces codes, distance
      // tables, and the final integer ranking bitwise — no
      // float-sum-order hazard anywhere (the e02/e03 parity lesson
      // applied to PQ, whose real implementations quantize the lookup
      // tables anyway).
      val emb = s.read.parquet(s"$dir/embeddings.parquet")
      val codebook = Similarity.pqCodebook(pqSeeds(emb), m = 8)
      Similarity.pqTopK(emb, "vec_id", "embedding",
        embeddingQuery(s, dir), codebook, k = 10)
    }),

    "e12_ann_ivfpq" -> ((s, dir) => {
      // IVF-PQ composed (FAISS IVFADC): integer-L2 coarse cells (e03's
      // centroid pick), probe the 4 nearest, PQ ADT ranking inside
      // (e10's codebook). Full oracle: every distance in BOTH layers is
      // the same per-subspace floor(1e6·L2²) integer quantization, so
      // the SQL reproduces assignment, probe set, codes, and ranking
      // bitwise.
      val emb = s.read.parquet(s"$dir/embeddings.parquet")
      Similarity.ivfPqTopK(emb, "vec_id", "embedding",
        embeddingQuery(s, dir), ivfCentroids(emb),
        Similarity.pqCodebook(pqSeeds(emb), m = 8), k = 10, nProbe = 4)
    }),

    "e16_ann_sq" -> ((s, dir) => {
      // scalar-quantization (SQ8) ANN — the fourth standard index family
      // (LSH e02, IVF e03, PQ e10): per-dim 8-bit codes from corpus
      // min/max, distance = exact integer Σ (qcode−code)². Full oracle:
      // the SQL recomputes mn/mx from the same parquet (min/max are
      // exact selections), replays the one fixed IEEE quantize
      // expression per dim, and the distance sum is integer — bitwise.
      val emb = s.read.parquet(s"$dir/embeddings.parquet")
      val (mn, mx) = Similarity.sqMinMax(emb, "embedding")
      Similarity.sqTopK(emb, "vec_id", "embedding",
        embeddingQuery(s, dir), mn, mx, k = 10)
    }),

    "e17_ann_recall_sq" -> ((s, dir) => {
      // recall@10 of the SQ8 path vs the SAME exact-L2 ground truth as
      // e11 — the fourth point on the recall/scan trade curve, isolating
      // pure 8-bit quantization loss (no codebook, no cells)
      val emb = s.read.parquet(s"$dir/embeddings.parquet")
      val (mn, mx) = Similarity.sqMinMax(emb, "embedding")
      val q = embeddingQuery(s, dir)
      Similarity.recallAtK(
        Similarity.sqTopK(emb, "vec_id", "embedding", q, mn, mx, k = 10),
        Similarity.l2TopK(emb, "vec_id", "embedding", q, m = 8, k = 10),
        "vec_id", k = 10)
    }),

    "e13_semdedup" -> ((s, dir) => {
      // SemDeDup: IVF cells (e03's deterministic centroids) bound the
      // pairwise work; within a cell, pairs with cos_e4 > 3999 (the e04
      // corpus-calibrated threshold, strict integer cut) delete the
      // member CLOSER to the centroid (larger cent_e6; tie → larger id).
      // Full oracle: cells, centroid sims, pair sims, and the delete
      // pick are all integer-decided from data-derived centroids.
      val emb = s.read.parquet(s"$dir/embeddings.parquet")
      Dedup.semDedup(emb, "vec_id", "embedding", ivfCentroids(emb),
        thresholdE4 = 3999L)
    }),

    "e15_ivf_cell_stats" -> ((s, dir) => {
      // quantizer-balance audit: per-cell occupancy + integer centroid-
      // similarity stats (floored e6; avg = floor integer division)
      val emb = s.read.parquet(s"$dir/embeddings.parquet")
      Similarity.ivfCellStats(emb, "vec_id", "embedding", ivfCentroids(emb))
    }),

    "e14_rrf_fusion" -> ((s, dir) => {
      // hybrid-retrieval rank fusion: fuse the exact (e01) and LSH (e02)
      // top-10 lists with reciprocal-rank fusion — contributions are
      // pure integer div (1000000 div (60+rank)), zero float hazard
      val emb = s.read.parquet(s"$dir/embeddings.parquet")
      val q = embeddingQuery(s, dir)
      val brute = Similarity.bruteForceTopK(emb, "vec_id", "embedding", q, 10)
        .select(col("vec_id"),
          floor(col("cosine") * 10000).cast("bigint").as("cos_e4"))
      val lsh = Similarity.lshTopK(emb, "vec_id", "embedding", q,
          k = 10, signBits = 8)
        .select(col("vec_id"),
          floor(col("cosine") * 10000).cast("bigint").as("cos_e4"))
      Similarity.rrfFuse(Seq(brute, lsh), "vec_id", "cos_e4", k = 10)
    }),

    "e04_embedding_neardup" -> ((s, dir) =>
      Dedup.nearDupEmbeddingBrute(
        s.read.parquet(s"$dir/embeddings.parquet"), "vec_id", "embedding", 0.4)
        .select(col("id_a"), col("id_b"),
          floor(col("cosine") * 10000).cast("bigint").as("cos_e4"))),

    "e05_knn_join" -> ((s, dir) =>
      // k-NN JOIN (top-3 neighbours for EVERY vector): the brute
      // baseline is registered (oracle-checkable, N² codegen cosines);
      // e06 is the bucketed scale path, measured at sf0.1
      Similarity.knnJoinBrute(
        s.read.parquet(s"$dir/embeddings.parquet"), "vec_id", "embedding", 3)),

    "e06_knn_join_lsh" -> ((s, dir) =>
      // full oracle: same seeded planes as e02 rendered as SQL literals;
      // the oracle reproduces bucket + hamming-1 probe ball + candidate
      // equi-join + exact rerank, so parity is exact (not recall-bounded)
      Similarity.knnJoinLsh(
        s.read.parquet(s"$dir/embeddings.parquet"), "vec_id", "embedding",
        k = 3, dim = 64, signBits = 8)),

    "e07_embedding_dedup_groups" -> ((s, dir) => {
      // SEMANTIC dedup groups: d11's component formation over the
      // embedding near-dup pair set instead of the MinHash one. Full
      // oracle (no recall assumption): the DuckDB side recomputes the
      // SAME 6-bit hyperplane buckets from literal planes, so its pair
      // set is the LSH candidate set by construction, then closes over
      // it with the recursive CTE. signBits=6 because the test corpus
      // has no near-identical vectors (max pair cosine < 0.9): at the
      // 0.4 verify threshold a 12-bit bucket would keep ~0 candidates.
      Dedup.groupsWithSummary(
        Dedup.nearDupEmbedding(
          s.read.parquet(s"$dir/embeddings.parquet"), "vec_id", "embedding",
          threshold = 0.4, signBits = 6),
        idName = "vec_id")
    }),

    "e09_ann_recall_ivf" -> ((s, dir) => {
      // recall@10 of the IVF 4-of-16-cell probe vs brute ground truth —
      // the second measured point on the recall/scan-reduction curve
      val emb = s.read.parquet(s"$dir/embeddings.parquet")
      val centroids = ivfCentroids(emb)
      val q = embeddingQuery(s, dir)
      Similarity.recallAtK(
        Similarity.ivfTopK(
          Similarity.ivfAssign(emb, "embedding", centroids),
          "vec_id", "embedding", q, centroids, k = 10, nProbe = 4),
        Similarity.bruteForceTopK(emb, "vec_id", "embedding", q, k = 10),
        "vec_id", k = 10)
    }),

    "e08_ann_recall" -> ((s, dir) => {
      // recall@10 of the LSH multi-probe path against brute-force
      // ground truth — the harness that prices the bucketing trade
      val q = embeddingQuery(s, dir)
      val emb = s.read.parquet(s"$dir/embeddings.parquet")
      Similarity.recallAtK(
        Similarity.lshTopK(emb, "vec_id", "embedding", q, k = 10, signBits = 8),
        Similarity.bruteForceTopK(emb, "vec_id", "embedding", q, k = 10),
        "vec_id", k = 10)
    }),

    "e11_ann_recall_pq" -> ((s, dir) => {
      // recall@10 of the PQ asymmetric-distance path vs EXACT-L2 ground
      // truth — the third point on the recall/scan trade curve (e08
      // prices LSH bucket-pruning, e09 IVF cell-pruning; here PQ scans
      // every row but reads 8 codes instead of 64 floats). Ground truth
      // is exact L2 under the same quantization, NOT e01's cosine: PQ
      // is an L2-metric index and these vectors are unnormalized, so a
      // cosine ground truth conflates metric mismatch with codebook
      // loss. Measured on this corpus: recall@10 = 0.1 — honest for
      // the data, not a bug: the synthetic vectors sit on a near-
      // uniform shell (all pairwise L2² in [1.26, 2.67], top-10
      // neighbours at 1.26-1.45 vs mean 1.98), so a 16-centroid
      // random-sample codebook's cell error swamps the tiny neighbour
      // margin; e08's LSH reads 0.1 on the same data for the same
      // reason. Clustered real embeddings are the case PQ exists for.
      val emb = s.read.parquet(s"$dir/embeddings.parquet")
      val codebook = Similarity.pqCodebook(pqSeeds(emb), m = 8)
      val q = embeddingQuery(s, dir)
      Similarity.recallAtK(
        Similarity.pqTopK(emb, "vec_id", "embedding", q, codebook, k = 10),
        Similarity.l2TopK(emb, "vec_id", "embedding", q, m = 8, k = 10),
        "vec_id", k = 10)
    }),

    // -- multimodal plumbing (stubbed decode behind the real
    // mapPartitions batch seam; stub arithmetic is modular → full oracle) --
    "m01_multimodal_decode" -> ((s, dir) =>
      Multimodal.decodeFeatures(s,
        Multimodal.synthFromDocuments(documents(s, dir), "doc_id", "text"))
        .select(col("media_id"), col("modality"), col("n_bytes"),
          element_at(col("features"), 1).as("f0"))),

    "m02_multimodal_metastats" -> ((s, dir) =>
      Multimodal.metaStats(
        Multimodal.synthFromDocuments(documents(s, dir), "doc_id", "text"))),

    "p50_spanmetrics_exemplars" -> ((s, dir) => {
      // spanmetrics exemplars: up to k (value, span_id) samples per
      // dimension group (connector.go:367,408), flattened for the oracle
      val spans = parsedT(s, dir).filter(col("pattern") === "tool_call")
        .select(col("parsed").getItem("tool_name").as("tool"),
          col("parsed").getItem("dur_ms").cast("bigint").as("dur_ms"),
          concat(col("conv_id"), lit("#"), col("turn_idx")).as("span_id"))
      graft.agg.SpanMetrics.callsWithExemplars(spans, Seq("tool"), "dur_ms", "span_id", 3)
        .select(col("tool"), col("calls"), col("sum_dur").cast("bigint").as("sum_dur"),
          posexplode(col("exemplars")).as(Seq("rank", "ex")))
        .select(col("tool"), col("calls"), col("sum_dur"),
          col("rank"), col("ex.value").as("ex_value"), col("ex.span_id").as("ex_span_id"))
    }),

    "p51_spanmetrics_expiration" -> ((s, dir) => {
      // metrics_expiration (config.go:72): groups silent for longer than
      // the expiration before the batch's max event time drop out
      val spans = events(s, dir).select(col("user_id").as("grp"), col("ts"), col("event_id"))
      graft.agg.SpanMetrics.withExpiration(spans, Seq("grp"), "ts", "1 day")
        .groupBy("grp").agg(count(lit(1)).as("n"))
    }),

    "p54_ottl_duration_unix" -> ((s, dir) => {
      // round-3 OTTL long-tail: Duration-unit family (func_hours.go …)
      // + UnixNano/Unix (func_unix_nano.go, func_unix.go) over a
      // deterministic duration string derived from the row
      import graft.functions.Ottl
      val dstr = concat(
        pmod(col("event_id"), lit(5)).cast("string"), lit("h"),
        pmod(col("event_id"), lit(60)).cast("string"), lit("m"),
        pmod(col("event_id"), lit(60)).cast("string"), lit("s"))
      events(s, dir).select(
        col("event_id"),
        Ottl.durationHours(dstr).as("dur_hours"),
        Ottl.durationMillis(dstr).as("dur_ms"),
        Ottl.durationNanos(dstr).as("dur_ns"),
        Ottl.unixNanos(col("ts")).as("ts_nanos"),
        Ottl.unixToTime(Ottl.unixSeconds(col("ts"))).as("ts_trunc_s"))
    }),

    "p55_span_rename" -> ((s, dir) => {
      // span processor (processor/spanprocessor/span.go): to_attributes
      // named-group extraction rewrites the span name in place with
      // {group} markers; from_attributes joins attribute values into a
      // new name (untouched when a key is missing)
      import graft.ops.SpanOps
      val base = parsedT(s, dir).filter(col("pattern") === "tool_call")
        .select(col("conv_id"), col("turn_idx"),
          concat(lit("/tool/"), col("parsed").getItem("tool_name"),
            lit("/call/"), col("parsed").getItem("dur_ms")).as("span_name"),
          map(lit("svc"), lit("graft"),
            lit("op"), col("parsed").getItem("tool_name")).as("attrs"))
      base
        .withColumn("r", SpanOps.toAttributes(col("span_name"),
          Seq("^/tool/(?<toolx>\\w+)/call/(?<durx>\\d+)$")))
        .select(col("conv_id"), col("turn_idx"),
          col("r.name").as("new_name"),
          element_at(col("r.attrs"), "toolx").as("toolx"),
          element_at(col("r.attrs"), "durx").cast("bigint").as("durx"),
          SpanOps.renameFromAttributes(col("span_name"), col("attrs"),
            Seq("svc", "op"), "::").as("from_attr_name"),
          // missing key → name untouched (span.go:120-122)
          SpanOps.renameFromAttributes(col("span_name"), col("attrs"),
            Seq("svc", "absent"), "::").as("untouched_name"))
    }),

    "p56_servicegraph_ttl" -> ((s, dir) => {
      // streaming servicegraph's EXACT operator code run in batch mode
      // (withWatermark is a no-op in batch; the full-outer TTL join is
      // the same plan): client half = tool-call turns, server half =
      // the following turn, pairs complete within a 5-minute store TTL;
      // unpaired halves land in the expiry buckets exactly like the
      // reference store's tryEvictHead sweep
      // (connector/servicegraphconnector/internal/store/store.go)
      import graft.streaming.StreamingPipeline
      val tr = t(s, dir)
      val clients = tr.filter(col("tool") =!= "")
        .select(col("conv_id"), col("turn_idx").cast("bigint").as("corr_id"),
          col("role").as("client_service"), lit(false).as("client_failed"),
          col("ts").cast("timestamp").as("client_ts"))
      val servers = tr.filter(col("turn_idx") > 0)
        .select(col("conv_id"), (col("turn_idx") - 1).cast("bigint").as("corr_id"),
          col("role").as("server_service"),
          col("text").startsWith("ERROR").as("server_failed"),
          col("ts").cast("timestamp").as("server_ts"))
      StreamingPipeline.serviceGraph(clients, servers, "0 seconds", "5 minutes")
        .groupBy("client_service", "server_service", "connection_type")
        .agg(count(lit(1)).as("n_edges"),
          sum(when(col("failed"), 1L).otherwise(0L)).as("n_failed"))
    }),

    "p57_turn_repetition" -> ((s, dir) =>
      // Gopher duplicate-line filter over conversations: fraction of
      // turns repeating an earlier turn's text — flags agent loops.
      // hashed=true is the production path (the distinct-expand shuffle
      // carries 8-byte text hashes, never turn bodies); the oracle
      // counts DISTINCT over raw strings — TextAnalysisSpec proves
      // hashed ≡ string on this corpus
      TextAnalysis.repeatedLineFraction(t(s, dir), "conv_id", "text",
        hashed = true)),

    "p58_sessionize" -> ((s, dir) =>
      // gap-based sessionization over the events stream via the native
      // session_window aggregate (batch mode of the streaming operator —
      // p56 pattern); 120-minute inactivity gap, inclusive merge (an
      // exactly-gap-later event still joins; only diff > gap splits),
      // session_end = last ts + gap. One shuffle on user_id at any scale.
      graft.streaming.StreamingPipeline.sessionize(
        events(s, dir), "user_id", "ts", "120 minutes", "0 seconds",
        Seq(sum(when(col("event_type") === "error", 1L).otherwise(0L))
          .as("n_errors")))),

    "p59_latency_summary" -> ((s, dir) =>
      // Summary-type data points (the OTLP Summary sibling of p28's
      // histograms): exact nearest-rank p50/p95/p99 per tool. The raw
      // span set collapses map-side to a (tool, dur_ms) histogram and
      // the order statistics run over that tiny frame — no raw-row
      // sort at any scale; ranks are pure integer arithmetic so the
      // oracle agrees bitwise (see SpanMetrics.summaryQuantiles).
      graft.agg.SpanMetrics.summaryQuantiles(
        parsedT(s, dir).filter(col("pattern") === "tool_call")
          .withColumn("dur_ms", col("parsed").getItem("dur_ms").cast("bigint"))
          .filter(col("dur_ms") > 0),
        Seq("tool"), "dur_ms", Seq(50, 95, 99))),

    "m04_blob_dedup" -> ((s, dir) =>
      // content-hash dedup of media blobs; the blob is the doc's UTF-8
      // text bytes, so DuckDB's md5(text) digests identical input
      Multimodal.dedupByContent(
        Multimodal.synthFromDocuments(documents(s, dir), "doc_id", "text"))),

    "m03_multimodal_meta" -> ((s, dir) =>
      // typed-metadata projection + blob byte length — metadata derives
      // from integer arithmetic so the oracle reproduces it exactly;
      // MultimodalSpec separately proves the plan never reads `bytes`
      // for blob-free projections
      Multimodal.synthFromDocuments(documents(s, dir), "doc_id", "text")
        .select(col("media_id"), col("modality"),
          length(col("bytes")).as("n_bytes"),
          col("meta.width").as("width"), col("meta.height").as("height"),
          col("meta.dur_ms").as("dur_ms"))),

    "d36_chat_render" -> ((s, dir) =>
      // SFT rendering: conversation → ONE training text under the
      // stable (conv_id, turn_idx) order the north rule pins; oracle =
      // string_agg(… ORDER BY turn_idx), so the whole multi-line string
      // must match byte-for-byte — per-turn text equality AND ordering
      // checked in one hash
      SftRender.renderChat(t(s, dir))),

    "d37_loss_mask_spans" -> ((s, dir) =>
      // loss-mask offsets: [start,end) char spans of each assistant
      // turn inside d36's rendered text, from integer prefix sums (no
      // text re-search); SftRenderSpec proves substring(rendered, span)
      // round-trips on every assistant turn
      SftRender.lossMaskSpans(t(s, dir))),

    "p60_repeated_responses" -> ((s, dir) =>
      // boilerplate-turn detection: texts emitted ≥2 times, with
      // use count and distinct-conversation spread — the transcript
      // analog of exact document dedup (d01), one hash aggregation on
      // (role, text); at 10^12 turns the key could carry xxhash64(text)
      // instead (house pattern, Dedup.scala), kept as strings here so
      // the oracle checks the exact text
      t(s, dir).groupBy(col("role"), col("text"))
        .agg(count(lit(1)).as("n_uses"),
          countDistinct(col("conv_id")).as("n_convs"))
        .filter(col("n_uses") >= 2)),

    "e18_ann_recall_mrl" -> ((s, dir) => {
      // Matryoshka-style truncation: ANN over the FIRST 16 of 64 dims
      // (prefix slice — 4× fewer bytes scanned per row) vs the full-dim
      // brute-force ground truth; the fifth point on the recall/scan
      // trade curve (e08 LSH, e09 IVF, e11 PQ, e17 SQ8). On MRL-trained
      // embeddings the prefix IS the coarse representation; on this
      // synthetic shell corpus the number prices raw truncation.
      val q = embeddingQuery(s, dir)
      val emb = s.read.parquet(s"$dir/embeddings.parquet")
      val emb16 = emb.withColumn("embedding", slice(col("embedding"), 1, 16))
      Similarity.recallAtK(
        Similarity.bruteForceTopK(emb16, "vec_id", "embedding", q.take(16), k = 10),
        Similarity.bruteForceTopK(emb, "vec_id", "embedding", q, k = 10),
        "vec_id", k = 10)
    }),

    "e19_ann_pq_rerank" -> ((s, dir) => {
      // production two-stage retrieval (the standard FAISS deployment):
      // PQ ADT shortlist at k'=50 (8 integer lookups/row, no float
      // math) → exact integer-quantized L2 re-rank of JUST the
      // shortlist → top-10. Recovers the recall the 16-centroid
      // codebook loses (e11 prices it) while reading full vectors for
      // only k' rows — at 100 TB the full-vector scan shrinks 10^5×.
      // The 50-row shortlist broadcasts back onto the corpus scan.
      val emb = s.read.parquet(s"$dir/embeddings.parquet")
      val codebook = Similarity.pqCodebook(pqSeeds(emb), m = 8)
      val q = embeddingQuery(s, dir)
      val shortlist = Similarity.pqTopK(emb, "vec_id", "embedding",
        q, codebook, k = 50).select("vec_id")
      Similarity.l2TopK(emb.join(broadcast(shortlist), "vec_id"),
        "vec_id", "embedding", q, m = 8, k = 10)
    }),

    "e20_ann_recall_rerank" -> ((s, dir) => {
      // recall@10 of the two-stage PQ→exact path (e19) vs the e11
      // exact-L2 ground truth — the recall-RECOVERY point on the trade
      // curve: the re-rank is exact, so any true neighbour the 50-row
      // PQ shortlist catches necessarily lands in the final top-10
      // (its exact rank within the shortlist ≤ its global rank ≤ 10);
      // this therefore reads the shortlist's recall and is ≥ e11's
      // raw-PQ@10 by construction. e11 prices the codebook, e20 prices
      // the deployment shape that compensates for it.
      val emb = s.read.parquet(s"$dir/embeddings.parquet")
      val codebook = Similarity.pqCodebook(pqSeeds(emb), m = 8)
      val q = embeddingQuery(s, dir)
      val shortlist = Similarity.pqTopK(emb, "vec_id", "embedding",
        q, codebook, k = 50).select("vec_id")
      Similarity.recallAtK(
        Similarity.l2TopK(emb.join(broadcast(shortlist), "vec_id"),
          "vec_id", "embedding", q, m = 8, k = 10),
        Similarity.l2TopK(emb, "vec_id", "embedding", q, m = 8, k = 10),
        "vec_id", k = 10)
    }),

    "e21_kmeans_step" -> ((s, dir) => {
      // one Lloyd (k-means) iteration over the corpus with the
      // e03/e12/e15 seeded coarse quantizer — the codebook TRAINING
      // step run in-engine rather than assumed: assign (same cosine +
      // tie-break as the index build), then per-cell per-dimension
      // integer means. Components floor to e6 integers BEFORE the
      // aggregate so the sums are exact and order-free (a float mean
      // would expose partition-order summation); output is bounded by
      // |cells|·dim = 1024 rows no matter the corpus size.
      val emb = s.read.parquet(s"$dir/embeddings.parquet")
      Similarity.kmeansStep(emb, "embedding", ivfCentroids(emb))
    }),

    "d38_preference_pairs" -> ((s, dir) =>
      // DPO pair construction: prompts (user turns) with ≥2 distinct
      // adjacent assistant responses → (prompt, chosen, rejected), the
      // pick integer-decided by (-len, resp, conv, idx) order; hashed
      // prompt key on the shuffle, string oracle (house dedup pattern)
      SftRender.preferencePairs(t(s, dir))),

    "d39_chunk_overlap" -> ((s, dir) =>
      // RAG chunking: 80-char chunks on a 60-char stride (20 overlap),
      // zero-shuffle narrow map; every boundary is integer arithmetic
      Chunking.chunkOverlap(documents(s, dir), "doc_id", "text",
        chunkLen = 80, stride = 60)),

    "d40_fim_render" -> ((s, dir) =>
      // fill-in-middle (PSM) rendering at the deterministic third-points
      // a = n div 3, b = 2n div 3; reassembly property spec-pinned
      Chunking.fimRender(documents(s, dir), "doc_id", "text")),

    "p61_context_length_hist" -> ((s, dir) =>
      // conversations per power-of-two rendered-length bucket (bucket =
      // length(bin(len)), pure integer log2) — the context-window
      // capacity-planning view over d36's rendering
      SftRender.contextLengthHist(t(s, dir))),

    "d41_dup_aware_epochs" -> ((s, dir) =>
      // bounded upsampling schedule: each exact-dup group trains
      // min(n_members, 4) copies of its survivor; hashed group key,
      // string oracle (d01/d34 shuffle shape)
      Curation.dupAwareEpochs(documents(s, dir), "doc_id", "text",
        capCopies = 4)),

    "d42_mixture_weights" -> ((s, dir) =>
      // lang×source mixture report + uniform-target sampling weights,
      // every share/weight floor-divided in e4 fixed point
      Curation.mixtureWeights(documents(s, dir), Seq("lang", "source"),
        "text")),

    "p62_supervision_density" -> ((s, dir) =>
      // share of tokens the assistant loss-mask supervises, per conv —
      // the training-efficiency sort key for SFT corpora
      SftRender.supervisionDensity(t(s, dir))),

    "m05_interleaved_render" -> ((s, dir) =>
      // text+media training sequences: the doc's media spliced in as a
      // <|modality:id|> placeholder at the integer midpoint; 8-byte-key
      // join, blob column never read (m01 pruning contract)
      Multimodal.interleaveRender(documents(s, dir),
        Multimodal.synthFromDocuments(documents(s, dir), "doc_id", "text"),
        "doc_id", "text")),

    "d43_frequent_ngrams" -> ((s, dir) =>
      // CCNet-style cross-document boilerplate n-gram detection:
      // bigrams recurring in ≥35 distinct docs (the set a removal pass
      // broadcasts). hashed=true is the production path (8-byte gram
      // keys in the one shuffle, gram string as min payload); the
      // oracle groups raw gram strings — TextAnalysisSpec proves
      // hashed ≡ string
      TextAnalysis.frequentNgrams(documents(s, dir), "doc_id", "text",
        n = 2, minDocs = 35)),

    "p63_boilerplate_scrub" -> ((s, dir) =>
      // cross-conversation canned-template scrub: digit-normalized
      // turn templates present in ≥90% of ALL conversations are
      // boilerplate; per-conv kept/dropped audit. Integer-permille
      // threshold (nc*1000 >= 900*n_convs) keeps the cut bit-stable
      // across engines; hashed=true shuffles 8-byte (role, template)
      // keys — TextAnalysisSpec proves hashed ≡ string
      TextAnalysis.boilerplateScrub(t(s, dir), "conv_id", "role", "text")),

    "d44_bpe_merge_candidates" -> ((s, dir) =>
      // one BPE training iteration: top-20 adjacent symbol pairs inside
      // whitespace words, occurrence-weighted; ties broken by pair asc
      // so the cut is engine-independent. Pair explode is a narrow
      // codegen map; the only shuffle is the alphabet²-bounded pair agg
      TextAnalysis.bpeMergeCandidates(documents(s, dir), "text", topK = 20)),

    "d45_bigram_lm" -> ((s, dir) =>
      // add-one-smoothed bigram LM trained on the corpus, scoring each
      // doc by summed floored log P(w2|w1) — the KenLM-proxy rung above
      // d25's unigram frequency (catches shuffled/garbled token order).
      // Bigram extraction is a narrow adjacent-pair map (no positional
      // self-join); the model table broadcasts back over the corpus
      TextAnalysis.bigramLmScore(documents(s, dir), "doc_id", "text")),

    "d46_distinct_kmv" -> ((s, dir) =>
      // bounded-memory cardinality: bottom-k (KMV) sketch of the
      // distinct-text count — O(k) state per partition, ≤k longs per
      // partition in the final exchange, vs an exact count_distinct
      // that shuffles every distinct key at 10^12 rows. Integer-only
      // estimator ((k-1)·M div h_(k)) so the oracle replays it bitwise
      Sketches.distinctKmv(documents(s, dir), "text", k = 256)),

    "d47_cms_token_counts" -> ((s, dir) =>
      // count-min frequency sketch: depth-3 × width-1024 integer
      // sketch of the corpus token stream (≤ depth·width rows shuffle
      // after map-side combine, whatever the corpus size), point-read
      // for a fixed probe set next to the exact counts — est >= exact
      // by construction, equality unless buckets collide in every row
      Sketches.cmsTokenCounts(documents(s, dir), "text",
        Seq("join", "hash", "spark", "vector", "absent_probe_zz"),
        width = 1024)),

    "d48_bloom_membership" -> ((s, dir) => {
      // Bloom-filter dedup PRE-FILTER: shard docs whose 3 filter bits
      // are all set MIGHT be in the kept index (verify downstream);
      // any unset bit = DEFINITELY new, skipping the exact join. The
      // filter is ≤m distinct bit rows (bounded aggregation over the
      // index) broadcast to a narrow shard-side map — the shard never
      // shuffles. exact_member is the demonstration column; false
      // positives replay bitwise in the oracle (same bit array)
      val docs = documents(s, dir)
      Sketches.bloomMembership(docs, "doc_id", "text",
        docs.filter(col("doc_id") % 97 =!= 0), "text", m = 4096)
    }),

    "d49_weighted_sample" -> ((s, dir) =>
      // Efraimidis-Spirakis weighted sampling without replacement:
      // deterministic exponential keys floor(1e9·ln(u))/w from the text
      // fingerprint (ln floored at e9 BEFORE the weight division so
      // rank resolution is independent of doc length), weight = token
      // count, top-100 by key — selection probability proportional to
      // length, no RNG, replayable. Key map is narrow codegen; top-n is
      // TakeOrderedAndProject (partial top-n per partition, no corpus
      // shuffle)
      Curation.weightedSample(documents(s, dir), "doc_id", "text", n = 100)),

    "d50_bpe_encode" -> ((s, dir) =>
      // BPE merge APPLICATION — the encode step closing d44's training
      // loop: 8 fixed merges applied in rank order as literal replaces
      // over the U+0001-joined symbol sequence; per-doc char count vs
      // BPE token count = the compression the merge table buys. Pure
      // narrow projection, zero shuffle
      TextAnalysis.bpeEncodeCounts(documents(s, dir), "doc_id", "text",
        TextAnalysis.bpeDemoMerges)),

    "d51_frequency_spectrum" -> ((s, dir) =>
      // Good-Turing count-of-counts: how many token TYPES occur exactly
      // r times — the N_r table smoothing reads and the Zipf profile
      // corpus-health checks watch. hashed=false here so engine and
      // oracle share grouping semantics exactly: unlike d46/d47, the
      // oracle does NOT replay the hash, so an xxhash64 key collision
      // (birthday ~n²/2^65 — no longer negligible at 10^9 token types)
      // would silently merge two types and diverge. hashed=true stays
      // the production default for 8-byte shuffle keys; TextAnalysisSpec
      // proves the two identical on collision-free vocabularies. The
      // second shuffle is bounded by the distinct occurrence counts
      TextAnalysis.frequencySpectrum(documents(s, dir), "text",
        hashed = false)),

    "d52_length_buckets" -> ((s, dir) =>
      // curriculum quartile bucketing by token length WITHOUT ntile's
      // global sort: nearest-rank boundaries from the length histogram
      // (integer arithmetic), one-row broadcast back; ties land in the
      // lower bucket so equal-length docs never split across buckets
      TextAnalysis.lengthBuckets(documents(s, dir), "doc_id", "text")),

    "e22_label_centroid_matrix" -> ((s, dir) =>
      // vector-side mixture audit: per-label e6-integer centroids (one
      // |labels|·dim-bounded shuffle) → pairwise centroid dot products +
      // squared L2 — all bigint, so the panel replays bitwise in SQL
      Similarity.labelCentroidMatrix(
        s.read.parquet(s"$dir/embeddings.parquet"), "embedding", "label")),

    "e23_embedding_hygiene" -> ((s, dir) =>
      // vector ingestion validation: null / wrong-dim / NaN-Inf /
      // all-zero counts in one narrow scan (array HOFs, no explode);
      // the testdata is clean so every defect counter reads 0 — the
      // spec plants one specimen of each defect to prove the detectors
      Similarity.embeddingHygiene(
        s.read.parquet(s"$dir/embeddings.parquet"), "embedding", dim = 64)),

    "p68_periodic_loop_audit" -> ((s, dir) =>
      // structural agent-loop detection: smallest whole-conversation
      // template period (≥2 full cycles) + trailing stuck-run over
      // digit-normalized templates; one conv-keyed aggregation, the
      // checks are array HOFs over each conversation's bounded list
      TextAnalysis.periodicLoopAudit(t(s, dir), "conv_id", "turn_idx",
        "text")),

    "p69_refusal_audit" -> ((s, dir) =>
      // over-refusal rate per conversation: assistant turns hitting the
      // refusal-phrase bank, total hits, integer-permille rate — the
      // (len − len(replace))/len(phrase) codegen idiom, one conv-keyed
      // aggregation; the oracle's occ expression is GENERATED from the
      // same phrase bank so the two can't drift
      TextAnalysis.refusalAudit(t(s, dir), "conv_id", "role", "text")),

    "p64_role_alternation" -> ((s, dir) =>
      // chat-format structural hygiene: adjacent same-role repeats +
      // opener legality, per conversation — the quarantine predicate an
      // SFT ingest filters on before rendering
      SftRender.roleAlternationAudit(t(s, dir))),

    "p65_context_truncate" -> ((s, dir) =>
      // longest-suffix-within-token-budget truncation audit (256
      // whitespace tokens): recent turns survive, oldest spill — the
      // chat-history cut a packing stage budgets from
      SftRender.contextTruncate(t(s, dir), maxTokens = 256L)),

    "p66_conv_prefix_dedup" -> ((s, dir) =>
      // prompt-seeded duplicate groups: conversations sharing their
      // digit-normalized first-2-turn rendering; survivor = min conv_id.
      // hashed=true shuffles 8-byte prefix keys — spec proves ≡ string
      SftRender.prefixDedupGroups(t(s, dir), k = 2)),

    "p67_conv_neardup_minhash" -> ((s, dir) =>
      // near-dup CONVERSATIONS: digit-normalize each turn (d12/p63
      // normalization — raw renders top out at jaccard 0.17 because ids
      // differ; normalized, real template-dup clusters emerge), render
      // per conversation (renderChat discipline), then the d07 banded
      // MinHash-LSH with unigram shingles at 0.80. Tighter recall pin
      // than d07: 32 bands × 2 rows ⇒ a j=0.80 pair misses all bands
      // w.p. (1-0.8²)^32 ≈ 7e-15, so LSH ≡ the oracle's brute pair set
      // on any corpus — verified both ways at sf0.01 and sf0.001 (the
      // wider bands trade more false candidates in the verify join,
      // fine at conversation cardinality; p67 is HeavyAtScale anyway)
      Dedup.nearDupMinhashLsh(
        SftRender.renderChat(
          t(s, dir).withColumn("text",
            TextAnalysis.normalizeDigits(col("text"))))
          .select(col("conv_id"), col("rendered")),
        "conv_id", "rendered",
        numHashes = 64, bands = 32, shingleSize = 1, threshold = 0.80)
        .select(col("id_a"), col("id_b"),
          floor(col("jaccard") * 10000).cast("bigint").as("jaccard_e4")))
  )

  /** Fixed corpus for the d08 golden-signature oracle. */
  private val GoldenSimhashCorpus: Seq[(Long, String)] = Seq(
    1L -> "the quick brown fox jumps over the lazy dog",
    2L -> "the quick brown fox jumps over the lazy cat",
    3L -> "pack my box with five dozen liquor jugs",
    4L -> "pack my box with five dozen liquor jugs again",
    5L -> "an entirely different sentence with other words",
    6L -> "")

  /** Query vector for ANN queries: the embedding of vec_id=0. */
  private def embeddingQuery(s: SparkSession, dir: String): Array[Double] =
    s.read.parquet(s"$dir/embeddings.parquet")
      .filter(col("vec_id") === 0).select("embedding")
      .collect().head.getSeq[Float](0).map(_.toDouble).toArray

  /** Deterministic IVF centroid pick shared by e03 and e09 (and encoded
    * once more in [[e03IvfSql]]): embeddings with vec_id % 37 = 1,
    * first 16 by vec_id. One fact, one place — a drift between the two
    * query entries would make e09's recall compare an index built from
    * different centroids than its oracle assumes. */
  private def ivfCentroids(emb: DataFrame): Seq[Array[Double]] =
    emb.filter(col("vec_id") % 37 === 1)
      .orderBy("vec_id").limit(16)
      .select("embedding").collect()
      .map(_.getSeq[Float](0).map(_.toDouble).toArray).toSeq

  /** Deterministic PQ codebook seeds shared by e10/e11 and [[e10PqSql]]:
    * embeddings with vec_id % 7 = 1, first 16 by vec_id — 16 centroids
    * per subspace (4-bit codes; the 4-centroid first cut read recall@10
    * = 0.1, the 16-centroid codebook is the honest configuration). */
  private def pqSeeds(emb: DataFrame): Seq[Array[Double]] =
    emb.filter(col("vec_id") % 7 === 1)
      .orderBy("vec_id").limit(16)
      .select("embedding").collect()
      .map(_.getSeq[Float](0).map(_.toDouble).toArray).toSeq

  /** e10's oracle, generated: unrolled per-subspace integer-quantized
    * L2² (8 explicit left-associative terms per subspace — no SQL SUM
    * over floats whose accumulation order an engine could choose), for
    * both the query→centroid tables and the corpus encode; the final
    * ADT is an integer SUM (order-free by exactness). */
  /** Unrolled per-subspace quantized L2² term (8 explicit left-
    * associative products) shared by [[e10PqSql]] and [[e11L2Sql]]. */
  private def pqL2Term(j: Int, a: String, b: String): String = {
    val sub = 8
    val terms = (0 until sub).map { i =>
      val d = j * sub + i + 1
      s"($a[$d] - $b[$d]) * ($a[$d] - $b[$d])"
    }.mkString(" + ")
    s"CAST(floor(1000000 * ($terms)) AS BIGINT)"
  }

  /** e11's ground truth, generated: exact-scan L2 top-10 under the same
    * per-subspace integer quantization as the PQ side — isolates
    * codebook loss from metric mismatch (see Similarity.l2TopK). */
  private def e11L2Sql: String = {
    val dist = (0 until 8).map(j => pqL2Term(j, "e.ev", "q.qv")).mkString(" + ")
    s"""WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0),
       |emb AS (SELECT vec_id, embedding::DOUBLE[] AS ev FROM embeddings)
       |SELECT e.vec_id, ($dist) AS dist_e6
       |FROM emb e, q
       |ORDER BY dist_e6 ASC, e.vec_id ASC LIMIT 10""".stripMargin
  }

  private def e10PqSql: String = e10PqSqlK(10)

  /** e19's oracle, generated: e10's PQ CTE cut at k'=50 feeding an exact
    * integer-quantized L2 re-rank (e11's metric) over just those rows —
    * shared with e20's recall point. */
  private def e19RerankSql: String = {
    val dist = (0 until 8).map(j => pqL2Term(j, "e.ev", "q.qv")).mkString(" + ")
    s"""WITH sl AS (${e10PqSqlK(50)}),
       |rq AS (SELECT embedding::DOUBLE[] AS qv
       |       FROM embeddings WHERE vec_id = 0),
       |re AS (SELECT vec_id, embedding::DOUBLE[] AS ev FROM embeddings)
       |SELECT e.vec_id, ($dist) AS dist_e6
       |FROM re e JOIN sl USING (vec_id) CROSS JOIN rq q
       |ORDER BY dist_e6 ASC, e.vec_id ASC LIMIT 10""".stripMargin
  }

  /** e10's oracle with a parameterized cut — `k=10` IS e10; `k=50` is
    * the shortlist stage of e19's two-stage retrieval. */
  private def e10PqSqlK(k: Int): String = {
    val m = 8
    def l2(j: Int, a: String, b: String): String = pqL2Term(j, a, b)
    val dtabArms = (0 until m).map(j =>
      s"SELECT $j AS j, s.c AS c, ${l2(j, "q.qv", "s.v")} AS d_e6 FROM seeds s, q"
    ).mkString("\nUNION ALL\n")
    val encArms = (0 until m).map(j =>
      s"SELECT e.vec_id, $j AS j, s.c AS c, ${l2(j, "e.ev", "s.v")} AS d_e6 FROM emb e, seeds s"
    ).mkString("\nUNION ALL\n")
    s"""WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0),
       |emb AS (SELECT vec_id, embedding::DOUBLE[] AS ev FROM embeddings),
       |seeds AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS c,
       |                 embedding::DOUBLE[] AS v
       |          FROM (SELECT vec_id, embedding FROM embeddings
       |                WHERE vec_id % 7 = 1 ORDER BY vec_id LIMIT 16)),
       |dtab AS ($dtabArms),
       |dd AS ($encArms),
       |codes AS (SELECT vec_id, j, c FROM
       |            (SELECT vec_id, j, c, row_number() OVER
       |               (PARTITION BY vec_id, j ORDER BY d_e6 ASC, c ASC) AS rn
       |             FROM dd)
       |          WHERE rn = 1),
       |adt AS (SELECT codes.vec_id, CAST(SUM(dtab.d_e6) AS BIGINT) AS adt_e6
       |        FROM codes JOIN dtab ON codes.j = dtab.j AND codes.c = dtab.c
       |        GROUP BY codes.vec_id)
       |SELECT vec_id, adt_e6 FROM adt ORDER BY adt_e6 ASC, vec_id ASC LIMIT $k""".stripMargin
  }

  /** e12's oracle, generated: e03's centroid pick assigned by the SAME
    * per-subspace integer-quantized L2² as the PQ layer (one
    * quantization contract across both index layers), probe-4 by the
    * same metric, then e10's codes/dtab/ADT restricted to probed
    * cells. */
  private def e12IvfPqSql: String = {
    val m = 8
    def dist(a: String, b: String): String =
      (0 until m).map(j => pqL2Term(j, a, b)).mkString(" + ")
    val dtabArms = (0 until m).map(j =>
      s"SELECT $j AS j, s.c AS c, ${pqL2Term(j, "q.qv", "s.v")} AS d_e6 FROM seeds s, q"
    ).mkString("\nUNION ALL\n")
    val encArms = (0 until m).map(j =>
      s"SELECT e.vec_id, $j AS j, s.c AS c, ${pqL2Term(j, "e.ev", "s.v")} AS d_e6 FROM probed e, seeds s"
    ).mkString("\nUNION ALL\n")
    s"""WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0),
       |emb AS (SELECT vec_id, embedding::DOUBLE[] AS ev FROM embeddings),
       |cent AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell,
       |                embedding::DOUBLE[] AS v
       |         FROM (SELECT vec_id, embedding FROM embeddings
       |               WHERE vec_id % 37 = 1 ORDER BY vec_id LIMIT 16)),
       |seeds AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS c,
       |                 embedding::DOUBLE[] AS v
       |          FROM (SELECT vec_id, embedding FROM embeddings
       |                WHERE vec_id % 7 = 1 ORDER BY vec_id LIMIT 16)),
       |assign AS (SELECT vec_id, cell FROM
       |             (SELECT e.vec_id, cent.cell,
       |                row_number() OVER (PARTITION BY e.vec_id
       |                  ORDER BY ${dist("e.ev", "cent.v")} ASC, cent.cell ASC) AS rn
       |              FROM emb e, cent)
       |           WHERE rn = 1),
       |probe AS (SELECT cell FROM cent, q
       |          ORDER BY ${dist("cent.v", "q.qv")} ASC, cell ASC LIMIT 4),
       |probed AS (SELECT e.vec_id, e.ev FROM emb e
       |           JOIN assign a ON e.vec_id = a.vec_id
       |           WHERE a.cell IN (SELECT cell FROM probe)),
       |dtab AS ($dtabArms),
       |dd AS ($encArms),
       |codes AS (SELECT vec_id, j, c FROM
       |            (SELECT vec_id, j, c, row_number() OVER
       |               (PARTITION BY vec_id, j ORDER BY d_e6 ASC, c ASC) AS rn
       |             FROM dd)
       |          WHERE rn = 1),
       |adt AS (SELECT codes.vec_id, CAST(SUM(dtab.d_e6) AS BIGINT) AS adt_e6
       |        FROM codes JOIN dtab ON codes.j = dtab.j AND codes.c = dtab.c
       |        GROUP BY codes.vec_id)
       |SELECT vec_id, adt_e6 FROM adt ORDER BY adt_e6 ASC, vec_id ASC LIMIT 10""".stripMargin
  }

  /** e16's oracle, generated: SQ8 codes from per-dim corpus min/max
    * (exact selections — both engines read the same floats), the one
    * fixed IEEE quantize expression per dim
    * (`clamp₀₋₂₅₅(floor((val − mn)·255/(mx − mn)))` — scalar per row,
    * never a float SUM), and an integer distance sum (order-free by
    * exactness). Mirrors [[graft.functions.SqL2Dist]] term for term. */
  private def e16SqSql: String =
    """WITH v AS (SELECT vec_id, generate_subscripts(embedding, 1) AS dim,
      |                  CAST(unnest(embedding) AS DOUBLE) AS val
      |           FROM embeddings),
      |mm AS (SELECT dim, min(val) AS mn, max(val) AS mx FROM v GROUP BY dim),
      |c AS (SELECT vec_id, dim,
      |        CASE WHEN mx = mn THEN CAST(0 AS BIGINT)
      |             ELSE greatest(CAST(0 AS BIGINT), least(CAST(255 AS BIGINT),
      |               CAST(floor((val - mn) * CAST(255 AS DOUBLE) / (mx - mn))
      |                 AS BIGINT))) END AS code
      |      FROM v JOIN mm USING (dim)),
      |qc AS (SELECT dim, code FROM c WHERE vec_id = 0),
      |d AS (SELECT c.vec_id,
      |        CAST(SUM((qc.code - c.code) * (qc.code - c.code)) AS BIGINT)
      |          AS sq_dist
      |      FROM c JOIN qc USING (dim) GROUP BY c.vec_id)
      |SELECT vec_id, sq_dist FROM d
      |ORDER BY sq_dist ASC, vec_id ASC LIMIT 10""".stripMargin

  /** The e02 hyperplanes as a DuckDB VALUES list — the planes are
    * plan-time constants (seeded `Random(42)`, dim 64 in the testdata),
    * so rendering them as literals lets the oracle reproduce the LSH
    * bucket assignment bit-exactly (`list_dot_product` accumulates
    * left-to-right like [[graft.functions.LshBucket64]]). Scala's
    * shortest-round-trip Double.toString parses back to the identical
    * IEEE double in DuckDB. */
  private def lshPlanesValues: String = lshPlanesValuesFor(8)

  private def lshPlanesValuesFor(signBits: Int): String =
    graft.ops.Similarity.hyperplanes(dim = 64, signBits = signBits).zipWithIndex
      .map { case (p, i) =>
        s"($i, ${p.mkString("[", ",", "]")}::DOUBLE[])"
      }.mkString(",\n")

  /** e01/e02 oracle derivations as vals so e08's recall oracle can
    * compose both verbatim as CTEs. */
  private def e01BruteSql: String =
    """SELECT vec_id,
      |  CAST(floor(10000 * list_dot_product(embedding::DOUBLE[], q) /
      |    (sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))
      |     * sqrt(list_dot_product(q, q)))) AS BIGINT) AS cos_e4
      |FROM embeddings,
      |  (SELECT embedding::DOUBLE[] AS q FROM embeddings WHERE vec_id = 0)
      |ORDER BY list_dot_product(embedding::DOUBLE[], q) /
      |    (sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))
      |     * sqrt(list_dot_product(q, q))) DESC, vec_id
      |LIMIT 10""".stripMargin

  /** e18's truncated-dim brute pass: e01BruteSql with both sides sliced
    * to the first 16 dims (cast-then-slice, matching Spark's
    * slice(float[])→cast(double[]) value-for-value — float→double is
    * exact). */
  private def e18MrlSql: String =
    """SELECT vec_id,
      |  CAST(floor(10000 * list_dot_product(v16, q) /
      |    (sqrt(list_dot_product(v16, v16)) * sqrt(list_dot_product(q, q))))
      |    AS BIGINT) AS cos_e4
      |FROM (SELECT vec_id, (embedding::DOUBLE[])[1:16] AS v16 FROM embeddings),
      |  (SELECT (embedding::DOUBLE[])[1:16] AS q FROM embeddings WHERE vec_id = 0)
      |ORDER BY list_dot_product(v16, q) /
      |    (sqrt(list_dot_product(v16, v16)) * sqrt(list_dot_product(q, q)))
      |    DESC, vec_id
      |LIMIT 10""".stripMargin

  private def e02LshSql: String =
    s"""WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0),
       |planes(i, p) AS (VALUES
       |$lshPlanesValues),
       |qb AS (SELECT CAST(sum(CASE WHEN list_dot_product(q.qv, planes.p) >= 0
       |                            THEN 1 << planes.i ELSE 0 END) AS BIGINT) AS qbucket
       |       FROM planes, q),
       |b AS (SELECT e.vec_id,
       |        CAST(sum(CASE WHEN list_dot_product(e.embedding::DOUBLE[], planes.p) >= 0
       |                      THEN 1 << planes.i ELSE 0 END) AS BIGINT) AS bucket
       |      FROM embeddings e, planes GROUP BY e.vec_id),
       |probes AS (SELECT qbucket AS pb FROM qb
       |           UNION ALL SELECT xor(qbucket, CAST(1 << t.i AS BIGINT)) FROM qb, range(8) t(i))
       |SELECT e.vec_id,
       |  CAST(floor(10000 * list_dot_product(e.embedding::DOUBLE[], q.qv) /
       |    (sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))
       |     * sqrt(list_dot_product(q.qv, q.qv)))) AS BIGINT) AS cos_e4
       |FROM embeddings e JOIN b ON e.vec_id = b.vec_id, q
       |WHERE b.bucket IN (SELECT pb FROM probes)
       |ORDER BY list_dot_product(e.embedding::DOUBLE[], q.qv) /
       |    (sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))
       |     * sqrt(list_dot_product(q.qv, q.qv))) DESC, e.vec_id
       |LIMIT 10""".stripMargin

  private def e03IvfSql: String =
    """WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0),
      |cent AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell,
      |                embedding::DOUBLE[] AS c
      |         FROM (SELECT vec_id, embedding FROM embeddings
      |               WHERE vec_id % 37 = 1 ORDER BY vec_id LIMIT 16)),
      |assign AS (SELECT vec_id, cell,
      |             row_number() OVER (PARTITION BY vec_id
      |                                ORDER BY sim DESC, cell DESC) AS rn
      |           FROM (SELECT e.vec_id, cent.cell,
      |                   list_dot_product(e.embedding::DOUBLE[], cent.c) /
      |                     (sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))
      |                      * sqrt(list_dot_product(cent.c, cent.c))) AS sim
      |                 FROM embeddings e, cent)),
      |probe AS (SELECT cell FROM
      |            (SELECT cent.cell,
      |               list_dot_product(cent.c, q.qv) /
      |                 (sqrt(list_dot_product(cent.c, cent.c))
      |                  * sqrt(list_dot_product(q.qv, q.qv))) AS sim
      |             FROM cent, q)
      |          ORDER BY sim DESC, cell ASC LIMIT 4)
      |SELECT e.vec_id,
      |  CAST(floor(10000 * list_dot_product(e.embedding::DOUBLE[], q.qv) /
      |    (sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))
      |     * sqrt(list_dot_product(q.qv, q.qv)))) AS BIGINT) AS cos_e4
      |FROM embeddings e
      |JOIN assign a ON e.vec_id = a.vec_id AND a.rn = 1
      |             AND a.cell IN (SELECT cell FROM probe), q
      |ORDER BY list_dot_product(e.embedding::DOUBLE[], q.qv) /
      |    (sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))
      |     * sqrt(list_dot_product(q.qv, q.qv))) DESC, e.vec_id
      |LIMIT 10""".stripMargin

  def oracleSql: Map[String, String] = Map(
    "p01_parse_tool_calls" -> withT(
      s"""SELECT conv_id, turn_idx,
         |  regexp_extract(text, '$P1', 1) AS tool_name,
         |  regexp_extract(text, '$P1', 2) AS args_json,
         |  CAST(regexp_extract(text, '$P1', 3) AS BIGINT) AS dur_ms
         |FROM transcripts WHERE regexp_matches(text, '$P1')""".stripMargin),

    "p02_parse_status_severity" -> withT(
      s"""SELECT conv_id, turn_idx,
         |  regexp_extract(text, '$P2', 1) AS level,
         |  regexp_extract(text, '$P2', 2) AS component,
         |  regexp_extract(text, '$P2', 3) AS msg,
         |  CASE lower(regexp_extract(text, '$P2', 1))
         |    WHEN 'trace' THEN 1 WHEN 'debug' THEN 5 WHEN 'info' THEN 9
         |    WHEN 'warn' THEN 13 WHEN 'error' THEN 17 WHEN 'fatal' THEN 21
         |    ELSE 0 END AS severity_num
         |FROM transcripts
         |WHERE NOT regexp_matches(text, '$P1') AND regexp_matches(text, '$P2')""".stripMargin),

    "p03_parse_onerror_send" -> withT(
      s"""SELECT conv_id, turn_idx, text,
         |  'regex pattern does not match' AS _error
         |FROM transcripts
         |WHERE NOT regexp_matches(text, '$P1')
         |  AND NOT regexp_matches(text, '$P2')
         |  AND NOT regexp_matches(text, '$P3')""".stripMargin),

    "p04_parse_keyvalue" -> withT(
      s"""SELECT conv_id, turn_idx,
         |  regexp_extract(text, 'action=([^ ]+)', 1) AS action,
         |  CAST(regexp_extract(text, 'cents=(\\d+)', 1) AS BIGINT) AS cents
         |FROM transcripts
         |WHERE NOT regexp_matches(text, '$P1')
         |  AND NOT regexp_matches(text, '$P2')
         |  AND regexp_matches(text, '$P3')""".stripMargin),

    "p05_parse_json_args" -> withT(
      s"""SELECT conv_id, turn_idx,
         |  CAST(json_extract(regexp_extract(text, '$P1', 2), '$$.k') AS BIGINT) AS k
         |FROM transcripts WHERE regexp_matches(text, '$P1')""".stripMargin),

    "p06_enrich_broadcast" -> withT(
      """SELECT d.tool_family, d.cost_class, d.is_sandboxed, count(*) AS n
        |FROM transcripts t JOIN dim_tool d USING (tool)
        |GROUP BY 1, 2, 3""".stripMargin,
      Seq(EnrichStage.dimToolSqlValues)),

    "p07_route_multimatch_counts" -> withT(
      s"""SELECT 'tool_calls' AS sink, count(*) AS n FROM transcripts
         |  WHERE tool <> '' AND regexp_matches(text, '$P1')
         |UNION ALL
         |SELECT 'errors', count(*) FROM transcripts
         |  WHERE NOT regexp_matches(text, '$P1') AND regexp_matches(text, '$P2')
         |    AND regexp_extract(text, '$P2', 1) IN ('ERROR','FATAL')
         |UNION ALL
         |SELECT 'user_turns', count(*) FROM transcripts WHERE role = 'user'
         |UNION ALL
         |SELECT 'default', count(*) FROM transcripts
         |  WHERE NOT (tool <> '' AND regexp_matches(text, '$P1'))
         |    AND NOT (NOT regexp_matches(text, '$P1') AND regexp_matches(text, '$P2')
         |             AND regexp_extract(text, '$P2', 1) IN ('ERROR','FATAL'))
         |    AND role <> 'user'""".stripMargin),

    "p08_route_first_match" -> withT(
      s"""SELECT CASE
         |  WHEN tool <> '' AND regexp_matches(text, '$P1') THEN 'tool_calls'
         |  WHEN NOT regexp_matches(text, '$P1') AND regexp_matches(text, '$P2')
         |       AND regexp_extract(text, '$P2', 1) IN ('ERROR','FATAL') THEN 'errors'
         |  WHEN role = 'user' THEN 'user_turns'
         |  ELSE 'default' END AS route, count(*) AS n
         |FROM transcripts GROUP BY 1""".stripMargin),

    "p09_route_default_rows" -> withT(
      s"""SELECT conv_id, turn_idx, role, text FROM transcripts
         |WHERE NOT (tool <> '' AND regexp_matches(text, '$P1'))
         |  AND NOT (NOT regexp_matches(text, '$P1') AND regexp_matches(text, '$P2')
         |           AND regexp_extract(text, '$P2', 1) IN ('ERROR','FATAL'))
         |  AND role <> 'user'""".stripMargin),

    "p10_count_windowed_by_role" -> withT(
      """SELECT role, count(*) AS n, date_trunc('hour', ts) AS window_start
        |FROM transcripts GROUP BY 1, 3""".stripMargin),

    "p11_count_tool_cost_default" -> withT(
      """SELECT t.tool, coalesce(d.cost_class, 'unknown') AS cost_class, count(*) AS n
        |FROM transcripts t LEFT JOIN dim_tool d USING (tool)
        |WHERE t.tool <> ''
        |GROUP BY 1, 2""".stripMargin,
      Seq(EnrichStage.dimToolSqlValues)),

    "p12_count_required_attr_skip" -> withT(
      s"""SELECT regexp_extract(text, '$P2', 1) AS level,
         |  regexp_extract(text, '$P2', 2) AS component, count(*) AS n
         |FROM transcripts
         |WHERE NOT regexp_matches(text, '$P1') AND regexp_matches(text, '$P2')
         |GROUP BY 1, 2""".stripMargin),

    "p13_rollup_conversation" -> withT(
      """SELECT conv_id, count(*) AS n_turns, min(ts) AS first_ts, max(ts) AS last_ts,
        |  string_agg(text, chr(10) ORDER BY turn_idx) AS full_text
        |FROM transcripts GROUP BY conv_id""".stripMargin),

    "p14_rollup_salted" -> withT(
      """SELECT conv_id, count(*) AS n_turns, min(ts) AS first_ts, max(ts) AS last_ts,
        |  string_agg(text, chr(10) ORDER BY turn_idx) AS full_text
        |FROM transcripts GROUP BY conv_id""".stripMargin),

    "p15_text_roundtrip" -> withT(
      "SELECT conv_id, turn_idx, role, text, tool, ts FROM transcripts"),

    "p16_delta_to_cumulative" ->
      """SELECT event_id, user_id,
        |  CAST(sum(CAST(round(value*100) AS BIGINT)) OVER
        |    (PARTITION BY user_id ORDER BY ts, event_id
        |     ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_cents
        |FROM events""".stripMargin,

    "p17_cumulative_to_delta" ->
      """SELECT event_id, user_id,
        |  CAST(round(value*100) AS BIGINT)
        |    - lag(CAST(round(value*100) AS BIGINT)) OVER
        |      (PARTITION BY user_id ORDER BY ts, event_id) AS delta_cents
        |FROM events""".stripMargin,

    "p18_delta_to_rate" ->
      """SELECT event_id, user_id,
        |  CAST(floor(CAST(round(value*100) AS BIGINT) /
        |    ((epoch_us(ts) - lag(epoch_us(ts)) OVER
        |      (PARTITION BY user_id ORDER BY ts, event_id)) / 1e6)) AS BIGINT) AS rate_floor
        |FROM events""".stripMargin,

    "p19_interval_last" ->
      """SELECT user_id, window_start, last_cents FROM (
        |  SELECT user_id, date_trunc('hour', ts) AS window_start,
        |    CAST(round(value*100) AS BIGINT) AS last_cents,
        |    row_number() OVER (PARTITION BY user_id, date_trunc('hour', ts)
        |                       ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM events) WHERE rn = 1""".stripMargin,

    "p20_aggregate_labels" ->
      """SELECT event_type, CAST(sum(CAST(round(value*100) AS BIGINT)) AS BIGINT) AS sum_cents
        |FROM events GROUP BY 1""".stripMargin,

    "p21_redaction" -> withT(
      """SELECT conv_id, turn_idx, regexp_replace(text, '[0-9]', '#', 'g') AS redacted
        |FROM transcripts WHERE role = 'user'""".stripMargin),

    "p22_attr_hash" -> withT(
      """SELECT conv_id, turn_idx, sha256(tool) AS tool_hash
        |FROM transcripts WHERE tool <> ''""".stripMargin),

    "p23_sampler_consistent" ->
      """SELECT event_type, count(*) AS n FROM events
        |WHERE ((event_id & 2147483647) * 2654435761) % 1000 < 250
        |GROUP BY 1""".stripMargin,

    "p24_transform_set_where" -> withT(
      s"""SELECT conv_id, turn_idx,
         |  CASE WHEN (NOT regexp_matches(text, '$P1')) AND regexp_matches(text, '$P2')
         |            AND regexp_extract(text, '$P2', 1) = 'ERROR'
         |       THEN upper(role) ELSE role END AS role_marked
         |FROM transcripts""".stripMargin),

    "p25_groupbyattrs" -> withT(
      """SELECT role, tool, count(DISTINCT conv_id) AS n_convs, count(*) AS n_turns
        |FROM transcripts GROUP BY 1, 2""".stripMargin),

    "p26_servicegraph_edges" -> withT(
      """SELECT a.tool, b.role AS next_role, count(*) AS n_edges
        |FROM transcripts a
        |JOIN transcripts b
        |  ON a.conv_id = b.conv_id AND b.turn_idx = a.turn_idx + 1
        |WHERE a.tool <> ''
        |GROUP BY 1, 2""".stripMargin),

    "p27_field_ops" -> withT(
      """SELECT conv_id, turn_idx, 'prod' AS env, role AS role_copy,
        |  tool AS tool_name, role AS unquoted
        |FROM transcripts""".stripMargin),

    "p28_spanmetrics_hist" -> withT(
      s"""SELECT tool,
         |  CAST(floor(CAST(regexp_extract(text, '$P1', 3) AS BIGINT) / 2000) AS BIGINT) AS lin_bucket,
         |  CAST(length(printf('%b', CAST(regexp_extract(text, '$P1', 3) AS BIGINT))) - 1 AS BIGINT) AS exp_bucket,
         |  count(*) AS calls,
         |  CAST(sum(CAST(regexp_extract(text, '$P1', 3) AS BIGINT)) AS BIGINT) AS sum_dur_ms
         |FROM transcripts
         |WHERE regexp_matches(text, '$P1')
         |  AND CAST(regexp_extract(text, '$P1', 3) AS BIGINT) > 0
         |GROUP BY 1, 2, 3""".stripMargin),

    "p29_metrics_generation" -> withT(
      s"""SELECT tool, CAST(sum(CAST(regexp_extract(text, '$P1', 3) AS BIGINT)) AS BIGINT) AS total_dur,
         |  count(*) AS calls,
         |  CAST(floor(sum(CAST(regexp_extract(text, '$P1', 3) AS BIGINT))
         |       / CAST(count(*) AS DOUBLE)) AS BIGINT) AS mean_dur_floor
         |FROM transcripts WHERE regexp_matches(text, '$P1')
         |GROUP BY 1""".stripMargin),

    "p30_tail_sampling" -> withT(
      s"""SELECT conv_id, count(*) AS n_turns FROM transcripts
         |WHERE conv_id IN (
         |  SELECT DISTINCT conv_id FROM transcripts
         |  WHERE NOT regexp_matches(text, '$P1') AND regexp_matches(text, '$P2')
         |    AND regexp_extract(text, '$P2', 1) = 'ERROR')
         |GROUP BY 1""".stripMargin),

    "p31_exp_histogram" -> withT(
      s"""SELECT tool,
         |  CAST(length(printf('%b', CAST(regexp_extract(text, '$P1', 3) AS BIGINT))) - 1 AS INT) AS bucket,
         |  count(*) AS cnt
         |FROM transcripts
         |WHERE regexp_matches(text, '$P1')
         |  AND CAST(regexp_extract(text, '$P1', 3) AS BIGINT) > 0
         |GROUP BY 1, 2""".stripMargin),

    "p32_jsonarray_assign_keys" ->
      """SELECT event_id, event_type AS etype, user_id AS uid FROM events""",

    "q01_lineitem_agg" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS n,
        |  CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
        |  CAST(sum(CAST(round(l_extendedprice*100) AS BIGINT)) AS BIGINT) AS sum_price_cents
        |FROM lineitem GROUP BY 1, 2""".stripMargin,

    "q02_orders_customer_join" ->
      """SELECT c_mktsegment, o_orderstatus, count(*) AS n,
        |  CAST(sum(CAST(round(o_totalprice*100) AS BIGINT)) AS BIGINT) AS sum_cents
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY 1, 2""".stripMargin,

    "q03_topk_order_limit" ->
      """SELECT o_custkey, CAST(sum(CAST(round(o_totalprice*100) AS BIGINT)) AS BIGINT) AS spend_cents
        |FROM orders GROUP BY 1
        |ORDER BY spend_cents DESC, o_custkey LIMIT 10""".stripMargin,

    "q04_set_ops" ->
      """SELECT 'intersect' AS op, count(*) AS n FROM (
        |  SELECT user_id FROM events WHERE value > 100
        |  INTERSECT SELECT user_id FROM events WHERE event_type = 'error')
        |UNION ALL
        |SELECT 'union', count(*) FROM (
        |  SELECT user_id FROM events WHERE value > 100
        |  UNION SELECT user_id FROM events WHERE event_type = 'error')
        |UNION ALL
        |SELECT 'except', count(*) FROM (
        |  SELECT user_id FROM events WHERE value > 100
        |  EXCEPT SELECT user_id FROM events WHERE event_type = 'error')""".stripMargin,

    "d01_dedup_exact" ->
      "SELECT text, min(doc_id) AS first_doc, count(*) AS n FROM documents GROUP BY text",

    // trigram shingles in SQL: w[i:i+2] (1-based inclusive slice) for
    // i in 1..len-2 ≡ Spark's sequence(0, size-3) 3-token windows;
    // division-then-scale parenthesized to match Spark's float order
    "d13_contamination" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |sh AS (SELECT doc_id,
        |         list_distinct(list_transform(generate_series(1, len(w)-2),
        |           i -> array_to_string(w[i:i+2], ' '))) AS s
        |       FROM w WHERE len(w) >= 3),
        |bench AS (SELECT DISTINCT unnest(s) AS sh FROM sh WHERE doc_id % 97 = 0),
        |ex AS (SELECT doc_id, unnest(s) AS sh FROM sh),
        |hits AS (SELECT e.doc_id, count(*) AS n_cont
        |         FROM ex e JOIN bench b ON e.sh = b.sh GROUP BY 1)
        |SELECT s.doc_id, len(s.s) AS n_shingles,
        |  coalesce(h.n_cont, 0) AS n_contaminated,
        |  CAST(floor((coalesce(h.n_cont, 0) / len(s.s)) * 10000) AS BIGINT) AS contamination_e4
        |FROM sh s LEFT JOIN hits h USING (doc_id)""".stripMargin,

    // Brute corpus×bench jaccard as the oracle for the broadcast-LSH
    // path — valid for the same recall argument as d07/d11 (banding
    // miss ~1e-5/pair at j>=0.85; the exact-verify step makes LSH a
    // subset of brute by construction, so equality checks recall).
    "d26_contamination_neardup" ->
      """WITH sh AS (
        |  SELECT doc_id, list_distinct(string_split(text, ' ')) AS s FROM documents
        |), bench AS (
        |  SELECT doc_id AS bench_id, s FROM sh WHERE doc_id % 97 = 0
        |)
        |SELECT d.doc_id, b.bench_id,
        |  CAST(floor(10000 * (len(list_intersect(d.s, b.s)) /
        |    (len(d.s) + len(b.s) - len(list_intersect(d.s, b.s))))) AS BIGINT) AS jaccard_e4
        |FROM sh d, bench b
        |WHERE len(list_intersect(d.s, b.s)) /
        |      (len(d.s) + len(b.s) - len(list_intersect(d.s, b.s))) >= 0.85""".stripMargin,

    "d12_dedup_normalized" ->
      """SELECT trim(regexp_replace(regexp_replace(lower(text),
        |         '[^a-z0-9\s]', ' ', 'g'), '\s+', ' ', 'g')) AS norm_text,
        |  min(doc_id) AS first_doc, count(*) AS n
        |FROM documents GROUP BY 1""".stripMargin,

    "d02_token_count" ->
      "SELECT doc_id, CAST(len(string_split(text, ' ')) AS INT) AS n_tokens FROM documents",

    "d03_text_quality" ->
      """SELECT doc_id,
        |  CAST(length(text) AS INT) AS n_chars_actual,
        |  CAST(len(string_split(text, ' ')) AS INT) AS n_tokens,
        |  CAST(floor(1000.0 * len(list_filter(string_split(text, ' '),
        |        x -> x IN ('the','a'))) / len(string_split(text, ' '))) AS BIGINT)
        |    AS stopword_permille
        |FROM documents""".stripMargin,

    "d04_lang_source_counts" ->
      """SELECT lang, source, count(*) AS n, CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |FROM documents GROUP BY 1, 2""".stripMargin,

    // The LSH pair set provably equals the brute-force pair set at this
    // scale (banding miss probability ~1e-5/pair at j>=0.85 with 64
    // hashes / 16 bands, and everything is deterministic hashing — the
    // exact-verify step makes LSH a subset of brute by construction, and
    // set equality was checked both ways at sf0.01), so the quadratic
    // brute scan is a valid oracle for the banded operator.
    "d07_minhash_lsh_neardups" ->
      """WITH sh AS (
        |  SELECT doc_id, list_distinct(string_split(text, ' ')) AS s FROM documents
        |)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  CAST(floor(10000 * (len(list_intersect(a.s, b.s)) /
        |    (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))))) AS BIGINT) AS jaccard_e4
        |FROM sh a, sh b
        |WHERE a.doc_id < b.doc_id
        |  AND len(list_intersect(a.s, b.s)) /
        |      (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) >= 0.85""".stripMargin,

    // Cross-source dup matrix: the d07 brute pair set + source joins;
    // avg is floor division on both sides (// vs (s-pmod(s,n)) div n)
    "d35_source_dup_matrix" ->
      """WITH sh AS (
        |  SELECT doc_id, source, list_distinct(string_split(text, ' ')) AS s
        |  FROM documents
        |),
        |p AS (SELECT a.source AS src_a, b.source AS src_b,
        |        CAST(floor(10000 * (len(list_intersect(a.s, b.s)) /
        |          (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s)))))
        |          AS BIGINT) AS j_e4
        |      FROM sh a, sh b
        |      WHERE a.doc_id < b.doc_id
        |        AND len(list_intersect(a.s, b.s)) /
        |            (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) >= 0.85)
        |SELECT least(src_a, src_b) AS source_x,
        |  greatest(src_a, src_b) AS source_y,
        |  count(*) AS n_pairs,
        |  CAST(sum(j_e4) // count(*) AS BIGINT) AS avg_jaccard_e4,
        |  max(j_e4) AS max_jaccard_e4
        |FROM p GROUP BY 1, 2""".stripMargin,

    // Connected components in SQL: the recursive CTE enumerates every
    // (node, reachable-node) pair of the dup graph, min per node = the
    // component id; LSH ≡ brute pair set is the d07-established fact.
    "d11_dedup_groups" ->
      """WITH RECURSIVE sh AS (
        |  SELECT doc_id, list_distinct(string_split(text, ' ')) AS s FROM documents
        |),
        |p AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM sh a, sh b
        |  WHERE a.doc_id < b.doc_id
        |    AND len(list_intersect(a.s, b.s)) /
        |        (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) >= 0.85
        |),
        |e AS (SELECT id_a AS src, id_b AS dst FROM p
        |      UNION SELECT id_b, id_a FROM p),
        |r(n, m) AS (
        |  SELECT src, src FROM e
        |  UNION
        |  SELECT e.src, r.m FROM e JOIN r ON e.dst = r.n
        |),
        |g AS (SELECT n AS doc_id, min(m) AS group_id FROM r GROUP BY n)
        |SELECT g.doc_id, g.group_id, c.n_members
        |FROM g JOIN (SELECT group_id, count(*) AS n_members
        |             FROM g GROUP BY 1) c USING (group_id)""".stripMargin,

    // star contraction computes the same components as propagation; one
    // oracle (the recursive closure) gates both renderings
    "d27_dedup_groups_star" ->
      """WITH RECURSIVE sh AS (
        |  SELECT doc_id, list_distinct(string_split(text, ' ')) AS s FROM documents
        |),
        |p AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM sh a, sh b
        |  WHERE a.doc_id < b.doc_id
        |    AND len(list_intersect(a.s, b.s)) /
        |        (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) >= 0.85
        |),
        |e AS (SELECT id_a AS src, id_b AS dst FROM p
        |      UNION SELECT id_b, id_a FROM p),
        |r(n, m) AS (
        |  SELECT src, src FROM e
        |  UNION
        |  SELECT e.src, r.m FROM e JOIN r ON e.dst = r.n
        |),
        |g AS (SELECT n AS doc_id, min(m) AS group_id FROM r GROUP BY n)
        |SELECT g.doc_id, g.group_id, c.n_members
        |FROM g JOIN (SELECT group_id, count(*) AS n_members
        |             FROM g GROUP BY 1) c USING (group_id)""".stripMargin,

    "d05_jaccard_pairs_brute" ->
      """WITH sh AS (
        |  SELECT doc_id, list_distinct(string_split(text, ' ')) AS s FROM documents
        |)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  CAST(floor(10000 * (len(list_intersect(a.s, b.s)) /
        |    (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))))) AS BIGINT) AS jaccard_e4
        |FROM sh a, sh b
        |WHERE a.doc_id < b.doc_id
        |  AND len(list_intersect(a.s, b.s)) /
        |      (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) >= 0.85""".stripMargin,

    "d06_fingerprint" ->
      """SELECT doc_id,
        |  list_reduce(
        |    [CAST(0 AS BIGINT)] || list_transform(string_split(text, ''),
        |      c -> CAST(ascii(c) AS BIGINT)),
        |    (acc, x) -> (acc*31 + x) % 2147483647) AS fp
        |FROM documents""".stripMargin,

    "d09_quality_metrics" ->
      """SELECT doc_id,
        |  CAST(len(regexp_split_to_array(text, '\s+')) AS INT) AS n_tokens,
        |  length(regexp_replace(text, '[^.,;:!?''"()\[\]{}]', '', 'g'))
        |    / CAST(length(text) AS DOUBLE) AS punct_ratio,
        |  len(list_filter(regexp_split_to_array(lower(text), '\s+'),
        |      x -> x IN ('the','and','of','to','a','in','is','that','it','for')))
        |    / CAST(len(regexp_split_to_array(text, '\s+')) AS DOUBLE) AS stopword_ratio,
        |  least(CAST(len(regexp_split_to_array(text, '\s+')) AS DOUBLE) / 100.0, 1.0) * 0.4
        |  + (1.0 - least(length(regexp_replace(text, '[^.,;:!?''"()\[\]{}]', '', 'g'))
        |      / CAST(length(text) AS DOUBLE) * 5, 1.0)) * 0.2
        |  + least(len(list_filter(regexp_split_to_array(lower(text), '\s+'),
        |      x -> x IN ('the','and','of','to','a','in','is','that','it','for')))
        |      / CAST(len(regexp_split_to_array(text, '\s+')) AS DOUBLE) * 4, 1.0) * 0.2
        |  + (1.0 - least(length(regexp_replace(text, '[^0-9]', '', 'g'))
        |      / CAST(length(text) AS DOUBLE) * 5, 1.0)) * 0.2 AS quality_score
        |FROM documents""".stripMargin,

    "d10_langid" -> {
      val hits = TextAnalysis.stopwordBanks.toSeq.sortBy(_._1).map { case (lang, words) =>
        val set = words.map(w => s"'$w'").mkString(", ")
        s"{'h': len(list_filter(regexp_split_to_array(lower(text), '\\s+'), x -> x IN ($set))), 'l': '$lang'}"
      }.mkString("[", ", ", "]")
      s"""SELECT doc_id,
         |  CASE WHEN list_sort($hits)[-1].h > 0
         |       THEN list_sort($hits)[-1].l ELSE 'und' END AS lang_pred
         |FROM documents""".stripMargin
    },

    // Positional trigram windows via parallel unnests (DuckDB aligns
    // multiple unnests in one SELECT positionally); span merge is the
    // same gaps-and-islands rendering the Spark side uses. Docs under 3
    // tokens carry no trigram evidence and are omitted on both sides.
    "d14_dup_spans" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |gp AS (SELECT doc_id,
        |         unnest(generate_series(0, len(w)-3)) AS pos,
        |         unnest(list_transform(generate_series(1, len(w)-2),
        |           i -> array_to_string(w[i:i+2], ' '))) AS sh
        |       FROM w WHERE len(w) >= 3),
        |dups AS (SELECT sh FROM gp GROUP BY sh HAVING count(*) >= 2),
        |dp AS (SELECT doc_id, pos, pos+2 AS endp FROM gp JOIN dups USING (sh)),
        |m AS (SELECT doc_id, pos, endp,
        |        max(endp) OVER (PARTITION BY doc_id ORDER BY pos
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm
        |      FROM dp),
        |isl AS (SELECT doc_id, pos, endp,
        |          sum(CASE WHEN pm IS NULL OR pos > pm+1 THEN 1 ELSE 0 END)
        |            OVER (PARTITION BY doc_id ORDER BY pos) AS g
        |        FROM m),
        |sp AS (SELECT doc_id, g, min(pos) AS s, max(endp) AS e
        |       FROM isl GROUP BY 1, 2),
        |agg AS (SELECT doc_id, count(*) AS n_spans,
        |          sum(e - s + 1) AS dup_tokens
        |        FROM sp GROUP BY 1)
        |SELECT w.doc_id, CAST(len(w.w) AS INT) AS n_tokens,
        |  coalesce(a.n_spans, 0) AS n_spans,
        |  CAST(coalesce(a.dup_tokens, 0) AS BIGINT) AS dup_tokens,
        |  CAST(floor((coalesce(a.dup_tokens, 0) / len(w.w)) * 10000) AS BIGINT)
        |    AS dup_frac_e4
        |FROM w LEFT JOIN agg a USING (doc_id)
        |WHERE len(w.w) >= 3""".stripMargin,

    // Span removal in SQL: first occurrence per in-doc window, later
    // occurrences mark their token range covered, kept tokens re-join
    // ordered by position (lossless: tokens are single-space splits).
    // Short docs have no windows → LEFT JOINs pass them through.
    "d17_span_removal" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |tok AS (SELECT doc_id,
        |          unnest(generate_series(0, len(w)-1)) AS i,
        |          unnest(w) AS t
        |        FROM w),
        |gp AS (SELECT doc_id,
        |         unnest(generate_series(0, len(w)-3)) AS pos,
        |         unnest(list_transform(generate_series(1, len(w)-2),
        |           i -> array_to_string(w[i:i+2], ' '))) AS sh
        |       FROM w WHERE len(w) >= 3),
        |fo AS (SELECT doc_id, sh, min(pos) AS first_pos FROM gp GROUP BY 1, 2),
        |dup AS (SELECT g.doc_id, g.pos
        |        FROM gp g JOIN fo USING (doc_id, sh)
        |        WHERE g.pos > fo.first_pos),
        |cov AS (SELECT DISTINCT doc_id, i FROM
        |          (SELECT doc_id, unnest(generate_series(pos, pos+2)) AS i FROM dup)),
        |kept AS (SELECT t.doc_id, string_agg(t.t, ' ' ORDER BY t.i) AS clean_text
        |         FROM tok t LEFT JOIN cov c ON t.doc_id = c.doc_id AND t.i = c.i
        |         WHERE c.i IS NULL GROUP BY 1)
        |SELECT w.doc_id,
        |  CASE WHEN w.w IS NULL THEN NULL
        |       ELSE coalesce(k.clean_text, '') END AS clean_text,
        |  CAST(len(string_split(CASE WHEN w.w IS NULL THEN NULL
        |    ELSE coalesce(k.clean_text, '') END, ' ')) AS INT) AS n_kept
        |FROM w LEFT JOIN kept k USING (doc_id)""".stripMargin,

    // The curation CTE chain is the d13 + d15 + d09 oracles composed:
    // survivors by text, trigram contamination vs the %97 bench set,
    // repetition flag (with the ≥10-token evidence guard), quality
    // score floored to e4 — CASE order = check severity order.
    "d16_curation" ->
      """WITH surv AS (SELECT text, min(doc_id) AS keep_id FROM documents GROUP BY text),
        |w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |sh AS (SELECT doc_id, list_distinct(list_transform(generate_series(1, len(w)-2),
        |         i -> array_to_string(w[i:i+2], ' '))) AS s
        |       FROM w WHERE len(w) >= 3),
        |bench AS (SELECT DISTINCT unnest(s) AS g FROM sh WHERE doc_id % 97 = 0),
        |ex AS (SELECT doc_id, unnest(s) AS g FROM sh),
        |hits AS (SELECT e.doc_id, count(*) AS n_cont
        |         FROM ex e JOIN bench b USING (g) GROUP BY 1),
        |contam AS (SELECT s.doc_id,
        |    CAST(floor((coalesce(h.n_cont, 0) / len(s.s)) * 10000) AS BIGINT) AS contam_e4
        |  FROM sh s LEFT JOIN hits h USING (doc_id)),
        |rb AS (SELECT doc_id,
        |         list_transform(generate_series(1, len(w)-1),
        |           i -> array_to_string(w[i:i+1], ' ')) AS g2,
        |         list_transform(generate_series(1, len(w)-2),
        |           i -> array_to_string(w[i:i+2], ' ')) AS g3
        |       FROM w WHERE len(w) >= 3),
        |re AS (SELECT doc_id, unnest(g2) AS sh2 FROM rb),
        |rc AS (SELECT doc_id, sh2, count(*) AS c FROM re GROUP BY 1, 2),
        |rt AS (SELECT doc_id, max(c) AS topc FROM rc GROUP BY 1),
        |rep AS (SELECT rb.doc_id,
        |    ((CAST(floor((rt.topc / CAST(len(g2) AS DOUBLE)) * 10000) AS BIGINT) > 2000
        |      OR CAST(floor(((CAST(len(g3) AS DOUBLE) - len(list_distinct(g3)))
        |           / CAST(len(g3) AS DOUBLE)) * 10000) AS BIGINT) > 3000)
        |     AND len(g2) + 1 >= 10) AS repetitive
        |  FROM rb JOIN rt USING (doc_id)),
        |qual AS (SELECT doc_id, CAST(floor(
        |    (least(CAST(len(regexp_split_to_array(text, '\s+')) AS DOUBLE) / 100.0, 1.0) * 0.4
        |     + (1.0 - least(length(regexp_replace(text, '[^.,;:!?''"()\[\]{}]', '', 'g'))
        |         / CAST(length(text) AS DOUBLE) * 5, 1.0)) * 0.2
        |     + least(len(list_filter(regexp_split_to_array(lower(text), '\s+'),
        |         x -> x IN ('the','and','of','to','a','in','is','that','it','for')))
        |         / CAST(len(regexp_split_to_array(text, '\s+')) AS DOUBLE) * 4, 1.0) * 0.2
        |     + (1.0 - least(length(regexp_replace(text, '[^0-9]', '', 'g'))
        |         / CAST(length(text) AS DOUBLE) * 5, 1.0)) * 0.2) * 10000) AS BIGINT) AS quality_e4
        |  FROM documents),
        |r AS (SELECT d.doc_id,
        |    CASE WHEN d.text IS NULL THEN 'empty'
        |         WHEN d.doc_id <> s.keep_id THEN 'exact_dup'
        |         WHEN coalesce(c.contam_e4, 0) >= 5000 THEN 'contaminated'
        |         WHEN coalesce(r2.repetitive, FALSE) THEN 'repetitive'
        |         WHEN q.quality_e4 < 5500 THEN 'low_quality'
        |         ELSE 'keep' END AS reason
        |  FROM documents d
        |  LEFT JOIN surv s ON d.text = s.text
        |  LEFT JOIN contam c ON d.doc_id = c.doc_id
        |  LEFT JOIN rep r2 ON d.doc_id = r2.doc_id
        |  LEFT JOIN qual q ON d.doc_id = q.doc_id)
        |SELECT doc_id, reason, reason = 'keep' AS keep FROM r""".stripMargin,

    "d15_repetition" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |b AS (SELECT doc_id, CAST(len(w) AS INT) AS n_tokens,
        |        list_transform(generate_series(1, len(w)-1),
        |          i -> array_to_string(w[i:i+1], ' ')) AS g2,
        |        list_transform(generate_series(1, len(w)-2),
        |          i -> array_to_string(w[i:i+2], ' ')) AS g3
        |      FROM w WHERE len(w) >= 3),
        |e AS (SELECT doc_id, unnest(g2) AS sh FROM b),
        |c AS (SELECT doc_id, sh, count(*) AS c FROM e GROUP BY 1, 2),
        |t AS (SELECT doc_id, max(c) AS topc FROM c GROUP BY 1)
        |SELECT doc_id, n_tokens, dup_bigram_frac_e4, dup_trigram_frac_e4,
        |  top_bigram_frac_e4,
        |  (top_bigram_frac_e4 > 2000 OR dup_trigram_frac_e4 > 3000) AS repetitive
        |FROM (
        |  SELECT b.doc_id, b.n_tokens,
        |    CAST(floor(((CAST(len(g2) AS DOUBLE) - len(list_distinct(g2)))
        |      / CAST(len(g2) AS DOUBLE)) * 10000) AS BIGINT) AS dup_bigram_frac_e4,
        |    CAST(floor(((CAST(len(g3) AS DOUBLE) - len(list_distinct(g3)))
        |      / CAST(len(g3) AS DOUBLE)) * 10000) AS BIGINT) AS dup_trigram_frac_e4,
        |    CAST(floor((t.topc / CAST(len(g2) AS DOUBLE)) * 10000) AS BIGINT)
        |      AS top_bigram_frac_e4
        |  FROM b JOIN t USING (doc_id))""".stripMargin,

    // sequence packing: the oracle is the GLOBAL single-window cumsum
    // (fine over 500 rows); the Spark side computes the same totals with
    // the two-phase distributed prefix sum — equality proves the phases
    // compose to the global scan. sum() OVER widens to HUGEINT in
    // DuckDB, hence the explicit BIGINT cast (the round-1 dtype trap).
    "d18_sequence_packing" ->
      """WITH t AS (SELECT doc_id,
        |        CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
        |      FROM documents WHERE text IS NOT NULL),
        |c AS (SELECT doc_id, n_tokens,
        |        CAST(sum(n_tokens) OVER (ORDER BY doc_id
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |          - n_tokens AS token_start
        |      FROM t)
        |SELECT doc_id, n_tokens, token_start,
        |  token_start // 512 AS bin_first,
        |  (token_start + n_tokens - 1) // 512 AS bin_last
        |FROM c""".stripMargin,

    "d19_mixing_sample" ->
      """SELECT doc_id, source FROM documents
        |WHERE ((doc_id & 2147483647) * 2654435761) % 10000 <
        |  CASE source WHEN 'src0' THEN 2500 WHEN 'src1' THEN 5000
        |              WHEN 'src2' THEN 7500 ELSE 1000 END""".stripMargin,

    // unigram-LM quality: DuckDB recomputes the vocabulary, corpus
    // total and per-doc reduction independently; hashed columns are
    // exact integers plus ONE floored ln of a deterministically-rounded
    // double (ln ulp divergence at the 1e-6 floor boundary: ~4e-10/doc)
    "d25_unigram_quality" ->
      """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        |             FROM documents WHERE text IS NOT NULL),
        |c AS (SELECT tok, count(*) AS c FROM tok GROUP BY tok),
        |tot AS (SELECT CAST(sum(c) AS DOUBLE) AS total FROM c),
        |d AS (SELECT t.doc_id, count(*) AS n_tokens,
        |        CAST(sum(c.c) AS BIGINT) AS sum_tok_count
        |      FROM tok t JOIN c USING (tok) GROUP BY t.doc_id)
        |SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens, sum_tok_count,
        |  CAST(floor(1e6 * ln(CAST(sum_tok_count AS DOUBLE) /
        |    (CAST(n_tokens AS DOUBLE) * total))) AS BIGINT) AS logmeanfreq_micro
        |FROM d, tot""".stripMargin,

    // TF-IDF top terms: DuckDB recomputes tf, df, N and the integer
    // ranking; the one float per vocab entry is (1e6·tf)·ln(N/df) with
    // the same left-associative order as the Spark side
    "d29_tfidf_topterms" ->
      """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        |             FROM documents WHERE text IS NOT NULL),
        |tf AS (SELECT doc_id, tok, count(*) AS tf FROM tok GROUP BY doc_id, tok),
        |dfq AS (SELECT tok, count(*) AS df FROM tf GROUP BY tok),
        |n AS (SELECT CAST(count(DISTINCT doc_id) AS DOUBLE) AS n_docs FROM tf),
        |scored AS (SELECT t.doc_id, t.tok, t.tf, d.df,
        |             CAST(floor(1000000 * t.tf *
        |               ln(n.n_docs / CAST(d.df AS DOUBLE))) AS BIGINT) AS score_e6
        |           FROM tf t JOIN dfq d USING (tok), n),
        |r AS (SELECT *, row_number() OVER (PARTITION BY doc_id
        |                  ORDER BY score_e6 DESC, tok) AS rk FROM scored)
        |SELECT doc_id, CAST(rk AS INT) AS rk, tok, tf, df, score_e6
        |FROM r WHERE rk <= 3""".stripMargin,

    // DSIR importance weights: per-token floored log-ratios (one ln
    // PAIR per vocab entry — same parenthesization as the Spark side:
    // 1e6 · (ln a − ln b)) integer-summed per document
    "d30_dsir_weights" ->
      """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        |             FROM documents WHERE text IS NOT NULL),
        |cc AS (SELECT tok, count(*) AS cc FROM tok GROUP BY tok),
        |ct AS (SELECT tok, count(*) AS ct FROM tok WHERE doc_id % 97 = 0 GROUP BY tok),
        |stats AS (SELECT CAST(sum(cc) AS DOUBLE) AS nc,
        |                 CAST(count(*) AS DOUBLE) AS v FROM cc),
        |tstats AS (SELECT CAST(coalesce(sum(ct), 0) AS DOUBLE) AS nt FROM ct),
        |vocab AS (SELECT cc.tok,
        |            CAST(floor(1000000 *
        |              (ln(CAST(coalesce(ct.ct, 0) + 1 AS DOUBLE) / (tstats.nt + stats.v)) -
        |               ln(CAST(cc.cc + 1 AS DOUBLE) / (stats.nc + stats.v))))
        |              AS BIGINT) AS tok_score_micro
        |          FROM cc LEFT JOIN ct USING (tok), stats, tstats)
        |SELECT t.doc_id, count(*) AS n_tokens,
        |  CAST(sum(v.tok_score_micro) AS BIGINT) AS w_micro
        |FROM tok t JOIN vocab v USING (tok)
        |GROUP BY t.doc_id""".stripMargin,

    // Quality logit: the whole dot product is integer arithmetic
    // (permille features via truncating //, micro-weights), so DuckDB
    // reproduces logit AND verdict exactly — no float anywhere
    "d33_quality_logit" ->
      """WITH f AS (SELECT doc_id,
        |    CAST(len(regexp_split_to_array(text, '\s+')) AS BIGINT) AS n_tok,
        |    greatest(CAST(length(text) AS BIGINT), 1) AS n_chars,
        |    CAST(len(list_filter(regexp_split_to_array(lower(text), '\s+'),
        |      x -> x IN ('the','and','of','to','a','in','is','that','it','for')))
        |      AS BIGINT) AS stops,
        |    CAST(length(regexp_replace(text, '[^.,;:!?''"()\[\]{}]', '', 'g'))
        |      AS BIGINT) AS punct,
        |    CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS BIGINT) AS digits
        |  FROM documents WHERE text IS NOT NULL),
        |l AS (SELECT doc_id,
        |    CAST(-100000 + 800 * least(n_tok, 500) + 900 * (1000 * stops // n_tok)
        |      - 2500 * (1000 * punct // n_chars)
        |      - 3000 * (1000 * digits // n_chars) AS BIGINT) AS logit_micro
        |  FROM f)
        |SELECT doc_id, logit_micro, logit_micro > 0 AS keep FROM l""".stripMargin,

    // Quality survivor: d12's normalization CTE + the d33 logit, argmax
    // replayed on the same integers (logit desc, doc_id asc)
    "d34_quality_survivor" ->
      """WITH f AS (SELECT doc_id, text,
        |    CAST(len(regexp_split_to_array(text, '\s+')) AS BIGINT) AS n_tok,
        |    greatest(CAST(length(text) AS BIGINT), 1) AS n_chars,
        |    CAST(len(list_filter(regexp_split_to_array(lower(text), '\s+'),
        |      x -> x IN ('the','and','of','to','a','in','is','that','it','for')))
        |      AS BIGINT) AS stops,
        |    CAST(length(regexp_replace(text, '[^.,;:!?''"()\[\]{}]', '', 'g'))
        |      AS BIGINT) AS punct,
        |    CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS BIGINT) AS digits
        |  FROM documents WHERE text IS NOT NULL),
        |l AS (SELECT doc_id,
        |    trim(regexp_replace(regexp_replace(lower(text),
        |      '[^a-z0-9\s]', ' ', 'g'), '\s+', ' ', 'g')) AS norm_text,
        |    CAST(-100000 + 800 * least(n_tok, 500) + 900 * (1000 * stops // n_tok)
        |      - 2500 * (1000 * punct // n_chars)
        |      - 3000 * (1000 * digits // n_chars) AS BIGINT) AS logit_micro
        |  FROM f),
        |r AS (SELECT norm_text, doc_id, logit_micro,
        |        row_number() OVER (PARTITION BY norm_text
        |                           ORDER BY logit_micro DESC, doc_id) AS rk,
        |        count(*) OVER (PARTITION BY norm_text) AS n_members
        |      FROM l)
        |SELECT norm_text, n_members, doc_id AS survivor_id,
        |  logit_micro AS survivor_score
        |FROM r WHERE rk = 1""".stripMargin,

    // BM25: DuckDB recomputes postings, df, (N, avglen) and the floored
    // per-term contributions; k1/b constants interpolate as
    // shortest-roundtrip doubles so both engines fold the SAME values
    // (1.2+1 is a round-to-even hazard as a hand-written 2.2 literal)
    "d31_bm25_topk" ->
      s"""WITH docs AS (SELECT doc_id, text,
         |    CAST(len(string_split(text, ' ')) AS BIGINT) AS len
         |  FROM documents WHERE text IS NOT NULL),
         |stats AS (SELECT count(*) AS n,
         |    CAST(sum(len) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avglen
         |  FROM docs),
         |tf AS (SELECT doc_id, tok, count(*) AS tf, min(len) AS len
         |       FROM (SELECT doc_id, len,
         |               unnest(string_split(text, ' ')) AS tok FROM docs)
         |       WHERE tok IN ('spark', 'merge', 'hash', 'window')
         |       GROUP BY doc_id, tok),
         |dfq AS (SELECT tok, count(*) AS df FROM tf GROUP BY tok),
         |t AS (SELECT tf.doc_id,
         |        CAST(floor(1000000 * (
         |          ln((CAST(stats.n - dfq.df AS DOUBLE) + 0.5) /
         |              (CAST(dfq.df AS DOUBLE) + 0.5) + 1.0) *
         |          (CAST(tf.tf AS DOUBLE) * ${1.2 + 1} /
         |           (CAST(tf.tf AS DOUBLE) + ${1.2} * (${1 - 0.75} + ${0.75} *
         |             (CAST(tf.len AS DOUBLE) / stats.avglen))))))
         |          AS BIGINT) AS term_e6
         |      FROM tf JOIN dfq USING (tok), stats)
         |SELECT doc_id, count(*) AS n_terms,
         |  CAST(sum(term_e6) AS BIGINT) AS score_e6
         |FROM t GROUP BY doc_id
         |ORDER BY score_e6 DESC, doc_id LIMIT 10""".stripMargin,

    // Incremental dedup: brute batch×index jaccard as the oracle for the
    // broadcast-banded path (d26's recall argument); the best-match pick
    // and tie-break replay on the same floored integers
    "d32_incremental_dedup" ->
      """WITH sh AS (
        |  SELECT doc_id, list_distinct(string_split(text, ' ')) AS s FROM documents
        |),
        |idx AS (SELECT doc_id, s FROM sh WHERE doc_id % 25 <> 0),
        |b AS (SELECT doc_id AS new_id, s FROM sh WHERE doc_id % 25 = 0),
        |p AS (SELECT b.new_id, idx.doc_id,
        |        CAST(floor(10000 * (len(list_intersect(idx.s, b.s)) /
        |          (len(idx.s) + len(b.s) - len(list_intersect(idx.s, b.s)))))
        |          AS BIGINT) AS j_e4
        |      FROM idx, b
        |      WHERE len(list_intersect(idx.s, b.s)) /
        |            (len(idx.s) + len(b.s) - len(list_intersect(idx.s, b.s))) >= 0.85),
        |r AS (SELECT new_id, doc_id, j_e4,
        |        row_number() OVER (PARTITION BY new_id
        |                           ORDER BY j_e4 DESC, doc_id) AS rk,
        |        count(*) OVER (PARTITION BY new_id) AS n_matches
        |      FROM p)
        |SELECT new_id, n_matches, doc_id AS best_match_id,
        |  j_e4 AS best_jaccard_e4
        |FROM r WHERE rk = 1""".stripMargin,

    // PII scrub: same planted specimens, same sequential email→ip→phone
    // mask order (regexes are the Java∩RE2 intersection — see
    // TextAnalysis.pii*; 'g' = global replace, DuckDB defaults to first)
    "d24_pii_scrub" ->
      s"""WITH planted AS (SELECT doc_id, text ||
         |    CASE CAST(doc_id % 4 AS INT)
         |      WHEN 0 THEN ' reach me at user.name+tag@example-host.co for details'
         |      WHEN 1 THEN ' src=10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.' ||
         |                  CAST((doc_id * 7) % 256 AS VARCHAR) || ' dst=192.168.1.1'
         |      WHEN 2 THEN ' call 555-867-5309 or 555.123.4567 today'
         |      ELSE '' END AS text
         |  FROM documents),
         |m AS (SELECT doc_id, text AS raw,
         |        regexp_replace(text, '$piiEmail', '<EMAIL>', 'g') AS m1
         |      FROM planted),
         |m2t AS (SELECT doc_id, raw, m1,
         |          regexp_replace(m1, '$piiIpv4', '<IP>', 'g') AS m2
         |        FROM m)
         |SELECT doc_id,
         |  CAST(len(regexp_extract_all(raw, '$piiEmail')) AS BIGINT) AS n_emails,
         |  CAST(len(regexp_extract_all(m1, '$piiIpv4')) AS BIGINT) AS n_ipv4,
         |  CAST(len(regexp_extract_all(m2, '$piiPhone')) AS BIGINT) AS n_phones,
         |  regexp_replace(m2, '$piiPhone', '<PHONE>', 'g') AS scrubbed
         |FROM m2t""".stripMargin,

    "d23_holdout_split" ->
      """SELECT doc_id,
        |  CASE WHEN ((doc_id & 2147483647) * 2654435761) % 10000 < 500
        |       THEN 'val' ELSE 'train' END AS split
        |FROM documents""".stripMargin,

    "d22_pack_windows" ->
      """WITH t AS (SELECT doc_id,
        |        CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
        |      FROM documents WHERE text IS NOT NULL),
        |c AS (SELECT doc_id, n_tokens,
        |        CAST(sum(n_tokens) OVER (ORDER BY doc_id
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |          - n_tokens AS token_start
        |      FROM t),
        |x AS (SELECT doc_id, n_tokens, token_start,
        |        unnest(generate_series(token_start // 512,
        |          (token_start + n_tokens - 1) // 512)) AS bin_id
        |      FROM c)
        |SELECT bin_id, doc_id,
        |  greatest(CAST(0 AS BIGINT), bin_id * 512 - token_start) AS tok_from,
        |  least(n_tokens, (bin_id + 1) * 512 - token_start) AS tok_to
        |FROM x""".stripMargin,

    "d21_shuffle_order" ->
      """SELECT doc_id,
        |  row_number() OVER (ORDER BY
        |    ((doc_id & 2147483647) * 2654435761) % 1048573, doc_id) - 1
        |    AS shuffle_rank
        |FROM documents""".stripMargin,

    // per-source cap: the plain windowed rendering the Spark histogram
    // selection must equal bit-for-bit, boundary ties included
    "d20_source_cap" ->
      """WITH t AS (SELECT source, doc_id,
        |        CAST(len(string_split(text, ' ')) AS INT) AS n_tokens
        |      FROM documents),
        |r AS (SELECT source, doc_id, n_tokens,
        |        row_number() OVER (PARTITION BY source
        |                           ORDER BY n_tokens DESC, doc_id) AS rk
        |      FROM t)
        |SELECT source, doc_id, n_tokens FROM r WHERE rk <= 10""".stripMargin,

    // token-budget cap: plain windowed-cumsum prefix cut (keep while
    // tokens strictly before < 600 in score desc, id asc order) — the
    // rendering the Spark histogram selection must equal bit-for-bit
    "d28_token_budget" ->
      """WITH q AS (
        |  SELECT source, doc_id,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
        |    CAST(floor((
        |      least(CAST(len(regexp_split_to_array(text, '\s+')) AS DOUBLE) / 100.0, 1.0) * 0.4
        |      + (1.0 - least(length(regexp_replace(text, '[^.,;:!?''"()\[\]{}]', '', 'g'))
        |          / CAST(length(text) AS DOUBLE) * 5, 1.0)) * 0.2
        |      + least(len(list_filter(regexp_split_to_array(lower(text), '\s+'),
        |          x -> x IN ('the','and','of','to','a','in','is','that','it','for')))
        |          / CAST(len(regexp_split_to_array(text, '\s+')) AS DOUBLE) * 4, 1.0) * 0.2
        |      + (1.0 - least(length(regexp_replace(text, '[^0-9]', '', 'g'))
        |          / CAST(length(text) AS DOUBLE) * 5, 1.0)) * 0.2
        |    ) * 10000) AS BIGINT) AS score_e4
        |  FROM documents),
        |c AS (
        |  SELECT source, doc_id, n_tokens, score_e4,
        |    sum(n_tokens) OVER (PARTITION BY source
        |        ORDER BY score_e4 DESC, doc_id
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      - n_tokens AS cum_before
        |  FROM q)
        |SELECT source, doc_id, n_tokens, score_e4
        |FROM c WHERE cum_before < 600""".stripMargin,

    "p33_parse_uri" ->
      """SELECT event_id,
        |  'svc-' || CAST(user_id AS VARCHAR) || '.example.com' AS host,
        |  '/api/v' || CAST(event_id % 3 AS VARCHAR) AS path,
        |  CAST(props->>'$.k' AS BIGINT) AS k
        |FROM events""".stripMargin,

    "p34_parse_csv" ->
      """SELECT event_id,
        |  string_split(line, ',')[1] AS etype,
        |  CAST(string_split(line, ',')[2] AS BIGINT) AS uid,
        |  CAST(string_split(line, ',')[3] AS BIGINT) AS cents
        |FROM (SELECT event_id,
        |        event_type || ',' || CAST(user_id AS VARCHAR) || ','
        |        || CAST(CAST(round(value*100) AS BIGINT) AS VARCHAR) AS line
        |      FROM events)""".stripMargin,

    "p35_syslog_rfc3164" -> {
      val re = "^<(\\d{1,3})>([A-Z][a-z]{2} [ \\d]\\d \\d{2}:\\d{2}:\\d{2}) (\\S+) ([^:\\[ ]+)(?:\\[(\\d+)\\])?: (.*)$"
      s"""SELECT event_id,
         |  CAST(regexp_extract(line, '$re', 1) AS INT) AS priority,
         |  CAST(floor(CAST(regexp_extract(line, '$re', 1) AS INT) / 8) AS INT) AS facility,
         |  CAST(CAST(regexp_extract(line, '$re', 1) AS INT) % 8 AS INT) AS severity,
         |  regexp_extract(line, '$re', 3) AS host,
         |  regexp_extract(line, '$re', 4) AS tag,
         |  regexp_extract(line, '$re', 5) AS pid,
         |  regexp_extract(line, '$re', 6) AS msg
         |FROM (SELECT event_id,
         |        '<' || CAST(event_id % 192 AS VARCHAR) || '>Oct 11 22:14:15 h'
         |        || CAST(user_id AS VARCHAR) || ' app[' || CAST(event_id % 97 AS VARCHAR)
         |        || ']: ' || event_type || ' user=' || CAST(user_id AS VARCHAR) AS line
         |      FROM events)""".stripMargin
    },

    "p36_syslog_rfc5424" -> {
      val re = "^<(\\d{1,3})>(\\d+) (\\S+) (\\S+) (\\S+) (\\S+) (\\S+) " +
        "(-|(?:\\[[^\\]\"]*(?:\"[^\"]*\"[^\\]\"]*)*\\])+)(?: (.*))?$"
      s"""SELECT event_id,
         |  CAST(regexp_extract(line, '$re', 1) AS INT) AS priority,
         |  CAST(floor(CAST(regexp_extract(line, '$re', 1) AS INT) / 8) AS INT) AS facility,
         |  CAST(CAST(regexp_extract(line, '$re', 1) AS INT) % 8 AS INT) AS severity,
         |  CAST(regexp_extract(line, '$re', 2) AS INT) AS version,
         |  regexp_extract(line, '$re', 4) AS host,
         |  regexp_extract(line, '$re', 5) AS app,
         |  regexp_extract(line, '$re', 6) AS pid,
         |  regexp_extract(line, '$re', 7) AS msgid,
         |  regexp_extract(line, '$re', 8) AS sd,
         |  regexp_extract(line, '$re', 9) AS msg
         |FROM (SELECT event_id,
         |        '<' || CAST(event_id % 192 AS VARCHAR) || '>1 2026-01-02T03:04:05Z h'
         |        || CAST(user_id AS VARCHAR) || ' app ' || CAST(event_id % 97 AS VARCHAR)
         |        || ' m' || CAST(event_id % 13 AS VARCHAR) || ' - ' || event_type AS line
         |      FROM events)""".stripMargin
    },

    "p37_trace_scope" ->
      """SELECT event_id,
        |  hex(from_hex(md5(CAST(event_id AS VARCHAR)))) AS trace_hex,
        |  CAST(octet_length(from_hex(md5(CAST(event_id AS VARCHAR)))) AS INT) AS trace_bytes,
        |  hex(from_hex(substr(md5(CAST(event_id AS VARCHAR)), 1, 16))) AS span_hex,
        |  event_type AS scope
        |FROM events""".stripMargin,

    "p38_multiline_recombine" -> withT(
      """SELECT source, min(line_no) AS first_line,
        |  string_agg(line, chr(10) ORDER BY line_no) AS entry
        |FROM g GROUP BY source, grp""".stripMargin,
      Seq("""g AS (
        |  SELECT conv_id AS source, turn_idx AS line_no, text AS line,
        |    sum(CASE WHEN regexp_matches(text, '^(CALL|TRACE|DEBUG|INFO|WARN|ERROR|FATAL) ')
        |             THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY conv_id ORDER BY turn_idx) AS grp
        |  FROM transcripts)""".stripMargin)),

    "p39_parse_xml" ->
      "SELECT event_id, event_type AS t, event_id AS id FROM events",

    "p40_flatten" ->
      "SELECT event_id, CAST(props->>'$.k' AS BIGINT) AS k FROM events",

    "p41_route_string_config" -> withT(
      s"""SELECT CASE
         |  WHEN tool <> '' AND regexp_matches(text, '$P1') THEN 'tool_calls'
         |  WHEN NOT regexp_matches(text, '$P1') AND regexp_matches(text, '$P2')
         |       AND regexp_extract(text, '$P2', 1) IN ('ERROR','FATAL') THEN 'errors'
         |  WHEN role = 'user' THEN 'user_turns'
         |  ELSE 'default' END AS route, count(*) AS n
         |FROM transcripts GROUP BY 1""".stripMargin),

    "p42_expr_template" -> withT(
      """SELECT conv_id, turn_idx,
        |  'turn-' || CAST(turn_idx AS VARCHAR) || ' role=' || upper(role) AS tag
        |FROM transcripts""".stripMargin),

    "p43_count_string_conditions" -> withT(
      s"""SELECT role, count(*) AS n FROM transcripts
         |WHERE regexp_matches(text, '^CALL ') OR role = 'user'
         |GROUP BY 1""".stripMargin),

    "p53_schema_translate" ->
      "SELECT event_id, event_type AS kind, user_id AS actor_id FROM events",

    "p52_ottl_statements" -> withT(
      s"""SELECT conv_id, turn_idx, role,
         |  CASE WHEN role = 'user'
         |       THEN regexp_replace(text, '[0-9]', '#', 'g') ELSE text END AS text
         |FROM (
         |  SELECT conv_id, turn_idx, text,
         |    CASE WHEN NOT regexp_matches(text, '$P1') AND regexp_matches(text, '$P2')
         |              AND regexp_extract(text, '$P2', 1) = 'ERROR'
         |         THEN upper(role) ELSE role END AS role
         |  FROM transcripts)""".stripMargin),

    "p44_severity_http_preset" ->
      """SELECT event_id, CASE
        |  WHEN (100 + event_id % 500) BETWEEN 200 AND 299 THEN 9
        |  WHEN (100 + event_id % 500) BETWEEN 300 AND 399 THEN 13
        |  WHEN (100 + event_id % 500) BETWEEN 400 AND 499 THEN 17
        |  WHEN (100 + event_id % 500) BETWEEN 500 AND 599 THEN 21
        |  ELSE 0 END AS severity_num
        |FROM events""".stripMargin,

    "p45_strptime_time_parse" ->
      """SELECT event_id,
        |  strptime(s, '%Y-%m-%dT%H:%M:%SZ') AS t_strp,
        |  strptime(s, '%Y-%m-%dT%H:%M:%SZ') AS t_go,
        |  to_timestamp(event_id % 100000)::TIMESTAMP AS t_epoch
        |FROM (SELECT event_id,
        |        '2026-01-' || lpad(CAST(event_id % 28 + 1 AS VARCHAR), 2, '0')
        |        || 'T03:04:05Z' AS s
        |      FROM events)""".stripMargin,

    "p46_filter_drop_ratio" ->
      """SELECT event_id, event_type FROM events
        |WHERE NOT (event_type = 'error')
        |   OR COALESCE(((event_id & 2147483647) * 2654435761) % 1000 >= 250, TRUE)""".stripMargin,

    "p47_mt_scale_label_ops" ->
      """SELECT event_id,
        |  CASE WHEN event_type = 'error' THEN 'failure' ELSE event_type END AS etype,
        |  'prod' AS env,
        |  CAST(trunc(CAST(round(value*100) AS BIGINT) * 3.0) AS BIGINT) AS v
        |FROM events WHERE event_type <> 'view'""".stripMargin,

    "p48_mt_aggregate_label_values" ->
      """SELECT CASE WHEN event_type IN ('error','purchase') THEN 'merged'
        |       ELSE event_type END AS event_type,
        |  CAST(sum(CAST(round(value*100) AS BIGINT)) AS BIGINT) AS v
        |FROM events GROUP BY 1""".stripMargin,

    "d08_simhash_signatures" ->
      """SELECT CAST(v.doc_id AS BIGINT) AS doc_id,
        |  CAST(v.simhash AS BIGINT) AS simhash
        |FROM (VALUES
        |  (1, -7573889167326994222), (2, -7573326217371541038),
        |  (3, 2495353224988115078), (4, 2785836663959376534),
        |  (5, 8505537570372634279), (6, -7444071767201028348))
        |  v(doc_id, simhash)""".stripMargin,

    "p50_spanmetrics_exemplars" -> withT(
      s"""SELECT a.tool, a.calls, a.sum_dur,
         |  CAST(r.rn - 1 AS INT) AS rank, r.dur_ms AS ex_value,
         |  r.span_id AS ex_span_id
         |FROM agg a JOIN ranked r ON a.tool = r.tool
         |WHERE r.rn <= 3""".stripMargin,
      Seq(
        s"""spans AS (
           |  SELECT regexp_extract(text, '$P1', 1) AS tool,
           |    CAST(regexp_extract(text, '$P1', 3) AS BIGINT) AS dur_ms,
           |    conv_id || '#' || CAST(turn_idx AS VARCHAR) AS span_id
           |  FROM transcripts WHERE regexp_matches(text, '$P1'))""".stripMargin,
        """agg AS (
          |  SELECT tool, count(*) AS calls,
          |    CAST(sum(dur_ms) AS BIGINT) AS sum_dur
          |  FROM spans GROUP BY 1)""".stripMargin,
        """ranked AS (
          |  SELECT tool, dur_ms, span_id,
          |    row_number() OVER (PARTITION BY tool ORDER BY dur_ms DESC, span_id DESC) AS rn
          |  FROM spans)""".stripMargin)),

    "p51_spanmetrics_expiration" ->
      """WITH g AS (SELECT user_id AS grp, ts FROM events),
        |last AS (SELECT grp, max(ts) AS last_seen FROM g GROUP BY 1),
        |now AS (SELECT max(ts) AS n FROM g)
        |SELECT g.grp, count(*) AS n
        |FROM g JOIN last ON g.grp IS NOT DISTINCT FROM last.grp, now
        |WHERE last.last_seen >= now.n - INTERVAL 1 DAY
        |GROUP BY 1""".stripMargin,

    "m02_multimodal_metastats" ->
      """SELECT modality, count(*) AS n, avg(width) AS avg_width,
        |  avg(dur_ms) AS avg_dur_ms
        |FROM (SELECT
        |        CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
        |             ELSE 'video' END AS modality,
        |        (doc_id*37) % 1920 + 1 AS width,
        |        (doc_id*97) % 60000 + 1 AS dur_ms
        |      FROM documents)
        |GROUP BY 1""".stripMargin,

    "m04_blob_dedup" ->
      """SELECT md5(text) AS content_md5, min(doc_id) AS keep_id,
        |  count(*) AS n_dups
        |FROM documents GROUP BY 1""".stripMargin,

    "m03_multimodal_meta" ->
      """SELECT doc_id AS media_id,
        |  CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
        |       ELSE 'video' END AS modality,
        |  CAST(octet_length(CAST(text AS BLOB)) AS INT) AS n_bytes,
        |  CAST((doc_id*37) % 1920 + 1 AS INT) AS width,
        |  CAST((doc_id*59) % 1080 + 1 AS INT) AS height,
        |  CAST((doc_id*97) % 60000 + 1 AS INT) AS dur_ms
        |FROM documents""".stripMargin,

    "p49_redaction_audit" ->
      """SELECT event_id,
        |  CAST(user_id AS VARCHAR) AS user,
        |  '****' AS card,
        |  event_type AS note,
        |  md5(CAST(event_id AS VARCHAR)) AS trace,
        |  CAST(NULL AS VARCHAR) AS dropped,
        |  'drop_me' AS redacted_keys,
        |  '1' AS redacted_count,
        |  'card' AS masked_keys,
        |  '1' AS masked_count,
        |  '1' AS ignored_count
        |FROM events""".stripMargin,

    "e04_embedding_neardup" ->
      """SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |  CAST(floor(10000 * list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) /
        |    (sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[]))
        |     * sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[])))) AS BIGINT) AS cos_e4
        |FROM embeddings a, embeddings b
        |WHERE a.vec_id < b.vec_id
        |  AND list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) /
        |    (sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[]))
        |     * sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[]))) >= 0.4""".stripMargin,

    // SemDeDup: the e03 cell-assignment CTE, centroid sims and pair sims
    // floored to integers (1e6·(quotient) / 1e4·(quotient) — parenthesized
    // to mirror Spark's multiply-after-divide order), delete pick and
    // threshold both integer-decided
    "e13_semdedup" ->
      """WITH cent AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell,
        |                embedding::DOUBLE[] AS c
        |         FROM (SELECT vec_id, embedding FROM embeddings
        |               WHERE vec_id % 37 = 1 ORDER BY vec_id LIMIT 16)),
        |assign AS (SELECT vec_id, cell,
        |             row_number() OVER (PARTITION BY vec_id
        |                                ORDER BY sim DESC, cell DESC) AS rn
        |           FROM (SELECT e.vec_id, cent.cell,
        |                   list_dot_product(e.embedding::DOUBLE[], cent.c) /
        |                     (sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))
        |                      * sqrt(list_dot_product(cent.c, cent.c))) AS sim
        |                 FROM embeddings e, cent)),
        |v AS (SELECT e.vec_id AS id, a.cell, e.embedding::DOUBLE[] AS ev,
        |        CAST(floor(1000000 *
        |          (list_dot_product(e.embedding::DOUBLE[], cent.c) /
        |            (sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))
        |             * sqrt(list_dot_product(cent.c, cent.c))))) AS BIGINT) AS cent_e6
        |      FROM embeddings e
        |      JOIN assign a ON e.vec_id = a.vec_id AND a.rn = 1
        |      JOIN cent ON a.cell = cent.cell),
        |pairs AS (SELECT x.cell, x.id AS id_a, y.id AS id_b,
        |            x.cent_e6 AS ca, y.cent_e6 AS cb
        |          FROM v x JOIN v y ON x.cell = y.cell AND x.id < y.id
        |          WHERE CAST(floor(10000 *
        |            (list_dot_product(x.ev, y.ev) /
        |              (sqrt(list_dot_product(x.ev, x.ev))
        |               * sqrt(list_dot_product(y.ev, y.ev))))) AS BIGINT) > 3999)
        |SELECT CASE WHEN ca > cb THEN id_a WHEN cb > ca THEN id_b
        |            ELSE greatest(id_a, id_b) END AS delete_id,
        |  CAST(cell AS INT) AS cell, count(*) AS n_lost_pairs
        |FROM pairs GROUP BY 1, 2""".stripMargin,

    // IVF cell stats: the e03/e13 cell-assignment CTE + integer aggs;
    // avg is floor division rendered explicitly (subtract the math mod
    // before `//`) — DuckDB's `//` TRUNCATES toward zero on negative
    // sums (e21 measured it) while the Spark side floors via
    // (s − pmod(s, n)) div n; cell sums are positive on this corpus
    // (vectors sit near their own centroid) but a pathological cell
    // would sum negative, and the oracle shouldn't be data-pinned
    "e15_ivf_cell_stats" ->
      """WITH cent AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell,
        |                embedding::DOUBLE[] AS c
        |         FROM (SELECT vec_id, embedding FROM embeddings
        |               WHERE vec_id % 37 = 1 ORDER BY vec_id LIMIT 16)),
        |assign AS (SELECT vec_id, cell,
        |             row_number() OVER (PARTITION BY vec_id
        |                                ORDER BY sim DESC, cell DESC) AS rn
        |           FROM (SELECT e.vec_id, cent.cell,
        |                   list_dot_product(e.embedding::DOUBLE[], cent.c) /
        |                     (sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))
        |                      * sqrt(list_dot_product(cent.c, cent.c))) AS sim
        |                 FROM embeddings e, cent)),
        |v AS (SELECT a.cell,
        |        CAST(floor(1000000 *
        |          (list_dot_product(e.embedding::DOUBLE[], cent.c) /
        |            (sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))
        |             * sqrt(list_dot_product(cent.c, cent.c))))) AS BIGINT) AS cent_e6
        |      FROM embeddings e
        |      JOIN assign a ON e.vec_id = a.vec_id AND a.rn = 1
        |      JOIN cent ON a.cell = cent.cell)
        |SELECT CAST(cell AS INT) AS cell, count(*) AS n_vecs,
        |  CAST((sum(cent_e6) - ((sum(cent_e6) % count(*)) + count(*)) % count(*))
        |       // count(*) AS BIGINT) AS avg_cent_e6,
        |  min(cent_e6) AS min_cent_e6, max(cent_e6) AS max_cent_e6
        |FROM v GROUP BY cell""".stripMargin,

    "e05_knn_join" ->
      """WITH p AS (
        |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |    list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) /
        |      (sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[]))
        |       * sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[]))) AS c
        |  FROM embeddings a, embeddings b
        |  WHERE a.vec_id <> b.vec_id),
        |r AS (SELECT id_a, id_b, c,
        |        row_number() OVER (PARTITION BY id_a ORDER BY c DESC, id_b) AS rk
        |      FROM p)
        |SELECT id_a, id_b, CAST(rk AS INT) AS rk,
        |  CAST(floor(10000 * c) AS BIGINT) AS cos_e4
        |FROM r WHERE rk <= 3""".stripMargin,

    // LSH k-NN join: per-vector probe ball (own bucket + hamming-1 over
    // the same literal planes as e02), candidate equi-join on bucket,
    // exact cosine rerank top-3 (ties: cosine desc, id_b asc). A probe
    // ball has distinct values, so a pair matches at most one probe.
    "e06_knn_join_lsh" ->
      s"""WITH planes(i, p) AS (VALUES
         |$lshPlanesValues),
         |b AS (SELECT e.vec_id,
         |        CAST(sum(CASE WHEN list_dot_product(e.embedding::DOUBLE[], planes.p) >= 0
         |                      THEN 1 << planes.i ELSE 0 END) AS BIGINT) AS bucket
         |      FROM embeddings e, planes GROUP BY e.vec_id),
         |probes AS (SELECT vec_id, bucket AS pb FROM b
         |           UNION ALL
         |           SELECT b.vec_id, xor(b.bucket, CAST(1 << t.i AS BIGINT))
         |           FROM b, range(8) t(i)),
         |cand AS (SELECT pa.vec_id AS id_a, bb.vec_id AS id_b,
         |           list_dot_product(ea.embedding::DOUBLE[], eb.embedding::DOUBLE[]) /
         |             (sqrt(list_dot_product(ea.embedding::DOUBLE[], ea.embedding::DOUBLE[]))
         |              * sqrt(list_dot_product(eb.embedding::DOUBLE[], eb.embedding::DOUBLE[]))) AS c
         |         FROM probes pa
         |         JOIN b bb ON bb.bucket = pa.pb AND bb.vec_id <> pa.vec_id
         |         JOIN embeddings ea ON ea.vec_id = pa.vec_id
         |         JOIN embeddings eb ON eb.vec_id = bb.vec_id),
         |r AS (SELECT id_a, id_b, c,
         |        row_number() OVER (PARTITION BY id_a ORDER BY c DESC, id_b) AS rk
         |      FROM cand)
         |SELECT id_a, id_b, CAST(rk AS INT) AS rk,
         |  CAST(floor(10000 * c) AS BIGINT) AS cos_e4
         |FROM r WHERE rk <= 3""".stripMargin,

    // embedding dedup groups: recompute the 6-bit buckets from literal
    // planes (so the pair set IS the LSH candidate set — no recall
    // assumption), verify at cosine >= 0.4, then close over the pairs
    // with the d11 recursive component CTE.
    "e07_embedding_dedup_groups" ->
      s"""WITH RECURSIVE planes(i, p) AS (VALUES
         |${lshPlanesValuesFor(6)}),
         |b AS (SELECT e.vec_id,
         |        CAST(sum(CASE WHEN list_dot_product(e.embedding::DOUBLE[], planes.p) >= 0
         |                      THEN 1 << planes.i ELSE 0 END) AS BIGINT) AS bucket
         |      FROM embeddings e, planes GROUP BY e.vec_id),
         |pr AS (SELECT ba.vec_id AS id_a, bb.vec_id AS id_b
         |       FROM b ba
         |       JOIN b bb ON bb.bucket = ba.bucket AND ba.vec_id < bb.vec_id
         |       JOIN embeddings ea ON ea.vec_id = ba.vec_id
         |       JOIN embeddings eb ON eb.vec_id = bb.vec_id
         |       WHERE list_dot_product(ea.embedding::DOUBLE[], eb.embedding::DOUBLE[]) /
         |         (sqrt(list_dot_product(ea.embedding::DOUBLE[], ea.embedding::DOUBLE[]))
         |          * sqrt(list_dot_product(eb.embedding::DOUBLE[], eb.embedding::DOUBLE[]))) >= 0.4),
         |e AS (SELECT id_a AS src, id_b AS dst FROM pr
         |      UNION SELECT id_b, id_a FROM pr),
         |r(n, m) AS (
         |  SELECT src, src FROM e
         |  UNION
         |  SELECT e.src, r.m FROM e JOIN r ON e.dst = r.n
         |),
         |g AS (SELECT n AS vec_id, min(m) AS group_id FROM r GROUP BY n)
         |SELECT g.vec_id, g.group_id, c.n_members
         |FROM g JOIN (SELECT group_id, count(*) AS n_members
         |             FROM g GROUP BY 1) c USING (group_id)""".stripMargin,

    "e01_ann_bruteforce" -> e01BruteSql,

    // LSH ANN: hyperplanes are plan-time constants rendered as literals;
    // bucket(v) = Σ 2^i [plane_i·v ≥ 0]; probe set = query bucket plus
    // all hamming-1 neighbours; exact rerank of the candidates.
    "e02_ann_lsh" -> e02LshSql,

    // RRF fusion of the e01/e02 lists: ranks replay on (cos_e4 desc,
    // vec_id), contributions are DuckDB integer division — the whole
    // fused ordering is exact integer arithmetic end to end
    "e14_rrf_fusion" ->
      s"""WITH brute AS ($e01BruteSql),
         |lshres AS ($e02LshSql),
         |rb AS (SELECT vec_id, row_number() OVER
         |         (ORDER BY cos_e4 DESC, vec_id) AS r FROM brute),
         |rl AS (SELECT vec_id, row_number() OVER
         |         (ORDER BY cos_e4 DESC, vec_id) AS r FROM lshres),
         |u AS (SELECT vec_id, 1000000 // (60 + r) AS contrib FROM rb
         |      UNION ALL
         |      SELECT vec_id, 1000000 // (60 + r) AS contrib FROM rl)
         |SELECT vec_id, count(*) AS n_lists,
         |  CAST(sum(contrib) AS BIGINT) AS rrf_e6
         |FROM u GROUP BY vec_id
         |ORDER BY rrf_e6 DESC, vec_id LIMIT 10""".stripMargin,

    // recall@10 of the LSH path vs brute ground truth: composes the two
    // oracle derivations above verbatim as CTEs, so the recall number is
    // judged against fully independent SQL renderings of both sides
    "e08_ann_recall" ->
      s"""WITH brute AS ($e01BruteSql),
         |lshres AS ($e02LshSql)
         |SELECT CAST(10 AS BIGINT) AS k, count(*) AS n_hits,
         |  CAST(floor(count(*) * 10000 / greatest(1, least(10,
         |    (SELECT count(DISTINCT vec_id) FROM brute)))) AS BIGINT) AS recall_e4
         |FROM (SELECT DISTINCT vec_id FROM lshres) l
         |JOIN (SELECT DISTINCT vec_id FROM brute) b USING (vec_id)""".stripMargin,

    // IVF ANN: centroids = embeddings with vec_id % 37 = 1 ordered by
    // vec_id (first 16) — cell assignment ties break to the larger cell
    // (Spark `greatest` over struct(sim, cell)), probe ties to the
    // SMALLER cell (stable sortBy on the driver).
    "e03_ann_ivf" -> e03IvfSql,
    "e10_ann_pq" -> e10PqSql,
    "e12_ann_ivfpq" -> e12IvfPqSql,

    // recall@10 of the IVF cell-probe path vs brute ground truth — the
    // second point on the recall/scan-reduction trade curve (e08 prices
    // the LSH path); both sides composed verbatim from the vals above
    "e09_ann_recall_ivf" ->
      s"""WITH brute AS ($e01BruteSql),
         |ivfres AS ($e03IvfSql)
         |SELECT CAST(10 AS BIGINT) AS k, count(*) AS n_hits,
         |  CAST(floor(count(*) * 10000 / greatest(1, least(10,
         |    (SELECT count(DISTINCT vec_id) FROM brute)))) AS BIGINT) AS recall_e4
         |FROM (SELECT DISTINCT vec_id FROM ivfres) i
         |JOIN (SELECT DISTINCT vec_id FROM brute) b USING (vec_id)""".stripMargin,

    // recall@10 of the PQ path vs exact-L2 ground truth (same
    // quantization — isolates codebook loss); both sides composed
    // verbatim from the generators above
    "e11_ann_recall_pq" ->
      s"""WITH gt AS ($e11L2Sql),
         |pqres AS ($e10PqSql)
         |SELECT CAST(10 AS BIGINT) AS k, count(*) AS n_hits,
         |  CAST(floor(count(*) * 10000 / greatest(1, least(10,
         |    (SELECT count(DISTINCT vec_id) FROM gt)))) AS BIGINT) AS recall_e4
         |FROM (SELECT DISTINCT vec_id FROM pqres) p
         |JOIN (SELECT DISTINCT vec_id FROM gt) b USING (vec_id)""".stripMargin,

    // SQ8 ANN: mn/mx recomputed from the data, quantize expression and
    // integer distance replayed verbatim — see e16SqSql
    "e16_ann_sq" -> e16SqSql,

    // recall@10 of the SQ8 path vs the e11 exact-L2 ground truth —
    // the fourth point on the recall/scan trade curve
    "e17_ann_recall_sq" ->
      s"""WITH gt AS ($e11L2Sql),
         |sqres AS ($e16SqSql)
         |SELECT CAST(10 AS BIGINT) AS k, count(*) AS n_hits,
         |  CAST(floor(count(*) * 10000 / greatest(1, least(10,
         |    (SELECT count(DISTINCT vec_id) FROM gt)))) AS BIGINT) AS recall_e4
         |FROM (SELECT DISTINCT vec_id FROM sqres) s
         |JOIN (SELECT DISTINCT vec_id FROM gt) b USING (vec_id)""".stripMargin,

    "p55_span_rename" -> withT(
      s"""SELECT conv_id, turn_idx,
         |  '/tool/{toolx}/call/{durx}' AS new_name,
         |  regexp_extract(text, '$P1', 1) AS toolx,
         |  CAST(regexp_extract(text, '$P1', 3) AS BIGINT) AS durx,
         |  'graft::' || regexp_extract(text, '$P1', 1) AS from_attr_name,
         |  '/tool/' || regexp_extract(text, '$P1', 1) || '/call/'
         |    || regexp_extract(text, '$P1', 3) AS untouched_name
         |FROM transcripts WHERE regexp_matches(text, '$P1')""".stripMargin),

    "p56_servicegraph_ttl" -> withT(
      """SELECT COALESCE(c.client_service, 'user') AS client_service,
        |  COALESCE(s.server_service, 'unknown') AS server_service,
        |  CASE WHEN c.client_ts IS NOT NULL AND s.server_ts IS NOT NULL
        |         THEN 'complete'
        |       WHEN s.server_ts IS NULL THEN 'expired_no_server'
        |       ELSE 'expired_no_client' END AS connection_type,
        |  count(*) AS n_edges,
        |  CAST(SUM(CASE WHEN COALESCE(c.client_failed, FALSE)
        |             OR COALESCE(s.server_failed, FALSE)
        |           THEN 1 ELSE 0 END) AS BIGINT) AS n_failed
        |FROM (SELECT conv_id, CAST(turn_idx AS BIGINT) AS corr_id,
        |        role AS client_service, FALSE AS client_failed,
        |        CAST(ts AS TIMESTAMP) AS client_ts
        |      FROM transcripts WHERE tool <> '') c
        |FULL OUTER JOIN
        |     (SELECT conv_id, CAST(turn_idx - 1 AS BIGINT) AS corr_id,
        |        role AS server_service, (text LIKE 'ERROR%') AS server_failed,
        |        CAST(ts AS TIMESTAMP) AS server_ts
        |      FROM transcripts WHERE turn_idx > 0) s
        |  ON c.conv_id = s.conv_id AND c.corr_id = s.corr_id
        |     AND s.server_ts >= c.client_ts
        |     AND s.server_ts <= c.client_ts + INTERVAL 5 MINUTE
        |GROUP BY 1, 2, 3""".stripMargin),

    "p57_turn_repetition" -> withT(
      """SELECT conv_id, n_turns, n_distinct, dup_turn_frac_e4,
        |  dup_turn_frac_e4 > 3000 AS loopy
        |FROM (
        |  SELECT conv_id, count(*) AS n_turns,
        |    count(DISTINCT text) AS n_distinct,
        |    CAST(floor(((count(*) - count(DISTINCT text)) / count(*)) * 10000)
        |      AS BIGINT) AS dup_turn_frac_e4
        |  FROM transcripts GROUP BY conv_id)""".stripMargin),

    // gaps-and-islands rendering of session_window: a new island starts
    // when the inter-arrival gap is STRICTLY > 120 min (Spark merges
    // while next_ts <= prev_ts + gap, inclusive), session_end = last
    // ts + gap
    "p58_sessionize" ->
      """WITH o AS (
        |  SELECT user_id, ts, event_type,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |           OR ts - lag(ts) OVER w > INTERVAL 120 MINUTE
        |         THEN 1 ELSE 0 END AS new_s
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
        |i AS (
        |  SELECT *, SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
        |    ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM o)
        |SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
        |  CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_errors,
        |  min(ts) AS session_start,
        |  max(ts) + INTERVAL 120 MINUTE AS session_end
        |FROM i GROUP BY user_id, sid""".stripMargin,

    "p59_latency_summary" -> withT(
      s"""SELECT tool, CAST(max(n) AS BIGINT) AS calls,
         |  min(CASE WHEN cum >= (50*n + 99)//100 THEN dur_ms END) AS p50_dur_ms,
         |  min(CASE WHEN cum >= (95*n + 99)//100 THEN dur_ms END) AS p95_dur_ms,
         |  min(CASE WHEN cum >= (99*n + 99)//100 THEN dur_ms END) AS p99_dur_ms,
         |  max(dur_ms) AS max_dur_ms
         |FROM cum GROUP BY tool""".stripMargin,
      Seq(
        s"""d AS (
           |  SELECT tool, CAST(regexp_extract(text, '$P1', 3) AS BIGINT) AS dur_ms
           |  FROM transcripts
           |  WHERE regexp_matches(text, '$P1')
           |    AND CAST(regexp_extract(text, '$P1', 3) AS BIGINT) > 0)""".stripMargin,
        """h AS (SELECT tool, dur_ms, count(*) AS c FROM d GROUP BY 1, 2)""",
        """cum AS (
          |  SELECT tool, dur_ms,
          |    SUM(c) OVER (PARTITION BY tool ORDER BY dur_ms
          |      ROWS UNBOUNDED PRECEDING) AS cum,
          |    SUM(c) OVER (PARTITION BY tool) AS n
          |  FROM h)""".stripMargin)),

    "p54_ottl_duration_unix" ->
      """SELECT event_id,
        |  ((event_id%5)*3600 + (event_id%60)*60 + (event_id%60)) / 3600.0 AS dur_hours,
        |  CAST(((event_id%5)*3600 + (event_id%60)*60 + (event_id%60)) * 1000 AS BIGINT) AS dur_ms,
        |  CAST(((event_id%5)*3600 + (event_id%60)*60 + (event_id%60)) * 1000000000 AS BIGINT) AS dur_ns,
        |  epoch_us(CAST(ts AS TIMESTAMP)) * 1000 AS ts_nanos,
        |  date_trunc('second', CAST(ts AS TIMESTAMP)) AS ts_trunc_s
        |FROM events""".stripMargin,

    // Stub decode features: base-31 mod 2^31−1 rolling hash over the
    // blob bytes (pure-ASCII corpus ⇒ byte fold ≡ the d06 char fold),
    // f0 = ((h·100003) mod 1000)/1000 as REAL (same double→float
    // rounding path as the Scala stub).
    "m01_multimodal_decode" ->
      """SELECT doc_id AS media_id,
        |  CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
        |       ELSE 'video' END AS modality,
        |  CAST(octet_length(CAST(text AS BLOB)) AS INT) AS n_bytes,
        |  CAST((h * 100003) % 1000 / 1000.0 AS REAL) AS f0
        |FROM (SELECT doc_id, text,
        |        list_reduce(
        |          [CAST(0 AS BIGINT)] || list_transform(string_split(text, ''),
        |            c -> CAST(ascii(c) AS BIGINT)),
        |          (acc, x) -> (acc*31 + x) % 2147483647) AS h
        |      FROM documents)""".stripMargin,

    // whole-conversation rendering under ORDER BY turn_idx — one hash
    // compares every turn's text AND its position
    "d36_chat_render" -> withT(
      """SELECT conv_id,
        |  string_agg('<|' || role || '|>' || text, chr(10) ORDER BY turn_idx)
        |    AS rendered,
        |  CAST(count(*) AS INT) AS n_turns
        |FROM transcripts GROUP BY conv_id""".stripMargin),

    // integer prefix sums over (conv_id, turn_idx) — bitwise-exact;
    // +4 = the <| |> sigils, +1 = the newline separator
    "d37_loss_mask_spans" -> withT(
      """SELECT conv_id, turn_idx, start_off,
        |  start_off + turn_len AS end_off
        |FROM (
        |  SELECT conv_id, turn_idx, role,
        |    length(role) + length(text) + 4 AS turn_len,
        |    CAST(coalesce(sum(length(role) + length(text) + 5) OVER (
        |      PARTITION BY conv_id ORDER BY turn_idx
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS BIGINT) AS start_off
        |  FROM transcripts)
        |WHERE role = 'assistant'""".stripMargin),

    "p60_repeated_responses" -> withT(
      """SELECT role, text, count(*) AS n_uses,
        |  count(DISTINCT conv_id) AS n_convs
        |FROM transcripts
        |GROUP BY role, text HAVING count(*) >= 2""".stripMargin),

    // recall@10 of the 16-dim prefix pass vs the full-dim brute ground
    // truth — same wrapper as e08/e09/e11/e17
    "e18_ann_recall_mrl" ->
      s"""WITH brute AS ($e01BruteSql),
         |mrlres AS ($e18MrlSql)
         |SELECT CAST(10 AS BIGINT) AS k, count(*) AS n_hits,
         |  CAST(floor(count(*) * 10000 / greatest(1, least(10,
         |    (SELECT count(DISTINCT vec_id) FROM brute)))) AS BIGINT) AS recall_e4
         |FROM (SELECT DISTINCT vec_id FROM mrlres) m
         |JOIN (SELECT DISTINCT vec_id FROM brute) b USING (vec_id)""".stripMargin,

    // two-stage retrieval: e10's PQ oracle cut at k'=50 feeds an exact
    // integer-quantized L2 re-rank (e11's metric) over just those rows
    "e19_ann_pq_rerank" -> e19RerankSql,

    // recall@10 of the two-stage path vs the e11 exact-L2 ground truth
    // — the recall-recovery point on the trade curve (≥ e11's raw-PQ@10
    // by construction: the re-rank is exact over the shortlist)
    "e20_ann_recall_rerank" ->
      s"""WITH gt AS ($e11L2Sql),
         |rr AS ($e19RerankSql)
         |SELECT CAST(10 AS BIGINT) AS k, count(*) AS n_hits,
         |  CAST(floor(count(*) * 10000 / greatest(1, least(10,
         |    (SELECT count(DISTINCT vec_id) FROM gt)))) AS BIGINT) AS recall_e4
         |FROM (SELECT DISTINCT vec_id FROM rr) p
         |JOIN (SELECT DISTINCT vec_id FROM gt) b USING (vec_id)""".stripMargin,

    // one Lloyd step: e03/e15's seeded assignment (same cosine + cell
    // DESC tie-break), then per-(cell, dim) means over components
    // floored to e6 integers. Mean renders the FLOOR division
    // explicitly — subtract the mathematical mod ((s%n)+n)%n before
    // dividing — because DuckDB's `//` truncates toward zero on
    // negative sums (measured: -1653931/30 → -55131 floor vs -55130
    // trunc) while the Spark side's (s − pmod(s,n)) div n floors;
    // components go negative, so the sums do too
    "e21_kmeans_step" ->
      """WITH cent AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell,
        |                embedding::DOUBLE[] AS c
        |         FROM (SELECT vec_id, embedding FROM embeddings
        |               WHERE vec_id % 37 = 1 ORDER BY vec_id LIMIT 16)),
        |assign AS (SELECT vec_id, cell,
        |             row_number() OVER (PARTITION BY vec_id
        |                                ORDER BY sim DESC, cell DESC) AS rn
        |           FROM (SELECT e.vec_id, cent.cell,
        |                   list_dot_product(e.embedding::DOUBLE[], cent.c) /
        |                     (sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))
        |                      * sqrt(list_dot_product(cent.c, cent.c))) AS sim
        |                 FROM embeddings e, cent)),
        |x AS (SELECT a.cell, d.jj - 1 AS j,
        |        CAST(floor(1000000 * (e.embedding::DOUBLE[])[CAST(d.jj AS INT)])
        |             AS BIGINT) AS x_e6
        |      FROM embeddings e
        |      JOIN assign a ON e.vec_id = a.vec_id AND a.rn = 1,
        |      unnest(generate_series(1, 64)) AS d(jj)
        |      WHERE e.embedding IS NOT NULL)
        |SELECT CAST(cell AS INT) AS cell, CAST(j AS INT) AS j,
        |  count(*) AS n_vecs,
        |  CAST((sum(x_e6) - ((sum(x_e6) % count(*)) + count(*)) % count(*))
        |       // count(*) AS BIGINT) AS mean_e6
        |FROM x GROUP BY cell, j""".stripMargin,

    // chosen = longest response (ties: smallest text/conv/idx), rejected
    // = shortest (ties: largest) — rendered as two row_number windows
    // over the same total order the Spark min/max struct aggregates use
    "d38_preference_pairs" -> withT(
      """SELECT n.prompt, best.resp AS chosen, worst.resp AS rejected, n_cands
        |FROM n
        |JOIN best ON best.prompt = n.prompt AND best.rk = 1
        |JOIN worst ON worst.prompt = n.prompt AND worst.rk = 1
        |WHERE n_cands >= 2""".stripMargin,
      extra = Seq(
        """pr AS (
          |  SELECT conv_id, turn_idx, role, text,
          |    lag(text) OVER w AS prompt, lag(role) OVER w AS prev_role
          |  FROM transcripts
          |  WINDOW w AS (PARTITION BY conv_id ORDER BY turn_idx))""".stripMargin,
        """c AS (
          |  SELECT prompt, text AS resp, conv_id, turn_idx,
          |    CAST(length(text) AS BIGINT) AS len
          |  FROM pr
          |  WHERE role = 'assistant' AND prev_role = 'user'
          |    AND prompt IS NOT NULL AND text IS NOT NULL)""".stripMargin,
        """best AS (
          |  SELECT prompt, resp, row_number() OVER (PARTITION BY prompt
          |    ORDER BY len DESC, resp, conv_id, turn_idx) AS rk FROM c)""".stripMargin,
        """worst AS (
          |  SELECT prompt, resp, row_number() OVER (PARTITION BY prompt
          |    ORDER BY len ASC, resp DESC, conv_id DESC, turn_idx DESC) AS rk
          |  FROM c)""".stripMargin,
        """n AS (SELECT prompt, count(DISTINCT resp) AS n_cands
          |      FROM c GROUP BY prompt)""".stripMargin)),

    // unnest(generate_series) mirrors the Spark explode(sequence(..));
    // (greatest(len,1)-1)//60 = last chunk index, integer-exact
    "d39_chunk_overlap" ->
      """SELECT doc_id, CAST(u.i AS BIGINT) AS chunk_idx,
        |  CAST(u.i * 60 AS BIGINT) AS start_off,
        |  substring(text, CAST(u.i * 60 + 1 AS INT), 80) AS chunk_text
        |FROM documents,
        |  unnest(generate_series(0, (greatest(length(text), 1) - 1) // 60))
        |    AS u(i)
        |WHERE text IS NOT NULL""".stripMargin,

    "d40_fim_render" ->
      """SELECT doc_id,
        |  length(text) // 3 AS mid_start,
        |  (length(text) * 2) // 3 AS mid_end,
        |  '<PRE>' || substring(text, 1, CAST(length(text) // 3 AS INT))
        |  || '<SUF>' || substring(text,
        |       CAST((length(text) * 2) // 3 + 1 AS INT),
        |       CAST(length(text) - (length(text) * 2) // 3 AS INT))
        |  || '<MID>' || substring(text,
        |       CAST(length(text) // 3 + 1 AS INT),
        |       CAST((length(text) * 2) // 3 - length(text) // 3 AS INT))
        |  AS fim_text
        |FROM documents WHERE text IS NOT NULL""".stripMargin,

    // bucket = floor(log2(len))+1 via base-2 digit count — no float log
    "p61_context_length_hist" -> withT(
      """SELECT CAST(length(to_base(len, 2)) AS INT) AS len_bucket,
        |  count(*) AS n_convs, min(len) AS min_len, max(len) AS max_len
        |FROM r GROUP BY 1""".stripMargin,
      extra = Seq(
        """r AS (
          |  SELECT conv_id, CAST(length(string_agg(
          |    '<|' || role || '|>' || text, chr(10) ORDER BY turn_idx))
          |    AS BIGINT) AS len
          |  FROM transcripts GROUP BY conv_id)""".stripMargin)),

    // same normalization chain as d12/d34; schedule arithmetic is pure
    // integer (least + floor-div-free products)
    "d41_dup_aware_epochs" ->
      """WITH l AS (SELECT doc_id,
        |    trim(regexp_replace(regexp_replace(lower(text),
        |      '[^a-z0-9\s]', ' ', 'g'), '\s+', ' ', 'g')) AS norm_text
        |  FROM documents WHERE text IS NOT NULL),
        |g AS (SELECT norm_text, min(doc_id) AS survivor_id,
        |        count(*) AS n_members
        |      FROM l GROUP BY norm_text)
        |SELECT survivor_id, n_members,
        |  least(n_members, 4) AS n_copies,
        |  CAST(len(string_split(norm_text, ' ')) AS BIGINT)
        |    * least(n_members, 4) AS sched_tokens
        |FROM g""".stripMargin,

    // DuckDB sum(BIGINT) widens to HUGEINT — cast back so dtypes match
    // Spark's int64; every division is // with the divisor floored at 1
    "d42_mixture_weights" ->
      """WITH g AS (SELECT lang, source, count(*) AS n_docs,
        |    CAST(sum(len(regexp_split_to_array(text, '\s+'))) AS BIGINT)
        |      AS n_tokens
        |  FROM documents WHERE text IS NOT NULL GROUP BY lang, source),
        |t AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS total,
        |        count(*) AS n_groups FROM g)
        |SELECT lang, source, n_docs, n_tokens,
        |  (n_tokens * 10000) // total AS share_e4,
        |  ((10000 // n_groups) * 10000)
        |    // greatest((n_tokens * 10000) // total, 1) AS weight_e4
        |FROM g, t""".stripMargin,

    "p62_supervision_density" -> withT(
      """SELECT conv_id, count(*) AS n_turns,
        |  CAST(sum(CASE WHEN role = 'assistant'
        |    THEN len(regexp_split_to_array(text, '\s+')) ELSE 0 END)
        |    AS BIGINT) AS mask_tokens,
        |  CAST(sum(len(regexp_split_to_array(text, '\s+'))) AS BIGINT)
        |    AS total_tokens,
        |  (CAST(sum(CASE WHEN role = 'assistant'
        |     THEN len(regexp_split_to_array(text, '\s+')) ELSE 0 END)
        |     AS BIGINT) * 10000)
        |    // greatest(CAST(sum(len(regexp_split_to_array(text, '\s+')))
        |      AS BIGINT), 1) AS density_e4
        |FROM transcripts GROUP BY conv_id""".stripMargin),

    // the media synth is integer-derived from documents (m03's CTE), so
    // the oracle reproduces modality inline; splice point = n div 2
    "m05_interleaved_render" ->
      """SELECT doc_id,
        |  CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
        |       ELSE 'video' END AS modality,
        |  length(text) // 2 AS insert_off,
        |  substring(text, 1, CAST(length(text) // 2 AS INT))
        |  || '<|' || (CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
        |       ELSE 'video' END) || ':' || CAST(doc_id AS VARCHAR) || '|>'
        |  || substring(text, CAST(length(text) // 2 + 1 AS INT),
        |       CAST(length(text) - length(text) // 2 AS INT)) AS seq_text
        |FROM documents WHERE text IS NOT NULL""".stripMargin,

    "d43_frequent_ngrams" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS toks
        |  FROM documents
        |  WHERE text IS NOT NULL AND len(string_split(text, ' ')) >= 2),
        |g AS (SELECT doc_id,
        |    array_to_string(toks[t.i : t.i + 1], ' ') AS gram
        |  FROM w, unnest(generate_series(1, len(toks) - 1)) AS t(i))
        |SELECT gram, count(DISTINCT doc_id) AS n_docs, count(*) AS n_uses
        |FROM g GROUP BY gram
        |HAVING count(DISTINCT doc_id) >= 35""".stripMargin,

    // integer-permille threshold so the cut is exact in both engines (a
    // double ceil(0.9*n) could round differently: DuckDB's 0.9 literal
    // is DECIMAL, Spark's is double)
    "p63_boilerplate_scrub" -> withT(
      """SELECT tt.conv_id,
        |  CAST(sum(CASE WHEN b.tmpl IS NULL THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_kept,
        |  CAST(sum(CASE WHEN b.tmpl IS NOT NULL THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_dropped
        |FROM tt LEFT JOIN b ON tt.role = b.role AND tt.tmpl = b.tmpl
        |GROUP BY tt.conv_id""".stripMargin,
      extra = Seq(
        """tt AS (SELECT conv_id, role,
          |  regexp_replace(text, '[0-9]+', '0', 'g') AS tmpl
          |  FROM transcripts)""".stripMargin,
        """b AS (SELECT role, tmpl FROM tt GROUP BY role, tmpl
          |  HAVING count(DISTINCT conv_id) * 1000 >=
          |    900 * (SELECT count(DISTINCT conv_id) FROM tt))""".stripMargin)),

    "d44_bpe_merge_candidates" ->
      """WITH w AS (SELECT unnest(string_split(text, ' ')) AS word
        |  FROM documents WHERE text IS NOT NULL),
        |p AS (SELECT substring(word, CAST(t.i AS INT), 2) AS pair
        |  FROM w, unnest(generate_series(1, length(word) - 1)) AS t(i)
        |  WHERE length(word) >= 2)
        |SELECT pair, CAST(count(*) AS BIGINT) AS n_occ
        |FROM p GROUP BY pair
        |ORDER BY n_occ DESC, pair LIMIT 20""".stripMargin,

    // bigram LM: DuckDB retrains the model independently — adjacent
    // pairs via generate_series over the split array, context totals
    // from the bigram frame, add-one V from the unigram vocabulary; the
    // one float per MODEL entry is ln((c12+1)/(c1+V)) floored at e6,
    // then integer-summed per doc (d25/d30 hazard class)
    "d45_bigram_lm" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS arr
        |  FROM documents WHERE text IS NOT NULL),
        |big AS (SELECT doc_id, arr[CAST(g.i AS INT)] AS w1,
        |    arr[CAST(g.i AS INT) + 1] AS w2
        |  FROM d, unnest(generate_series(1, len(arr) - 1)) AS g(i)
        |  WHERE len(arr) >= 2),
        |c12 AS (SELECT w1, w2, count(*) AS c12 FROM big GROUP BY w1, w2),
        |c1 AS (SELECT w1, sum(c12) AS c1 FROM c12 GROUP BY w1),
        |v AS (SELECT CAST(count(DISTINCT tok) AS DOUBLE) AS v
        |  FROM (SELECT unnest(arr) AS tok FROM d)),
        |model AS (SELECT w1, w2,
        |    CAST(floor(1e6 * ln(CAST(c12 + 1 AS DOUBLE) /
        |      (CAST(c1 AS DOUBLE) + v))) AS BIGINT) AS s_micro
        |  FROM c12 JOIN c1 USING (w1), v)
        |SELECT doc_id, count(*) AS n_bigrams,
        |  CAST(sum(s_micro) AS BIGINT) AS logprob_micro
        |FROM big JOIN model USING (w1, w2)
        |GROUP BY doc_id""".stripMargin,

    // KMV sketch: DuckDB rebuilds the bottom-k from scratch (distinct
    // rolling hashes, ascending, limit k) — with k=256 the kth smallest
    // distinct hash exists iff ≥256 distinct texts; the estimator is
    // pure integer division so both engines floor identically
    "d46_distinct_kmv" ->
      """WITH h AS (SELECT DISTINCT list_reduce(
        |    [CAST(0 AS BIGINT)] || list_transform(string_split(text, ''),
        |      c -> CAST(ascii(c) AS BIGINT)),
        |    (acc, x) -> (acc*31 + x) % 2147483647) AS hv
        |  FROM documents WHERE text IS NOT NULL),
        |b AS (SELECT hv FROM h ORDER BY hv LIMIT 256)
        |SELECT CAST(count(*) AS INT) AS n_kept,
        |  CASE WHEN count(*) >= 256 THEN CAST(max(hv) AS BIGINT) END AS kth_hash,
        |  CAST(CASE WHEN count(*) < 256 THEN count(*)
        |       ELSE (CAST(255 AS BIGINT) * 2147483647) // max(hv) END
        |    AS BIGINT) AS est_distinct
        |FROM b""".stripMargin,

    // count-min sketch: DuckDB rebuilds the whole depth×width sketch —
    // same rolling fingerprint per token, same literal hash family
    // ((f·a_j + b_j) mod M mod width), same min-over-rows point read —
    // so every collision-induced over-estimate reproduces exactly
    "d47_cms_token_counts" ->
      """WITH toks AS (SELECT t AS token FROM (
        |    SELECT unnest(string_split(text, ' ')) AS t FROM documents
        |    WHERE text IS NOT NULL) WHERE t <> ''),
        |fp AS (SELECT token, list_reduce(
        |    [CAST(0 AS BIGINT)] || list_transform(string_split(token, ''),
        |      c -> CAST(ascii(c) AS BIGINT)),
        |    (acc, x) -> (acc*31 + x) % 2147483647) AS fp FROM toks),
        |jb AS (SELECT h.j AS j, ((fp * h.a + h.b) % 2147483647) % 1024 AS bucket
        |  FROM fp, (VALUES (0, CAST(1000003 AS BIGINT), CAST(12345 AS BIGINT)),
        |                   (1, 999983, 54321),
        |                   (2, 1000033, 98765)) AS h(j, a, b)),
        |sketch AS (SELECT j, bucket, count(*) AS c FROM jb GROUP BY 1, 2),
        |p AS (SELECT unnest(['join','hash','spark','vector','absent_probe_zz'])
        |    AS token),
        |pfp AS (SELECT token, list_reduce(
        |    [CAST(0 AS BIGINT)] || list_transform(string_split(token, ''),
        |      c -> CAST(ascii(c) AS BIGINT)),
        |    (acc, x) -> (acc*31 + x) % 2147483647) AS fp FROM p),
        |pjb AS (SELECT token, h.j AS j,
        |    ((fp * h.a + h.b) % 2147483647) % 1024 AS bucket
        |  FROM pfp, (VALUES (0, CAST(1000003 AS BIGINT), CAST(12345 AS BIGINT)),
        |                    (1, 999983, 54321),
        |                    (2, 1000033, 98765)) AS h(j, a, b)),
        |est AS (SELECT token, CAST(min(coalesce(s.c, 0)) AS BIGINT) AS cms_est
        |  FROM pjb LEFT JOIN sketch s USING (j, bucket) GROUP BY token),
        |ex AS (SELECT token, count(*) AS exact_n FROM toks
        |  WHERE token IN ('join','hash','spark','vector','absent_probe_zz')
        |  GROUP BY token)
        |SELECT est.token, CAST(coalesce(ex.exact_n, 0) AS BIGINT) AS exact_n,
        |  cms_est
        |FROM est LEFT JOIN ex USING (token)""".stripMargin,

    // Bloom membership: DuckDB rebuilds the same bit array (distinct
    // ((fp·a_j+b_j) mod M) mod m over the index) and replays the
    // all-bits-set test — false positives included, since the bit
    // array is deterministic on both sides
    "d48_bloom_membership" ->
      """WITH idx AS (SELECT text FROM documents
        |  WHERE doc_id % 97 <> 0 AND text IS NOT NULL),
        |ifp AS (SELECT list_reduce(
        |    [CAST(0 AS BIGINT)] || list_transform(string_split(text, ''),
        |      c -> CAST(ascii(c) AS BIGINT)),
        |    (acc, x) -> (acc*31 + x) % 2147483647) AS fp FROM idx),
        |bits AS (SELECT DISTINCT ((fp * h.a + h.b) % 2147483647) % 4096 AS bit,
        |    TRUE AS is_set
        |  FROM ifp, (VALUES (CAST(1000003 AS BIGINT), CAST(12345 AS BIGINT)),
        |                    (999983, 54321),
        |                    (1000033, 98765)) AS h(a, b)),
        |s AS (SELECT doc_id, text FROM documents WHERE text IS NOT NULL),
        |sfp AS (SELECT doc_id, text, list_reduce(
        |    [CAST(0 AS BIGINT)] || list_transform(string_split(text, ''),
        |      c -> CAST(ascii(c) AS BIGINT)),
        |    (acc, x) -> (acc*31 + x) % 2147483647) AS fp FROM s),
        |sb AS (SELECT doc_id, ((fp * h.a + h.b) % 2147483647) % 4096 AS bit
        |  FROM sfp, (VALUES (CAST(1000003 AS BIGINT), CAST(12345 AS BIGINT)),
        |                    (999983, 54321),
        |                    (1000033, 98765)) AS h(a, b)),
        |bm AS (SELECT doc_id,
        |    (count(CASE WHEN b.is_set THEN 1 END) = 3) AS bloom_member
        |  FROM sb LEFT JOIN bits b USING (bit) GROUP BY doc_id),
        |em AS (SELECT s.doc_id, (i.text IS NOT NULL) AS exact_member
        |  FROM s LEFT JOIN (SELECT DISTINCT text FROM idx) i USING (text))
        |SELECT bm.doc_id, bloom_member, exact_member
        |FROM bm JOIN em USING (doc_id)""".stripMargin,

    // weighted sample: DuckDB replays the same deterministic draw —
    // u from the rolling fingerprint, ln(u) floored at e9 BEFORE the
    // weight division (the d25/d30/d45 single-float hazard class; the
    // rank division key_e9/w is exact-int/exact-int in IEEE double, so
    // the ordering replays bitwise), id tie-break
    "d49_weighted_sample" ->
      """WITH d AS (SELECT doc_id,
        |    greatest(len(string_split(text, ' ')), 1) AS w,
        |    list_reduce(
        |      [CAST(0 AS BIGINT)] || list_transform(string_split(text, ''),
        |        c -> CAST(ascii(c) AS BIGINT)),
        |      (acc, x) -> (acc*31 + x) % 2147483647) AS fp
        |  FROM documents WHERE text IS NOT NULL)
        |SELECT doc_id, CAST(w AS BIGINT) AS w_tokens,
        |  CAST(floor(1e9 * ln(CAST(fp + 1 AS DOUBLE) / 2147483648.0))
        |    AS BIGINT) AS key_e9
        |FROM d ORDER BY CAST(key_e9 AS DOUBLE) / w_tokens DESC, doc_id ASC
        |LIMIT 100""".stripMargin,

    // BPE encode: the oracle SQL is GENERATED from the same merge list
    // the engine folds over (TextAnalysis.bpeDemoMerges — the p69
    // phrase-bank idiom), chained literal replace() over the
    // chr(1)-joined symbol sequence: identical leftmost-non-overlapping
    // semantics, so token counts replay bitwise
    "d50_bpe_encode" -> {
      val sym = "array_to_string(string_split(text, ''), chr(1))"
      val encoded = TextAnalysis.bpeDemoMerges.foldLeft(sym) {
        case (acc, (a, b)) =>
          s"replace($acc, '$a' || chr(1) || '$b', '${a + b}')"
      }
      s"""SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars,
         |  CAST(len(string_split($encoded, chr(1))) AS BIGINT)
         |    AS n_bpe_tokens
         |FROM documents WHERE text IS NOT NULL""".stripMargin
    },

    "d51_frequency_spectrum" ->
      """WITH tc AS (
        |  SELECT tok, count(*) AS n_occ
        |  FROM (SELECT unnest(string_split(text, ' ')) AS tok
        |        FROM documents WHERE text IS NOT NULL)
        |  WHERE tok <> '' GROUP BY tok)
        |SELECT n_occ, count(*) AS n_types FROM tc GROUP BY n_occ""".stripMargin,

    "d52_length_buckets" ->
      """WITH d AS (
        |  SELECT doc_id, CAST(len(string_split(text, ' ')) AS INT) AS n_tokens
        |  FROM documents WHERE text IS NOT NULL),
        |h AS (SELECT n_tokens AS v, count(*) AS c FROM d GROUP BY v),
        |cum AS (SELECT v, sum(c) OVER (ORDER BY v) AS cum,
        |               sum(c) OVER () AS n FROM h),
        |b AS (SELECT
        |  min(CASE WHEN cum >= (1*n + 3) // 4 THEN v END) AS b1,
        |  min(CASE WHEN cum >= (2*n + 3) // 4 THEN v END) AS b2,
        |  min(CASE WHEN cum >= (3*n + 3) // 4 THEN v END) AS b3 FROM cum)
        |SELECT d.doc_id, d.n_tokens,
        |  CAST((CASE WHEN d.n_tokens > b.b1 THEN 1 ELSE 0 END) +
        |       (CASE WHEN d.n_tokens > b.b2 THEN 1 ELSE 0 END) +
        |       (CASE WHEN d.n_tokens > b.b3 THEN 1 ELSE 0 END) AS INT)
        |    AS bucket
        |FROM d, b""".stripMargin,

    // label-centroid matrix: DuckDB recomputes the e6-integer centroids
    // (exact sums, the e21 floor-division idiom) and the pairwise
    // bigint dot/dist² — no floats anywhere, bitwise by construction
    "e22_label_centroid_matrix" ->
      """WITH x AS (SELECT label, d.jj - 1 AS j,
        |    CAST(floor(1000000 * (embedding::DOUBLE[])[CAST(d.jj AS INT)])
        |         AS BIGINT) AS x_e6
        |  FROM embeddings, unnest(generate_series(1, 64)) AS d(jj)
        |  WHERE embedding IS NOT NULL),
        |m AS (SELECT label, j,
        |    CAST((sum(x_e6) - ((sum(x_e6) % count(*)) + count(*)) % count(*))
        |         // count(*) AS BIGINT) AS mean_e6
        |  FROM x GROUP BY label, j)
        |SELECT a.label AS label_a, b.label AS label_b,
        |  CAST(sum(a.mean_e6 * b.mean_e6) AS BIGINT) AS dot_e12,
        |  CAST(sum((a.mean_e6 - b.mean_e6) * (a.mean_e6 - b.mean_e6))
        |       AS BIGINT) AS dist2_e12
        |FROM m a JOIN m b ON a.j = b.j AND a.label < b.label
        |GROUP BY a.label, b.label""".stripMargin,

    // embedding hygiene: exact integer counters over one scan — DuckDB
    // mirrors the lambda semantics (NULL lambda results drop from
    // list_filter on both engines, so an all-null vector counts zero)
    "e23_embedding_hygiene" ->
      """SELECT count(*) AS n_rows,
        |  CAST(sum(CASE WHEN embedding IS NULL THEN 1 ELSE 0 END)
        |       AS BIGINT) AS n_null,
        |  CAST(sum(CASE WHEN embedding IS NOT NULL
        |       AND len(embedding) != 64 THEN 1 ELSE 0 END)
        |       AS BIGINT) AS n_wrong_dim,
        |  CAST(sum(CASE WHEN embedding IS NOT NULL
        |       AND len(list_filter(embedding,
        |             x -> isnan(x) OR isinf(x))) > 0 THEN 1 ELSE 0 END)
        |       AS BIGINT) AS n_nonfinite,
        |  CAST(sum(CASE WHEN embedding IS NOT NULL
        |       AND len(list_filter(embedding, x -> x != 0)) = 0
        |       THEN 1 ELSE 0 END) AS BIGINT) AS n_zero
        |FROM embeddings""".stripMargin,

    // periodic loop audit: DuckDB rebuilds each conversation's ordered
    // template list, then replays the p-periodicity checks (lateral
    // generate_series over positions, IS DISTINCT FROM = the null-safe
    // <=>) and the trailing stuck-run (max mismatch position vs the
    // last template); convs too short for a p's window simply produce
    // no candidate row and fall to period 0
    "p68_periodic_loop_audit" -> withT(
      """SELECT x.conv_id, x.n AS n_turns,
        |  CAST(coalesce(pr.period, 0) AS INT) AS period,
        |  x.n - coalesce(mm.m, 0) AS tail_run,
        |  CASE WHEN coalesce(pr.period, 0) > 0 THEN 1 ELSE 0 END AS looping
        |FROM x LEFT JOIN pr ON pr.conv_id = x.conv_id
        |LEFT JOIN mm ON mm.conv_id = x.conv_id""".stripMargin,
      extra = Seq(
        """tt AS (SELECT conv_id, turn_idx,
          |  regexp_replace(text, '[0-9]+', '0', 'g') AS tmpl
          |  FROM transcripts)""".stripMargin,
        """x AS (SELECT conv_id, list(tmpl ORDER BY turn_idx) AS arr,
          |  count(*) AS n FROM tt GROUP BY conv_id)""".stripMargin,
        """per AS (SELECT x.conv_id, pp.p,
          |  CASE WHEN max(x.n) >= 2 * pp.p AND count(*) FILTER (
          |    WHERE arr[CAST(i AS INT)] IS DISTINCT FROM
          |          arr[CAST(i - pp.p AS INT)]) = 0
          |  THEN 1 ELSE 0 END AS ok
          |  FROM x, (VALUES (1), (2), (3), (4)) pp(p),
          |    unnest(generate_series(pp.p + 1, x.n)) g(i)
          |  GROUP BY x.conv_id, pp.p)""".stripMargin,
        """pr AS (SELECT conv_id, min(p) AS period FROM per
          |  WHERE ok = 1 GROUP BY conv_id)""".stripMargin,
        """mm AS (SELECT x.conv_id,
          |  max(CASE WHEN arr[CAST(i AS INT)] IS DISTINCT FROM
          |        arr[CAST(x.n AS INT)] THEN i END) AS m
          |  FROM x, unnest(generate_series(1, x.n)) g(i)
          |  GROUP BY x.conv_id)""".stripMargin)),

    // refusal audit: the occ expression below is GENERATED from
    // TextAnalysis.DefaultRefusalPhrases (see refusalOccSql) so the
    // Spark bank and the oracle bank are one definition
    "p69_refusal_audit" -> withT(
      """SELECT conv_id,
        |  CAST(sum(CASE WHEN role = 'assistant' THEN 1 ELSE 0 END)
        |       AS BIGINT) AS n_assistant,
        |  CAST(sum(CASE WHEN role = 'assistant' AND occ > 0
        |       THEN 1 ELSE 0 END) AS BIGINT) AS n_refusal_turns,
        |  CAST(sum(CASE WHEN role = 'assistant' THEN occ END)
        |       AS BIGINT) AS n_refusal_hits,
        |  CASE WHEN sum(CASE WHEN role = 'assistant' THEN 1 ELSE 0 END) > 0
        |    THEN CAST((sum(CASE WHEN role = 'assistant' AND occ > 0
        |           THEN 1 ELSE 0 END) * 1000) //
        |         sum(CASE WHEN role = 'assistant' THEN 1 ELSE 0 END)
        |         AS BIGINT)
        |    ELSE 0 END AS refusal_permille
        |FROM o GROUP BY conv_id""".stripMargin,
      extra = Seq(
        s"""o AS (SELECT conv_id, role, $refusalOccSql AS occ
           |  FROM (SELECT conv_id, role, lower(text) AS lt
           |        FROM transcripts))""".stripMargin)),

    "p64_role_alternation" -> withT(
      """SELECT conv_id, count(*) AS n_turns,
        |  CAST(sum(CASE WHEN role = prev_role THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_repeat_role,
        |  max(CASE WHEN turn_idx = 0 THEN role END) AS first_role,
        |  CASE WHEN sum(CASE WHEN role = prev_role THEN 1 ELSE 0 END) = 0
        |    AND max(CASE WHEN turn_idx = 0 THEN role END)
        |      IN ('user', 'system')
        |  THEN 1 ELSE 0 END AS valid
        |FROM x GROUP BY conv_id""".stripMargin,
      extra = Seq(
        """x AS (SELECT conv_id, turn_idx, role,
          |  lag(role) OVER (PARTITION BY conv_id ORDER BY turn_idx)
          |    AS prev_role
          |  FROM transcripts)""".stripMargin)),

    "p65_context_truncate" -> withT(
      """SELECT conv_id, count(*) AS n_turns_total,
        |  CAST(sum(toks) AS BIGINT) AS total_tokens,
        |  CAST(sum(CASE WHEN sfx <= 256 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_turns_kept,
        |  CAST(sum(CASE WHEN sfx <= 256 THEN toks ELSE 0 END)
        |    AS BIGINT) AS tokens_kept,
        |  CASE WHEN sum(CASE WHEN sfx <= 256 THEN 1 ELSE 0 END) < count(*)
        |  THEN 1 ELSE 0 END AS truncated
        |FROM x GROUP BY conv_id""".stripMargin,
      extra = Seq(
        """x AS (SELECT conv_id,
          |  len(regexp_split_to_array(text, '\s+')) AS toks,
          |  sum(len(regexp_split_to_array(text, '\s+'))) OVER (
          |    PARTITION BY conv_id ORDER BY turn_idx DESC
          |    ROWS UNBOUNDED PRECEDING) AS sfx
          |  FROM transcripts)""".stripMargin)),

    "p66_conv_prefix_dedup" -> withT(
      """SELECT prefix, count(*) AS n_convs, min(conv_id) AS survivor
        |FROM p GROUP BY prefix HAVING count(*) >= 2""".stripMargin,
      extra = Seq(
        """p AS (SELECT conv_id,
          |  string_agg('<|' || role || '|>'
          |      || regexp_replace(text, '[0-9]+', '0', 'g'),
          |    chr(10) ORDER BY turn_idx) AS prefix
          |  FROM transcripts WHERE turn_idx < 2 GROUP BY conv_id)""".stripMargin)),

    // brute pair set over the normalized renders — quadratic by design
    // (150 convs at sf0.01); the Spark side is the banded LSH with a
    // 7e-15/pair recall pin (32 bands × 2 rows at the 0.80 threshold)
    "p67_conv_neardup_minhash" -> withT(
      """SELECT a.conv_id AS id_a, b.conv_id AS id_b,
        |  CAST(floor(10000 * (len(list_intersect(a.s, b.s)) /
        |    (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s)))))
        |    AS BIGINT) AS jaccard_e4
        |FROM sh a, sh b
        |WHERE a.conv_id < b.conv_id
        |  AND len(list_intersect(a.s, b.s)) /
        |      (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s)))
        |      >= 0.80""".stripMargin,
      extra = Seq(
        """r AS (SELECT conv_id,
          |  string_agg('<|' || role || '|>'
          |      || regexp_replace(text, '[0-9]+', '0', 'g'),
          |    chr(10) ORDER BY turn_idx) AS rendered
          |  FROM transcripts GROUP BY conv_id)""".stripMargin,
        """sh AS (SELECT conv_id,
          |  list_distinct(string_split(rendered, ' ')) AS s FROM r)""".stripMargin))
  )
}
