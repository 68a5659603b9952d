package graft.agg

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.ops.Redaction
import graft.parse.ParseStage

/** Round-2 processor additions: metricstransform operation set,
  * spanmetrics exemplars/expiration, redaction lists+audit, severity
  * presets, drop_ratio. */
class ProcessorOpsSpec extends SparkSpec {
  import spark.implicits._

  test("metricstransform: scale truncates like Go int64(float64(v)*s)") {
    val df = Seq((1L, "a", 7L), (2L, "b", -7L)).toDF("id", "l", "v")
    val out = MetricsTransform.scaleValue(df, "v", 0.5)
      .select("id", "v").as[(Long, Long)].collect().toMap
    assert(out == Map(1L -> 3L, 2L -> -3L)) // trunc toward zero, not floor
  }

  test("metricstransform: label ops compose") {
    val df = Seq(("error", 1L), ("view", 2L), ("click", 3L)).toDF("event_type", "v")
    val out = MetricsTransform.deleteLabelValue(
      MetricsTransform.updateLabel(
        MetricsTransform.addLabel(df, "env", "prod"),
        "event_type", Some("etype"), Seq("error" -> "failure")),
      "etype", "view")
    assert(out.columns.toSeq == Seq("etype", "v", "env"))
    assert(out.select("etype").as[String].collect().toSet == Set("failure", "click"))
  }

  test("metricstransform: update_label value_actions do not cascade (single map lookup)") {
    import MetricsTransform._
    // the reference builds map{a->b, b->c} and does ONE lookup
    // (operation_update_label.go): "a" -> "b", never "a" -> "b" -> "c";
    // a swap config (a->b, b->a) must actually swap
    val df = Seq("a", "b", "x").toDF("lbl")
    val chained = updateLabel(df, "lbl",
      valueActions = Seq("a" -> "b", "b" -> "c"))
      .collect().map(_.getString(0)).toSeq.sorted
    assert(chained == Seq("b", "c", "x"))
    val swapped = updateLabel(df, "lbl",
      valueActions = Seq("a" -> "b", "b" -> "a"))
      .collect().map(_.getString(0)).toSeq.sorted
    assert(swapped == Seq("a", "b", "x"))
  }

  test("spanmetrics expiration 0 disables expiry (reference default)") {
    def ts(d: Int) = java.sql.Timestamp.valueOf(f"2024-01-$d%02d 00:00:00")
    val spans = Seq(("old", ts(1)), ("old", ts(2)), ("live", ts(20)))
      .toDF("grp", "ts")
    val kept = SpanMetrics.withExpiration(spans, Seq("grp"), "ts", "0 seconds")
    // disabled = full span rows pass through, same shape as the normal
    // path (NOT a distinct dim projection): multiplicity and non-dim
    // columns survive
    assert(kept.columns.toSeq == Seq("grp", "ts"))
    assert(kept.count() == 3)
    assert(kept.collect().map(_.getString(0)).toSet == Set("old", "live"))
  }

  test("metricstransform: aggregate_label_values merges then aggregates") {
    val df = Seq(("a", 1L), ("b", 2L), ("c", 4L)).toDF("l", "v")
    val out = MetricsTransform.aggregateLabelValues(df, "l", Seq("a", "b"),
      "ab", Seq("l"), "v", "sum").as[(String, Long)].collect().toMap
    assert(out == Map("ab" -> 3L, "c" -> 4L))
  }

  test("summary quantiles: exact nearest-rank on a hand-computed corpus") {
    // n=10, values 10..100: nearest-rank k_p = ceil(p*n/100) →
    // k50=5 → 50, k95=ceil(9.5)=10 → 100, k99=10 → 100
    val spans = (1 to 10).map(i => ("t1", i * 10L)) :+ (("t2", 7L))
    val out = SpanMetrics.summaryQuantiles(spans.toDF("tool", "dur"),
      Seq("tool"), "dur", Seq(50, 95, 99))
    assert(out.columns.toSeq ==
      Seq("tool", "calls", "p50_dur", "p95_dur", "p99_dur", "max_dur"))
    val t1 = out.filter(col("tool") === "t1").head()
    assert(t1.getAs[Long]("calls") == 10)
    assert(t1.getAs[Long]("p50_dur") == 50)
    assert(t1.getAs[Long]("p95_dur") == 100)
    assert(t1.getAs[Long]("p99_dur") == 100)
    assert(t1.getAs[Long]("max_dur") == 100)
    // a 1-row group: every quantile is the single value
    val t2 = out.filter(col("tool") === "t2").head()
    assert(Seq("p50_dur", "p95_dur", "p99_dur", "max_dur")
      .forall(c => t2.getAs[Long](c) == 7L) && t2.getAs[Long]("calls") == 1)
  }

  test("summary quantiles: nulls are not observations (ranks unshifted)") {
    val spans = Seq(("t1", Some(1L)), ("t1", None), ("t1", Some(3L)))
      .toDF("tool", "dur")
    val r = SpanMetrics.summaryQuantiles(spans, Seq("tool"), "dur", Seq(50)).head()
    // n=2 observed → k50=1 → 1; a counted-but-unselectable null would
    // have made n=3, k50=2 → 3
    assert(r.getAs[Long]("calls") == 2 && r.getAs[Long]("p50_dur") == 1)
  }

  test("summary quantiles: histogram rendering ≡ per-row sort rendering (ties included)") {
    // duplicates force the histogram's cumulative counts to carry
    // multiplicity; differential check vs the naive sorted-row selection
    val rnd = new scala.util.Random(7)
    val rows = Seq.tabulate(400)(i => (s"t${i % 3}", (rnd.nextInt(40) + 1).toLong))
    val df = rows.toDF("tool", "dur")
    val fast = SpanMetrics.summaryQuantiles(df, Seq("tool"), "dur", Seq(50, 90, 99))
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))).toMap
    val naive = rows.groupBy(_._1).map { case (t, rs) =>
      val sorted = rs.map(_._2).sorted
      val n = sorted.size
      def q(p: Int) = sorted((p * n + 99) / 100 - 1)
      t -> ((n.toLong, q(50), q(90), q(99), sorted.last))
    }
    assert(fast == naive, s"fast=$fast naive=$naive")
  }

  test("spanmetrics exemplars: bounded top-k per group, largest durations") {
    val spans = Seq(
      ("t1", 10L, "s1"), ("t1", 30L, "s2"), ("t1", 20L, "s3"), ("t1", 5L, "s4"),
      ("t2", 1L, "s5")).toDF("tool", "dur", "sid")
    val out = SpanMetrics.callsWithExemplars(spans, Seq("tool"), "dur", "sid", 2)
    val t1 = out.filter(col("tool") === "t1").head()
    assert(t1.getAs[Long]("calls") == 4 && t1.getAs[Long]("sum_dur") == 65)
    val ex = t1.getAs[scala.collection.Seq[org.apache.spark.sql.Row]]("exemplars")
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(ex == Seq((30L, "s2"), (20L, "s3"))) // top-2 by duration desc
    val t2 = out.filter(col("tool") === "t2").head()
    assert(t2.getAs[scala.collection.Seq[org.apache.spark.sql.Row]]("exemplars").size == 1)
  }

  test("spanmetrics exemplars: bounded aggregator ≡ window rendering (differential)") {
    val rnd = new scala.util.Random(7)
    val spans = (0 until 2000).map { i =>
      (s"tool${rnd.nextInt(5)}", rnd.nextInt(40).toLong, f"s$i%04d")
    }.toDF("tool", "dur", "sid") // duplicate durations force the tie-break path
    def norm(df: org.apache.spark.sql.DataFrame) = df
      .select(col("tool"), col("calls"), col("sum_dur"),
        expr("transform(exemplars, e -> concat(e.value, ':', e.span_id))").as("ex"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getAs[scala.collection.Seq[String]](3).toList)).toSet
    val fast = norm(SpanMetrics.callsWithExemplars(spans, Seq("tool"), "dur", "sid", 3))
    val slow = norm(ProcessorOpsSpec.callsWithExemplarsWindowed(spans, Seq("tool"), "dur", "sid", 3))
    assert(fast == slow)
    // FRACTIONAL durations: both renderings must rank by the same
    // bigint-truncated value (the window used to order by the raw
    // double — 5.7 outranked 5.2 there while the aggregator saw the
    // 5===5 tie and broke on id, selecting a different exemplar)
    val frac = Seq(("t", 5.7, "a"), ("t", 5.2, "z"), ("t", 4.9, "b"))
      .toDF("tool", "dur", "sid")
    def exIds(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.select("exemplars").head()
        .getAs[scala.collection.Seq[org.apache.spark.sql.Row]](0)
        .map(_.getString(1)).toSeq
    val fastF = exIds(SpanMetrics.callsWithExemplars(frac, Seq("tool"), "dur", "sid", 1))
    val slowF = exIds(ProcessorOpsSpec.callsWithExemplarsWindowed(frac, Seq("tool"), "dur", "sid", 1))
    assert(fastF == slowF, s"fast=$fastF slow=$slowF")
  }

  test("spanmetrics exemplars: tie-break matches UTF8 binary order off-ASCII") {
    // equal durations force the span_id tie-break; ids mix a BMP
    // high-code-unit char (U+FFFD) with a supplementary char (U+1F600,
    // UTF-16 surrogates 0xD83D 0xDE00): Java String order puts U+FFFD
    // ABOVE the surrogate pair, UTF8String binary (code-point) order
    // puts U+1F600 above U+FFFD — the aggregator must agree with the
    // windowed oracle's Spark-side ordering, not with compareTo
    val spans = Seq(
      ("t", 5L, "s�"), ("t", 5L, "s😀"),
      ("t", 5L, "sA"), ("t", 5L, "sz")
    ).toDF("tool", "dur", "sid")
    def top2(df: org.apache.spark.sql.DataFrame) = df
      .select(expr("transform(exemplars, e -> e.span_id)").as("ex"))
      .as[Seq[String]].head().toList
    val fast = top2(SpanMetrics.callsWithExemplars(spans, Seq("tool"), "dur", "sid", 2))
    val slow = top2(ProcessorOpsSpec.callsWithExemplarsWindowed(spans, Seq("tool"), "dur", "sid", 2))
    assert(fast == slow)
    assert(fast.head == "s😀") // supplementary char sorts highest
  }

  test("spanmetrics exemplars plan: one hash aggregate, no window sort") {
    val spans = Seq(("t", 1L, "s")).toDF("tool", "dur", "sid")
    val plan = SpanMetrics.callsWithExemplars(spans, Seq("tool"), "dur", "sid", 3)
      .queryExecution.optimizedPlan.toString
    assert(!plan.contains("Window"), s"window sort survived:\n$plan")
    val physical = SpanMetrics.callsWithExemplars(spans, Seq("tool"), "dur", "sid", 3)
      .queryExecution.executedPlan.toString
    // partial → final aggregate pair (map-side combine), no global sort
    assert(!physical.contains("Window"), s"window in physical plan:\n$physical")
  }

  test("spanmetrics expiration drops groups stale before the batch max ts") {
    def ts(d: Int) = java.sql.Timestamp.valueOf(f"2024-01-$d%02d 00:00:00")
    val spans = Seq(("old", ts(1)), ("old", ts(2)), ("live", ts(1)), ("live", ts(20)))
      .toDF("grp", "ts")
    val kept = SpanMetrics.withExpiration(spans, Seq("grp"), "ts", "7 days")
      .select("grp").as[String].collect().toSet
    assert(kept == Set("live")) // "old" last seen 18 days before max
  }

  test("spanmetrics expiration: a NULL dim value is a real group, not silently dropped") {
    // groupBy keeps null keys, so the semi join back must be null-safe —
    // a bare equi-join never matches NULL=NULL and enabling expiration
    // would change results for non-stale null-dim data
    def ts(d: Int) = java.sql.Timestamp.valueOf(f"2024-01-$d%02d 00:00:00")
    val spans = Seq((Option("a"), ts(19)), (None, ts(20)), (None, ts(1)))
      .toDF("grp", "ts")
    val kept = SpanMetrics.withExpiration(spans, Seq("grp"), "ts", "7 days")
      .select("grp", "ts").as[(Option[String], java.sql.Timestamp)]
      .collect().toSet
    // the null group's last_seen is day 20 (fresh) → BOTH its rows pass,
    // exactly like the expiration=0 path would pass them
    assert(kept == Set((Option("a"), ts(19)), (None, ts(20)), (None, ts(1))))
  }

  test("redaction: allowlist deletes, blocked masks, ignore passes, audit attrs") {
    val df = Seq(1).toDF("x").select(map(
      lit("name"), lit("alice"),
      lit("card"), lit("4111-1111 and 4222-2222"),
      lit("ssn"), lit("secret"),
      lit("trace"), lit("abc-123")).as("attrs"))
    val cfg = Redaction.Config(allowAllKeys = false,
      allowedKeys = Seq("name", "card"), ignoredKeys = Seq("trace"),
      blockedValues = Seq("\\d{4}-\\d{4}"), summary = "debug")
    val m = df.select(Redaction.redactAttrs(col("attrs"), cfg).as("r"))
      .head().getMap[String, String](0).toMap
    assert(m("name") == "alice")
    assert(m("card") == "**** and ****") // every match masked
    assert(!m.contains("ssn"))
    assert(m("trace") == "abc-123") // ignored: untouched even though it matches nothing
    assert(m("redaction.redacted.keys") == "ssn" && m("redaction.redacted.count") == "1")
    assert(m("redaction.masked.keys") == "card" && m("redaction.masked.count") == "1")
    assert(m("redaction.ignored.count") == "1")
  }

  test("redaction: summary=info omits key lists; no audit when nothing changed") {
    val df = Seq(1).toDF("x").select(map(lit("a"), lit("v")).as("attrs"))
    val info = Redaction.Config(allowAllKeys = true, blockedValues = Seq("zzz"),
      summary = "info")
    val m = df.select(Redaction.redactAttrs(col("attrs"), info).as("r"))
      .head().getMap[String, String](0).toMap
    assert(m == Map("a" -> "v")) // nothing deleted/masked/ignored → no audit keys
  }

  test("redaction codegen expression matches the declarative map-HOF rendering") {
    val rnd = new scala.util.Random(5)
    val rows = (0 until 200).map { i =>
      (i, Map(
        "name" -> s"user$i",
        "card" -> (if (i % 3 == 0) s"4111-${1000 + i}" else "none"),
        "ssn" -> "secret",
        "trace" -> s"t-$i",
        "note" -> (if (i % 5 == 0) s"pay 1234-5678 then 9999-0000" else s"n$i")))
    }.toDF("id", "attrs")
    for (summary <- Seq("none", "info", "debug");
         allowAll <- Seq(true, false)) {
      val cfg = Redaction.Config(allowAllKeys = allowAll,
        allowedKeys = Seq("name", "card", "note"), ignoredKeys = Seq("trace"),
        blockedValues = Seq("\\d{4}-\\d{4}"), summary = summary)
      val both = rows.select(
        Redaction.redactAttrs(col("attrs"), cfg).as("fast"),
        ProcessorOpsSpec.redactAttrsDeclarative(col("attrs"), cfg).as("slow"))
        .collect()
      both.foreach { r =>
        val fast = r.getMap[String, String](0).toMap
        val slow = r.getMap[String, String](1).toMap
        assert(fast == slow, s"summary=$summary allowAll=$allowAll:\n$fast\n$slow")
      }
    }
  }

  test("severity hash-lookup expression matches the CASE-chain rendering") {
    val inputs = (ParseStage.severityAliases.map(_._1) ++
      Seq("TRACE", "Error3", "WARNING2", "unknown", "", "25", "0", "fatal4", "eRr"))
      .toDF("s")
    val diff = inputs.select(
      ParseStage.parseSeverity(col("s")).as("fast"),
      ProcessorOpsSpec.parseSeverityCase(col("s")).as("slow"))
      .as[(Int, Int)].collect()
    assert(diff.nonEmpty && diff.forall { case (f, h) => f == h })
  }

  test("severity HTTP presets map ranges; builtin table still falls through") {
    val df = Seq("204", "302", "404", "503", "99", "error").toDF("s")
    val out = df.select(ParseStage.parseSeverityMapped(col("s"),
      Seq("2xx" -> 9, "3xx" -> 13, "4xx" -> 17, "5xx" -> 21)).as("n"))
      .as[Int].collect().toSeq
    assert(out == Seq(9, 13, 17, 21, 0, 17)) // "error" → builtin 17; "99" unmapped
  }

  test("schema translation: upgrade composes revisions, downgrade inverts, round-trips") {
    import graft.enrich.SchemaTransform._
    val family = Family("t", Seq(
      Revision("1.1.0", Map("a" -> "b")),
      Revision("1.2.0", Map("b" -> "c", "x" -> "y")),
      Revision("1.10.0", Map("c" -> "d")))) // 1.10 > 1.2 numerically
    val df = Seq((1, 2, 3)).toDF("a", "x", "z")
    val up = translate(df, family, "1.0.0", "1.10.0")
    assert(up.columns.toSeq == Seq("d", "y", "z")) // a→b→c→d, x→y, z untouched
    val partial = translate(df, family, "1.0.0", "1.1.0")
    assert(partial.columns.toSeq == Seq("b", "x", "z"))
    val down = translate(up, family, "1.10.0", "1.0.0")
    assert(down.columns.toSeq == df.columns.toSeq) // round-trip identity
    // same-version translation is a no-op
    assert(translate(df, family, "1.1.0", "1.1.0").columns.toSeq == df.columns.toSeq)
  }

  test("schema translation: within-revision renames are simultaneous, not cascading") {
    import graft.enrich.SchemaTransform._
    // one revision's rename_attributes is a MAP: {a→b, b→c} must rename
    // a to b (never a→b→c), and a swap revision must actually swap —
    // a flattened sequential fold cascaded the first and broke the
    // second (duplicate-key crash in transform_keys)
    val chainFam = Family("t", Seq(Revision("2.0.0", Map("a" -> "b", "b" -> "c"))))
    val df = Seq((1, 2)).toDF("a", "b")
    assert(translate(df, chainFam, "1.0.0", "2.0.0").columns.toSeq == Seq("b", "c"))
    val swapFam = Family("t", Seq(Revision("2.0.0", Map("a" -> "b", "b" -> "a"))))
    val swapped = translate(df, swapFam, "1.0.0", "2.0.0")
    assert(swapped.columns.toSeq == Seq("b", "a"))
    assert(swapped.select("a").head().getInt(0) == 2) // values followed the swap
  }

  test("schema translation: a rename landing on an untouched key OVERWRITES it") {
    import graft.enrich.SchemaTransform._
    // {a→b} over a frame/map that ALREADY has b: the renamed value wins
    // (pdata Remove+PutStr semantics) — keeping both would crash later
    // references with ambiguous columns / DUPLICATED_MAP_KEY
    val fam = Family("t", Seq(Revision("2.0.0", Map("a" -> "b"))))
    val df = Seq((1, 2, 3)).toDF("a", "b", "z")
    val up = translate(df, fam, "1.0.0", "2.0.0")
    assert(up.columns.toSeq == Seq("b", "z"))
    assert(up.select("b").head().getInt(0) == 1) // a's value won
    // a non-numeric version component errors WITH the version string
    val bad = intercept[IllegalArgumentException] { versionKey("1.0.0-rc1") }
    assert(bad.getMessage.contains("1.0.0-rc1"))
  }

  test("redaction: re-redacting already-redacted attrs refreshes the audit (no dup keys)") {
    val cfg = Redaction.Config(allowAllKeys = false,
      allowedKeys = Seq("name", "card"), ignoredKeys = Seq("trace"),
      blockedValues = Seq("\\d{4}-\\d{4}"), summary = "debug")
    val df = Seq(1).toDF("x").select(map(
      lit("name"), lit("alice"),
      lit("card"), lit("4111-1111"),
      lit("ssn"), lit("secret"),
      lit("trace"), lit("abc")).as("attrs"))
    def once(c: org.apache.spark.sql.Column) = Redaction.redactAttrs(c, cfg)
    val twice = df.select(once(once(col("attrs"))).as("r"))
      .head().getMap[String, String](0).toMap
    // pass 2 sees no 'ssn' (already deleted) → no redacted audit; card
    // is already masked (no digits left) → no masked audit; the stale
    // pass-1 audit keys are dropped, trace is still ignored/counted
    assert(twice("name") == "alice" && twice("card") == "****")
    assert(!twice.contains("redaction.redacted.count"))
    assert(!twice.contains("redaction.masked.count"))
    assert(twice("redaction.ignored.count") == "1")
    // declarative rendering agrees (it map_concat's audits — duplicate
    // keys would throw DUPLICATED_MAP_KEY here before the fix)
    val twiceDecl = df.select(ProcessorOpsSpec.redactAttrsDeclarative(
      ProcessorOpsSpec.redactAttrsDeclarative(col("attrs"), cfg), cfg).as("r"))
      .head().getMap[String, String](0).toMap
    assert(twiceDecl == twice)
  }

  test("drop_ratio keeps all unmatched rows and ~ratio of matched ones") {
    val df = (0L until 1000L).map(i => (i, if (i % 2 == 0) "drop" else "keep"))
      .toDF("id", "kind")
    val out = ParseStage.dropRatioFilter(df, col("kind") === "drop", 0.25, col("id"))
    assert(out.filter(col("kind") === "keep").count() == 500) // unmatched untouched
    val dropKept = out.filter(col("kind") === "drop").count()
    assert(dropKept > 300 && dropKept < 450, s"got $dropKept of 500 (expect ~375)")
    // determinism: same input → same verdicts
    val again = ParseStage.dropRatioFilter(df, col("kind") === "drop", 0.25, col("id"))
      .filter(col("kind") === "drop").count()
    assert(again == dropKept)
  }
}

object ProcessorOpsSpec {
  private val RedactedKeys = "redaction.redacted.keys"
  private val RedactedCount = "redaction.redacted.count"
  private val MaskedKeys = "redaction.masked.keys"
  private val MaskedCount = "redaction.masked.count"
  private val IgnoredCount = "redaction.ignored.count"

  /** Round-2 window rendering — kept as the differential oracle for
    * [[SpanMetrics.callsWithExemplars]]: bounds memory per group before the collect,
    * but partitions the FULL span set by the dimension key and sorts it,
    * which serializes hot groups at scale. */
  def callsWithExemplarsWindowed(spans: DataFrame, dims: Seq[String], durCol: String,
                                 idCol: String, maxPerDataPoint: Int): DataFrame = {
    val keys = dims.map(col)
    val byKey = Window.partitionBy(keys: _*)
    // rank by the SAME bigint-truncated duration the aggregator
    // receives — ordering by the raw column would select different
    // exemplars for fractional durations (5.7 outranking 5.2 here while
    // the aggregator sees the 5===5 tie and breaks on id), breaking the
    // frame-equality contract between the two renderings
    val w = byKey.orderBy(col(durCol).cast("bigint").desc, col(idCol).desc)
    spans
      .withColumn("_rn", row_number().over(w))
      .withColumn("calls", count(lit(1)).over(byKey))
      .withColumn("sum_dur", sum(durCol).over(byKey))
      .filter(col("_rn") <= maxPerDataPoint)
      .groupBy((keys :+ col("calls") :+ col("sum_dur")): _*)
      .agg(sort_array(collect_list(struct(
        col(durCol).cast("bigint").as("value"), col(idCol).as("span_id"))), asc = false)
        .as("exemplars"))
      .select((keys :+ col("calls") :+ col("sum_dur") :+ col("exemplars")): _*)
  }

  /** Declarative map_filter/transform_values rendering of
    * [[Redaction.redactAttrs]] (differential oracle — identical semantics): ~10
    * interpreted-lambda passes over the map per row, NOT for hot paths. */
  def redactAttrsDeclarative(m: Column, cfg: Redaction.Config): Column = {
    def isIgnored(k: Column): Column =
      if (cfg.ignoredKeys.isEmpty) lit(false) else k.isin(cfg.ignoredKeys: _*)
    def isAllowed(k: Column): Column =
      if (cfg.allowAllKeys) lit(true)
      else k.isin((cfg.allowedKeys ++ Redaction.AuditKeys): _*)
    def matchesBlocked(v: Column): Column =
      if (cfg.blockedValues.isEmpty) lit(false)
      else cfg.blockedValues.map(v.rlike).reduce(_ || _)

    // drop STALE audit attributes first: re-redacting already-redacted
    // data (the processor at two pipeline stages) would otherwise carry
    // the old audit entries into maskedPart and map_concat them with
    // this pass's same-keyed audits → DUPLICATED_MAP_KEY at runtime;
    // this pass's audit REPLACES the previous one (the reference
    // upserts audit attrs — same observable result)
    val base = map_filter(m, (k, _) => !k.isin(Redaction.AuditKeys: _*))
    val ignoredPart = map_filter(base, (k, _) => isIgnored(k))
    val allowedPart = map_filter(base, (k, _) => !isIgnored(k) && isAllowed(k))
    val deletedKeys = sort_array(map_keys(
      map_filter(base, (k, _) => !isIgnored(k) && !isAllowed(k))))
    val maskedKeys = sort_array(map_keys(
      map_filter(allowedPart, (_, v) => matchesBlocked(v))))
    val maskedPart = transform_values(allowedPart, (_, v) =>
      cfg.blockedValues.foldLeft(v)((acc, re) => regexp_replace(acc, re, "****")))
    val ignoredCount = size(map_entries(ignoredPart))

    // typed empty map<string,string> (bare map() would be map<null,null>
    // and map_concat would reject the mix)
    val emptyMap = map_filter(m, (_, _) => lit(false))
    def audit(cond: Column, key: String, value: Column): Column =
      when(cond, map(lit(key), value.cast("string"))).otherwise(emptyMap)

    val debugOn = cfg.summary == "debug"
    val infoOn = cfg.summary == "info" || debugOn
    val audits = Seq(
      if (debugOn) audit(size(deletedKeys) > 0, RedactedKeys, array_join(deletedKeys, ",")) else emptyMap,
      if (infoOn) audit(size(deletedKeys) > 0, RedactedCount, size(deletedKeys)) else emptyMap,
      if (debugOn) audit(size(maskedKeys) > 0, MaskedKeys, array_join(maskedKeys, ",")) else emptyMap,
      if (infoOn) audit(size(maskedKeys) > 0, MaskedCount, size(maskedKeys)) else emptyMap,
      if (infoOn) audit(ignoredCount > 0, IgnoredCount, ignoredCount) else emptyMap)

    (Seq(ignoredPart, maskedPart) ++ audits).reduce(map_concat(_, _))
  }

  /** CASE-chain rendering of [[ParseStage.parseSeverity]] (differential oracle for
    * the hash-lookup expression): up to ~90 string comparisons per row. */
  def parseSeverityCase(c: Column): Column = {
    val lc = lower(c)
    ParseStage.severityAliases.foldLeft(lit(0)) { case (acc, (name, num)) =>
      when(lc === name, lit(num)).otherwise(acc)
    }.as("severity_num")
  }
}
