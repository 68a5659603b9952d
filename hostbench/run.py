#!/usr/bin/env python3
"""Host-fit benchmark of the graft Spark pipeline.

    python3 hostbench/run.py --workload <batch_fanout|query_mix|stream_tail>
                             --seed <n> --seconds <s> --trace <0|1>
    python3 hostbench/run.py --smoke

Run from the repository root. The first run builds the program and the
benchmark's JVM code from source (sbt, `hostbench/build.sbt`); later runs
reuse the build while the sources are unchanged. Inputs are generated
from the seed and cached under `hostbench/.work/inputs`. The last line
of standard output is one JSON object:

    {"correct": .., "attempted": .., "failed": .., "metrics": {..}}

with the end-to-end metrics under `--trace 0` and the per-layer metrics
under `--trace 1`. `--smoke` runs every workload once at a tiny size in
both modes and checks that each metric named in BENCHMARK.json is
printed with its unit. See hostbench/README.md for the workloads and the
metric map.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")

# Workload sizes. `full` is what the benchmark measures; `smoke` only
# proves the plumbing end to end.
SIZES = {
    "full": {
        "fanout_turns": 120_000, "fanout_convs": 2_400, "warm_turns": 2_000,
        "scale_turns": 600_000,
        "events": 15_000, "users": 225, "docs": 800,
        "warm_events": 2_000, "warm_users": 60, "warm_docs": 200,
        "stream_files": 100, "stream_file_turns": 200, "stream_interval_ms": 150.0,
        "stream_lead_files": 40, "stream_lead_burst": 5,
        "setups": 3, "min_reps": 3,
    },
    "smoke": {
        "fanout_turns": 40_000, "fanout_convs": 800, "warm_turns": 2_000,
        "scale_turns": 80_000,
        "events": 2_000, "users": 60, "docs": 200,
        "warm_events": 500, "warm_users": 20, "warm_docs": 60,
        "stream_files": 12, "stream_file_turns": 300, "stream_interval_ms": 150.0,
        "stream_lead_files": 4, "stream_lead_burst": 2,
        "setups": 1, "min_reps": 1,
    },
}

WORKLOADS = ["batch_fanout", "query_mix", "stream_tail"]

CONV = ["p04_parse_keyvalue", "p07_route_multimatch_counts", "p10_count_windowed_by_role",
        "p13_rollup_conversation", "p14_rollup_salted", "p30_tail_sampling",
        "p57_turn_repetition", "p59_latency_summary", "p60_repeated_responses",
        "p61_context_length_hist", "p62_supervision_density", "p63_boilerplate_scrub",
        "p64_role_alternation", "p65_context_truncate", "p66_conv_prefix_dedup",
        "p68_periodic_loop_audit", "p69_refusal_audit", "d36_chat_render",
        "d37_loss_mask_spans"]
CORPUS = ["d01_dedup_exact", "d12_dedup_normalized", "d13_contamination", "d14_dup_spans",
          "d16_curation", "d21_shuffle_order", "d26_contamination_neardup",
          "d28_token_budget", "d32_incremental_dedup", "d43_frequent_ngrams"]

END_TO_END = {"job_s": "s", "job_cpu_s": "s", "setup_s": "s"}

LISTENER_LAYERS = ["sources", "parse", "enrich", "route", "agg", "run", "streaming", "ops"]
LISTENER_FIELDS = {"task_s": "s", "gc_s": "s", "shuffle_wait_s": "s",
                   "spill_bytes": "bytes", "tasks_failed": "count"}

PER_LAYER = {
    # the workload-specific headline figures, from the traced run
    "fanout_turns_per_s": "1/s", "compute_1c_turns_per_s": "1/s",
    "scaling_eff_1to4": "ratio", "conv_queries_s": "s", "corpus_ops_s": "s",
    "stream_latency_p50_s": "s", "stream_latency_p90_s": "s", "error_rate": "ratio",
    # batch_fanout layers
    "sources.scan_s": "s", "parse.self_s": "s", "parse.unmatched_ratio": "ratio",
    "enrich.self_s": "s", "enrich.hit_ratio": "ratio",
    "route.tag_self_s": "s", "route.fanout_factor": "ratio",
    "route.write_self_s": "s", "route.bytes_written": "bytes", "route.files_written": "count",
    "agg.count_self_s": "s", "agg.shuffle_bytes": "bytes",
    "run.lineage_s": "s", "run.resume_s": "s", "config.compile_s": "s", "scale.fixed_s": "s",
    "trace.overhead_ratio": "ratio", "trace.self_sum_ratio": "ratio",
    # query_mix layers
    **{f"query.{n}_s": "s" for n in CONV + CORPUS},
    "sources.derive_s": "s", "ops.shuffle_bytes": "bytes", "ops.broadcast_bytes": "bytes",
    # stream_tail layers
    "streaming.queue_wait_s": "s", "streaming.sinks_batch_s": "s",
    "streaming.sinks_add_batch_s": "s", "streaming.planning_s": "s",
    "streaming.wal_commit_s": "s", "streaming.counts_batch_s": "s",
    "streaming.state_rows": "count", "streaming.state_memory_bytes": "bytes",
    "streaming.rows_per_batch": "count", "streaming.backlog_files": "count",
    "streaming.gen_late_ms": "ms",
    # host
    "host.nproc": "count", "host.loadavg_1m": "load", "host.steal_pct": "%",
    "peak_rss_mb": "MB",
}
for _layer in LISTENER_LAYERS:
    for _field, _unit in LISTENER_FIELDS.items():
        PER_LAYER[f"{_layer}.{_field}"] = _unit
# per-layer metrics where more is better (BENCHMARK.json "better")
HIGHER = {"fanout_turns_per_s", "compute_1c_turns_per_s", "scaling_eff_1to4",
          "enrich.hit_ratio", "host.nproc"}


def log(msg):
    print(f"[hostbench] {msg}", file=sys.stderr, flush=True)


class BenchError(Exception):
    pass


# ---------------------------------------------------------------- build

def source_stamp():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "project"),
             os.path.join(HERE, "src"), os.path.join(HERE, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, dirs, fs in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        if os.path.isfile(f) and not f.endswith((".class", ".jar")):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def check_layout():
    need = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "src", "main", "scala", "graft"),
            os.path.join(HERE, "build.sbt")]
    missing = [os.path.relpath(p, ROOT) for p in need if not os.path.exists(p)]
    if missing:
        raise BenchError(f"not a graft checkout (missing {', '.join(missing)}); "
                         "run from the repository root")
    if shutil.which("java") is None or shutil.which("sbt") is None:
        raise BenchError("java and sbt must be on PATH")


def build():
    """Compile the program and the benchmark code; return the runtime classpath."""
    bdir = os.path.join(WORK, "build")
    os.makedirs(bdir, exist_ok=True)
    stamp = source_stamp()
    cp_file = os.path.join(bdir, "classpath.txt")
    stamp_file = os.path.join(bdir, "stamp.txt")
    if os.path.exists(cp_file) and os.path.exists(stamp_file) \
            and open(stamp_file).read() == stamp:
        return open(cp_file).read().strip()
    log("building (sbt) ...")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env["SBT_OPTS"] = (env.get("SBT_OPTS", "") + " -XX:-UsePerfData").strip()
    t0 = time.time()
    with open(os.path.join(bdir, "sbt.log"), "w") as out:
        p = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "--no-server",
             "export hostbench/Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=out, text=True,
            timeout=840)
    lines = [l for l in p.stdout.splitlines() if ".jar" in l and not l.startswith("[")]
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stdout[-4000:])
        raise BenchError(f"build failed (exit {p.returncode}); see {bdir}/sbt.log")
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    log(f"built in {time.time() - t0:.1f} s")
    return cp


# --------------------------------------------------------------- inputs

def write_parquet(table, path):
    pq.write_table(table, path, compression="snappy")


def turns_table(n, n_convs, seed, hot_pct=5, base_epoch=1704067200):
    """Synthetic transcripts in the TranscriptSynth shape: a hot
    conversation with `hot_pct` % of turns, the three bank patterns
    (tool calls, status lines, key=value), unparseable noise, and a few
    tool calls to a tool the enrich dimension does not know."""
    rng = np.random.default_rng([seed, 7])
    ids = np.arange(n, dtype=np.int64)
    hot = rng.integers(0, 100, n) < hot_pct
    conv = np.where(hot, 0, rng.integers(0, n_convs, n))
    role_num = rng.integers(0, 10, n)
    noise = rng.integers(0, 11, n)
    k = rng.integers(0, 100, n)
    cents = rng.integers(0, 100_000, n)
    unknown_tool = rng.integers(0, 100, n) == 0
    order = np.lexsort((ids, conv))
    sc = conv[order]
    starts = np.r_[0, np.flatnonzero(np.diff(sc)) + 1]
    lens = np.diff(np.r_[starts, n])
    turn_idx = np.empty(n, dtype=np.int32)
    turn_idx[order] = (np.arange(n) - np.repeat(starts, lens)).astype(np.int32)

    roles = np.array(["user"] * 4 + ["assistant"] * 3 + ["tool"] * 2 + ["system"])[role_num]
    tool = np.where(role_num == 7, "bash", np.where(role_num == 8, "search", ""))
    tool = np.where((tool != "") & unknown_tool, "fetch", tool)
    level = np.where(k % 7 == 0, "ERROR", np.where(k % 3 == 0, "WARN", "INFO"))
    text = []
    for i, rn, nz, kk, c, cv, tl, lv in zip(ids.tolist(), role_num.tolist(), noise.tolist(),
                                            k.tolist(), cents.tolist(), conv.tolist(),
                                            tool.tolist(), level.tolist()):
        if rn == 7 or rn == 8:
            text.append(f'CALL tool={tl} args={{"k": {kk}}} dur_ms={c}')
        elif rn < 4 and nz == 0:
            text.append(f"~~ noise {i} ~~")
        elif rn < 4 and nz == 1:
            text.append(f"{lv} [comp-{kk % 5}] user turn user={cv}")
        elif rn < 4:
            text.append(f"user={cv} action=msg cents={c}")
        else:
            text.append(f"{lv} [comp-{kk % 5}] turn user={cv}")
    ts = (base_epoch + conv % 86400 + turn_idx.astype(np.int64) * 7) * 1_000_000
    conv_id = np.char.add("conv-", np.char.zfill(conv.astype(str), 8))
    return pa.table({
        "conv_id": pa.array(conv_id.tolist(), pa.string()),
        "turn_idx": pa.array(turn_idx, pa.int32()),
        "role": pa.array(roles.tolist(), pa.string()),
        "text": pa.array(text, pa.string()),
        "tool": pa.array(tool.tolist(), pa.string()),
        "ts": pa.array(ts, pa.timestamp("us", tz="UTC")),
    })


def write_split(table, out_dir, n_files, prefix="part"):
    os.makedirs(out_dir, exist_ok=True)
    n = table.num_rows
    for i in range(n_files):
        lo, hi = n * i // n_files, n * (i + 1) // n_files
        write_parquet(table.slice(lo, hi - lo), os.path.join(out_dir, f"{prefix}-{i:05d}.parquet"))


WORDS = ("spark window merge table column vector stream value data small join filter big "
         "group hash customer sort order slow line part fast row the agg key query a scan "
         "batch").split()


def events_table(n, n_users, seed):
    rng = np.random.default_rng([seed, 11])
    start = 1704067200 * 1_000_000
    span = 30 * 86400 * 1_000_000
    ts = np.sort(rng.integers(0, span, n)) + start
    types = np.array(["signup", "click", "error", "view", "purchase"])[rng.integers(0, 5, n)]
    value = np.round(rng.gamma(2.0, 30.0, n), 2)
    props = [f'{{"k": {x}}}' for x in rng.integers(0, 100, n).tolist()]
    return pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n).astype(np.int64)),
        "event_type": pa.array(types.tolist(), pa.string()),
        "value": pa.array(value, pa.float64()),
        "props": pa.array(props, pa.string()),
    })


def documents_table(n, seed):
    """Documents over a 30-word vocabulary; 5 % are copies of an earlier
    document (most with one word changed, some exact), marked `dup`."""
    rng = np.random.default_rng([seed, 13])
    texts = []
    for i in range(n):
        if i > 10 and rng.random() < 0.05:
            src = texts[int(rng.integers(0, i))].split(" ")
            if src[-1] == "dup":
                src = src[:-1]
            if rng.random() < 0.9:
                src[int(rng.integers(0, len(src)))] = WORDS[int(rng.integers(0, len(WORDS)))]
            texts.append(" ".join(src + ["dup"]))
        else:
            m = int(rng.integers(8, 100))
            texts.append(" ".join(WORDS[j] for j in rng.integers(0, len(WORDS), m).tolist()))
    langs = np.array(["en"] * 8 + ["zh", "zh", "de", "de", "fr", "fr", "es", "es"])
    lang = langs[rng.integers(0, len(langs), n)]
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(lang.tolist(), pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def cached(name, make):
    """Directory `inputs/<name>`, built once by `make(tmpdir)`."""
    d = os.path.join(WORK, "inputs", name)
    if os.path.exists(os.path.join(d, "_DONE")):
        return d
    tmp = d + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(tmp)
    make(tmp)
    open(os.path.join(tmp, "_DONE"), "w").close()
    os.rename(tmp, d)
    return d


def fanout_inputs(seed, sz, key="fanout_turns"):
    n = sz[key]
    main = cached(f"fanout-s{seed}-n{n}", lambda d: write_split(
        turns_table(n, sz["fanout_convs"] * n // sz["fanout_turns"], seed), d, 16))
    warm = cached(f"fanout-warm-n{sz['warm_turns']}", lambda d: write_split(
        turns_table(sz["warm_turns"], 500, 0), d, 4))
    return main, warm


def query_inputs(seed, sz):
    def make(n_events, n_users, n_docs, s):
        def f(d):
            write_parquet(events_table(n_events, n_users, s), os.path.join(d, "events.parquet"))
            write_parquet(documents_table(n_docs, s), os.path.join(d, "documents.parquet"))
        return f
    data = cached(f"queries-s{seed}-e{sz['events']}-d{sz['docs']}",
                  make(sz["events"], sz["users"], sz["docs"], seed))
    warm = cached(f"queries-warm-e{sz['warm_events']}-d{sz['warm_docs']}",
                  make(sz["warm_events"], sz["warm_users"], sz["warm_docs"], 0))
    return data, warm


def stream_inputs(seed, sz):
    # one primer file and the lead-in files precede the timed files
    nf = 1 + sz["stream_lead_files"] + sz["stream_files"]
    ft = sz["stream_file_turns"]
    pool = cached(f"stream-s{seed}-f{nf}x{ft}", lambda d: write_split(
        turns_table(nf * ft, max(50, nf * ft // 40), seed), d, nf, prefix="turns"))
    warm = cached(f"stream-warm-{ft}", lambda d: write_split(
        turns_table(2 * ft, 100, 0), d, 2, prefix="turns"))
    return pool, warm


# ------------------------------------------------------------------ jvm

def heap():
    if os.environ.get("SPARK_DRIVER_MEM"):
        return os.environ["SPARK_DRIVER_MEM"]
    # the tier-1 rule: half of RAM, clamped to 2..8 GB
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
        g = kb // 2097152
    except (OSError, StopIteration, ValueError):
        g = 2
    return f"{min(8, max(2, g))}g"


ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio",
             "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


# Wall-clock budget of one run after the build; every JVM must end by then.
RUN_BUDGET_S = 170.0
_deadline = None


def jvm(cp, mode, args, run_dir, cpus=None):
    """Run one benchmark JVM; return its result JSON."""
    timeout = max(1.0, _deadline - time.time())
    out = os.path.join(run_dir, f"{mode}-result.json")
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # no hsperfdata file: the JVM would write it outside the checkout
    cmd = ["java", f"-Xmx{heap()}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false", "-Dderby.system.home=" + tmp]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "hostbench.Main", mode, "--out", out, "--work", run_dir]
    for k, v in args.items():
        cmd += [f"--{k}", str(v)]
    if cpus is not None:
        cmd = ["taskset", "-c", cpus] + cmd
    logf = os.path.join(run_dir, f"{mode}.log")
    with open(logf, "w") as lf:
        env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(run_dir, "spark-local"))
        try:
            p = subprocess.run(cmd, stdout=lf, stderr=subprocess.STDOUT, timeout=timeout,
                               cwd=run_dir, env=env)
        except subprocess.TimeoutExpired:
            raise BenchError(f"{mode} JVM passed the {RUN_BUDGET_S:.0f} s run budget; see {logf}")
    if p.returncode != 0 or not os.path.exists(out):
        with open(logf) as lf:
            tail = lf.read()[-3000:]
        sys.stderr.write(tail)
        raise BenchError(f"{mode} JVM failed (exit {p.returncode}); see {logf}")
    with open(out) as f:
        return json.load(f)


def nproc():
    return len(os.sched_getaffinity(0))


def cpu_jiffies():
    """The aggregate `cpu` line of /proc/stat."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_pct(before, after):
    """Share of CPU time the hypervisor gave to other guests meanwhile."""
    d = [b - a for a, b in zip(before, after)]
    return 100.0 * d[7] / max(1, sum(d[:8]))


# --------------------------------------------------------------- checks

P1 = r"^CALL tool=(\w+) args=(\{.*\}) dur_ms=(\d+)$"
P2 = r"^(TRACE|DEBUG|INFO|WARN|ERROR|FATAL) \[([\w.-]+)\] (.*)$"
P3 = r"^\w+=[^ ]+( \w+=[^ ]+)*$"


def duck():
    con = duckdb.connect()
    con.execute("SET threads=4")
    con.execute(f"SET temp_directory='{os.path.join(WORK, 'duckdb-tmp')}'")
    return con


def expected_fanout(con, in_dir):
    """Per-route rows and windowed (route, window, role) counts of the
    flagship, computed by DuckDB with the bank in RE2 syntax."""
    con.execute(f"""
      CREATE OR REPLACE TEMP VIEW routed AS
      WITH t AS (
        SELECT role, tool, CAST(floor(epoch(ts) / 3600) * 3600 AS BIGINT) AS w,
          CASE WHEN regexp_matches(text, '{P1}') THEN 'tool_call'
               WHEN regexp_matches(text, '{P2}') THEN 'status'
               WHEN regexp_matches(text, '{P3}') THEN 'kv' END AS pattern,
          regexp_extract(text, '{P2}', 1) AS level
        FROM read_parquet('{in_dir}/*.parquet')),
      r AS (
        SELECT *, (tool <> '' AND pattern = 'tool_call') AS r_tool,
               (pattern = 'status' AND level IN ('ERROR', 'FATAL')) AS r_err,
               (role = 'user') AS r_user FROM t)
      SELECT 'tool_calls' AS route, w, role FROM r WHERE r_tool
      UNION ALL SELECT 'errors', w, role FROM r WHERE r_err
      UNION ALL SELECT 'user_turns', w, role FROM r WHERE r_user
      UNION ALL SELECT 'default', w, role FROM r
        WHERE NOT (coalesce(r_tool, false) OR coalesce(r_err, false) OR r_user)""")
    rows = dict(con.execute("SELECT route, count(*) FROM routed GROUP BY 1").fetchall())
    counts = {}
    for route, w, role, n in con.execute(
            "SELECT route, w, role, count(*) FROM routed GROUP BY 1, 2, 3").fetchall():
        counts.setdefault(route, []).append((w, role, n))
    return rows, {r: sorted(v) for r, v in counts.items()}


def check_fanout(res, in_dir):
    """attempted = full jobs; a job is wrong if its lineage totals or (for
    the job whose output is kept) its sink rows or count tables differ
    from DuckDB's."""
    con = duck()
    rows, counts = expected_fanout(con, in_dir)
    routes = sorted(set(rows) | {"tool_calls", "errors", "user_turns", "default"})
    lineages = res["lineage_rows_per_job"]
    bad = sum(1 for lin in lineages
              if any(lin.get(r, 0) != rows.get(r, 0) for r in routes))
    out = res["output"]
    last_ok = True
    for r in routes:
        sink = os.path.join(out, "sinks", f"route={r}")
        got_rows = con.execute(f"SELECT count(*) FROM read_parquet('{sink}/*.parquet')").fetchone()[0] \
            if os.path.isdir(sink) else 0
        got = sorted(con.execute(
            f"SELECT CAST(epoch(window_start) AS BIGINT), role, count "
            f"FROM read_parquet('{out}/counts_{r}/*.parquet')").fetchall())
        if got_rows != rows.get(r, 0) or got != counts.get(r, []) \
                or sum(c for _, _, c in got) != rows.get(r, 0):
            log(f"batch_fanout check: route {r} differs "
                f"(rows {got_rows} vs {rows.get(r, 0)}, {len(got)} vs {len(counts.get(r, []))} groups)")
            last_ok = False
    if bad:
        log(f"batch_fanout check: {bad} job(s) with lineage totals != DuckDB {rows}")
    attempted = len(lineages)
    failed = min(attempted, bad + (0 if last_ok else 1))
    return attempted, failed, rows


def oracle_results(data_dir, sql):
    """Row count and value hash of each oracle query, computed once per
    input set with tools/check_oracle.py's canonicalisation."""
    path = os.path.join(data_dir, "oracle.json")
    if os.path.exists(path):
        cached_res = json.load(open(path))
        if set(cached_res) >= set(sql):
            return cached_res
    check_oracle = load_check_oracle()
    con = duck()
    for t in ("events", "documents"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
    res = {}
    for name in sorted(sql):
        res[name] = digest(check_oracle, con.execute(sql[name]).fetch_df())
    with open(path + ".tmp", "w") as f:
        json.dump(res, f)
    os.replace(path + ".tmp", path)
    return res


def load_check_oracle():
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    try:
        import check_oracle
    except ImportError as e:
        raise BenchError(f"tools/check_oracle.py is needed for the query_mix check: {e}")
    return check_oracle


def digest(co, df):
    cols = sorted(df.columns)
    rows = sorted((tuple(co.canon(v) for v in row)
                   for row in df[cols].itertuples(index=False, name=None)), key=co.sortkey)
    h = hashlib.sha256(repr((cols, [str(df[c].dtype) for c in cols], rows)).encode()).hexdigest()
    return {"rows": len(rows), "hash": h}


def check_queries(run_dir, data_dir):
    sql = json.load(open(os.path.join(run_dir, "oracle_sql.json")))
    want = oracle_results(data_dir, sql)
    co = load_check_oracle()
    con = duck()
    failed = 0
    for name in CONV + CORPUS:
        got = digest(co, con.execute(
            f"SELECT * FROM read_parquet('{run_dir}/check/{name}/*.parquet')").fetch_df())
        if got != want[name]:
            failed += 1
            log(f"query_mix check: {name} differs (rows {got['rows']} vs {want[name]['rows']})")
    return len(CONV + CORPUS), failed


# ------------------------------------------------------------ workloads

def common_args(seed, seconds, trace, sz):
    # the traced run reports no setup_s, so it sets up once
    return {"seed": seed, "seconds": seconds, "trace": trace, "cores": nproc(),
            "setups": 1 if trace else sz["setups"], "min_reps": sz["min_reps"]}


def layer_fields(dst, layer, totals):
    for f in LISTENER_FIELDS:
        dst[f"{layer}.{f}"] = float(totals.get(f, 0.0))


def run_batch_fanout(cp, run_dir, seed, seconds, trace, sz):
    in_dir, warm = fanout_inputs(seed, sz)
    args = dict(common_args(seed, seconds, trace, sz), **{"in": in_dir, "warm": warm})
    if trace:
        args["scale"] = fanout_inputs(seed, sz, "scale_turns")[0]
    res = jvm(cp, "batch_fanout", args, run_dir)
    attempted, failed, rows = check_fanout(res, in_dir)
    n = sz["fanout_turns"]
    if not trace:
        jobs = res["job_s"]
        e2e = {"job_s": statistics.median(jobs), "job_cpu_s": res["cpu_s"] / len(jobs)}
        return e2e, res, attempted, failed, {}
    # the 1-core side of the scaling pair: its own JVM pinned to one CPU
    one = jvm(cp, "compute", {"cores": 1, "in": args["scale"], "warm": warm,
                              "min_reps": sz["min_reps"]},
              # the last CPU: the first one also serves most interrupts
              run_dir, cpus=str(sorted(os.sched_getaffinity(0))[-1]))
    t1 = statistics.median(one["compute_s"])
    t4 = statistics.median(res["compute4_s"])
    untraced = statistics.median(res["job_untraced_s"])
    pre = res["prefix_s"]
    spans = res["spans"]
    L = {}
    L["fanout_turns_per_s"] = n / untraced
    L["compute_1c_turns_per_s"] = sz["scale_turns"] / t1
    L["scaling_eff_1to4"] = t1 / (4 * t4)
    L["sources.scan_s"] = pre["sources"]
    L["parse.self_s"] = pre["parse"] - pre["sources"]
    L["enrich.self_s"] = pre["enrich"] - pre["parse"]
    L["route.tag_self_s"] = pre["route.tag"] - pre["enrich"]
    L["route.write_self_s"] = spans["route.write"] - pre["route.tag"]
    L["run.lineage_s"] = spans["run.lineage"]
    L["agg.count_self_s"] = spans["agg.count"]
    L["run.resume_s"] = res["resume_s"]
    L["parse.unmatched_ratio"] = res["unmatched"] / res["rows"]
    L["enrich.hit_ratio"] = 1.0 - res["enrich_miss"] / res["rows"]
    L["route.fanout_factor"] = sum(rows.values()) / res["rows"]
    L["route.bytes_written"] = float(res["bytes_written"])
    L["route.files_written"] = float(res["files_written"])
    L["config.compile_s"] = statistics.median(res["compile_s"])
    L["scale.fixed_s"] = statistics.median(res["fixed_s"])
    L["trace.overhead_ratio"] = statistics.median(res["job_traced_s"]) / untraced
    self_sum = sum(L[k] for k in ("sources.scan_s", "parse.self_s", "enrich.self_s",
                                  "route.tag_self_s", "route.write_self_s", "run.lineage_s",
                                  "agg.count_self_s"))
    L["trace.self_sum_ratio"] = self_sum / untraced
    prel, jobl = res["prefix_layers"], res["job_layers"]

    def per_rep(fn):
        """median over repetitions of a listener figure per field"""
        reps = range(len(jobl))
        return {f: statistics.median(float(fn(i, f)) for i in reps) for f in
                list(LISTENER_FIELDS) + ["shuffle_bytes"]}
    layer_fields(L, "sources", per_rep(lambda i, f: prel["sources"][i][f]))
    layer_fields(L, "parse", per_rep(lambda i, f: prel["parse"][i][f] - prel["sources"][i][f]))
    layer_fields(L, "enrich", per_rep(lambda i, f: prel["enrich"][i][f] - prel["parse"][i][f]))
    layer_fields(L, "route", per_rep(lambda i, f: jobl[i]["route.write"][f] - prel["enrich"][i][f]))
    agg = per_rep(lambda i, f: jobl[i]["agg.count"][f])
    layer_fields(L, "agg", agg)
    layer_fields(L, "run", per_rep(lambda i, f: jobl[i]["run.lineage"][f]))
    L["agg.shuffle_bytes"] = agg["shuffle_bytes"]
    if res["resume_executed"] != 0:
        log(f"batch_fanout check: resume executed {res['resume_executed']} committed sink(s)")
        failed += 1
    attempted += 1
    return {}, res, attempted, failed, L


def run_query_mix(cp, run_dir, seed, seconds, trace, sz):
    data, warm = query_inputs(seed, sz)
    args = dict(common_args(seed, seconds, trace, sz),
                **{"data": data, "warm": warm, "clients": nproc(), "trace_reps": 2})
    res = jvm(cp, "query_mix", args, run_dir)
    attempted, failed = check_queries(run_dir, data)
    if not trace:
        passes = res["job_s"]
        e2e = {"job_s": statistics.median(passes), "job_cpu_s": res["cpu_s"] / len(passes)}
        return e2e, res, attempted, failed, {}
    L = {f"query.{n}_s": v for n, v in res["query_s"].items()}
    L["conv_queries_s"] = statistics.median(res["conv_pass_s"])
    L["corpus_ops_s"] = statistics.median(res["corpus_pass_s"])
    L["sources.derive_s"] = statistics.median(res["derive_s"])
    L["ops.shuffle_bytes"] = float(res["layers"]["ops"]["shuffle_bytes"])
    L["ops.broadcast_bytes"] = float(res["broadcast_bytes"])
    layer_fields(L, "sources", res["layers"]["sources"])
    layer_fields(L, "ops", res["layers"]["ops"])
    return {}, res, attempted, failed, L


def run_stream_tail(cp, run_dir, seed, seconds, trace, sz):
    pool, warm = stream_inputs(seed, sz)
    # a fixed rate and file count: p90 needs ten files beyond it
    args = dict(common_args(seed, seconds, trace, sz),
                **{"pool": pool, "warm": warm, "files": sz["stream_files"],
                   "interval_ms": sz["stream_interval_ms"],
                   "lead_files": sz["stream_lead_files"], "lead_burst": sz["stream_lead_burst"]})
    res = jvm(cp, "stream_tail", args, run_dir)
    lat = res["latency_s"]
    unrouted = res["files"] - res["files_routed"]
    wrong = [r for r in res["route_rows_expected"]
             if res["route_rows"].get(r, 0) != res["route_rows_expected"][r]]
    wrong += [r for r in res["route_rows"] if r not in res["route_rows_expected"]
              and res["route_rows"][r] != 0]
    if unrouted or wrong:
        log(f"stream_tail check: {unrouted} file(s) unrouted, routes differing: {wrong}")
    attempted = res["files"] + len(res["route_rows"])
    failed = unrouted + len(wrong)
    if not lat:
        raise BenchError("stream_tail routed no file")
    if not trace:
        e2e = {"job_s": statistics.median(lat), "job_cpu_s": res["cpu_s"] / res["files"]}
        return e2e, res, attempted, failed, {}
    med = lambda xs: statistics.median(xs) if xs else 0.0
    L = {
        "stream_latency_p50_s": statistics.median(lat),
        "stream_latency_p90_s": statistics.quantiles(lat, n=10, method="inclusive")[-1],
        "streaming.queue_wait_s": med(res["queue_wait_s"]),
        "streaming.sinks_batch_s": med(res["sinks_batch_s"]),
        "streaming.sinks_add_batch_s": med(res["sinks_add_batch_s"]),
        "streaming.planning_s": med(res["planning_s"]),
        "streaming.wal_commit_s": med(res["wal_commit_s"]),
        "streaming.counts_batch_s": med(res["counts_batch_s"]),
        "streaming.state_rows": float(res["state_rows"]),
        "streaming.state_memory_bytes": float(res["state_memory_bytes"]),
        "streaming.rows_per_batch": med(res["rows_per_batch"]),
        "streaming.backlog_files": float(res["backlog_files"]),
        "streaming.gen_late_ms": max(res["gen_late_ms"]),
    }
    layer_fields(L, "streaming", res["layers"]["streaming"])
    return {}, res, attempted, failed, L


RUNNERS = {"batch_fanout": run_batch_fanout, "query_mix": run_query_mix,
           "stream_tail": run_stream_tail}


def run(workload, seed, seconds, trace, size="full"):
    check_layout()
    cp = build()
    global _deadline
    _deadline = time.time() + RUN_BUDGET_S
    sz = SIZES[size]
    run_dir = os.path.join(WORK, "run", workload)
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    cpu0 = cpu_jiffies()
    e2e, res, attempted, failed, layers = RUNNERS[workload](cp, run_dir, seed, seconds, trace, sz)
    host = dict(res["host"], steal_pct=steal_pct(cpu0, cpu_jiffies()))
    log(f"host nproc={host['nproc']} spark_cores={host['spark_cores']} "
        f"loadavg_1m={host['loadavg_1m']} steal_pct={host['steal_pct']:.1f} "
        f"heap_mb={host['max_heap_mb']:.0f}")
    if trace:
        metrics = {name: 0.0 for name in PER_LAYER}
        metrics.update(layers)
        metrics["error_rate"] = failed / attempted
        metrics["host.nproc"] = float(host["nproc"])
        metrics["host.loadavg_1m"] = float(host["loadavg_1m"])
        metrics["host.steal_pct"] = float(host["steal_pct"])
        metrics["peak_rss_mb"] = float(host["peak_rss_mb"])
        units = PER_LAYER
    else:
        metrics = dict(e2e)
        metrics["setup_s"] = statistics.median(res["setup_s"])
        units = END_TO_END
    with open(os.path.join(run_dir, "metrics.json"), "w") as f:
        json.dump({"workload": workload, "seed": seed, "trace": trace, "host": host,
                   "metrics": metrics}, f, indent=1)
    return {
        "correct": failed == 0,
        "attempted": int(attempted),
        "failed": int(failed),
        "metrics": {k: {"value": float(metrics[k]), "unit": units[k]} for k in units},
    }


def smoke():
    """Every workload once at a tiny size, traced and untraced; every
    metric BENCHMARK.json names must be printed with its unit."""
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    names = [w["name"] for w in spec["workloads"]]
    assert names == WORKLOADS, f"BENCHMARK.json workloads {names} != {WORKLOADS}"
    problems = []
    for wl in WORKLOADS:
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            out = run(wl, 1, 2, trace, size="smoke")
            print(json.dumps({"workload": wl, "trace": trace, "correct": out["correct"],
                              "attempted": out["attempted"], "failed": out["failed"]}))
            for m in spec[key]:
                got = out["metrics"].get(m["name"])
                if got is None or got.get("unit") != m["unit"] \
                        or not isinstance(got.get("value"), float):
                    problems.append(f"{wl} trace={trace}: {m['name']} missing or without unit")
            extra = set(out["metrics"]) - {m["name"] for m in spec[key]}
            if extra:
                problems.append(f"{wl} trace={trace}: unlisted metrics {sorted(extra)}")
            if not out["correct"]:
                problems.append(f"{wl} trace={trace}: output check failed")
    for p in problems:
        log(f"smoke: {p}")
    print(json.dumps({"smoke": "ok" if not problems else "failed", "problems": len(problems)}))
    return 0 if not problems else 1


def main(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--smoke", action="store_true")
    a = ap.parse_args(argv)
    try:
        if a.smoke:
            check_layout()
            return smoke()
        if not a.workload:
            ap.error("--workload is required")
        out = run(a.workload, a.seed, a.seconds, a.trace)
    except BenchError as e:
        log(f"error: {e}")
        return 2
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
