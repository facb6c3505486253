#!/usr/bin/env python3
"""The repository benchmark: one command per workload run.

    python3 perfbench/run.py --workload catalog|stream --seed N \
        --seconds S --trace 0|1

Run from the root of a checkout. It builds the engine and the JVM side
(perfbench/build.py), generates the workload's inputs from the seed
(perfbench/gen.py), runs the workload in one JVM with Spark on
local[nproc], checks the outputs, prints a report naming every metric
with its unit, and prints as its last line one JSON object with
`correct`, `attempted`, `failed` and `metrics`. `--trace 0` reports the
end-to-end metrics; `--trace 1` is a separate traced run that reports
the per-layer metrics. A failed output check exits with code 1.
See perfbench/README.md for what each metric measures.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

T0 = time.time()
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import numpy as np  # noqa: E402

import build  # noqa: E402
import gen  # noqa: E402
import metrics as M  # noqa: E402

ROOT = os.path.dirname(HERE)
RUN_LIMIT_S = 170  # a run's own time limit, compile excluded

# `catalog` runs a fixed subset of the oracle-checked catalog, at least
# one query per family, because one cold pass of all 88 queries takes
# about two minutes on 4 cores and a run must fit its time budget. Each
# pass also runs the corpus pipeline once, as the operation CORPUS_OP.
CATALOG_QUERIES = [
    "g_linkpred", "t_fingerprint", "s_knn", "b1_backtest", "w4_drawdown", "j2_asof",
    "e_tumbling", "p1_scan",
]
FAMILIES = [  # (metric prefix, query-name prefixes)
    ("graph.", ("g_",)), ("text.", ("t_",)), ("sim.", ("s_",)), ("backtest.", ("b",)),
    ("ops.", ("w",)), ("plans.", ("j",)), ("streaming.batch_", ("e_",)),
    ("queries.rel_", ("a", "q", "p", "f", "o")),
]
CORPUS_OP = "clean+pack"
CORPUS_COPIES = 2
CORPUS_BENCH_DOCS = 50
# (events per second, share of the run): the lowest rate gives the
# latency percentiles, the higher one a second latency point; then
# bursts of events all due at once, each after a quiet gap, whose batch
# processing rates give the capacity (metrics.burst_capacity)
STREAM_STEPS = ((100, 0.8), (2000, 0.2))
STREAM_BURST_ROWS = 40_000
STREAM_BURSTS = 5
STREAM_GAP_S = 0.8
STREAM_RATES = tuple(r for r, _ in STREAM_STEPS)
STREAM_LAT_LIMIT_MS = 1000.0      # p90 limit of a sustained rate; also stated in BENCHMARK.json
STREAM_WINDOW = "1 minute"
STREAM_LATENESS_S = 1800
STREAM_DT_US = 100_000
STREAM_WARM_BATCHES = 20          # warm-up micro-batches of ...
STREAM_WARM_ROWS = 500            # ... this many events each
SPAN_TOLERANCE = 0.25             # traced build+run vs untraced wall, per query
SPAN_FLOOR_S = 0.05


WORKLOADS = ["catalog", "stream"]


def family(name):
    for prefix, starts in FAMILIES:
        if name.startswith(starts):
            return prefix
    raise ValueError(name)


def jvm_cmd(classes, scratch):
    opens = []
    for p in ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
              "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
              "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]:
        opens += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    # -XX:-UsePerfData and the two temp directories keep every file the
    # JVM, Spark and Hadoop write inside the run's scratch directory
    return ["java", *opens, "-Xms3g", "-Xmx3g", "-XX:ReservedCodeCacheSize=512m", "-XX:-UsePerfData",
            "-Dspark.sql.codegen.cache.maxEntries=5000", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC", f"-Djava.io.tmpdir={scratch}",
            f"-Dspark.hadoop.hadoop.tmp.dir={scratch}/hadoop",
            "-cp", f"{classes}:{os.path.join(build.spark_jars(), '*')}", "perfbench.Bench"]


def make_inputs(workload, seed, seconds, data):
    rng = np.random.default_rng([seed, WORKLOADS.index(workload)])
    if workload == "catalog":
        gen.catalog_tables(data, rng)
        planted = gen.corpus_tables(data, rng, CORPUS_COPIES, CORPUS_BENCH_DOCS)
        info = {"docs": len(planted["texts"]),
                "bytes": sum(len(t.encode()) for t in planted["texts"]), "planted": planted}
    else:
        steps = [(r, share * seconds) for r, share in STREAM_STEPS]
        cols = gen.stream_schedule(rng, steps, warm_rows=STREAM_WARM_BATCHES * STREAM_WARM_ROWS,
                                   dt_us=STREAM_DT_US,
                                   late_share=0.1, late_rows=20,
                                   lateness_us=STREAM_LATENESS_S * 1_000_000,
                                   burst_rows=STREAM_BURST_ROWS, bursts=STREAM_BURSTS,
                                   gap_s=STREAM_GAP_S)
        gen.write_schedule(data, cols)
        info = {"events": int(len(cols["part"])), "steps": steps}
    return info


def workload_args(workload, seconds, run_dir):
    if workload == "catalog":
        return ["--queries", ",".join(CATALOG_QUERIES),
                "--verify_dir", os.path.join(run_dir, "verify")]
    return ["--window", STREAM_WINDOW, "--lateness", f"{STREAM_LATENESS_S} seconds",
            "--warm_batches", str(STREAM_WARM_BATCHES),
            "--trace_on_s", str(STREAM_STEPS[0][1] * seconds / 2)]


# ------------------------------------------------------------ checks

def oracle_check(data, verify_dir, oracle_sql):
    """Each query's Spark result against DuckDB running the query's oracle
    SQL over the same generated tables, by order-insensitive row digest."""
    import duckdb
    con = duckdb.connect()
    for t in ["region", "nation", "customer", "supplier", "part", "orders", "lineitem",
              "events", "documents", "embeddings"]:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")

    def digest(sql):
        df = con.sql(sql).df()
        return M.row_digest(list(df.columns), df.values.tolist()), len(df)

    bad = []
    for name, sql in sorted(oracle_sql.items()):
        try:
            got = digest(f"SELECT * FROM '{verify_dir}/{name}/*.parquet'")
            want = digest(sql)
        except Exception as e:  # a missing result or a broken oracle both fail the check
            bad.append(f"{name}: {str(e)[:200]}")
            continue
        if got != want:
            bad.append(f"{name}: spark {got} vs oracle {want}")
    return bad


def corpus_check(v, planted):
    """Every check run against the generator's record of the corpus
    (metrics.corpus_output_check), the runs' digests against each other,
    and the pack's structure."""
    if not v["runs"]:
        return ["no check run completed"]
    first = v["runs"][0]
    bad = []
    for i, r in enumerate(v["runs"]):
        bad += [f"check run {i}: {b}" for b in M.corpus_output_check(
            planted, r, v["max_chunk_tokens"], v["overlap"])]
    for k in ("survivor_digest", "pack_digest"):
        if any(r[k] != first[k] for r in v["runs"]):
            bad.append(f"{k} differs between runs: {sorted({r[k] for r in v['runs']})}")
    if first["survivors"] <= 0:
        bad.append("no surviving documents")
    if first["orphan_chunks"] or first["over_budget_packs"]:
        bad.append(f"{first['orphan_chunks']} chunks of dropped docs, "
                   f"{first['over_budget_packs']} packs over budget")
    return bad


def stream_check(v, batches):
    bad = []
    if v["tumbling_mismatch"] or v["drawdown_mismatch"]:
        bad.append(f"streamed != batch twin: tumbling {v['tumbling_mismatch']} rows, "
                   f"drawdown {v['drawdown_mismatch']} rows differ")
    if v["tumbling_rows"] == 0 or v["drawdown_rows"] != v["sent_rows"]:
        bad.append(f"streamed {v['tumbling_rows']} windows, {v['drawdown_rows']} of "
                   f"{v['sent_rows']} drawdown rows")
    dropped = sum(b["state_dropped"] for b in batches)
    if dropped:
        bad.append(f"{dropped} rows dropped by the watermark; the schedule keeps all in time")
    return bad


# ----------------------------------------------------------- metrics

def end_to_end(workload, res, info):
    """(bounded metrics, report fields, accounting)"""
    report = {}
    if workload == "stream":
        lats = [b for b in M.batch_latencies(res["batches"], res["appends"]) if b["part"] == 1]
        ops = [{"name": b["query"], "ok": True, "lat_s": b["lat_ms"] / 1e3} for b in lats]
        acc = M.account(ops)
        steps = []
        for i, rate in enumerate(STREAM_RATES):
            xs = [b["lat_ms"] for b in lats if b["step"] == i]
            steps.append({"rate": rate, "n": len(xs), "p50": M.median(xs),
                          "p90": M.percentile(xs, 0.9),
                          "sustained": M.step_sustained(xs, STREAM_LAT_LIMIT_MS)})
        low = [b["lat_ms"] for b in lats if b["step"] == 0]
        capacity = M.burst_capacity(res["batches"], res["appends"], len(STREAM_RATES))
        sustained = [s["rate"] for s in steps if s["sustained"]]
        # the two queries' batches differ in cost, so each percentile is
        # taken per query and the two combined by geometric mean
        low_ops = [o for o, b in zip(ops, lats) if b["step"] == 0]
        p50, p90 = M.geomean_of_percentiles(low_ops, 0.5), M.geomean_of_percentiles(low_ops, 0.9)
        items = capacity
        report.update({
            "stream_lat_p50_ms": (p50, "ms"), "stream_lat_p90_ms": (p90, "ms"),
            "stream_max_rate_eps": (max(sustained) if sustained else 0, "1/s"),
            "stream_burst_eps": (capacity, "1/s")})
        report["_steps"] = steps
        report["_samples"] = len(low)
    else:
        ops = res["ops"]
        acc = M.account(ops)
        report["_samples"] = len(acc["samples"])
        walls = [p["wall_s"] for p in res["passes"] if not p["failed"] and not p["traced"]]
        items = (len(CATALOG_QUERIES) + 1) / M.median(walls)
        # pooled percentiles of operations of very different cost jump
        # between neighbouring operations from run to run; the bounded
        # metrics are geometric means of per-operation percentiles
        p50, p90 = M.geomean_of_percentiles(ops, 0.5), M.geomean_of_percentiles(ops, 0.9)
        queries = [o for o in ops if o["name"] != CORPUS_OP]
        q_s = M.account(queries)["samples"]
        corpus_s = M.account([o for o in ops if o["name"] == CORPUS_OP])["samples"]
        by_pass = {}
        for o in queries:
            if o.get("ok") and not o["traced"]:
                by_pass[o["pass"]] = by_pass.get(o["pass"], 0.0) + o["lat_s"]
        report.update({
            "catalog_pass_s": (M.median(list(by_pass.values())), "s"),
            "query_p50_s": (M.median(q_s), "s"), "query_p90_s": (M.percentile(q_s, 0.9), "s"),
            "query_geomean_s": (M.geomean_of_percentiles(queries) / 1e3, "s"),
            "corpus_docs_per_s": (info["docs"] / M.median(corpus_s), "1/s"),
            "op_p50_geomean_ms": (p50, "ms"), "op_p90_geomean_ms": (p90, "ms"),
            "ops_per_s": (items, "1/s")})
        report["_stalls"] = M.stalls(ops)
    setup_s = res["setup_end_ms"] / 1e3 - T0 - info["build_s"]
    report.update({"setup_s": (setup_s, "s"), "fail_frac": (acc["fail_frac"], "ratio"),
                   "retained_heap_mb": (res["heap_mb"], "MB")})
    values = {"setup_s": setup_s, "lat_p50_ms": p50, "lat_p90_ms": p90,
              "items_per_s": items, "retained_heap_mb": res["heap_mb"]}
    return values, report, acc


def per_layer(workload, res, spans):
    L = dict(res.get("layers", {}))
    units = max(res.get("traced_units", 0), 1)
    out = {}
    ops = res.get("ops", [])
    traced_ops = {o["op"]: o for o in ops if o.get("traced") and o.get("ok")}
    span_sum = {}
    for sid, parent, op, name, start, end in spans:
        if op in traced_ops:
            key = name if name not in ("query", "pipeline") else ("root", traced_ops[op]["name"])
            span_sum[key] = span_sum.get(key, 0.0) + (end - start) / 1e9
    if workload == "catalog":
        wall = sum(p["wall_s"] for p in res["passes"] if p["traced"])
    else:
        wall = max(res["timing_end_ms"] / 1e3 - res["trace_on_us"] / 1e6, 1e-9)

    batches = [b for b in res.get("batches", []) if b["rows"] > 0
               and b["start_ms"] * 1000 >= res.get("trace_on_us", float("inf"))]
    if workload == "stream":
        units = max(len(batches), 1)
    for k in ["sched.jobs", "sched.stages", "sched.tasks", "sched.launch_wait_s",
              "exec.task_run_s", "exec.task_cpu_s", "exec.gc_s", "shuffle.write_bytes",
              "shuffle.read_bytes", "shuffle.fetch_wait_s", "spill.mem_bytes", "spill.disk_bytes",
              "io.input_bytes", "catalyst.analysis_s", "catalyst.optimization_s",
              "catalyst.planning_s"]:
        out[k] = L.get(k, 0.0) / units
    out["exec.task_skew"] = L.get("exec.task_skew", 0.0)
    cores = res["cores"]
    out["exec.core_util"] = L.get("exec.task_run_s", 0.0) / (wall * cores) if wall else 0.0

    out["queries.build_s"] = span_sum.get("queries.build", 0.0) / units
    out["queries.run_s"] = span_sum.get("queries.run", 0.0) / units
    out["queries.build_jobs"] = sum(n for q, n in res.get("build_jobs_by_query", {}).items()
                                    if q != CORPUS_OP) / units
    for prefix, _ in FAMILIES:
        out[prefix + "wall_s"] = 0.0
        out[prefix + "jobs"] = 0.0
    if workload == "catalog":
        for key, v in span_sum.items():
            if isinstance(key, tuple) and key[1] != CORPUS_OP:
                out[family(key[1]) + "wall_s"] += v / units
        for q, n in res.get("jobs_by_query", {}).items():
            if q != CORPUS_OP:
                out[family(q) + "jobs"] += n / units
    out["text.clean_build_s"] = span_sum.get("text.clean_build", 0.0) / units
    out["text.clean_run_s"] = span_sum.get("text.clean_run", 0.0) / units
    out["text.pack_s"] = span_sum.get("text.pack", 0.0) / units
    v = res.get("verify", {})
    out["text.survivor_frac"] = (v["runs"][0]["survivors"] / v["input_docs"]
                                 if workload == "catalog" else 0.0)
    left = [o["blocks_left"] for o in traced_ops.values()]
    out["cache.blocks_left"] = sum(left) / len(left) if left else 0.0

    # streaming, state store and generator
    def per_batch(k):
        return sum(b[k] for b in batches) / len(batches) if batches else 0.0
    out["streaming.batches"] = float(len(batches))
    out["streaming.input_rows"] = per_batch("rows")
    out["streaming.trigger_s"] = per_batch("trigger_ms") / 1e3
    out["streaming.add_batch_s"] = per_batch("add_batch_ms") / 1e3
    out["streaming.planning_s"] = per_batch("planning_ms") / 1e3
    out["streaming.log_commit_s"] = per_batch("log_commit_ms") / 1e3
    out["streaming.backlog_rows"] = backlog_rows(res, batches) if batches else 0.0
    last = {}
    for b in batches:
        last[b["query"]] = b
    out["state.rows_total"] = float(sum(b["state_rows_total"] for b in last.values()))
    out["state.memory_bytes"] = float(sum(b["state_memory_bytes"] for b in last.values()))
    out["state.rows_updated"] = per_batch("state_rows_updated")
    out["state.commit_s"] = per_batch("state_commit_ms") / 1e3
    rows = sum(b["rows"] for b in batches)
    out["state.late_dropped_frac"] = sum(b["state_dropped"] for b in batches) / rows if rows else 0.0
    out["gen.lag_ms"] = M.generator_lag_ms([a for a in res.get("appends", []) if a["part"] == 1])

    # tracing overhead and span accounting, from the same run's untraced half
    out["trace.overhead_frac"], out["trace.span_cover_frac"] = trace_overhead(workload, res, spans)
    calib = res["calib"]
    out["host.mt_st_ratio"] = calib["mt_s"] / calib["st_s"]
    out["host.steal_frac"] = res["steal_frac"]
    out["host.stalls"] = float(M.stalls(ops)) if ops else 0.0
    return out


def backlog_rows(res, batches):
    """Mean number of rows sent but not yet consumed when each batch
    commits: the queue a batch leaves behind, which grows when the
    offered rate exceeds what the engine sustains."""
    sent = sorted((a["sent_us"], a["rows"]) for a in res["appends"])
    consumed = {}
    total = 0
    for a in sorted(res["appends"], key=lambda a: a["offset"]):
        total += a["rows"]
        consumed[a["offset"]] = total
    vals = []
    for b in batches:
        commit_us = (b["start_ms"] + b["trigger_ms"]) * 1000
        n = sum(r for t, r in sent if t <= commit_us)
        vals.append(max(n - consumed[int(b["end_offset"])], 0))
    return sum(vals) / len(vals) if vals else 0.0


def trace_overhead(workload, res, spans):
    if workload == "stream":
        lats = [b for b in M.batch_latencies(res["batches"], res["appends"])
                if b["part"] == 1 and b["step"] == 0]
        on = res["trace_on_us"] / 1e3
        a = [b["lat_ms"] for b in lats if b["start_ms"] < on]
        b = [b["lat_ms"] for b in lats if b["start_ms"] >= on]
        return (M.median(b) / M.median(a) - 1.0 if a and b else 0.0), 0.0
    ops = [o for o in res["ops"] if o.get("ok")]
    walls = lambda t: [p["wall_s"] for p in res["passes"] if p["traced"] == t and not p["failed"]]
    plain, traced = walls(False), walls(True)
    overhead = M.median(traced) / M.median(plain) - 1.0 if plain and traced else 0.0
    # per operation name: traced build+run spans against untraced wall time
    child = {}
    for sid, parent, op, name, start, end in spans:
        if parent != 0:
            child[op] = child.get(op, 0.0) + (end - start) / 1e9
    names = sorted({o["name"] for o in ops})
    covered = 0
    for n in names:
        u = [o["lat_s"] for o in ops if o["name"] == n and not o["traced"]]
        t = [child[o["op"]] for o in ops if o["name"] == n and o["traced"] and o["op"] in child]
        if u and t:
            mu, mt = M.median(u), M.median(t)
            covered += abs(mt - mu) <= max(SPAN_TOLERANCE * mu, SPAN_FLOOR_S)
    return overhead, covered / len(names) if names else 0.0


# -------------------------------------------------------------- main

def main():
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = p.parse_args()

    build_dir = os.path.abspath(os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    os.makedirs(build_dir, exist_ok=True)
    b0 = time.time()
    classes = build.build(build_dir)
    build_s = time.time() - b0

    run_dir = os.path.join(build_dir, "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    data, scratch = os.path.join(run_dir, "data"), os.path.join(run_dir, "scratch")
    os.makedirs(data)
    os.makedirs(scratch)
    try:
        info = make_inputs(a.workload, a.seed, a.seconds, data)
        info["build_s"] = build_s
        digest = gen.input_digest(data)
        out, spans_file = os.path.join(run_dir, "result.json"), os.path.join(run_dir, "spans.json")
        cmd = jvm_cmd(classes, scratch) + [
            "--workload", a.workload, "--data", data, "--out", out, "--spans", spans_file,
            "--scratch", scratch, "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--seed", str(a.seed), "--cores", str(len(os.sched_getaffinity(0))),
        ] + workload_args(a.workload, a.seconds, run_dir)
        log = os.path.join(run_dir, "jvm.log")
        with open(log, "w") as lf:
            proc = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT)
            try:
                code = proc.wait(timeout=max(RUN_LIMIT_S - (time.time() - T0 - build_s), 10))
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
                code = "timeout"
        if code != 0 or not os.path.exists(out):
            sys.stderr.write(open(log, errors="replace").read()[-3000:])
            sys.stderr.write(f"\nperfbench: JVM run failed ({code})\n")
            return 2
        res = json.load(open(out))
        spans = json.load(open(spans_file)) if a.trace else []
        if a.trace:
            keep = os.path.join(build_dir, "trace")
            os.makedirs(keep, exist_ok=True)
            shutil.copy(spans_file, os.path.join(keep, f"{a.workload}-seed{a.seed}.spans.json"))

        bad = [f"setup {f['name']}: {f['error']}" for f in res["setup_failures"]]
        if a.workload == "catalog":
            bad += oracle_check(data, os.path.join(run_dir, "verify"), res["oracle_sql"])
            bad += corpus_check(res["verify"], info["planted"])
        else:
            bad += stream_check(res["verify"], res["batches"])
        values, report, acc = end_to_end(a.workload, res, info)
        print_report(a, digest, info, res, report, acc, bad)
        if a.trace:
            metrics = declared(per_layer(a.workload, res, spans), "per_layer")
            for k, m in metrics.items():
                print(f"[perfbench] layer {k} = {m['value']:.6g} {m['unit']}")
        else:
            metrics = declared(values, "end_to_end")
        print(json.dumps({"correct": not bad, "attempted": acc["attempted"],
                          "failed": acc["failed"], "metrics": metrics}))
        return 0 if not bad else 1
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def declared(values, kind):
    """`values` keyed and united as BENCHMARK.json declares the `kind`
    metrics; a metric computed but not declared, or declared but not
    computed, is an error."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)[kind]
    names = [m["name"] for m in spec]
    if sorted(names) != sorted(values):
        raise SystemExit(f"perfbench: {kind} metrics differ from BENCHMARK.json: "
                         f"{sorted(set(names) ^ set(values))}")
    return {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in spec}


def print_report(a, digest, info, res, report, acc, bad):
    say = lambda s: print(f"[perfbench] {s}")
    say(f"workload={a.workload} seed={a.seed} seconds={a.seconds} trace={a.trace} "
        f"cores={res['cores']} input_digest={digest}")
    if a.workload == "catalog":
        say(f"inputs: generated tables at sf{gen.SF}; {len(CATALOG_QUERIES)} catalog queries: "
            + ",".join(CATALOG_QUERIES))
        say(f"inputs: corpus of {info['docs']} docs ({info['bytes']} bytes), "
            f"{CORPUS_COPIES} decorrelated copies; benchmark slice of {CORPUS_BENCH_DOCS} docs")
    else:
        say(f"inputs: {info['events']} scheduled events; (rate eps, seconds) steps "
            + ", ".join(f"({r}, {s:.1f})" for r, s in info["steps"])
            + f"; p90 limit {STREAM_LAT_LIMIT_MS:.0f} ms")
    say(f"setup: inputs and engine start {res['engine_ready_ms'] / 1e3 - T0 - info['build_s']:.1f} s, "
        f"cold first pass {res.get('cold_s', 0):.1f} s, warm-up "
        + " ".join(f"{x:.2f}" for x in res.get("warm_passes", [])) + " s")
    c = res["calib"]
    say(f"contention probe: multi/single = {c['mt_s'] / c['st_s']:.2f} on {c['threads']} threads "
        f"(1.0 = uncontended); CPU steal while timed = {res['steal_frac']:.1%}; "
        f"stalls = {report.get('_stalls', 0)} of {acc['attempted']} samples "
        f"(>= {M.STALL_RATIO}x the minimum and >= {M.STALL_FLOOR_S} s above it)")
    n = report["_samples"]
    for q in (0.5, 0.9):
        if not M.reportable(n, q):
            say(f"note: p{int(q * 100)} over {n} samples has {M.beyond(n, q)} beyond it, "
                f"fewer than {M.TEN_BEYOND}")
    for s in report.get("_steps", []):
        say(f"rate {s['rate']} eps: p50 {s['p50']:.1f} ms, p90 {s['p90']:.1f} ms over "
            f"{s['n']} batches, sustained={s['sustained']}")
    for k, v in report.items():
        if not k.startswith("_"):
            say(f"{k} = {v[0]:.6g} {v[1]}")
    say(f"attempted={acc['attempted']} failed={acc['failed']} "
        f"failed_names={','.join(acc['failed_names']) or '-'}")
    if a.workload == "catalog" and res["verify"]["runs"]:
        v = res["verify"]["runs"][0]
        say(f"corpus output: {v['survivors']} survivors of {res['verify']['input_docs']} docs, "
            f"survivor digest {v['survivor_digest']}, pack digest {v['pack_digest']}, "
            f"agreed by {len(res['verify']['runs'])} check runs")
    say("check: " + ("all outputs match" if not bad else "FAILED: " + "; ".join(bad)))


if __name__ == "__main__":
    sys.exit(main())
