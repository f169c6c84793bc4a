"""Output checks and metrics for one benchmark run.

The harness JVM records spans and Spark listener events with their own
timestamps; this module checks the outputs against DuckDB and turns the
records into the end-to-end and per-layer metrics named in
BENCHMARK.json (units in UNITS).
"""
import glob
import hashlib
import os
import statistics

import duckdb
import numpy as np
import pandas as pd

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()

UNITS = {
    # end to end
    "setup_s": "s", "cold_cpu_s": "s", "pass_cpu_s": "s", "peak_rss_mb": "MB",
    # per layer: the wall times a user waits for (unbounded, see README)
    "wall.cold_s": "s", "wall.pass_s": "s", "wall.op_p50_s": "s", "wall.op_tail_s": "s",
    "session.start_ms": "ms", "graft.build_ms": "ms", "graft.exec_ms": "ms",
    "plan.analysis_ms": "ms", "plan.optimization_ms": "ms", "plan.planning_ms": "ms",
    "plan.aqe_updates": "count", "codegen.compiles": "count", "codegen.compile_ms": "ms",
    "sched.jobs": "count", "sched.stages": "count", "sched.tasks": "count",
    "sched.task_overhead_ms": "ms", "sched.driver_gap_ms": "ms",
    "exec.run_ms": "ms", "exec.cpu_ms": "ms", "exec.gc_ms": "ms", "exec.busy_ratio": "ratio",
    "scan.bytes": "B", "scan.rows": "count", "write.bytes": "B", "write.rows": "count",
    "shuffle.write_bytes": "B", "shuffle.read_bytes": "B", "shuffle.fetch_wait_ms": "ms",
    "spill.bytes": "B",
    "graph.call_ms": "ms", "graph.jobs": "count", "graph.round_ms": "ms",
    "dedup.capped_ratio": "ratio",
    "stream.batches": "count", "stream.batch_ms": "ms", "stream.plan_ms": "ms",
    "stream.add_batch_ms": "ms", "stream.wal_ms": "ms", "stream.state_rows": "count",
    "stream.state_mem_bytes": "B", "stream.state_commit_ms": "ms",
    "stream.backlog_files": "count", "stream.gen_late_ms": "ms", "stream.max_rate_eps": "1/s",
    "tasks.failed": "count", "ops.failed": "count",
    "trace.overhead_s": "s", "trace.account_err": "ratio",
}
E2E = ["setup_s", "cold_cpu_s", "pass_cpu_s", "peak_rss_mb"]
LAYER = [k for k in UNITS if k not in E2E]

# Loop operators the workloads run, with their fixed round counts.
GRAPH_OPS = {"q_label_prop": 4}

# The span tree's self times must account for each operation's wall
# time to within this share; trace.account_err reports the measured share.
ACCOUNT_TOLERANCE = 0.05


# ---------------------------------------------------------------- checks

def _connect(data_dir):
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(data_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    return con


def oracle_answers(data_dir, sql, ops):
    """DuckDB's answer per operation, computed once per (inputs, SQL)."""
    cache = os.path.join(data_dir, "oracle")
    os.makedirs(cache, exist_ok=True)
    out, con = {}, None
    for op in ops:
        if sql.get(op) is None:
            out[op] = None
            continue
        key = hashlib.sha256(sql[op].encode()).hexdigest()[:12]
        path = os.path.join(cache, f"{op}-{key}.pkl")
        if not os.path.exists(path):
            con = con or _connect(data_dir)
            con.execute(sql[op]).df().to_pickle(path + ".tmp")
            os.replace(path + ".tmp", path)
        out[op] = pd.read_pickle(path)
    return out


def _sorted_rows(df):
    if not len(df):
        return df
    key = pd.concat([df[c].astype(str) for c in df.columns], axis=1).apply(tuple, axis=1)
    return df.iloc[key.argsort(kind="stable")].reset_index(drop=True)


def _same(a, b):
    if a is None and b is None:
        return True
    try:
        if a != a and b != b:  # NaN equals NaN here
            return True
    except (TypeError, ValueError):
        pass
    eq = a == b
    return bool(eq.all()) if hasattr(eq, "all") else bool(eq)


def compare(spark, oracle):
    """None when the frames agree under graft's oracle rules (the same
    as tools/check.py): columns sorted by name, rows sorted by value,
    equal dtypes and exactly equal values; else the first difference."""
    nonscalar = [c for c in spark.columns if len(spark)
                 and isinstance(spark[c].iloc[0], (np.ndarray, list, dict, tuple))]
    if nonscalar:
        return f"non-scalar output columns {nonscalar}"
    s = spark[sorted(spark.columns)]
    o = oracle[sorted(oracle.columns)]
    if list(s.columns) != list(o.columns):
        return f"schema {list(s.columns)} != oracle {list(o.columns)}"
    if len(s) != len(o):
        return f"{len(s)} rows != oracle {len(o)}"
    s, o = _sorted_rows(s), _sorted_rows(o)
    for c in s.columns:
        if str(s[c].dtype) != str(o[c].dtype):
            return f"dtype of {c}: {s[c].dtype} != oracle {o[c].dtype}"
        bad = [i for i, (a, b) in enumerate(zip(s[c].tolist(), o[c].tolist())) if not _same(a, b)]
        if bad:
            i = bad[0]
            return f"{len(bad)} values of {c} differ, first {s[c].iloc[i]!r} != {o[c].iloc[i]!r}"
    return None


def check_batch(check_dir, answers, ops):
    failures = []
    for op in ops:
        files = sorted(glob.glob(os.path.join(check_dir, op, "*.parquet")))
        if not files:
            failures.append({"op": op, "reason": "no output"})
            continue
        got = pd.read_parquet(files[0])
        if answers[op] is None:
            why = None if len(got) else "empty output (no oracle: rows-only check)"
        else:
            why = compare(got, answers[op])
        if why:
            failures.append({"op": op, "reason": why})
    return {"attempted": len(ops), "failed": len(failures), "failures": failures}


def check_stream(check_dir, watch_dir, window_ms, t0_us):
    """Final count and max(created_at) per window and key against DuckDB
    over the union of every file the generator moved in. A file's
    created_us counts from the run's start, t0_us."""
    con = duckdb.connect()
    w = window_ms * 1000
    oracle = con.execute(f"""
        SELECT ((created_us + {t0_us}) // {w}) * {w} AS w_start_us, key, count(*) AS n,
               max(created_us + {t0_us}) AS max_created_us
        FROM read_csv('{watch_dir}/*.csv', header = false,
             columns = {{'created_us': 'BIGINT', 'key': 'INTEGER', 'value': 'DOUBLE'}})
        GROUP BY ALL""").df()
    got = pd.read_csv(os.path.join(check_dir, "final.csv"))
    both = oracle.merge(got, on=["w_start_us", "key"], how="outer", suffixes=("", "_got"),
                        indicator=True)
    bad = both[(both["_merge"] != "both") | (both["n"] != both["n_got"])
               | (both["max_created_us"] != both["max_created_us_got"])]
    side = {"left_only": "missing from the output", "right_only": "not in the oracle"}
    failures = [{"op": "stream", "reason": f"window {r['w_start_us']} key {r['key']}: "
                 + side.get(r["_merge"], f"n {r['n_got']} vs oracle {r['n']}, max_created_us "
                            f"{r['max_created_us_got']} vs oracle {r['max_created_us']}")}
                for r in bad.head(5).to_dict("records")]
    return {"attempted": len(both), "failed": len(bad), "failures": failures}


# ---------------------------------------------------------------- timing helpers

def tail(samples):
    """The highest percentile with at least ten samples beyond it:
    (value, percentile, samples beyond). With fewer than eleven
    samples, the maximum."""
    xs = sorted(samples)
    i = max(0, len(xs) - 11)
    return xs[i], 100.0 * (i + 1) / len(xs), len(xs) - 1 - i


def union(iv):
    out = []
    for lo, hi in sorted(iv):
        if out and lo <= out[-1][1]:
            out[-1][1] = max(out[-1][1], hi)
        elif hi > lo:
            out.append([lo, hi])
    return out


def length(iv):
    return sum(hi - lo for lo, hi in iv)


def clip(iv, lo, hi):
    return [[max(a, lo), min(b, hi)] for a, b in iv if min(b, hi) > max(a, lo)]


def intersect(a, b):
    """Intersection of two merged interval lists."""
    out, i, j = [], 0, 0
    while i < len(a) and j < len(b):
        lo, hi = max(a[i][0], b[j][0]), min(a[i][1], b[j][1])
        if hi > lo:
            out.append([lo, hi])
        if a[i][1] < b[j][1]:
            i += 1
        else:
            j += 1
    return out


# ---------------------------------------------------------------- batch

def _spans(res):
    return [dict(zip(("id", "parent", "kind", "name", "start", "end"), s)) for s in res["spans"]]


def _trace_tables(tr):
    jobs = [{"start": j[1], "end": j[2]} for j in tr["jobs"]]
    keys = ("stage", "attempt", "submit", "complete", "num_tasks", "tasks", "failed",
            "dur", "run", "cpu", "gc", "in_bytes", "in_rows", "shuf_w", "shuf_r",
            "fetch_wait", "spill", "out_bytes", "out_rows")
    stages = [dict(zip(keys, s)) for s in tr["stages"]]
    return jobs, stages


def span_tree(res):
    """The traced run's spans as [id, parent, kind, name, start, end]:
    the harness's own (run, pass, operation, graft call, action) and
    each micro-batch, each Spark job under the harness span or
    micro-batch holding its start, and each stage under the latest job
    started before it."""
    spans = [list(s) for s in res.get("spans", [])]
    next_id = max([s[0] for s in spans] + [0]) + 1
    for b in res.get("batches", []):
        spans.append([next_id, 0, "micro-batch", str(b["batch"]), b["start"],
                      b["start"] + b["trigger_ms"]])
        next_id += 1
    leaves = [s for s in spans if s[2] in ("graft", "action", "micro-batch")]
    jobs, stages = _trace_tables(res["trace"])
    job_spans = []
    for j in sorted(jobs, key=lambda j: j["start"]):
        parent = next((s[0] for s in leaves if s[4] <= j["start"] <= s[5]), 0)
        job_spans.append([next_id, parent, "job", "", j["start"], j["end"]])
        next_id += 1
    for st in sorted(stages, key=lambda st: st["submit"]):
        parent = next((j[0] for j in reversed(job_spans) if j[4] <= st["submit"] <= j[5]), 0)
        spans.append([next_id, parent, "stage", str(st["stage"]), st["submit"], st["complete"]])
        next_id += 1
    return spans + job_spans


def layer_totals(units, ops, tr, cpus):
    """Per-unit means of the listener counters inside the unit
    intervals (warm passes, or micro-batches), plus the blocking-path
    split of the operations."""
    jobs, stages = _trace_tables(tr)
    n = max(1, len(units))

    def inside(t):
        return any(lo <= t <= hi for lo, hi in units)

    st = [s for s in stages if inside(s["submit"])]
    tot = lambda k: sum(s[k] for s in st)
    wall = sum(hi - lo for lo, hi in units)
    caps = [c for c in tr["caps"] if inside(c[0])]
    bucket_rows = sum(c[2] for c in caps)
    m = {
        "plan.analysis_ms": sum(p[1] for p in tr["plans"] if inside(p[0])) / n,
        "plan.optimization_ms": sum(p[2] for p in tr["plans"] if inside(p[0])) / n,
        "plan.planning_ms": sum(p[3] for p in tr["plans"] if inside(p[0])) / n,
        "plan.aqe_updates": sum(1 for t in tr["aqe"] if inside(t)) / n,
        "sched.jobs": sum(1 for j in jobs if inside(j["start"])) / n,
        "sched.stages": len(st) / n,
        "sched.tasks": tot("tasks") / n,
        "sched.task_overhead_ms": (tot("dur") - tot("run")) / n,
        "exec.run_ms": tot("run") / n,
        "exec.cpu_ms": tot("cpu") / n,
        "exec.gc_ms": tot("gc") / n,
        "exec.busy_ratio": tot("run") / (wall * cpus) if wall else 0.0,
        "scan.bytes": tot("in_bytes") / n,
        "scan.rows": tot("in_rows") / n,
        "write.bytes": tot("out_bytes") / n,
        "write.rows": tot("out_rows") / n,
        "shuffle.write_bytes": tot("shuf_w") / n,
        "shuffle.read_bytes": tot("shuf_r") / n,
        "shuffle.fetch_wait_ms": tot("fetch_wait") / n,
        "spill.bytes": tot("spill") / n,
        "dedup.capped_ratio": sum(c[1] for c in caps) / bucket_rows if bucket_rows else 0.0,
        "tasks.failed": tot("failed") / n,
    }
    stage_iv = union([[s["submit"], s["complete"]] for s in stages])
    gap = sum(hi - lo - length(clip(stage_iv, lo, hi)) for lo, hi in units)
    # self times along each operation's blocking path: harness (the op
    # span's own) | driver (graft call and action outside any job:
    # graft's eager work, planning, codegen) | scheduler (inside jobs,
    # between stages) | stages running. Each job belongs to the child
    # span it started in, clipped to that span. The accounting error is
    # the job time inside the operation that no child was given: jobs
    # that started in the harness's own time, or ran past their child's
    # end, would be counted as harness or driver time.
    job_iv = [[j["start"], j["end"]] for j in jobs]
    path = {"harness_ms": 0.0, "driver_ms": 0.0, "sched_ms": 0.0, "stages_ms": 0.0}
    missed = op_wall = 0.0
    for op, children in ops:
        w = op["end"] - op["start"]
        op_wall += w
        path["harness_ms"] += w - sum(c["end"] - c["start"] for c in children)
        given = []
        for c in children:
            mine = [iv for iv in job_iv if c["start"] <= iv[0] <= c["end"]]
            uj = union(clip(mine, c["start"], c["end"]))
            us = intersect(stage_iv, uj)
            given += uj
            path["driver_ms"] += (c["end"] - c["start"]) - length(uj)
            path["sched_ms"] += length(uj) - length(us)
            path["stages_ms"] += length(us)
        ran = union(clip(job_iv, op["start"], op["end"]))
        missed += length(ran) - length(intersect(ran, union(given)))
    m["sched.driver_gap_ms"] = gap / n
    m["trace.account_err"] = missed / op_wall if op_wall else 0.0
    return m, {k: v / n for k, v in path.items()}


def batch_metrics(res, checks, ops, cpus):
    spans = _spans(res)
    by_parent = {}
    for s in spans:
        by_parent.setdefault(s["parent"], []).append(s)
    dur = lambda s: s["end"] - s["start"]
    passes = {p["span"]: p for p in res["passes"]}
    pass_spans = [s for s in spans if s["kind"] == "pass"]
    cold = next(s for s in pass_spans if s["name"] == "cold")
    warm = [s for s in pass_spans if s["name"].startswith("warm")]
    plain = [s for s in warm if not passes[s["id"]]["traced"]]
    traced = [s for s in warm if passes[s["id"]]["traced"]]
    per_op = {}
    for p in plain:
        for o in by_parent.get(p["id"], []):
            per_op.setdefault(o["name"], []).append(dur(o) / 1000)
    lat = [x for xs in per_op.values() for x in xs]
    tail_v, tail_pct, beyond = tail(lat)
    # processor time of every thread of the JVM but the JIT compiler's:
    # unlike the wall times it leaves out the time spent waiting for a
    # core on a shared machine, and the JIT's share, up to two thirds of
    # the cold pass and still tailing off in the warm ones, swings from
    # run to run with what the compiler chose to compile (it is in the
    # record as jit_cpu_s)
    cpu = {p: (v["cpu_ms"] - v["jit_ms"]) / 1000 for p, v in passes.items()}
    e2e = {
        "cold_cpu_s": cpu[cold["id"]],
        "pass_cpu_s": statistics.median(cpu[p["id"]] for p in plain),
        "peak_rss_mb": res["env"]["peak_rss_mb"],
    }
    wall = {
        "wall.cold_s": dur(cold) / 1000,
        "wall.pass_s": statistics.median(dur(p) for p in plain) / 1000,
        "wall.op_p50_s": statistics.median(lat),
        # a pass holds too few operations for a percentile above the
        # median with ten samples beyond it: the tail of a batch
        # workload is its slowest operation
        "wall.op_tail_s": max(statistics.median(xs) for xs in per_op.values()),
    }
    thrown = {f["op"] for f in res["failures"] if f["pass"] == "check"}
    failed = len(res["failures"]) + sum(1 for f in checks["failures"] if f["op"] not in thrown)
    attempted = sum(1 for s in spans if s["kind"] == "op")
    detail = {**wall, "jit_cpu_s": {p["name"]: p["jit_ms"] / 1000 for p in res["passes"]},
              "op_rule_tail_s": tail_v, "op_rule_tail_percentile": tail_pct,
              "op_rule_tail_beyond": beyond, "op_samples": len(lat), "warm_passes": len(plain),
              "op_median_s": {k: statistics.median(v) for k, v in per_op.items()}, "fail_ratio": failed / attempted,
              "failures": res["failures"] + checks["failures"]}
    out = {"e2e": e2e, "attempted": attempted, "failed": failed, "detail": detail}
    if res.get("trace") is None:
        return out

    layer = {k: 0.0 for k in LAYER}
    layer.update(wall)
    units = [(p["start"], p["end"]) for p in traced]
    n = max(1, len(traced))
    op_spans = [o for p in traced for o in by_parent.get(p["id"], [])]
    ops_tree = [(o, by_parent.get(o["id"], [])) for o in op_spans]
    m, path = layer_totals(units, ops_tree, res["trace"], cpus)
    layer.update(m)
    kids = [c for _, cs in ops_tree for c in cs]
    graph = [o for o in op_spans if o["name"] in GRAPH_OPS]
    rounds = sum(GRAPH_OPS[o["name"]] for o in graph)
    jobs, _ = _trace_tables(res["trace"])
    cold_pass = passes[cold["id"]]
    layer.update({
        "session.start_ms": res["session_ms"],
        "graft.build_ms": sum(dur(c) for c in kids if c["kind"] == "graft") / n,
        "graft.exec_ms": sum(dur(c) for c in kids if c["kind"] == "action") / n,
        "codegen.compiles": cold_pass["codegen_compiles"],
        "codegen.compile_ms": cold_pass["codegen_ms"],
        "graph.call_ms": sum(dur(o) for o in graph) / n,
        "graph.jobs": sum(1 for j in jobs for o in graph
                          if o["start"] <= j["start"] <= o["end"]) / n,
        "graph.round_ms": sum(dur(o) for o in graph) / rounds if rounds else 0.0,
        "ops.failed": failed,
        "trace.overhead_s": (statistics.median(dur(p) for p in traced)
                             - statistics.median(dur(p) for p in plain)) / 1000 if traced else 0.0,
    })
    out["layer"] = layer
    detail["blocking_path_ms_per_pass"] = path
    detail["account_err"] = layer["trace.account_err"]
    detail["account_tolerance"] = ACCOUNT_TOLERANCE
    detail["account_ok"] = layer["trace.account_err"] <= ACCOUNT_TOLERANCE
    detail["spans"] = span_tree(res)
    return out


# ---------------------------------------------------------------- stream

def _phase_batches(batches, lo, hi, trigger_ms):
    """The micro-batches that took in the files of the phase [lo, hi)
    (epoch ms): a trigger takes the files that arrived in the interval
    before it, so they start half an interval after the phase or later."""
    return [b for b in batches
            if lo + trigger_ms / 2 <= b["start"] < hi + trigger_ms / 2 and b["rows"] > 0]


def _sustained(batches, trigger_ms):
    """The backlog does not grow while the micro-batches finish within
    the trigger interval: each trigger then finds only the files of one
    interval. A phase holds when its median micro-batch does."""
    return bool(batches) and statistics.median(b["trigger_ms"] for b in batches) <= trigger_ms


def file_batches(file_rows, batches):
    """The micro-batch id that took in each event file. Every trigger
    takes all the files moved in before it, a prefix in arrival order, so
    its cumulative input rows end on a file boundary; None if they do not."""
    ends = np.cumsum(file_rows)
    out, total, first = [None] * len(file_rows), 0, 0
    for b in sorted(batches, key=lambda b: b["batch"]):
        total += b["rows"]
        last = int(np.searchsorted(ends, total, side="right"))
        if total and (last == 0 or ends[last - 1] != total):
            return None
        out[first:last] = [b["batch"]] * (last - first)
        first = last
    return out


def event_latency(watch_dir, res, file_rows, lo, hi):
    """Event-to-result latency of every event created in [lo, hi)
    (epoch ms): from its created_at to the emission of the micro-batch
    that took in its file, whose output counts it. Returns (median,
    tail value, tail percentile, samples beyond, samples) in seconds, or
    None when the files cannot be matched to micro-batches."""
    owner = file_batches(file_rows, res["batches"])
    if owner is None:
        return None
    emit = {b: t for b, t in res["emits"]}
    files = pd.DataFrame({"file": range(len(owner)),
                          "emit_ms": [emit.get(b) for b in owner]}).dropna()
    t0_us = res["t0"] * 1000
    con = duckdb.connect()
    con.register("files", files)
    con.execute(f"""
        CREATE TEMP TABLE lat AS
        SELECT files.emit_ms / 1e3 - (e.created_us + {t0_us}) / 1e6 AS s
        FROM read_csv('{watch_dir}/*.csv', header = false, filename = true,
             columns = {{'created_us': 'BIGINT', 'key': 'INTEGER', 'value': 'DOUBLE'}}) e
        JOIN files ON files.file = CAST(regexp_extract(e.filename, '([0-9]+)[.]csv$', 1) AS BIGINT)
        WHERE e.created_us + {t0_us} >= {lo * 1000} AND e.created_us + {t0_us} < {hi * 1000}""")
    n, med = con.execute("SELECT count(*), median(s) FROM lat").fetchone()
    if n < 11:
        return None
    tail_v = con.execute("SELECT s FROM lat ORDER BY s DESC LIMIT 1 OFFSET 10").fetchone()[0]
    return med, tail_v, 100.0 * (n - 10) / n, 10, n


def stream_metrics(res, checks, info, cpus, trigger_ms, tick_ms, latency):
    t0 = res["t0"]
    phases = info["phases"]  # [role, rate, ms] in run order
    bounds = [t0 + sum(p[2] for p in phases[:i]) for i in range(len(phases) + 1)]
    mi = next(i for i, p in enumerate(phases) if p[0] == "measure")
    ref = (bounds[mi], bounds[mi + 1])
    emitted = res["emitted"]  # emit ms, window start µs, key, n, max created µs
    # per emitted row, from the newest event it counts: a row that a late
    # event re-emits for a closed window is as old as that window, so
    # these fall in two groups and their median jumps between them
    row_lat = [(e[0] - e[4] / 1000) / 1000 for e in emitted if ref[0] <= e[4] / 1000 <= ref[1]]
    batches = _phase_batches(res["batches"], *ref, trigger_ms)
    # without event latencies (the run failed its check) the rows stand in
    lat_p50, tail_v, tail_pct, beyond, n_lat = latency or (
        statistics.median(row_lat), *tail(row_lat), len(row_lat))
    by_id = sorted(res["batches"], key=lambda b: b["batch"])
    first = by_id[0]
    # processor time of every thread of the JVM but the JIT compiler's
    # (as for a batch pass): from the query's start to the end of its cold
    # first micro-batch, and per micro-batch of the measured phase, from
    # the end of the micro-batch before it to the end of its last one,
    # divided by their number (a collection falls in one micro-batch, so
    # a median would leave it out)
    cpu = {b["batch"]: b["cpu_ms"] - b["jit_ms"] for b in by_id}
    measured = sorted(b["batch"] for b in batches)
    e2e = {
        "cold_cpu_s": (cpu[first["batch"]] - res["start_cpu_ms"] + res["start_jit_ms"]) / 1000,
        "pass_cpu_s": (cpu[measured[-1]] - cpu[measured[0] - 1]) / len(measured) / 1000,
        "peak_rss_mb": res["env"]["peak_rss_mb"],
    }
    wall = {
        # the cold first micro-batch; the query's start-up before it
        # swings with the machine's load and is in the record
        "wall.cold_s": first["trigger_ms"] / 1000,
        "wall.pass_s": statistics.median(b["trigger_ms"] for b in batches) / 1000,
        "wall.op_p50_s": lat_p50,
        "wall.op_tail_s": tail_v,
    }
    # sustainable rate: the highest rate, of the measured phase and the
    # steps above it, that held, with every lower one holding too; 0
    # when the reference rate did not hold
    max_rate = 0
    for i, (role, rate, _) in enumerate(phases):
        if role in ("measure", "step"):
            if not _sustained(_phase_batches(res["batches"], bounds[i], bounds[i + 1],
                                             trigger_ms), trigger_ms):
                break
            max_rate = rate
    # the warm-up must leave no backlog behind: just after a micro-batch
    # commits, the files not yet committed are those that arrived while
    # it ran, no more than one interval's when it kept pace
    backlog = [(t0 + t, b) for t, b in res["backlog"]]
    start_backlog = min([b for t, b in backlog if ref[0] <= t < ref[0] + trigger_ms] or [None])
    failed = checks["failed"] + len(res["failures"])
    detail = {**wall, "cold_jit_cpu_s": (first["jit_ms"] - res["start_jit_ms"]) / 1000,
              "op_tail_percentile": tail_pct, "op_tail_beyond": beyond, "op_samples": n_lat,
              "row_lat_p50_s": statistics.median(row_lat), "row_samples": len(row_lat),
              "query_start_s": (first["start"] - t0) / 1000,
              "first_result_s": (min(e[0] for e in emitted) - t0) / 1000,
              "ref_batches": len(batches), "measure_start_backlog_files": start_backlog,
              "measure_start_drained": start_backlog is not None
              and start_backlog <= trigger_ms / tick_ms,
              "ref_rate_sustained": max_rate > 0, "fail_ratio": failed / max(1, checks["attempted"]),
              "dropped_by_watermark": sum(b["dropped_by_watermark"] for b in res["batches"]),
              "failures": res["failures"] + checks["failures"]}
    out = {"e2e": e2e, "attempted": max(1, checks["attempted"]), "failed": failed,
           "detail": detail}
    if res.get("trace") is None:
        return out
    med = lambda k: statistics.median(b[k] for b in batches)
    units = [(b["start"], b["start"] + b["trigger_ms"]) for b in batches]
    layer = {k: 0.0 for k in LAYER}
    layer.update(wall)
    m, _ = layer_totals(units, [], res["trace"], cpus)
    layer.update(m)
    layer.update({
        "session.start_ms": res["session_ms"],
        "stream.batches": len(batches),
        "stream.batch_ms": med("trigger_ms"),
        "stream.plan_ms": med("plan_ms"),
        "stream.add_batch_ms": med("add_batch_ms"),
        "stream.wal_ms": med("wal_ms"),
        "stream.state_rows": max(b["state_rows"] for b in res["batches"]),
        "stream.state_mem_bytes": max(b["state_mem_bytes"] for b in res["batches"]),
        "stream.state_commit_ms": med("state_commit_ms"),
        "stream.backlog_files": max([b for t, b in backlog if ref[0] <= t < ref[1]] or [0]),
        "stream.gen_late_ms": max(res["gen_late_ms"]),
        "stream.max_rate_eps": max_rate,
        "ops.failed": failed,
    })
    out["layer"] = layer
    detail["spans"] = span_tree(res)
    return out
