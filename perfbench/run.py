#!/usr/bin/env python3
"""graft benchmark: one seeded, output-checked run of one workload.

    python3 perfbench/run.py --workload batch-mix --seed 1 --seconds 12 --trace 0

Run from the root of a graft checkout. The script builds the harness
(perfbench/jvm, which compiles graft's sources with its own) when the
sources changed, generates the seed's inputs and DuckDB oracle answers
once per seed, measures the workload in a fresh JVM launched with
`java -cp` (so no build tool prefixes its output), checks every
operation's output against the oracle, and prints one metric per line
followed by a JSON result as its last line. `--trace 0` reports the
end-to-end metrics; `--trace 1` runs with Spark's listeners attached
and reports the per-layer metrics. Everything it writes stays under
perfbench/work/, apart from graft's own scratch under
/tmp/graft_io/<run id>, which it removes after each JVM. See
perfbench/README.md for the workloads and metrics.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

import gen
import analyse

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
JVM = os.path.join(HERE, "jvm")
WORK = os.path.join(HERE, "work")
CLASSES = os.path.join(JVM, "target", "scala-2.13", "classes")


def find_spark_home():
    """$SPARK_HOME, else the Spark installation whose bin/ directory on
    PATH holds spark-submit beside a jars/ directory."""
    if os.environ.get("SPARK_HOME"):
        return os.environ["SPARK_HOME"]
    for d in os.environ.get("PATH", "").split(os.pathsep):
        home = os.path.dirname(os.path.abspath(d))
        if os.path.exists(os.path.join(d, "spark-submit")) and os.path.isdir(
                os.path.join(home, "jars")):
            return home
    return None


SPARK_HOME = find_spark_home()
SPARK_JARS = os.path.join(SPARK_HOME or "", "jars")
HEAP = "2g"


def spark_cores(nproc):
    """N in local[N]: half the cores, so that the JIT compiler, the
    garbage collector, the driver thread and the stream generator run
    beside Spark's task threads instead of taking turns with them."""
    return max(1, min(4, nproc) // 2)
SETUP_SAMPLES = 3  # JVM starts per run for setup_s: the measured run plus two probes

# Batch operations: TPC-H-shaped analytics whose cost at this size is
# planning and scheduling (a scan-aggregate), MinHash
# near-dup clustering (the hash and dedup kernels, and the operator that
# carries graft's cap counters), label propagation (four rounds of
# the iterative-loop layer), and two of graft's writers: the bucketed
# and sorted SMB table write and a TFRecord round trip.
# Table sizes as a share of graft's sf0.1 test data (600,000 lineitem rows
# at 1): half keeps a run inside the time budget, and at either size the
# per-query planning, codegen and scheduling cost as much as the data.
BATCH_SCALE = 0.5
BATCH_OPS = ["q1_pricing", "q_dedup_minhash", "q_label_prop", "q_smb_write", "q_io_tfrecord"]

WORKLOADS = {
    "batch-mix": {"kind": "batch", "ops": BATCH_OPS},
    "stream-window": {"kind": "stream"},
}

# Stream phases, each at a fixed rate: a warm-up that starts at a tenth
# of the reference rate (the cold first micro-batch, so the files that
# arrive meanwhile stay few) and then runs at the reference rate (the
# JIT, and the state of every open window), the measured phase at the
# reference rate, and in the traced run a ladder of steps, each
# STREAM_STEP_RATIO times the last, for the sustainable-rate search. The
# reference rate is about a tenth of the sustainable rate measured on
# this version (see perfbench/README.md): a micro-batch then takes well
# under half the trigger interval, so a machine slowed by its neighbours
# does not fall behind and pile up a backlog.
STREAM_REF_RATE = 50000
STREAM_WARMUP = [(STREAM_REF_RATE // 10, 6000), (STREAM_REF_RATE, 6000)]
STREAM_STEP_RATIO = 1.5
STREAM_STEPS = 8
STREAM_STEP_MS = 4000
STREAM_WINDOW_MS = 2000
STREAM_WATERMARK = "5 seconds"
# A fixed trigger gives every micro-batch the same share of the input,
# so batch time does not feed back into batch size. A micro-batch has a
# fixed cost near 0.6 s on four cores, which a 1 s interval barely holds.
STREAM_TRIGGER_MS = 2000

ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def sources_digest():
    files = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"),
                             recursive=True)
                   + glob.glob(os.path.join(JVM, "src", "**", "*.scala"), recursive=True)
                   + [os.path.join(JVM, "build.sbt"),
                      os.path.join(JVM, "project", "build.properties")])
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile graft and the harness with sbt unless the sources are
    unchanged since the last build in this checkout."""
    digest = sources_digest()
    stamp = os.path.join(WORK, "build.stamp")
    if os.path.isdir(CLASSES) and os.path.exists(stamp) and open(stamp).read() == digest:
        return
    env = dict(os.environ, SPARK_HOME=SPARK_HOME)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Xmx2g")
    log = os.path.join(WORK, "build.log")
    with open(log, "w") as out:
        rc = subprocess.run(["sbt", "--batch", "-Dsbt.server.autostart=false", "compile"],
                            cwd=JVM, env=env, stdout=out, stderr=subprocess.STDOUT,
                            stdin=subprocess.DEVNULL, timeout=840).returncode
    if rc != 0:
        sys.stderr.write(open(log).read()[-4000:])
        fail(f"build failed (log: {log})", 1)
    with open(stamp, "w") as f:
        f.write(digest)


def start_java(args, log, tmp, cpus):
    """Start the harness JVM; its scratch stays under tmp."""
    os.makedirs(tmp, exist_ok=True)
    run_id = f"perfbench_{os.getpid()}_{time.time_ns()}"
    env = dict(os.environ, SPARK_LOCAL_DIRS=tmp, SPARK_GRAFT_RUN_ID=run_id)
    cmd = ["java", *ADD_OPENS, "-XX:-UsePerfData", f"-Xms{HEAP}", f"-Xmx{HEAP}",
           f"-XX:ParallelGCThreads={cpus}", "-XX:ConcGCThreads=1",
           # the whole heap resident from the start, so the peak resident
           # set moves with native memory, not with when the collector ran
           "-XX:+AlwaysPreTouch",
           # the JIT's threads live as long as the JVM, so their processor
           # time can be told apart from the engine's (analyse.py)
           "-XX:-UseDynamicNumberOfCompilerThreads",
           f"-Djava.io.tmpdir={tmp}", "-cp", f"{CLASSES}:{SPARK_JARS}/*",
           "graftbench.Main", *args, "--tmp", tmp]
    with open(log, "a") as err:
        p = subprocess.Popen(cmd, env=env, stdout=subprocess.DEVNULL, stderr=err,
                             stdin=subprocess.DEVNULL)
    p.run_id = run_id
    return p


def stop_java(p):
    """Kill the JVM if it still runs, wait for it, and remove graft's
    scratch for it: the query registry keeps it under
    /tmp/graft_io/<run id> (the write-path queries' output and the SMB
    table)."""
    if p.poll() is None:
        p.kill()
    p.wait()
    shutil.rmtree(f"/tmp/graft_io/{p.run_id}", ignore_errors=True)
    try:
        os.rmdir("/tmp/graft_io")
    except OSError:
        pass


def wait_java(procs, log, timeout):
    """Exit codes of the JVMs, or a failed run when one outlives timeout."""
    deadline = time.monotonic() + timeout
    try:
        return [p.wait(timeout=max(0.0, deadline - time.monotonic())) for p in procs]
    except subprocess.TimeoutExpired:
        fail(f"benchmark JVM did not finish within {timeout} s (log: {log})", 1)
    finally:
        for p in procs:
            stop_java(p)


def java(args, log, tmp, timeout, cpus=1):
    """Run the harness JVM to completion."""
    return wait_java([start_java(args, log, tmp, cpus)], log, timeout)[0]


def read_json(path):
    with open(path) as f:
        return json.load(f)


def oracle_sql(ops, tmp):
    """The registry's oracle SQL for the operations, cached per build."""
    path = os.path.join(WORK, "oracle_sql.json")
    stamp = open(os.path.join(WORK, "build.stamp")).read()
    if os.path.exists(path):
        cached = read_json(path)
        if cached.get("build") == stamp and all(o in cached["sql"] for o in ops):
            return cached["sql"]
    out = os.path.join(tmp, "oracle_sql.json")
    if java(["oracles", "--ops", ",".join(ops), "--out", out],
            os.path.join(WORK, "oracles.log"), tmp, 120) != 0:
        fail("could not read the registry's oracle SQL", 1)
    sql = read_json(out)
    with open(path, "w") as f:
        json.dump({"build": stamp, "sql": sql}, f)
    return sql


def gen_digest():
    with open(gen.__file__, "rb") as f:
        return hashlib.sha256(f.read()).hexdigest()[:12]


def inputs(seed):
    """The seed's tables at BATCH_SCALE, generated once per seed and
    version of gen.py, and reused."""
    d = os.path.join(WORK, "data", f"seed{seed}-x{BATCH_SCALE}-{gen_digest()}")
    if not os.path.exists(os.path.join(d, "info.json")):
        tmp = d + f".tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        info = gen.write_tables(seed, BATCH_SCALE, tmp)
        with open(os.path.join(tmp, "info.json"), "w") as f:
            json.dump(info, f, indent=1)
        shutil.rmtree(d, ignore_errors=True)
        os.rename(tmp, d)
    return d, read_json(os.path.join(d, "info.json"))


def stream_phases(seconds, trace):
    """[(role, rate events/s, duration ms)] in run order."""
    phases = [("warmup", rate, ms) for rate, ms in STREAM_WARMUP]
    phases.append(("measure", STREAM_REF_RATE, seconds * 1000))
    if trace:
        phases += [("step", int(STREAM_REF_RATE * STREAM_STEP_RATIO ** k), STREAM_STEP_MS)
                   for k in range(1, STREAM_STEPS + 1)]
    return phases


def cpu_times():
    """(total, idle, steal) jiffies of the whole machine, from /proc/stat."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return sum(v), v[3] + v[4], v[7]


def cpu_share(before, after, ncpu):
    """(cores busy, cores stolen by the hypervisor) between two samples."""
    total = max(1, after[0] - before[0])
    return ((1 - (after[1] - before[1]) / total) * ncpu, (after[2] - before[2]) / total * ncpu)


def setup_probes(n, cpus, tmp, log):
    """Set-up time of n more JVMs, started together to keep the run short."""
    paths = [os.path.join(tmp, f"setup{i}.json") for i in range(n)]
    procs = [start_java(["setup", "--cpus", str(cpus), "--out", p], log, tmp, cpus)
             for p in paths]
    rcs = wait_java(procs, log, 120)
    return [read_json(p)["setup_ms"] for p, rc in zip(paths, rcs) if rc == 0]


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    if not (os.path.exists(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail(f"{ROOT} is not a graft checkout (no build.sbt or src/main/scala/graft)")
    if SPARK_HOME is None:
        fail("no Spark installation found: set SPARK_HOME")
    wl = WORKLOADS[a.workload]
    os.makedirs(WORK, exist_ok=True)
    build()

    nproc = len(os.sched_getaffinity(0))
    cpus = spark_cores(nproc)
    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    run_dir = os.path.join(WORK, "runs", tag)
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    tmp = os.path.join(run_dir, "tmp")
    log = os.path.join(run_dir, "jvm.log")
    check_dir = os.path.join(run_dir, "check")

    # inputs and oracle answers: once per seed, outside every metric
    if wl["kind"] == "batch":
        data, info = inputs(a.seed)
        answers = analyse.oracle_answers(data, oracle_sql(wl["ops"], tmp), wl["ops"])
        job = ["batch", "--workload", a.workload, "--ops", ",".join(wl["ops"]),
               "--data", data]
    else:
        phases = stream_phases(a.seconds, a.trace)
        events = os.path.join(run_dir, "events")
        info = {"events": gen.write_stream_files(
                    a.seed, [p[1] for p in phases], [p[2] for p in phases], events),
                "phases": phases}
        job = ["stream", "--events", events, "--stream_dir", os.path.join(run_dir, "stream"),
               "--window_ms", str(STREAM_WINDOW_MS), "--watermark", STREAM_WATERMARK,
               "--trigger_ms", str(STREAM_TRIGGER_MS)]
    # a run's own length plus a margin for a slow or loaded machine
    timeout = 120 + 3 * a.seconds + (sum(p[2] for p in phases if p[0] != "measure") // 1000
                                     if wl["kind"] == "stream" else 0)

    # ambient load: cores busy in the half second before the run, and
    # cores the hypervisor took from this machine while it ran
    idle0 = cpu_times()
    time.sleep(0.5)
    run0 = cpu_times()
    busy, _ = cpu_share(idle0, run0, os.cpu_count())
    load_start = os.getloadavg()[0]
    out = os.path.join(run_dir, "result.json")
    rc = java(job + ["--cpus", str(cpus), "--seconds", str(a.seconds), "--trace", str(a.trace),
                     "--check", check_dir, "--out", out], log, tmp, timeout, cpus)
    if rc != 0 or not os.path.exists(out):
        sys.stderr.write(open(log).read()[-4000:])
        fail(f"benchmark JVM failed with exit code {rc} (log: {log})", 1)
    _, steal = cpu_share(run0, cpu_times(), os.cpu_count())
    res = read_json(out)
    setups = [res["setup_ms"]] + setup_probes(SETUP_SAMPLES - 1, cpus, tmp, log)

    if wl["kind"] == "batch":
        checks = analyse.check_batch(check_dir, answers, wl["ops"])
        m = analyse.batch_metrics(res, checks, wl["ops"], cpus)
    else:
        watch = os.path.join(run_dir, "stream", "watch")
        checks = analyse.check_stream(check_dir, watch, STREAM_WINDOW_MS, res["t0"] * 1000)
        with open(os.path.join(events, "manifest.csv")) as f:
            file_rows = [int(l.split(",")[2]) for l in f.readlines()[1:]]
        mi = [p[0] for p in phases].index("measure")
        lo = res["t0"] + sum(p[2] for p in phases[:mi])
        latency = analyse.event_latency(watch, res, file_rows, lo, lo + phases[mi][2])
        if latency is None:
            checks["failed"] += 1
            checks["failures"].append({"op": "stream", "reason": "micro-batch input counts do "
                                       "not end on event-file boundaries"})
        m = analyse.stream_metrics(res, checks, info, cpus, STREAM_TRIGGER_MS,
                                   gen.STREAM_TICK_MS, latency)
        # the event files are large; the record keeps their digest
        for d in ("stream", "events"):
            shutil.rmtree(os.path.join(run_dir, d), ignore_errors=True)
    m["e2e"]["setup_s"] = statistics.median(setups) / 1000
    env = {"nproc": nproc, "local_n": cpus, "heap": HEAP,
           "heap_max_mb": res["env"]["heap_max_mb"],
           "load_avg_start": load_start, "load_avg_end": os.getloadavg()[0],
           "busy_cores_before": round(busy, 2), "stolen_cores": round(steal, 3),
           "ambient_load": busy > 0.5 or steal > 0.5, "setup_samples_ms": setups, "seed": a.seed,
           "inputs": info}
    metrics = m["layer"] if a.trace else m["e2e"]
    units = analyse.UNITS
    record = {"workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
              "env": env, "checks": checks, "metrics": {k: {"value": v, "unit": units[k]}
                                                        for k, v in metrics.items()},
              "detail": m.get("detail", {})}
    with open(os.path.join(WORK, "runs", f"{tag}.json"), "w") as f:
        json.dump(record, f, indent=1)

    print(f"env nproc={nproc} local_n={cpus} heap={HEAP} load_avg_start={load_start:.2f} "
          f"load_avg_end={env['load_avg_end']:.2f} busy_cores_before={busy:.2f} "
          f"stolen_cores={steal:.3f} "
          f"ambient_load={'yes' if env['ambient_load'] else 'no'}")
    for c in checks["failures"]:
        print(f"check FAILED {c}")
    d = record["detail"]
    yes = lambda ok: "yes" if ok else "no"
    if "measure_start_drained" in d:
        print(f"stream measure_start_backlog_files={d['measure_start_backlog_files']} "
              f"drained={yes(d['measure_start_drained'])} "
              f"ref_rate_sustained={yes(d['ref_rate_sustained'])}")
    if "account_ok" in d:
        print(f"trace account_err={d['account_err']:.4f} tolerance={d['account_tolerance']} "
              f"within={yes(d['account_ok'])}")
    print("wall " + " ".join(f"{k.split('.', 1)[1]}={d[k]:.4g}" for k in sorted(d)
                             if k.startswith("wall.")))
    for k, v in metrics.items():
        print(f"metric {k} {v:.6g} {units[k]}")
    print(json.dumps({"correct": m["failed"] == 0,
                      "attempted": m["attempted"], "failed": m["failed"],
                      "metrics": record["metrics"]}))


if __name__ == "__main__":
    main()
