"""Seeded input generator for the graft benchmark.

Every table the benchmark's operations read is drawn here from the
workload seed alone, so a change to graft can never change its own
inputs. The shapes follow the TPC-H-style test tables graft's registry
queries are written against (same column names, types, value domains
and row counts per scale): keys are dense, every foreign key is drawn
from the referenced table's key range (so joins stay referentially
exact and every DuckDB oracle stays valid), and the seed draws every
value and the row order. Documents are word salad over a fixed
vocabulary with a 5% share of near-duplicates (a copy of another
document with one marker word inserted); embeddings are unit vectors
around ten seeded class centres.

The stream files hold, for one run of `stream-window`, every event with
its due time, one file per arrival tick: the seed decides the keys,
values, inter-arrival jitter and which events arrive late (out of
order) and by how much.
"""
import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.csv as pacsv
import pyarrow.parquet as pq

# Rows per table at scale 1 (the sf0.1 sizes of graft's test data).
BASE_ROWS = {
    "customer": 15000, "supplier": 1000, "part": 20000, "orders": 150000,
    "lineitem": 600000, "events": 100000, "documents": 5000, "embeddings": 2000,
}
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["blue", "cold", "hot", "large", "old", "red", "small", "shiny"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "ring", "rod", "spring", "widget"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
VOCAB = ("a agg batch big column customer data fast filter group hash join key "
         "line merge order part query row scan slow small sort spark stream "
         "table the value vector window").split()
DUP_SHARE = 0.05
EMB_DIM = 64
N_LABELS = 10

# Stream: one file per tick, events due uniformly within the tick.
STREAM_TICK_MS = 100
# Enough keys that most emitted rows carry fresh events: a row re-emitted
# only because a late event reached an older window is a minority, so
# the median row latency does not sit between the two kinds.
STREAM_KEYS = 256
STREAM_LATE_SHARE = 0.05      # share of events that arrive late
STREAM_LATE_MAX_MS = 1500     # late arrivals stay inside the watermark delay
STREAM_CHUNK_MS = 500


def _rng(seed, name):
    """One independent stream per (seed, table) so tables do not shift
    when another table's size changes."""
    tag = int.from_bytes(hashlib.sha256(name.encode()).digest()[:4], "little")
    return np.random.default_rng([seed, tag])


def _days(rng, n, lo, hi):
    lo, hi = np.datetime64(lo, "D"), np.datetime64(hi, "D")
    d = rng.integers(0, (hi - lo).astype(int) + 1, n)
    return (lo + d).astype("datetime64[us]")


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def _shuffled(rng, table):
    return table.take(pa.array(rng.permutation(table.num_rows)))


def _tables(seed, scale):
    n = {k: int(v * scale) for k, v in BASE_ROWS.items()}
    out = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})

    r = _rng(seed, "customer")
    k = np.arange(n["customer"], dtype=np.int64)
    out["customer"] = _shuffled(r, pa.table({
        "c_custkey": k,
        "c_name": [f"Customer#{i:09d}" for i in k],
        "c_nationkey": pa.array(r.integers(0, 25, k.size), pa.int32()),
        "c_acctbal": _money(r, k.size, -999.99, 9999.99),
        "c_mktsegment": np.array(SEGMENTS)[r.integers(0, 5, k.size)]}))

    r = _rng(seed, "supplier")
    k = np.arange(n["supplier"], dtype=np.int64)
    out["supplier"] = _shuffled(r, pa.table({
        "s_suppkey": k,
        "s_name": [f"Supplier#{i:09d}" for i in k],
        "s_nationkey": pa.array(r.integers(0, 25, k.size), pa.int32()),
        "s_acctbal": _money(r, k.size, -999.99, 9999.99)}))

    r = _rng(seed, "part")
    k = np.arange(n["part"], dtype=np.int64)
    adj = np.array(PART_ADJ)[r.integers(0, len(PART_ADJ), k.size)]
    noun = np.array(PART_NOUN)[r.integers(0, len(PART_NOUN), k.size)]
    out["part"] = _shuffled(r, pa.table({
        "p_partkey": k,
        "p_name": np.char.add(np.char.add(adj, " "), noun),
        "p_brand": [f"Brand#{b}" for b in r.integers(1, 26, k.size)],
        "p_type": np.array(PART_TYPES)[r.integers(0, len(PART_TYPES), k.size)],
        "p_size": pa.array(r.integers(1, 51, k.size), pa.int32()),
        "p_retailprice": np.round(r.uniform(900.0, 999.9, k.size), 1)}))

    r = _rng(seed, "orders")
    k = np.arange(n["orders"], dtype=np.int64)
    out["orders"] = _shuffled(r, pa.table({
        "o_orderkey": k,
        "o_custkey": r.integers(0, n["customer"], k.size, dtype=np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[r.integers(0, 3, k.size)],
        "o_totalprice": _money(r, k.size, 1000.0, 500000.0),
        "o_orderdate": _days(r, k.size, "1995-01-01", "2001-08-01"),
        "o_orderpriority": np.array(PRIORITIES)[r.integers(0, 5, k.size)]}))

    r = _rng(seed, "lineitem")
    m = n["lineitem"]
    out["lineitem"] = pa.table({
        "l_orderkey": r.integers(0, n["orders"], m, dtype=np.int64),
        "l_partkey": r.integers(0, n["part"], m, dtype=np.int64),
        "l_suppkey": r.integers(0, n["supplier"], m, dtype=np.int64),
        "l_linenumber": pa.array(r.integers(1, 8, m), pa.int32()),
        "l_quantity": r.integers(1, 51, m).astype(np.float64),
        "l_extendedprice": _money(r, m, 900.0, 105000.0),
        "l_discount": r.integers(0, 11, m) / 100.0,
        "l_tax": r.integers(0, 9, m) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[r.integers(0, 3, m)],
        "l_linestatus": np.array(["F", "O"])[r.integers(0, 2, m)],
        "l_shipdate": _days(r, m, "1995-01-02", "2001-11-04")})

    # events are stored in time order, as a log would be
    r = _rng(seed, "events")
    m = n["events"]
    start = np.datetime64("2024-01-01T00:00:00", "us")
    span_us = 30 * 86400 * 10**6
    ts = np.sort(r.integers(0, span_us, m))
    out["events"] = pa.table({
        "event_id": np.arange(m, dtype=np.int64),
        "ts": start + ts.astype("timedelta64[us]"),
        "user_id": r.integers(0, 1500, m, dtype=np.int64),
        "event_type": np.array(EVENT_TYPES)[r.integers(0, 5, m)],
        "value": np.round(r.lognormal(3.5, 1.2, m), 2),
        "props": [f'{{"k": {v}}}' for v in r.integers(0, 100, m)]})

    r = _rng(seed, "documents")
    m = n["documents"]
    lens = r.integers(10, 101, m)
    words = r.integers(0, len(VOCAB), int(lens.sum()))
    vocab = np.array(VOCAB)
    texts, pos = [], 0
    for ln in lens:
        texts.append(" ".join(vocab[words[pos:pos + ln]]))
        pos += ln
    dups = r.choice(m, int(m * DUP_SHARE), replace=False)
    for d in dups:
        src = texts[int(r.integers(0, m))].split()
        src.insert(int(r.integers(0, len(src) + 1)), "dup")
        texts[d] = " ".join(src)
    out["documents"] = _shuffled(r, pa.table({
        "doc_id": np.arange(m, dtype=np.int64),
        "text": texts,
        "lang": np.array(LANGS)[r.choice(len(LANGS), m, p=LANG_P)],
        "source": [f"src{s}" for s in r.integers(0, 20, m)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)}))

    r = _rng(seed, "embeddings")
    m = n["embeddings"]
    centres = r.normal(0, 1, (N_LABELS, EMB_DIM))
    labels = r.integers(0, N_LABELS, m)
    v = centres[labels] + r.normal(0, 1.0, (m, EMB_DIM))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    out["embeddings"] = pa.table({
        "vec_id": np.arange(m, dtype=np.int64),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})
    return out


def write_tables(seed, scale, out_dir):
    """Write every table as `<name>.parquet` under out_dir. Returns
    {table: {"rows", "bytes", "sha256"}}."""
    os.makedirs(out_dir, exist_ok=True)
    info = {}
    for name, t in _tables(seed, scale).items():
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(t, path)
        info[name] = {"rows": t.num_rows, "bytes": os.path.getsize(path),
                      "sha256": file_digest(path)}
    return info


def _stream_chunks(seed, rates, phase_ms):
    """Events for a stepped open-loop run, phase i lasting phase_ms[i] at
    rates[i] events/s, drawn in due-time chunks of STREAM_CHUNK_MS so a
    long run never sits in memory at once. Yields (chunk start ms, due
    ms, arrive ms, key, value); due is the event's creation time, arrive
    the tick whose file carries it, always after the chunk start."""
    r = _rng(seed, "stream")
    t0 = 0
    for rate, ms in zip(rates, phase_ms):
        for lo in range(0, ms, STREAM_CHUNK_MS):
            span = min(STREAM_CHUNK_MS, ms - lo)
            n = int(rate * span / 1000)
            due = t0 + lo + np.sort(r.uniform(0, span, n)).astype(np.int64)
            delay = np.zeros(n, np.int64)
            late = r.random(n) < STREAM_LATE_SHARE
            delay[late] = r.integers(STREAM_TICK_MS, STREAM_LATE_MAX_MS + 1, int(late.sum()))
            # an event rides in the first file written at or after it arrives
            arrive = ((due + delay) // STREAM_TICK_MS + 1) * STREAM_TICK_MS
            key = r.integers(0, STREAM_KEYS, n).astype(np.int32)
            value = np.round(r.uniform(0, 100, n), 2)
            yield t0 + lo, due, arrive, key, value
        t0 += ms


def _by_arrival(cols):
    due, arrive = cols[0], cols[1]
    order = np.lexsort((due, arrive))
    return [c[order] for c in cols]


def stream_schedule(seed, rates, phase_ms):
    """Every event of the run as (due_ms, arrive_ms, key, value) arrays,
    sorted by arrival."""
    chunks = [c[1:] for c in _stream_chunks(seed, rates, phase_ms)]
    return _by_arrival([np.concatenate(c) for c in zip(*chunks)])


def write_stream_files(seed, rates, phase_ms, out_dir):
    """The run's event files, one per tick that carries events, as
    headerless CSV `created_us,key,value` under out_dir, named in arrival
    order. created_us is the due time in µs after the run's start (the
    harness adds the start). Also writes `manifest.csv`
    (arrive_ms,file,rows) for the harness's generator thread. Returns the
    row counts and a digest over every file in order."""
    os.makedirs(out_dir, exist_ok=True)
    opts = pacsv.WriteOptions(include_header=False)
    h = hashlib.sha256()
    manifest = ["arrive_ms,file,rows"]
    stats = {"rows": 0, "late_rows": 0}

    def flush(cols):
        due, arrive, key, value = _by_arrival(cols)
        ticks, starts = np.unique(arrive, return_index=True)
        bounds = list(starts) + [due.size]
        for i, t in enumerate(ticks):
            lo, hi = bounds[i], bounds[i + 1]
            name = f"{len(manifest) - 1:06d}.csv"
            path = os.path.join(out_dir, name)
            pacsv.write_csv(pa.table({"created_us": due[lo:hi] * 1000, "key": key[lo:hi],
                                      "value": value[lo:hi]}), path, opts)
            with open(path, "rb") as f:
                h.update(f.read())
            manifest.append(f"{t},{name},{hi - lo}")
        stats["rows"] += int(due.size)
        stats["late_rows"] += int((arrive - due > STREAM_TICK_MS).sum())

    # a tick's file is complete once the chunks reach its arrival time:
    # every later event arrives after its chunk start
    pending = None
    for start, *cols in _stream_chunks(seed, rates, phase_ms):
        if pending is not None:
            done = pending[1] <= start
            flush([c[done] for c in pending])
            pending = [np.concatenate((p[~done], c)) for p, c in zip(pending, cols)]
        else:
            pending = cols
    if pending is not None:
        flush(pending)
    with open(os.path.join(out_dir, "manifest.csv"), "w") as f:
        f.write("\n".join(manifest) + "\n")
    return {**stats, "files": len(manifest) - 1, "sha256": h.hexdigest()}


def file_digest(path):
    h = hashlib.sha256()
    with open(path, "rb") as f:
        for chunk in iter(lambda: f.read(1 << 20), b""):
            h.update(chunk)
    return h.hexdigest()
