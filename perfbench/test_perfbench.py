"""Tests of the benchmark itself: seeded inputs, the output checks, and
the command's result line.

    python3 -m pytest perfbench/test_perfbench.py

The last two tests launch the benchmark (the first builds the harness
when the sources changed, and a run takes about a minute).
"""
import json
import os
import shutil
import subprocess
import sys

import pandas as pd
import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import analyse  # noqa: E402
import gen  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def test_same_seed_same_bytes_other_seed_other_bytes(tmp_path):
    a = gen.write_tables(11, 0.02, str(tmp_path / "a"))
    b = gen.write_tables(11, 0.02, str(tmp_path / "b"))
    c = gen.write_tables(12, 0.02, str(tmp_path / "c"))
    assert {t: i["sha256"] for t, i in a.items()} == {t: i["sha256"] for t, i in b.items()}
    # region and nation are fixed dimension tables; every other table is seeded
    seeded = [t for t in gen.TABLES if t not in ("region", "nation")]
    assert all(a[t]["sha256"] != c[t]["sha256"] for t in seeded)

    p = gen.write_stream_files(11, [2000, 8000], [1000, 1000], str(tmp_path / "p"))
    q = gen.write_stream_files(11, [2000, 8000], [1000, 1000], str(tmp_path / "q"))
    r = gen.write_stream_files(12, [2000, 8000], [1000, 1000], str(tmp_path / "r"))
    assert p["sha256"] == q["sha256"] != r["sha256"]


def test_stream_schedule_is_late_and_out_of_order_within_the_watermark():
    due, arrive, _, _ = gen.stream_schedule(3, [5000], [4000])
    late = arrive - due > gen.STREAM_TICK_MS
    assert 0.02 < late.mean() < 0.1
    assert (arrive - due).max() <= gen.STREAM_LATE_MAX_MS + gen.STREAM_TICK_MS
    assert (due[1:] < due[:-1]).any()  # out of order in arrival order
    assert (arrive[1:] >= arrive[:-1]).all()


def _frame():
    return pd.DataFrame({"k": ["a", "b", "c"], "n": [3, 1, 2], "v": [1.5, 2.25, None]})


def test_compare_accepts_reordered_rows_and_columns():
    got = _frame().iloc[[2, 0, 1]][["v", "n", "k"]]
    assert analyse.compare(got, _frame()) is None


@pytest.mark.parametrize("corrupt", [
    lambda f: f.assign(n=[3, 1, 5]),                 # a wrong value
    lambda f: f.iloc[:2],                            # a missing row
    lambda f: f.assign(n=f["n"].astype("float64")),  # a changed type
    lambda f: f.rename(columns={"v": "w"}),          # a renamed column
])
def test_compare_catches_a_corrupted_output(corrupt):
    assert analyse.compare(corrupt(_frame()), _frame()) is not None


def test_check_batch_names_the_failing_operation(tmp_path):
    for op, frame in (("q_ok", _frame()), ("q_bad", _frame().assign(v=[1.5, 2.0, None]))):
        os.makedirs(tmp_path / op)
        frame.to_parquet(tmp_path / op / "part-0.parquet")
    res = analyse.check_batch(str(tmp_path), {"q_ok": _frame(), "q_bad": _frame(),
                                              "q_missing": _frame()},
                              ["q_ok", "q_bad", "q_missing"])
    assert res["attempted"] == 3 and res["failed"] == 2
    assert [f["op"] for f in res["failures"]] == ["q_bad", "q_missing"]


def test_check_stream_catches_a_wrong_window_count(tmp_path):
    watch, check = tmp_path / "watch", tmp_path / "check"
    os.makedirs(watch)
    os.makedirs(check)
    # created_us counts from the run's start, here 1 s after the epoch
    (watch / "000000.csv").write_text("0,1,2.0\n500000,1,3.0\n1500000,2,1.0\n")
    final = "w_start_us,key,n,max_created_us\n0,1,2,1500000\n2000000,2,1,2500000\n"
    (check / "final.csv").write_text(final)
    assert analyse.check_stream(str(check), str(watch), 2000, 1000000)["failed"] == 0
    (check / "final.csv").write_text(final.replace("0,1,2,", "0,1,1,"))
    res = analyse.check_stream(str(check), str(watch), 2000, 1000000)
    assert res["attempted"] == 2 and res["failed"] == 1
    assert "n 1 vs oracle 2" in res["failures"][0]["reason"]
    (check / "final.csv").write_text(final.replace("2000000,2,1,2500000\n", ""))
    res = analyse.check_stream(str(check), str(watch), 2000, 1000000)
    assert res["failed"] == 1 and "missing from the output" in res["failures"][0]["reason"]


def test_batch_processor_time_leaves_out_the_jit_compiler():
    """A cold pass and three warm passes of one operation each; every
    pass's processor time counts every thread but the JIT compiler's."""
    spans, passes = [[1, 0, "run", "batch-mix", 0.0, 400.0]], []
    for k, (name, cpu, jit) in enumerate([("cold", 30000.0, 20000.0), ("warm0", 9000.0, 3000.0),
                                          ("warm1", 9000.0, 2000.0), ("warm2", 9000.0, 1000.0)]):
        pid = 2 + 2 * k
        spans += [[pid, 1, "pass", name, 100.0 * k, 100.0 * k + 90],
                  [pid + 1, pid, "op", "q", 100.0 * k, 100.0 * k + 90]]
        passes.append({"span": pid, "name": name, "traced": False, "cpu_ms": cpu, "jit_ms": jit})
    res = {"spans": spans, "passes": passes, "failures": [], "env": {"peak_rss_mb": 2000.0}}
    m = analyse.batch_metrics(res, {"failures": []}, ["q"], 2)
    assert m["e2e"] == {"cold_cpu_s": 10.0, "pass_cpu_s": 7.0, "peak_rss_mb": 2000.0}
    assert m["detail"]["wall.pass_s"] == 0.09


def _account_err(jobs):
    """trace.account_err of one 100 ms operation: a graft call over
    [0, 40), an action over [50, 100), and the given job intervals."""
    op = {"start": 0.0, "end": 100.0}
    children = [{"start": 0.0, "end": 40.0}, {"start": 50.0, "end": 100.0}]
    tr = {"jobs": [[i, lo, hi, True] for i, (lo, hi) in enumerate(jobs)], "stages": [],
          "plans": [], "caps": [], "aqe": []}
    m, path = analyse.layer_totals([(0.0, 100.0)], [(op, children)], tr, 4)
    assert sum(path.values()) == 100.0
    return m["trace.account_err"]


def test_account_err_counts_a_job_outside_its_parent_span():
    assert _account_err([(10, 30), (60, 90)]) == 0.0
    # a job started between the graft call and the action, in harness time
    assert _account_err([(10, 30), (42, 48), (60, 90)]) == 0.06 > analyse.ACCOUNT_TOLERANCE
    # a job started in the graft call that ran on after the call returned
    assert _account_err([(30, 48), (60, 90)]) == 0.08


def test_file_batches_follow_cumulative_input_rows():
    batches = [{"batch": 0, "rows": 5}, {"batch": 1, "rows": 0}, {"batch": 2, "rows": 4}]
    assert analyse.file_batches([3, 2, 4], batches) == [0, 0, 2]
    # a micro-batch that took part of a file: no file boundary, no match
    assert analyse.file_batches([3, 2, 4], [{"batch": 0, "rows": 4}]) is None


def test_tail_has_ten_samples_beyond_it():
    value, pct, beyond = analyse.tail(list(range(100)))
    assert (value, beyond) == (89, 10) and pct == 90.0


def test_bare_directory_fails_without_a_result(tmp_path):
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("work", "target", "__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", "batch-mix",
                        "--seed", "1", "--seconds", "1", "--trace", "0"],
                       cwd=tmp_path, capture_output=True, text=True, timeout=180)
    assert p.returncode != 0 and p.stdout == ""


def test_command_prints_every_metric_and_a_parsable_last_line():
    bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    p = subprocess.run(bench["command"] + ["--workload", "batch-mix", "--seed", "1",
                                           "--seconds", "1", "--trace", "0"],
                       cwd=ROOT, capture_output=True, text=True, timeout=900)
    assert p.returncode == 0, p.stderr[-2000:]
    last = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(last) == {"correct", "attempted", "failed", "metrics"}
    assert last["correct"] and last["failed"] == 0 and last["attempted"] >= 1
    for m in bench["end_to_end"]:
        assert last["metrics"][m["name"]]["unit"] == m["unit"]
        assert last["metrics"][m["name"]]["value"] > 0
        assert f"metric {m['name']} " in p.stdout
