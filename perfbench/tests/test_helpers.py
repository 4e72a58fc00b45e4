"""Unit tests for the benchmark harness's own helpers.

Run: python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pandas as pd
import pytest

from pb import epochs, proctree, stats
from pb.rowhash import row_hash

# -- the tail-percentile rule ----------------------------------------------


def test_tail_percentile_keeps_ten_samples_beyond():
    xs = list(range(1, 101))  # 1..100
    pct, value, n = stats.tail_percentile(xs)
    assert (pct, value, n) == (90.0, 90.0, 100)
    assert sum(1 for x in xs if x > value) == 10


def test_tail_percentile_uses_the_highest_qualifying_rank():
    xs = [float(x) for x in range(150)]
    pct, value, _ = stats.tail_percentile(xs)
    assert value == 139.0 and sum(1 for x in xs if x > value) == 10
    assert pct == pytest.approx(100 * 140 / 150)
    # 20 samples: the 10th smallest, i.e. the median, is the highest
    assert stats.tail_percentile(range(20)) == (50.0, 9.0, 20)


def test_tail_percentile_order_insensitive_and_small_samples():
    assert stats.tail_percentile([5, 1, 3])[1:] == (5.0, 3)
    assert stats.tail_percentile([3.0] * 11) == (pytest.approx(100 / 11), 3.0, 11)
    with pytest.raises(ValueError):
        stats.tail_percentile([])


# -- file → epoch lag join ----------------------------------------------------


def _write_log(path: str, entries: list[dict]) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        f.write("v1\n" + "".join(json.dumps(e) + "\n" for e in entries))


def _src(name: str, batch: int) -> dict:
    return {"path": f"file:///data/in/{name}", "timestamp": 1_700_000_000_000, "batchId": batch}


@pytest.fixture
def checkpoint(tmp_path):
    """Hand-built checkpoint: source-log batches 0 (a, b), 1 (c), 2 (d),
    with batch 2's file a compaction that repeats batches 0 and 1; query
    batches 0..3 committed (batch 2 a no-data batch), batch 4 planned
    but never committed."""
    ck = str(tmp_path / "checkpoint")
    _write_log(f"{ck}/sources/0/0", [_src("a.parquet", 0), _src("b.parquet", 0)])
    _write_log(f"{ck}/sources/0/1", [_src("c.parquet", 1)])
    _write_log(
        f"{ck}/sources/0/2.compact",
        [_src("a.parquet", 0), _src("b.parquet", 0), _src("c.parquet", 1), _src("d.parquet", 2)],
    )
    _write_log(f"{ck}/sources/0/3", [_src("e.parquet", 3)])
    meta = {"batchWatermarkMs": 0, "batchTimestampMs": 0, "conf": {}}
    for b, off in enumerate([0, 1, 1, 2, 3]):
        _write_log(f"{ck}/offsets/{b}", [meta, {"logOffset": off}])
    for b in range(4):
        _write_log(f"{ck}/commits/{b}", [{"nextBatchWatermarkMs": 0}])
    # a temporary file Spark may leave behind is ignored
    open(f"{ck}/offsets/.4.tmp", "w").close()
    return ck


def test_files_by_epoch_joins_offsets_to_the_source_log(checkpoint):
    assert epochs.files_by_epoch(checkpoint) == [
        (0, ["a.parquet", "b.parquet"]),
        (1, ["c.parquet"]),
        (2, []),
        (3, ["d.parquet"]),
    ]


def test_file_lags_use_the_commit_of_the_epoch_that_read_the_file(checkpoint):
    manifests = [
        {"epoch": 0, "committed_at": 105.0, "n_rows": 0},
        {"epoch": 1, "committed_at": 107.5, "n_rows": 3},
        {"epoch": 2, "committed_at": 108.0, "n_rows": 1},
        {"epoch": 3, "committed_at": 111.0, "n_rows": 2},
    ]
    due = {"a.parquet": 100.0, "b.parquet": 101.0, "c.parquet": 102.0, "d.parquet": 103.0, "e.parquet": 104.0}
    lags = epochs.file_lags(
        epochs.files_by_epoch(checkpoint), {m["epoch"]: m["committed_at"] for m in manifests}, due
    )
    # e.parquet was read by batch 4, which never committed: no lag
    assert lags == {"a.parquet": 5.0, "b.parquet": 4.0, "c.parquet": 5.5, "d.parquet": 8.0}


def test_files_behind_max_counts_dropped_but_unread_files(checkpoint):
    ep = epochs.files_by_epoch(checkpoint)
    due = {"a.parquet": 0.0, "b.parquet": 0.5, "c.parquet": 1.0, "d.parquet": 1.5}
    started = {0: 0.6, 1: 2.0, 2: 3.0, 3: 4.0}
    # batch 0 starts with a, b waiting; batch 1 with c, d dropped but unread
    assert epochs.files_behind_max(ep, started, due) == 2


# -- the live schedule ---------------------------------------------------------


def test_trigger_tick_is_the_next_whole_multiple_of_the_period():
    from pb.workloads import trigger_tick

    assert trigger_tick(1_700_000_001.2, 5) == 1_700_000_005
    assert trigger_tick(1_700_000_005.0, 5) == 1_700_000_005


def test_live_schedule_spreads_files_evenly_and_keeps_off_the_ticks():
    from pb.workloads import live_schedule

    due = live_schedule(101, 2, 5.0, 0.2)
    assert len(due) == 101 and due == sorted(due)
    per_period = [sum(1 for t in due if p * 5.0 <= t < (p + 1) * 5.0) for p in range(2)]
    assert per_period == [51, 50]
    assert all(0.2 - 1e-9 <= t % 5.0 <= 4.8 + 1e-9 for t in due)
    assert due[0] == pytest.approx(0.2) and due[-1] == pytest.approx(9.8)


# -- process-tree CPU ---------------------------------------------------------


def _stat(pid: int, comm: str, ppid: int, utime: int, stime: int, cutime: int = 0, cstime: int = 0) -> str:
    fields = ["S", str(ppid)] + ["0"] * 9 + [str(utime), str(stime), str(cutime), str(cstime)] + ["0"] * 6 + ["25"]
    return f"{pid} ({comm}) " + " ".join(fields) + "\n"


def test_tree_cpu_sums_the_tree_and_nothing_else(tmp_path):
    procs = {
        100: ("python", 1, 10, 5, 3, 2),  # root; 5 ticks of reaped children
        101: ("java (jvm) x", 100, 200, 40, 0, 0),  # comm with spaces and parentheses
        102: ("python3 -m pyspark.daemon", 101, 7, 3, 30, 10),
        200: ("neighbour", 1, 999, 999, 0, 0),  # not in the tree
    }
    for pid, (comm, ppid, *t) in procs.items():
        (tmp_path / str(pid)).mkdir()
        (tmp_path / str(pid) / "stat").write_text(_stat(pid, comm, ppid, *t))
    (tmp_path / "stat").write_text("cpu  1 2 3 4 5 6 7 8 0 0\n")
    assert set(proctree.tree_stats(100, str(tmp_path))) == {100, 101, 102}
    expected = (10 + 5 + 3 + 2) + (200 + 40) + (7 + 3 + 30 + 10)
    assert proctree.tree_cpu_s(100, str(tmp_path)) == pytest.approx(expected / proctree.HZ)
    assert proctree.tree_rss_bytes(100, str(tmp_path)) == 3 * 25 * proctree.PAGE
    assert proctree.host_steal_ticks(str(tmp_path)) == (8, 36)


def test_tree_cpu_counts_a_child_that_has_exited():
    before = proctree.tree_cpu_s()
    busy = "import time\nt = time.process_time()\nwhile time.process_time() - t < 0.4: pass\n"
    subprocess.run([sys.executable, "-c", busy], check=True, timeout=60)
    # the child is gone; its CPU lives on in this process's cutime
    assert proctree.tree_cpu_s() - before >= 0.3


# -- row hash ---------------------------------------------------------------


def _assembled(n: int = 50) -> pd.DataFrame:
    return pd.DataFrame(
        {
            "conv_id": [f"c{i % 7}" for i in range(n)],
            "turn_idx": [i // 7 for i in range(n)],
            "role": ["human" if i % 2 else "assistant" for i in range(n)],
            "text": [f"turn text {i}" for i in range(n)],
            "tool": [None if i % 3 else "search" for i in range(n)],
            "ts": pd.to_datetime(1_700_000_000 + pd.Series(range(n)) * 30, unit="s"),
            "emit_seq": [i // 7 for i in range(n)],
        }
    )


def test_row_hash_ignores_row_order():
    df = _assembled()
    assert row_hash(df) == row_hash(df.sample(frac=1.0, random_state=3))


@pytest.mark.parametrize(
    "col,value",
    [("text", "turn text X"), ("emit_seq", 99), ("tool", "python"), ("turn_idx", 42)],
)
def test_row_hash_detects_one_flipped_row(col, value):
    df = _assembled()
    flipped = df.copy()
    flipped.loc[17, col] = value
    assert row_hash(df) != row_hash(flipped)
    assert row_hash(df)[0] == row_hash(flipped)[0]


def test_row_hash_detects_a_shifted_timestamp_and_a_duplicate():
    df = _assembled()
    shifted = df.copy()
    shifted.loc[3, "ts"] += pd.Timedelta(microseconds=1)
    assert row_hash(df) != row_hash(shifted)
    dup = pd.concat([df, df.iloc[[5]]], ignore_index=True)
    assert row_hash(dup)[0] == len(df) + 1 and row_hash(dup) != row_hash(df)


# -- the result line when an operation failed ---------------------------------


def test_result_line_is_printed_when_a_metric_cannot_be_computed(monkeypatch, capsys):
    import importlib.util

    from pb import harness

    result = {
        "correct": False,
        "attempted": 100,
        "failed": 100,
        "metrics": {"latency_p50_s": {"value": float("nan"), "unit": "s"}, "setup_s": {"value": 31.5, "unit": "s"}},
    }
    monkeypatch.setattr(harness, "run", lambda *a: (result, [("setup_s", 31.5, "s")]))
    path = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "run.py")
    spec = importlib.util.spec_from_file_location("perfbench_run", path)
    run = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(run)

    code = run.main(["--workload", "live_sorted", "--seed", "1", "--seconds", "15", "--trace", "0"])
    last = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert code == 1
    assert last["correct"] is False and last["failed"] == 100 and last["attempted"] == 100
    assert last["metrics"]["latency_p50_s"]["value"] is None
    assert last["metrics"]["setup_s"]["value"] == 31.5
