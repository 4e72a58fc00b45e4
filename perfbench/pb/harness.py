"""One benchmark run: inputs, set-up, timed window, checks, result.

The untraced run (``--trace 0``) reports the end-to-end metrics; the
traced run (``--trace 1``) makes the same timed window with spans on,
then runs the layer ladder and the contract-query pass and reports the
per-layer metrics, including what recording the spans cost the window.
"""

from __future__ import annotations

import os
import shutil
import sys
import time

from . import engine, inputs, proctree, stats, workloads
from .tracing import NullTracer, Tracer


END_TO_END_UNITS = {
    "setup_s": "s",
    "latency_p50_s": "s",
    "latency_tail_s": "s",
    "cpu_s_per_mrow": "s",
}


def _log(t0: float, what: str) -> None:
    print(f"# {time.monotonic() - t0:7.1f}s {what}", file=sys.stderr, flush=True)


def _timed_window(wl, ctx, tracer, n: int) -> tuple[list, int]:
    """The workload's first ``n`` operations back to back; returns them
    and the tree's peak RSS meanwhile. The first operation that raises
    ends the window and counts all its items as failed."""
    ops = []  # an operation that raised is an Op without detail
    with proctree.RssSampler() as rss:
        for i in range(n):
            try:
                ops.append(wl.op(ctx, i, tracer))
                print(f"# op {i}: {ops[-1].wall_s:.2f} s wall, {ops[-1].cpu_s:.1f} s cpu", file=sys.stderr, flush=True)
            except Exception as exc:  # counted as a failed operation
                print(f"# {wl.name} operation failed: {type(exc).__name__}: {exc}"[:600], flush=True)
                ops.append(workloads.Op(latencies=[], rows=0, attempted=wl.items_per_op, failed=wl.items_per_op))
                break
    return ops, rss.peak


def _check(wl, ctx, ops) -> None:
    """Run the workload's output checks and add wrong items to ``failed``."""
    for op in ops:
        if "qdir" not in op.detail:
            continue
        try:
            good = wl.check(ctx, op)
        except Exception as exc:  # a crashing check is a failed check
            print(f"# check failed: {type(exc).__name__}: {exc}"[:600], flush=True)
            good = False
        if not good:
            op.failed = op.attempted


def end_to_end(setup_s: float, ops, rss_peak) -> dict:
    lat = [x for op in ops for x in op.latencies]
    rows = sum(op.rows for op in ops)
    cpu = sum(op.cpu_s for op in ops)
    return {
        "setup_s": setup_s,
        "latency_p50_s": stats.median(lat) if lat else float("nan"),
        "latency_tail_s": stats.tail_percentile(lat)[1] if lat else float("nan"),
        "cpu_s_per_mrow": cpu / max(rows, 1) * 1e6,
        "proc.peak_rss_mb": rss_peak / 2**20,
    }


def _table(wl, ops, m) -> list[tuple[str, float, str]]:
    """Every end-to-end figure for a reader, by the names the workload
    uses for them, with the sample counts behind the timings."""
    lat = [x for op in ops for x in op.latencies]
    wall = sum(op.wall_s for op in ops)
    cpu = sum(op.cpu_s for op in ops)
    rows = sum(op.rows for op in ops)
    attempted = sum(op.attempted for op in ops)
    failed = sum(op.failed for op in ops)
    tail_pct, _, n = stats.tail_percentile(lat) if lat else (float("nan"), 0, 0)
    steal = stats.median([op.steal_pct for op in ops])
    t = [
        ("setup_s", m["setup_s"], "s (session start with JVM launch, then the warm-up drain)"),
        ("latency_p50_s", m["latency_p50_s"], f"s (n={n})"),
        ("latency_tail_s", m["latency_tail_s"], f"s (p{tail_pct:.0f}, n={n})"),
        ("cpu_s_per_mrow", m["cpu_s_per_mrow"], "s"),
        ("proc.peak_rss_mb", m["proc.peak_rss_mb"], "MB"),
        ("failed_frac", failed / max(attempted, 1), f"(of {attempted})"),
        ("steal_pct", steal, "% (host-wide, median over operations)"),
        ("cores", engine.CORES, "(local[n]; shuffle and state partitions = n)"),
    ]
    if wl.name == "backlog_neardup":
        t += [
            ("turns_per_s", rows / max(wall, 1e-9), "1/s"),
            ("cpu_s_per_mturn", m["cpu_s_per_mrow"], "s"),
        ]
    else:
        t += [
            ("lag_p50_s", m["latency_p50_s"], "s"),
            ("lag_p90_s", m["latency_tail_s"], f"s (p{tail_pct:.0f})"),
            ("cpu_s_per_mturn", m["cpu_s_per_mrow"], "s"),
            ("offered_files_per_s", workloads.LIVE_FILES / (workloads.LIVE_PERIODS * workloads.LIVE_TRIGGER_S), "1/s"),
            ("gen.late_max_s", max(op.detail.get("late_max_s", 0.0) for op in ops), "s"),
        ]
    return t


def per_layer(wl, ctx, ops, tracer) -> tuple[dict, workloads.Op]:
    """Every per-layer metric, from the traced window, the ladder and a
    pass over the contract queries; also that pass as an operation whose
    items are its queries."""
    # what recording the window's spans took, over the window's wall time
    overhead = tracer.self_s / sum(op.wall_s for op in ops)
    lad = workloads.ladder(ctx, ctx.inputs["corpus"], wl.cfg, tracer)
    out = workloads.ladder_layers(lad)
    frac = lad["rows"]["s3"] / max(lad["rows"]["in"], 1)
    first = ops[0].detail  # the operation that read the ladder's corpus
    q = first["query"]
    out.update(workloads.query_layers(q.out_dir, frac, first["dropped_at"]))
    out["gen.late_max_s"] = max(op.detail["late_max_s"] for op in ops)
    out["assembly.emit_ratio"] = out.pop("sink.rows") / max(lad["rows"]["s3"], 1)
    out["sink.commit_s_p50"] = stats.median(q.commit_s) if q.commit_s else 0.0
    out["sink.commit_s_total"] = sum(q.commit_s)
    out["sink.replays_skipped"] = q.replays
    out["trace.overhead_frac"] = overhead
    with tracer.span("contract.tiny"):
        qs = workloads.run_queries(ctx.spark, ctx.inputs["tiny"], tracer)
    for name in workloads.CONTRACT_QUERIES:
        out[f"q.{name}.s"] = qs[name]["wall_s"]
        out[f"q.{name}.cpu_s"] = qs[name]["cpu_s"]
    failed = sum(not r["ok"] for r in qs.values())
    return out, workloads.Op(latencies=[], rows=0, attempted=len(qs), failed=failed)


PER_LAYER_UNITS = {
    "source.scan_cpu_s": "s",
    "source.files_behind_max": "count",
    "gen.late_max_s": "s",
    "s1_strip.cpu_s": "s",
    "s2_rules.cpu_s": "s",
    "s2_rules.keep_ratio": "ratio",
    "s3_role_fp.cpu_s": "s",
    "simhash.cpu_s": "s",
    "assembly.cpu_s": "s",
    "assembly.emit_ratio": "ratio",
    "neardup_gate.cpu_s": "s",
    "state.rows_peak": "count",
    "state.bytes_peak": "bytes",
    "state.bytes_per_buffered_turn": "bytes",
    "state.commit_ms": "ms",
    "state.update_ms": "ms",
    "state.rocksdb_bytes_written": "bytes",
    "sink.cpu_s": "s",
    "sink.commits": "count",
    "sink.data_epochs": "count",
    "sink.commit_s_p50": "s",
    "sink.commit_s_total": "s",
    "sink.bytes": "bytes",
    "sink.replays_skipped": "count",
    "sink.partition_skew": "ratio",
    "batch.count": "count",
    "batch.trigger_ms_p50": "ms",
    "batch.planning_ms_total": "ms",
    "batch.add_batch_ms_total": "ms",
    "batch.wal_ms_total": "ms",
    "recorder.events": "count",
    **{f"q.{n}.{k}": "s" for n in workloads.CONTRACT_QUERIES for k in ("s", "cpu_s")},
    "proc.peak_rss_mb": "MB",
    "trace.overhead_frac": "ratio",
}


def _shutdown_jvm() -> None:
    """Close the JVM's stdin (its signal to exit) and wait until every
    process this run started has ended."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    deadline = time.monotonic() + 60
    while len(proctree.tree_stats()) > 1 and time.monotonic() < deadline:
        time.sleep(0.1)


def run(name: str, seed: int, seconds: float, trace: bool, repo_root: str) -> tuple[dict, list]:
    start = time.monotonic()
    work = os.path.join(repo_root, ".perfbench_work")
    engine.prepare_env(repo_root, work)
    wl = workloads.make(name, seconds)
    ins = wl.make_inputs(work, seed)
    if trace:  # the contract-query pass reads these
        ins["tiny"] = inputs.contract_tables(work, seed, **workloads.TINY_TABLES)
    _log(start, "inputs ready")
    run_dir = os.path.join(work, "runs", str(os.getpid()))
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    spark = None
    try:
        t0 = time.monotonic()
        spark = engine.start_session(repo_root, work)
        ctx = workloads.Ctx(spark, work, run_dir, seed, ins)
        wl.warmup(ctx)
        setup_s = time.monotonic() - t0
        _log(start, "set-up done")

        tracer = Tracer(f"{name}-seed{seed}-{os.getpid()}") if trace else NullTracer()
        with tracer.span("window"):
            ops, rss_peak = _timed_window(wl, ctx, tracer, wl.ops)
        _log(start, "timed window done")
        _check(wl, ctx, ops)
        _log(start, "checks done")
        m = end_to_end(setup_s, ops, rss_peak)
        table = _table(wl, ops, m)
        metrics = {k: (m[k], END_TO_END_UNITS[k]) for k in END_TO_END_UNITS}
        all_ops = ops
        if trace:
            if all(op.detail for op in ops):
                layers, queries = per_layer(wl, ctx, ops, tracer)
                all_ops = ops + [queries]
            else:  # an operation raised: nothing to read layers from
                layers = dict.fromkeys(PER_LAYER_UNITS, float("nan"))
            layers["proc.peak_rss_mb"] = m["proc.peak_rss_mb"]
            _log(start, "layers done")
            tracer.write(os.path.join(work, "traces", f"{tracer.run_id}.json"))
            metrics = {k: (layers[k], PER_LAYER_UNITS[k]) for k in PER_LAYER_UNITS}
            shown = {row[0] for row in table}
            table += [(k, v, u) for k, (v, u) in metrics.items() if k not in shown]
        attempted = sum(op.attempted for op in all_ops)
        failed = sum(op.failed for op in all_ops)
    finally:
        if spark is not None:
            engine.stop_session(spark)
        _shutdown_jvm()
        shutil.rmtree(run_dir, ignore_errors=True)
        _log(start, "stopped")
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    return result, table
