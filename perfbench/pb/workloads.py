"""The benchmark's workloads and the traced layer ladder.

Each workload offers:

* ``make_inputs(work, seed)`` — seeded inputs (cached per seed);
* ``warmup(ctx)`` — the small operation a set-up ends with;
* ``op(ctx, i, tracer)`` — one timed operation, returning an ``Op``;
* ``check(ctx, op)`` — True when the operation's output is correct.

A run makes ``ops`` operations, ``round(--seconds / op_s)`` and at
least one, where ``op_s`` is the operation's nominal length: the number
of samples depends on the argument only, never on how fast the engine
runs. ``failed``/``attempted`` count items: a corpus drain (backlog) or
one live file (live).
"""

from __future__ import annotations

import hashlib
import json
import math
import os
import shutil
import threading
import time
from dataclasses import dataclass, field

import pandas as pd

from . import engine, epochs, inputs, proctree, stats
from .rowhash import row_hash
from .tracing import NullTracer

_NO_TRACE = NullTracer()

# sizes: a backlog drain takes ~5-7 s on 4 cores, most of it per-query
# fixed cost; a live stream offers 100 files in 10 s; the traced run's
# (cold) contract pass takes ~22 s
BACKLOG_SF, BACKLOG_TURNS, BACKLOG_FILES = 0.001, 8_000, 8
# the live slice skips the sparse early tail of late-shifted turns
LIVE_SF, LIVE_SKIP, LIVE_TURNS, LIVE_FILES = 0.003, 9_000, 2_000, 100
WARM_SF, WARM_FILES = 0.0005, 2
TINY_TABLES = {"n_docs": 30, "n_events": 1_000, "n_emb": 60}

#: nominal length of one backlog drain
BACKLOG_DRAIN_S = 5.0
#: processing-time trigger period of the live query
LIVE_TRIGGER_S = 5
LIVE_TRIGGER = f"{LIVE_TRIGGER_S} seconds"
#: the live generator drops its files over LIVE_PERIODS trigger periods,
#: 50 files (~1,000 turns, ~200 turns/s) per period: a fixed rate below
#: capacity, since a batch of ~1,000 turns takes ~2.5-3.5 s on 4 cores,
#: ~2 s of it per-batch fixed cost
LIVE_PERIODS = 2
#: no file is due within this long of a trigger tick, so timer jitter
#: never moves a file into a neighbouring batch
LIVE_MARGIN_S = 0.2
#: nominal length of one live stream: the drops, then the final flush
LIVE_STREAM_S = 15.0
#: the least time the live query runs before the first file is due
LIVE_LEAD_S = 0.5
#: how long a finished stream may take to commit its final flush
DRAIN_TIMEOUT_S = 60.0

#: contract queries: rule_filter measures functions.text_rules in
#: batch; the rest are the roadmap's batch performance leaves
CONTRACT_QUERIES = (
    "rule_filter",
    "session_window",
    "knn_brute_cosine",
    "dedup_minhash_lsh",
    "image_diversity",
    "media_metrics",
    "normalize_en_full",
)


@dataclass
class Ctx:
    spark: object
    work: str
    run_dir: str
    seed: int
    inputs: dict


@dataclass
class Op:
    latencies: list[float]  # seconds from when each item was due to its result
    rows: int  # input rows the operation processed
    attempted: int
    failed: int = 0
    wall_s: float = 0.0
    cpu_s: float = 0.0
    steal_pct: float = 0.0
    detail: dict = field(default_factory=dict)


def _fresh(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


# -- the input generator ---------------------------------------------------


class Dropper(threading.Thread):
    """Open-loop file generator: renames pre-written files from a
    staging directory into the watched directory, each at its due time
    (wall clock, ``time.time()``), whatever the engine is doing.
    ``late_max_s`` is how far behind its schedule it ever ran."""

    def __init__(self, staging: str, watched: str, due: dict[str, float]):
        super().__init__(daemon=True)
        self.staging, self.watched, self.due = staging, watched, due
        self.dropped_at: dict[str, float] = {}
        self.error: BaseException | None = None

    def run(self) -> None:
        try:
            for name, t in sorted(self.due.items(), key=lambda kv: kv[1]):
                delay = t - time.time()
                if delay > 0:
                    time.sleep(delay)
                os.rename(os.path.join(self.staging, name), os.path.join(self.watched, name))
                self.dropped_at[name] = time.time()
        except BaseException as exc:  # surfaced by the caller after join()
            self.error = exc

    @property
    def late_max_s(self) -> float:
        return max(self.dropped_at[n] - self.due[n] for n in self.dropped_at)


def trigger_tick(t: float, period_s: float) -> float:
    """The first processing-time trigger tick at or after wall-clock time
    ``t``: Spark fires a processing-time trigger at whole multiples of
    its interval since the epoch, so a schedule that starts on a tick
    meets the triggers at the same phase in every run."""
    return math.ceil(t / period_s) * period_s


def live_schedule(n: int, periods: int, period_s: float, margin_s: float) -> list[float]:
    """Due times (seconds after a trigger tick) of ``n`` files spread as
    evenly as possible over ``periods`` trigger periods, evenly spaced
    inside each period and never within ``margin_s`` of a tick."""
    out = []
    for p in range(periods):
        k = n // periods + (p < n % periods)
        step = (period_s - 2 * margin_s) / max(k - 1, 1)
        out += [p * period_s + margin_s + j * step for j in range(k)]
    return out


def stage_copy(corpus: str, names: list[str], staging: str) -> None:
    _fresh(staging)
    for n in names:
        shutil.copy2(os.path.join(corpus, n), os.path.join(staging, n))


def place_backlog(corpus: str, out_dir: str) -> tuple[str, Dropper]:
    """Drop every corpus file into ``<out_dir>/in`` at once, through the
    same generator the live stream uses (a backlog is all due now)."""
    names = inputs.data_files(corpus)
    staging, watched = os.path.join(out_dir, "staging"), _fresh(os.path.join(out_dir, "in"))
    stage_copy(corpus, names, staging)
    now = time.time()
    dropper = Dropper(staging, watched, {n: now for n in names})
    dropper.run()
    if dropper.error is not None:
        raise dropper.error
    return watched, dropper


# -- streaming output check -----------------------------------------------


def expected_stream_output(work: str, seed: int, corpus: str, batches, cfg, wm_ms: int):
    """(rows, hash) of ``oracle.pandas_pipeline.microbatch_reference``
    replayed over the recorded batch boundaries (files per batch, no-data
    batches as None), cached per seed and boundary list."""
    from dataflow_mm_lrt_spark.oracle.pandas_pipeline import microbatch_reference

    key = hashlib.sha1(
        json.dumps(
            [os.path.relpath(corpus, work), batches, cfg.neardup_threshold, wm_ms, cfg.order_slack_ms]
        ).encode()
    ).hexdigest()[:16]
    path = os.path.join(work, "inputs", f"seed-{seed}", f"expected-{key}.json")
    if os.path.exists(path):
        with open(path) as f:
            return tuple(json.load(f))
    frames = [
        pd.concat([pd.read_parquet(os.path.join(corpus, n)) for n in files]) if files else None
        for files in batches
    ]
    ref = microbatch_reference(
        frames,
        watermark_delay_ms=wm_ms,
        order_slack_ms=cfg.order_slack_ms,
        neardup_threshold=cfg.neardup_threshold,
    )
    result = row_hash(ref)
    with open(path + ".tmp", "w") as f:
        json.dump(list(result), f)
    os.rename(path + ".tmp", path)
    return result


def check_stream(ctx: Ctx, out_dir: str, corpus: str, cfg, wm_ms: int, suffix: str = "") -> bool:
    """Committed output of one query equals the reference over the
    same batch boundaries; ``suffix`` is stripped from ``conv_id`` when
    the query read a relabelled corpus."""
    from dataflow_mm_lrt_spark.streaming.sink import ManifestSink

    batches = [files for _, files in epochs.files_by_epoch(os.path.join(out_dir, "checkpoint"))]
    want = expected_stream_output(ctx.work, ctx.seed, corpus, batches, cfg, wm_ms)
    got = ManifestSink(os.path.join(out_dir, "sink")).read_committed(ctx.spark).toPandas()
    if suffix:
        if not got["conv_id"].str.endswith(suffix).all():
            return False
        got["conv_id"] = got["conv_id"].str.slice(0, -len(suffix))
    return row_hash(got) == want


# -- per-layer numbers read back from a finished query ---------------------


def _iso_s(ts: str) -> float:
    return pd.Timestamp(ts).timestamp()


def query_layers(out_dir: str, rows_in_to_assembly_frac: float, dropped_at: dict[str, float]) -> dict:
    """Micro-batch engine, state-store, sink and source numbers of one
    finished query, from its progress trail, checkpoint and manifests."""
    from dataflow_mm_lrt_spark.streaming.metrics import read_metrics
    from dataflow_mm_lrt_spark.streaming.sink import ManifestSink

    events = read_metrics(os.path.join(out_dir, "metrics"))
    ran = {}
    for d in events:
        if d.get("event") == "progress" and "addBatch" in d.get("durationMs", {}):
            ran[int(d["batchId"])] = d
    batches = [ran[b] for b in sorted(ran)]
    dur = lambda d, k: float(d["durationMs"].get(k, 0))  # noqa: E731
    ops = lambda d: d.get("stateOperators", [])  # noqa: E731
    manifests = {m["epoch"]: m for m in ManifestSink(os.path.join(out_dir, "sink")).manifests()}

    # buffered turns after each batch: rows into assembly so far minus
    # rows emitted so far; state bytes per buffered turn at the peak
    cum_in = cum_out = 0.0
    per_turn = []
    for d in batches:
        cum_in += float(d.get("numInputRows", 0)) * rows_in_to_assembly_frac
        cum_out += manifests.get(int(d["batchId"]), {}).get("n_rows", 0)
        sb = sum(op.get("memoryUsedBytes", 0) for op in ops(d))
        if cum_in - cum_out >= 1:
            per_turn.append((sb, sb / (cum_in - cum_out)))
    part_rows: dict[int, int] = {}
    for m in manifests.values():
        for p in m["partitions"]:
            part_rows[p["partition_id"]] = part_rows.get(p["partition_id"], 0) + p["rows"]
    ep = epochs.files_by_epoch(os.path.join(out_dir, "checkpoint"))
    started = {int(d["batchId"]): _iso_s(d["timestamp"]) for d in batches}
    return {
        "batch.count": len(batches),
        "batch.trigger_ms_p50": stats.median([dur(d, "triggerExecution") for d in batches]),
        "batch.planning_ms_total": sum(dur(d, "queryPlanning") for d in batches),
        "batch.add_batch_ms_total": sum(dur(d, "addBatch") for d in batches),
        "batch.wal_ms_total": sum(dur(d, "walCommit") + dur(d, "commitOffsets") for d in batches),
        "recorder.events": len(events),
        "state.rows_peak": max(sum(op.get("numRowsTotal", 0) for op in ops(d)) for d in batches),
        "state.bytes_peak": max(sum(op.get("memoryUsedBytes", 0) for op in ops(d)) for d in batches),
        "state.bytes_per_buffered_turn": max(per_turn)[1] if per_turn else 0.0,
        "state.commit_ms": sum(op.get("commitTimeMs", 0) for d in batches for op in ops(d)),
        "state.update_ms": sum(op.get("allUpdatesTimeMs", 0) for d in batches for op in ops(d)),
        "state.rocksdb_bytes_written": sum(
            op.get("customMetrics", {}).get("rocksdbTotalBytesWritten", 0)
            + op.get("customMetrics", {}).get("rocksdbBytesCopied", 0)
            for d in batches
            for op in ops(d)
        ),
        "sink.commits": len(manifests),
        "sink.data_epochs": sum(1 for m in manifests.values() if m["n_rows"] > 0),
        "sink.bytes": sum(p["bytes"] for m in manifests.values() for p in m["partitions"]),
        "sink.partition_skew": (
            max(part_rows.values()) / (sum(part_rows.values()) / len(part_rows))
            if part_rows and sum(part_rows.values())
            else 1.0
        ),
        "sink.rows": sum(m["n_rows"] for m in manifests.values()),
        "source.files_behind_max": epochs.files_behind_max(ep, started, dropped_at),
    }


# -- streaming workloads ---------------------------------------------------


class Backlog:
    """availableNow drain of a shuffled-arrival corpus (72 h watermark +
    punctuation row, one macro-batch), near-dup gate at Hamming 3."""

    name = "backlog_neardup"
    watermark, wm_ms, neardup = "72 hours", 72 * 3600 * 1000, 3
    op_s, items_per_op = BACKLOG_DRAIN_S, 1

    def __init__(self, seconds: float):
        self.cfg = engine.pipeline_config(self.watermark, self.neardup)
        self.ops = max(1, round(seconds / self.op_s))

    def make_inputs(self, work: str, seed: int) -> dict:
        corpus = inputs.fixed_size_corpus(work, seed, BACKLOG_SF, "shuffled", 0, BACKLOG_TURNS, BACKLOG_FILES)
        return {
            "corpus": corpus,
            "drains": [inputs.relabelled(corpus, k) for k in range(self.ops)],
            # the cold first drain costs about the same on any corpus size,
            # so the warm-up drains the corpus itself
            "warm": corpus,
        }

    def _drain(self, ctx: Ctx, watched: str, qdir: str, tracer):
        with tracer.span("op.drain") as span:
            q = engine.Query(ctx.spark, watched, qdir, self.cfg, {"availableNow": True}, tracer, span["id"])
            q.finish(stop=False)
        return q

    def warmup(self, ctx: Ctx) -> None:
        """One drain with the workload's config: it pays the cold start
        (class loading, Python workers, first JIT tiers) before timing."""
        out = _fresh(os.path.join(ctx.run_dir, "warm"))
        watched, _ = place_backlog(ctx.inputs["warm"], out)
        self._drain(ctx, watched, os.path.join(out, "q"), _NO_TRACE)
        shutil.rmtree(out, ignore_errors=True)

    def op(self, ctx: Ctx, i: int, tracer) -> Op:
        corpus = ctx.inputs["drains"][i]
        out = _fresh(os.path.join(ctx.run_dir, f"op{i}"))
        with tracer.span("op.place"):
            watched, dropper = place_backlog(corpus, out)
        w = proctree.Window()
        q = self._drain(ctx, watched, os.path.join(out, "q"), tracer)
        r = w.stop()
        return Op(
            latencies=[r["wall_s"]],
            rows=inputs.count_rows(corpus),
            attempted=1,
            **r,
            detail={
                "qdir": q.out_dir,
                "suffix": f"~{i}" if i else "",
                "dropped_at": dropper.dropped_at,
                "late_max_s": dropper.late_max_s,
                "query": q,
            },
        )

    def check(self, ctx: Ctx, op: Op) -> bool:
        return check_stream(ctx, op.detail["qdir"], ctx.inputs["corpus"], self.cfg, self.wm_ms, op.detail["suffix"])


class Live(Backlog):
    """Open loop: a generator thread drops pre-written, event-time-sorted
    files into the watched directory on a fixed schedule while a
    processing-time-triggered query runs (10 min watermark, no
    maxFilesPerTrigger); a punctuation file, dropped last, drains the
    state at the end."""

    name = "live_sorted"
    watermark, wm_ms, neardup = "10 minutes", 10 * 60 * 1000, None
    op_s, items_per_op = LIVE_STREAM_S, LIVE_FILES

    def make_inputs(self, work: str, seed: int) -> dict:
        return {
            # microbatch_reference has no state TTL; a stream shorter
            # than the TTL in event time never evicts a conversation
            # before the punctuation, so the reference stays exact
            "corpus": inputs.fixed_size_corpus(
                work, seed, LIVE_SF, "sorted", LIVE_SKIP, LIVE_TURNS, LIVE_FILES,
                max_span_s=self.cfg.state_ttl_ms / 1000 - 600,
            ),
            "warm": inputs.transcript_files(work, seed, WARM_SF, WARM_FILES, "sorted"),
        }

    def _stream(self, ctx: Ctx, corpus: str, out: str, tracer):
        """Run one open-loop stream over ``corpus``; returns the finished
        query, the generator and the process-tree window figures."""
        names = inputs.data_files(corpus)  # punctuation file last
        staging, watched = os.path.join(out, "staging"), _fresh(os.path.join(out, "in"))
        stage_copy(corpus, names, staging)
        w = proctree.Window()
        with tracer.span("op.stream") as span:
            q = engine.Query(
                ctx.spark, watched, os.path.join(out, "q"), self.cfg,
                {"processingTime": LIVE_TRIGGER}, tracer, span["id"],
            )
            try:
                offsets = live_schedule(len(names), LIVE_PERIODS, LIVE_TRIGGER_S, LIVE_MARGIN_S)
                t0 = trigger_tick(time.time() + LIVE_LEAD_S, LIVE_TRIGGER_S)
                dropper = Dropper(staging, watched, {n: t0 + dt for n, dt in zip(names, offsets)})
                dropper.start()
                dropper.join(timeout=LIVE_PERIODS * LIVE_TRIGGER_S + LIVE_LEAD_S + DRAIN_TIMEOUT_S)
                if dropper.error is not None or dropper.is_alive():
                    raise RuntimeError(f"file generator failed: {dropper.error}")
                self._await_final_flush(q, names[-1])
            finally:
                q.finish(stop=True)
        return q, dropper, w.stop()

    def op(self, ctx: Ctx, i: int, tracer) -> Op:
        corpus = ctx.inputs["corpus"]
        q, dropper, r = self._stream(ctx, corpus, _fresh(os.path.join(ctx.run_dir, f"op{i}")), tracer)
        data = inputs.data_files(corpus)[:-1]
        committed = {m["epoch"]: m["committed_at"] for m in q.sink.manifests()}
        lags = epochs.file_lags(epochs.files_by_epoch(q.checkpoint), committed, {n: dropper.due[n] for n in data})
        return Op(
            latencies=list(lags.values()),
            rows=inputs.count_rows(corpus),
            attempted=len(data),
            failed=len(data) - len(lags),
            **r,
            detail={
                "qdir": q.out_dir,
                "suffix": "",
                "dropped_at": dropper.due,
                "late_max_s": dropper.late_max_s,
                "query": q,
            },
        )

    @staticmethod
    def _await_final_flush(q, last_file: str) -> None:
        """Wait until the epoch that read the punctuation file AND the
        no-data batch after it (which fires the final timeouts) have
        both committed."""
        deadline = time.monotonic() + DRAIN_TIMEOUT_S
        while time.monotonic() < deadline:
            if q.query.exception() is not None:
                return
            ep = epochs.files_by_epoch(q.checkpoint)
            at = [k for k, (_, files) in enumerate(ep) if last_file in files]
            if at and len(ep) > at[0] + 1:
                return
            time.sleep(0.05)
        raise RuntimeError("live stream did not commit its final flush in time")


# -- contract queries (the traced run's pass) ----------------------------


def run_queries(spark, tables_dir: str, tracer, parent=None) -> dict[str, dict]:
    """One pass over the contract queries, each built and executed into
    the noop sink with every registered cache released first, so it
    pays for its work instead of reading a cache a previous execution
    left behind. {name: {wall_s, cpu_s, steal_pct, ok}}."""
    from dataflow_mm_lrt_spark import cache
    from dataflow_mm_lrt_spark.contract import EXTRA_QUERIES, QUERIES

    fns = {**QUERIES, **EXTRA_QUERIES}
    out = {}
    for name in CONTRACT_QUERIES:
        cache.release_all()
        w = proctree.Window()
        try:
            with tracer.span(f"q.{name}", parent=parent):
                fns[name](spark, tables_dir).write.format("noop").mode("overwrite").save()
            ok = True
        except Exception as exc:  # a failing query is counted, the pass goes on
            print(f"# query {name} failed: {type(exc).__name__}: {exc}"[:400], flush=True)
            ok = False
        out[name] = {**w.stop(), "ok": ok}
    cache.release_all()
    return out


def make(name: str, seconds: float):
    return {"backlog_neardup": Backlog, "live_sorted": Live}[name](seconds)


# -- the traced layer ladder -------------------------------------------------


def _drain_noop(spark, df, ckpt: str) -> None:
    q = (
        df.writeStream.format("noop")
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def ladder(ctx: Ctx, corpus: str, cfg, tracer) -> dict:
    """Drain cumulative pipeline prefixes availableNow and difference
    their process-tree CPU: source; + S1 strip; + S2 rules; + S3 role
    filter and fingerprint (``clean_stages``); + SimHash when the
    workload's config enables it; + exact assembly; + assembly as the
    workload configures it; + ManifestSink. Without a near-dup
    threshold the SimHash and configured-assembly prefixes are the same
    plans as the ones before them, so they are not drained again and
    their differences are 0."""
    from pyspark.sql import functions as F

    from dataflow_mm_lrt_spark.functions.normalize import strip_multimodal_tokens_sql
    from dataflow_mm_lrt_spark.functions.text_rules import keep_sql
    from dataflow_mm_lrt_spark.operators.dedup import with_simhash
    from dataflow_mm_lrt_spark.streaming.run import build_pipeline, clean_stages
    from dataflow_mm_lrt_spark.streaming.source import TRANSCRIPT_SCHEMA, transcript_stream
    from dataflow_mm_lrt_spark.streaming.stateful import ordered_assembly

    spark = ctx.spark

    def s1(df):
        return df.withColumn("text", F.expr(strip_multimodal_tokens_sql("spark", "text")))

    def s2(df):
        return s1(df).filter(F.expr(keep_sql("spark", "text")))

    def s3(df):
        return clean_stages(df, cfg)

    def simhash(df):
        return with_simhash(s3(df))

    def asm_exact(df):
        return ordered_assembly(
            s3(df),
            watermark_delay=cfg.watermark_delay,
            order_slack_ms=cfg.order_slack_ms,
            state_ttl_ms=cfg.state_ttl_ms,
        )

    def asm(df):
        return build_pipeline(df, cfg)

    neardup = cfg.neardup_threshold is not None
    steps = [
        ("scan", lambda df: df),
        ("s1", s1),
        ("s2", s2),
        ("s3", s3),
        *([("simhash", simhash)] if neardup else []),
        ("asm_exact", asm_exact),
        *([("asm", asm)] if neardup else []),
    ]
    base = _fresh(os.path.join(ctx.run_dir, "ladder"))
    watched, _ = place_backlog(corpus, base)
    cpu = {}
    with tracer.span("ladder") as lad:
        for name, build in steps:
            w = proctree.Window()
            with tracer.span(f"ladder.{name}"):
                _drain_noop(spark, build(transcript_stream(spark, watched, None)), os.path.join(base, name))
            cpu[name] = w.stop()["cpu_s"]
        cpu.setdefault("simhash", cpu["s3"])
        cpu.setdefault("asm", cpu["asm_exact"])
        w = proctree.Window()
        with tracer.span("ladder.sink") as span:
            engine.Query(spark, watched, os.path.join(base, "sink"), cfg, {"availableNow": True}, tracer, span["id"]).finish(
                stop=False
            )
        cpu["sink"] = w.stop()["cpu_s"]
        # row counts at the stage boundaries, from batch reads of the corpus
        turns = spark.read.schema(TRANSCRIPT_SCHEMA).parquet(watched)
        n_in, n_s2, n_s3 = turns.count(), s2(turns).count(), s3(turns).count()
    return {"cpu": cpu, "rows": {"in": n_in, "s2": n_s2, "s3": n_s3}}


def ladder_layers(lad: dict) -> dict:
    c = lad["cpu"]
    rows = lad["rows"]
    return {
        "source.scan_cpu_s": c["scan"],
        "s1_strip.cpu_s": c["s1"] - c["scan"],
        "s2_rules.cpu_s": c["s2"] - c["s1"],
        "s2_rules.keep_ratio": rows["s2"] / max(rows["in"], 1),
        "s3_role_fp.cpu_s": c["s3"] - c["s2"],
        "simhash.cpu_s": c["simhash"] - c["s3"],
        "assembly.cpu_s": c["asm_exact"] - c["s3"],
        "neardup_gate.cpu_s": (c["asm"] - c["simhash"]) - (c["asm_exact"] - c["s3"]),
        "sink.cpu_s": c["sink"] - c["asm"],
    }
