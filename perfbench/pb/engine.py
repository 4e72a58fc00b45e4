"""Session set-up and the streaming compositions the workloads run.

Every call into the engine goes through its public functions:
``session.build_session``, ``streaming.source.transcript_stream``,
``streaming.run.PipelineConfig`` / ``clean_stages`` / ``build_pipeline``,
``streaming.stateful.ordered_assembly``, ``operators.dedup.with_simhash``,
``streaming.sink.ManifestSink`` and ``streaming.metrics``.
"""

from __future__ import annotations

import os
import threading

#: load comes from one process on local[<cores>]; shuffle (and hence
#: state-store) partitions equal the core count. State partitions are
#: fixed when a checkpoint is first written, and every checkpoint here
#: is fresh, so this is the count every stateful query in a run uses.
CORES = len(os.sched_getaffinity(0))
SHUFFLE_PARTITIONS = CORES
DRIVER_MEMORY = "2g"


def prepare_env(repo_root: str, work: str) -> str:
    """Point every temporary path and the Python workers' import path
    at this checkout, before the JVM starts (it inherits the
    environment). Returns the scratch directory."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp  # would override spark.local.dir
    # the JVMs' perf-data files would go to the system /tmp
    opts = os.environ.get("JAVA_TOOL_OPTIONS", "")
    if "-XX:-UsePerfData" not in opts:
        os.environ["JAVA_TOOL_OPTIONS"] = f"{opts} -XX:-UsePerfData".strip()
    path = os.environ.get("PYTHONPATH", "")
    if repo_root not in path.split(os.pathsep):
        os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (repo_root, path) if p)
    os.environ["PYTHONWARNINGS"] = "ignore"
    return tmp


def start_session(repo_root: str, work: str):
    from dataflow_mm_lrt_spark.session import build_session

    tmp = os.path.join(work, "tmp")
    spark = build_session(
        app_name="perfbench",
        master=f"local[{CORES}]",
        shuffle_partitions=SHUFFLE_PARTITIONS,
        extra_conf={
            "spark.driver.memory": DRIVER_MEMORY,
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
            "spark.local.dir": tmp,
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.executorEnv.PYTHONPATH": repo_root,
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    from dataflow_mm_lrt_spark import cache

    cache.release_all()
    spark.stop()


def pipeline_config(watermark: str, neardup: int | None):
    from dataflow_mm_lrt_spark.streaming.run import PipelineConfig

    return PipelineConfig(
        watermark_delay=watermark,
        max_files_per_trigger=None,
        neardup_threshold=neardup,
    )


class Query:
    """The full pipeline (source → S1–S3/fp → [SimHash] → assembly →
    ManifestSink) with the progress recorder, composed from the same
    config fields as ``run_pipeline``, but with the trigger chosen by the
    caller (``run_pipeline`` hard-codes availableNow). Every timed query
    of the benchmark, traced or not, runs through this one composition;
    a traced run only wraps the sink callback to time each commit."""

    def __init__(self, spark, in_dir: str, out_dir: str, cfg, trigger: dict, tracer, parent=None):
        from dataflow_mm_lrt_spark.streaming.metrics import ProgressRecorder
        from dataflow_mm_lrt_spark.streaming.run import build_pipeline
        from dataflow_mm_lrt_spark.streaming.sink import ManifestSink
        from dataflow_mm_lrt_spark.streaming.source import transcript_stream

        self.out_dir = out_dir
        self.checkpoint = os.path.join(out_dir, "checkpoint")
        self.metrics_dir = os.path.join(out_dir, "metrics")
        if not cfg.record_metrics:
            raise ValueError("the benchmark reads the progress trail; record_metrics must stay on")
        self.sink = ManifestSink(os.path.join(out_dir, "sink"), compact_every=cfg.manifest_compact_every)
        self.commit_s: list[float] = []
        self.replays = 0
        self._seen: set[int] = set()
        self._lock = threading.Lock()
        out = build_pipeline(transcript_stream(spark, in_dir, max_files_per_trigger=cfg.max_files_per_trigger), cfg)
        self.recorder = ProgressRecorder.attach(spark, self.metrics_dir)
        write = self.sink.foreach_batch()
        if tracer.run_id is not None:
            write = self._timed(write, tracer, parent)
        self.query = (
            out.writeStream.outputMode("append")
            .foreachBatch(write)
            .option("checkpointLocation", self.checkpoint)
            .trigger(**trigger)
            .start()
        )

    def _timed(self, write, tracer, parent):
        def fn(df, batch_id):
            with self._lock:
                replay = batch_id in self._seen
                self._seen.add(batch_id)
                self.replays += replay
            with tracer.span("sink.commit", parent=parent, epoch=batch_id) as s:
                write(df, batch_id)
            with self._lock:
                self.commit_s.append(s["end"] - s["start"])

        return fn

    def finish(self, stop: bool) -> None:
        try:
            if stop:
                self.query.stop()
            else:
                self.query.awaitTermination()
        finally:
            self.recorder.wait_terminated()
            self.recorder.detach()
        if self.query.exception() is not None:
            raise RuntimeError(f"streaming query failed: {self.query.exception()}")
