"""Seeded benchmark inputs, generated once per seed and cached.

Everything the engine reads comes from here: the same seed always gives
the same files. Caches live under ``<work>/inputs/seed-<n>/``; a cache
entry is built in a scratch directory and renamed into place, so an
interrupted run never leaves a half-written entry behind.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

#: event time of the punctuation row that drains the assembly state
PUNCTUATION_TS = np.datetime64("2026-01-01T00:00:00")
BASE_TS = np.datetime64("2024-01-01T00:00:00", "us")


def _cached(path: str, build) -> str:
    if os.path.isdir(path):
        return path
    tmp = f"{path}.tmp-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    build(tmp)
    os.rename(tmp, path)
    return path


def transcript_files(work: str, seed: int, sf: float, n_files: int, arrival: str) -> str:
    """Directory of ``n_files`` transcript parquet files plus the
    punctuation file, from ``datagen.write_dataset(seed=seed)``."""
    from dataflow_mm_lrt_spark import datagen

    def build(tmp: str) -> None:
        datagen.write_dataset(tmp, sf=sf, seed=seed, n_files=n_files, arrival=arrival)
        shutil.rmtree(os.path.join(tmp, "tool_events"))
        datagen.append_punctuation_file(os.path.join(tmp, "transcripts"), PUNCTUATION_TS)

    key = f"transcripts-{arrival}-sf{sf}-f{n_files}"
    return os.path.join(_cached(os.path.join(work, "inputs", f"seed-{seed}", key), build), "transcripts")


def fixed_size_corpus(
    work: str,
    seed: int,
    sf: float,
    arrival: str,
    skip: int,
    n_turns: int,
    n_files: int,
    max_span_s: float = float("inf"),
) -> str:
    """Turns ``skip .. skip + n_turns`` in arrival order (the order the
    file source reads them; event-time order when ``arrival`` is
    ``sorted``) of the ``datagen.write_dataset(seed=seed)`` corpus, cut
    into ``n_files`` equal files plus the punctuation file. The fixed
    size keeps per-drain and per-batch costs comparable across seeds:
    the whole corpus size varies by ~15 % with the seed's few hot
    conversations. Raises if the turns span ``max_span_s`` of event time
    or more."""
    from dataflow_mm_lrt_spark import datagen

    def build(tmp: str) -> None:
        full = transcript_files(work, seed, sf, 8, arrival)
        names = [n for n in data_files(full) if "punctuation" not in n]
        t = pa.concat_tables([pq.read_table(os.path.join(full, n)) for n in names])
        if t.num_rows < skip + n_turns:
            raise ValueError(f"corpus has {t.num_rows} turns, fewer than {skip + n_turns}")
        t = t.slice(skip, n_turns)
        ts = t.column("ts")
        span = (pc.max(ts).value - pc.min(ts).value) / 1e6
        if span >= max_span_s:
            raise ValueError(f"{n_turns} turns span {span:.0f} s of event time (limit {max_span_s:.0f} s)")
        per = n_turns // n_files
        for i in range(n_files):
            fp = os.path.join(tmp, f"part-{i:05d}.parquet")
            pq.write_table(t.slice(i * per, per), fp)
            os.utime(fp, (1_700_000_000 + i, 1_700_000_000 + i))
        datagen.append_punctuation_file(tmp, PUNCTUATION_TS)

    key = f"fixed-{arrival}-sf{sf}-s{skip}-t{n_turns}-f{n_files}"
    return _cached(os.path.join(work, "inputs", f"seed-{seed}", key), build)


def relabelled(corpus: str, k: int) -> str:
    """The corpus with every ``conv_id`` suffixed ``~k`` (same rows,
    file names and modification times otherwise). Drain ``k`` of a run
    reads variant ``k``: the hash partitioning then places the few hot
    conversations differently on each drain, so a run's median averages
    over placement luck instead of inheriting one draw per seed."""
    if k == 0:
        return corpus

    def build(tmp: str) -> None:
        for n in data_files(corpus):
            src = os.path.join(corpus, n)
            t = pq.read_table(src)
            ids = pc.binary_join_element_wise(t["conv_id"], pa.scalar(f"~{k}"), "")
            pq.write_table(t.set_column(t.schema.get_field_index("conv_id"), "conv_id", ids), os.path.join(tmp, n))
            st = os.stat(src)
            os.utime(os.path.join(tmp, n), (st.st_atime, st.st_mtime))

    return _cached(f"{corpus}-relabel{k}", build)


def data_files(corpus: str) -> list[str]:
    """The corpus files in the order the file source reads them (file
    modification time), punctuation last."""
    names = [n for n in os.listdir(corpus) if n.endswith(".parquet")]
    return sorted(names, key=lambda n: (os.stat(os.path.join(corpus, n)).st_mtime, n))


def count_rows(corpus: str) -> int:
    return sum(pq.ParquetFile(os.path.join(corpus, n)).metadata.num_rows for n in data_files(corpus))


# -- contract tables ------------------------------------------------------

_LANGS = np.array(["en", "zh", "es", "de", "fr"])
_EVENT_TYPES = np.array(["view", "click", "signup", "purchase", "error"])


def _documents(rng: np.random.Generator, seed: int, n: int) -> pd.DataFrame:
    """Documents whose text is drawn from the seeded transcript corpus
    (clean and dirty turns, so every rule branch is hit), with exact
    and one-word-edited copies so the dedup queries find pairs."""
    from dataflow_mm_lrt_spark import datagen

    turns = datagen.generate_transcripts(datagen.GenSpec(n_convs=40), seed)["text"].to_numpy()
    parts = rng.integers(1, 4, size=n)
    texts = [" ".join(rng.choice(turns, size=k)) for k in parts]
    for i in range(1, n):
        r = rng.random()
        if r < 0.08:
            texts[i] = texts[int(rng.integers(0, i))]
        elif r < 0.16:
            words = texts[int(rng.integers(0, i))].split(" ")
            words[int(rng.integers(0, len(words)))] = "edited"
            texts[i] = " ".join(words)
    return pd.DataFrame(
        {
            "doc_id": np.arange(n, dtype=np.int64),
            "text": texts,
            "lang": rng.choice(_LANGS, size=n),
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )


def _events(rng: np.random.Generator, n: int) -> pd.DataFrame:
    span_us = 30 * 86_400 * 1_000_000
    ts = BASE_TS + np.sort(rng.integers(0, span_us, size=n)).astype("timedelta64[us]")
    return pd.DataFrame(
        {
            "event_id": np.arange(n, dtype=np.int64),
            "ts": ts,
            "user_id": rng.integers(0, 150, size=n).astype(np.int64),
            "event_type": rng.choice(_EVENT_TYPES, size=n),
            "value": np.round(rng.exponential(50.0, size=n) + 0.01, 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, size=n)],
        }
    )


def _embeddings(rng: np.random.Generator, n: int, dim: int = 64) -> pd.DataFrame:
    centers = rng.normal(size=(10, dim))
    label = rng.integers(0, 10, size=n)
    vecs = centers[label] + 0.8 * rng.normal(size=(n, dim))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    return pd.DataFrame(
        {
            "vec_id": np.arange(n, dtype=np.int64),
            "embedding": list(vecs.astype(np.float32)),
            "label": label.astype(np.int32),
        }
    )


def contract_tables(work: str, seed: int, n_docs: int, n_events: int, n_emb: int) -> str:
    """``documents``/``events``/``embeddings`` parquet tables in the
    testdata layout (``<dir>/<table>.parquet``), seeded. Document ids
    stay below 500, the range the media goldens cover."""
    if n_docs > 500:
        raise ValueError("media goldens cover doc_id < 500 only")

    def build(tmp: str) -> None:
        rng = np.random.default_rng(seed)
        tables = {
            "documents": _documents(rng, seed, n_docs),
            "events": _events(rng, n_events),
            "embeddings": _embeddings(rng, n_emb),
        }
        for name, df in tables.items():
            pq.write_table(pa.Table.from_pandas(df, preserve_index=False), os.path.join(tmp, f"{name}.parquet"))

    key = f"tables-d{n_docs}-e{n_events}-v{n_emb}"
    return _cached(os.path.join(work, "inputs", f"seed-{seed}", key), build)
