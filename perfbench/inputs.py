"""Seeded benchmark inputs, generated once and cached on disk by (seed, size).

The engine only ever sees the generated files:

- ``transcripts``: ``sources.datagen.gen_transcripts`` (Zipf skew 2.0,
  turns/400 conversations), written as parquet;
- the sf test tables of TESTDATA.md (``events``, ``orders``, ``documents``,
  ``embeddings``): numpy-generated twins with the same schema and value
  distributions, one single-row-group parquet file each, like the originals.
"""

from __future__ import annotations

import os
import shutil
import time

import numpy as np

from perfbench import WORK

INPUTS = os.path.join(WORK, "inputs")

_EVENT_TYPES = np.array(["click", "view", "purchase", "signup", "error"])
_WORDS = np.array(
    (
        "a agg batch big column customer data dup fast filter group hash join key "
        "line merge order part query row scan slow small sort spark stream table "
        "the value vector window"
    ).split()
)
_LANGS = np.array(["en", "en", "en", "en", "de", "es", "fr", "zh"])
_PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])


# generation time is kept beside the data, so a cache hit still reports it
# (files starting with "_" are invisible to Spark's parquet reader)
_GEN_FILE = "_generation_seconds"


def _publish(tmp: str, final: str, elapsed: float) -> None:
    with open(os.path.join(tmp, _GEN_FILE), "w") as f:
        f.write(repr(elapsed))
    if os.path.exists(final):
        shutil.rmtree(tmp)
    else:
        os.rename(tmp, final)


def _gen_seconds(path: str) -> float:
    with open(os.path.join(path, _GEN_FILE)) as f:
        return float(f.read())


def transcripts(spark, seed: int, n_turns: int) -> tuple[str, float]:
    """Path of the cached transcripts table for (seed, n_turns), and the
    seconds spent generating it (0.0 on a cache hit)."""
    from kgfarm_spark.sources.datagen import gen_transcripts

    path = os.path.join(INPUTS, f"transcripts-seed{seed}-n{n_turns}")
    if os.path.exists(os.path.join(path, "_SUCCESS")):
        return path, _gen_seconds(path)
    os.makedirs(INPUTS, exist_ok=True)
    tmp = f"{path}.tmp{os.getpid()}"
    t0 = time.monotonic()
    gen_transcripts(
        spark, n_turns=n_turns, n_convs=n_turns // 400, seed=seed, skew=2.0
    ).write.mode("overwrite").parquet(tmp)
    elapsed = time.monotonic() - t0
    _publish(tmp, path, elapsed)
    return path, elapsed


def driver_tables(seed: int, n_events: int) -> tuple[str, float]:
    """Directory of cached driver-shaped tables for (seed, n_events), laid
    out like the sf test directories (``<dir>/<table>.parquet``)."""
    path = os.path.join(INPUTS, f"driver-seed{seed}-n{n_events}")
    if os.path.exists(os.path.join(path, "_SUCCESS")):
        return path, _gen_seconds(path)
    os.makedirs(INPUTS, exist_ok=True)
    tmp = f"{path}.tmp{os.getpid()}"
    os.makedirs(tmp)
    t0 = time.monotonic()
    _write_driver_tables(tmp, np.random.default_rng(seed), n_events)
    open(os.path.join(tmp, "_SUCCESS"), "w").close()
    elapsed = time.monotonic() - t0
    _publish(tmp, path, elapsed)
    return path, elapsed


def _write_driver_tables(out: str, rng: np.random.Generator, n_events: int) -> None:
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    def write(name: str, table: pa.Table) -> None:
        pq.write_table(table, os.path.join(out, f"{name}.parquet"), row_group_size=len(table))

    # events: sf0.1 has 100k events over 1500 users and 30 days
    n_users = max(n_events * 3 // 200, 10)
    start = np.datetime64("2024-01-01T00:00:00", "us")
    offsets = np.sort(rng.integers(0, 30 * 86_400 * 10**6, n_events))
    events = pd.DataFrame(
        {
            "event_id": np.arange(n_events, dtype=np.int64),
            "ts": start + offsets.astype("timedelta64[us]"),
            "user_id": rng.integers(0, n_users, n_events),
            "event_type": _EVENT_TYPES[rng.integers(0, len(_EVENT_TYPES), n_events)],
            "value": np.round(rng.exponential(50.0, n_events), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
        }
    )
    write("events", pa.Table.from_pandas(events, preserve_index=False))

    # orders: 1.5 per event, customer keys 10x the event users
    n_orders = n_events * 3 // 2
    days = rng.integers(0, (np.datetime64("2001-08-01") - np.datetime64("1995-01-01")).astype(int), n_orders)
    orders = pd.DataFrame(
        {
            "o_orderkey": np.arange(n_orders, dtype=np.int64),
            "o_custkey": rng.integers(0, n_users * 10, n_orders),
            "o_orderstatus": np.array(["O", "F", "P"])[rng.integers(0, 3, n_orders)],
            "o_totalprice": np.round(rng.uniform(900.0, 500_000.0, n_orders), 2),
            "o_orderdate": (np.datetime64("1995-01-01") + days.astype("timedelta64[D]")).astype(
                "datetime64[us]"
            ),
            "o_orderpriority": _PRIORITIES[rng.integers(0, 5, n_orders)],
        }
    )
    write("orders", pa.Table.from_pandas(orders, preserve_index=False))

    # documents: one per 20 events, 10..100 words from the sf tables' vocabulary
    n_docs = max(n_events // 20, 50)
    lengths = rng.integers(10, 101, n_docs)
    texts = [" ".join(_WORDS[rng.integers(0, len(_WORDS), k)]) for k in lengths]
    docs = pd.DataFrame(
        {
            "doc_id": np.arange(n_docs, dtype=np.int64),
            "text": texts,
            "lang": _LANGS[rng.integers(0, len(_LANGS), n_docs)],
            "source": [f"src{k}" for k in rng.integers(0, 20, n_docs)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )
    write("documents", pa.Table.from_pandas(docs, preserve_index=False))

    # embeddings: one per 50 events, 64-d, ten labelled clusters
    n_vecs = max(n_events // 50, 50)
    labels = rng.integers(0, 10, n_vecs).astype(np.int32)
    centers = rng.normal(0.0, 0.1, (10, 64))
    vecs = (centers[labels] + rng.normal(0.0, 0.1, (n_vecs, 64))).astype(np.float32)
    write(
        "embeddings",
        pa.table(
            {
                "vec_id": pa.array(np.arange(n_vecs, dtype=np.int64)),
                "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
                "label": pa.array(labels),
            }
        ),
    )
