"""ops_battery: one noop-sink drain of each training-data operator query
from ``spatula_spark.entry_queries.QUERIES`` over generated tables.

No crawl-engine code runs here, so every engine change predicts "no
change" on this workload. Inputs are fixed; the seed only shuffles the
order the queries run in. Each query's output digest (row count plus a
hash aggregate, both computed in Spark) must equal the one recorded in
``digests.json``.
"""

from __future__ import annotations

import json
import os
import random
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F
from pyspark.sql import types as T

from spatula_spark import entry_queries

# The operator modules' queries whose cold plus warm drains fit the run
# length (README.md lists those left out).
QUERIES = (
    "dedup_minhash_lsh",       # functions/dedup.py
    "ngram_containment",       # functions/dedup.py
    "doc_repetition_filters",  # functions/text.py
    "embedding_near_dups",     # functions/similarity.py
    "stream_window_counts",    # streaming/windows.py
    "fetch_schedule",          # operators/schedule.py
)

DATA_SEED = 20261017
SIZES = {"documents": 600, "embeddings": 600, "events": 12_000,
         "orders": 15_000}
TABLES = tuple(SIZES)
DIGESTS = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                       "digests.json")

_WORDS = (
    "a the join hash row batch scan column customer filter small slow "
    "merge order vector line table data agg value key stream window "
    "spark part group big sort query fast"
).split()


# ------------------------------------------------------------- inputs


def generate(out_dir: str) -> None:
    """Write the four input tables as single parquet files (the layout
    the queries read: ``<dir>/<table>.parquet``)."""
    rng = np.random.default_rng(DATA_SEED)
    os.makedirs(out_dir, exist_ok=True)
    for name, table in (
        ("documents", _documents(rng)),
        ("embeddings", _embeddings(rng)),
        ("events", _events(rng)),
        ("orders", _orders(rng)),
    ):
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


def _documents(rng) -> pa.Table:
    n = SIZES["documents"]
    words = np.array(_WORDS)
    texts = []
    for i in range(n):
        if i % 10 == 9:  # planted near-duplicate of an earlier document
            src = texts[int(rng.integers(0, i))].split()
            src[int(rng.integers(0, len(src)))] = "dup"
            texts.append(" ".join(src))
        else:
            k = int(rng.integers(10, 100))
            texts.append(" ".join(words[rng.integers(0, len(words), k)]))
    langs = np.array(["en", "en", "en", "zh", "es", "fr", "de"])
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": texts,
        "lang": langs[rng.integers(0, len(langs), n)].tolist(),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings(rng) -> pa.Table:
    n, dim, k = SIZES["embeddings"], 64, 10
    centers = rng.normal(size=(k, dim))
    label = rng.integers(0, k, n)
    v = centers[label] + 0.8 * rng.normal(size=(n, dim))
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(v.astype(np.float32)),
                              pa.list_(pa.float32())),
        "label": pa.array(label.astype(np.int32)),
    })


def _events(rng) -> pa.Table:
    n = SIZES["events"]
    t0 = np.datetime64("2024-01-01T00:00:00", "us")
    us = np.sort(rng.integers(0, 30 * 86_400 * 10**6, n))
    types = np.array(["view", "click", "purchase", "signup", "error"])
    return pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(t0 + us.astype("timedelta64[us]")),
        "user_id": pa.array(rng.integers(0, 150, n).astype(np.int64)),
        "event_type": types[rng.integers(0, len(types), n)].tolist(),
        "value": pa.array(np.round(rng.uniform(0, 200, n), 2)),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
    })


def _orders(rng) -> pa.Table:
    n = SIZES["orders"]
    d0 = np.datetime64("1995-01-01", "D")
    days = rng.integers(0, 2400, n).astype("timedelta64[D]")
    prio = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                     "5-LOW"])
    return pa.table({
        "o_orderkey": pa.array(np.arange(n, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, 1500, n).astype(np.int64)),
        "o_orderstatus": np.array(["O", "F", "P"])[
            rng.integers(0, 3, n)].tolist(),
        "o_totalprice": pa.array(np.round(rng.uniform(900, 500_000, n), 2)),
        "o_orderdate": pa.array((d0 + days).astype("datetime64[us]")),
        "o_orderpriority": prio[rng.integers(0, len(prio), n)].tolist(),
    })


# ------------------------------------------------------------- digests


def _norm(c, dt):
    """Column normalised so the digest ignores float summation order."""
    if isinstance(dt, (T.DoubleType, T.FloatType, T.DecimalType)):
        return F.round(c.cast("double"), 6)
    if isinstance(dt, T.ArrayType) and isinstance(
            dt.elementType, (T.DoubleType, T.FloatType)):
        return F.transform(c, lambda x: F.round(x.cast("double"), 6))
    if isinstance(dt, (T.ArrayType, T.MapType, T.StructType)):
        return F.to_json(c)
    return c


def digest(df) -> dict:
    """Order-insensitive digest: row count and the sum of per-row
    xxhash64 over every column, aggregated in Spark (one row back)."""
    fields = sorted(df.schema.fields, key=lambda f: f.name)
    h = F.xxhash64(*[_norm(F.col(f"`{f.name}`"), f.dataType) for f in fields])
    row = df.select(
        F.count(F.lit(1)).alias("n"),
        F.coalesce(F.sum(h.cast("decimal(38,0)")), F.lit(0)).alias("h"),
    ).collect()[0]
    return {"rows": int(row["n"]), "hash": str(row["h"]),
            "columns": [f.name for f in fields]}


# ------------------------------------------------------------ workload


class OpsBattery:
    name = "ops_battery"
    setup_reps = 3  # each build takes about a second

    def __init__(self, spark, tmp: str, seed: int, tracer, trace: bool):
        self.spark, self.tmp, self.tracer = spark, tmp, tracer
        self.order = list(QUERIES)
        random.Random(seed).shuffle(self.order)
        self.tables: list = []
        self._n = 0

    def build_inputs(self) -> None:
        """Write the tables, then read each one as the queries do and
        hold it in Spark's cache: a later read of the same path is
        answered from the cache, so the queries' scans start from
        memory and the parquet read is set-up work."""
        self._unpersist()
        # a fresh directory per build: Spark caches file listings
        self._n += 1
        self.data = os.path.join(self.tmp, f"tables-{self._n}")
        generate(self.data)
        for t in TABLES:
            df = self.spark.read.parquet(
                os.path.join(self.data, f"{t}.parquet")).persist()
            df.count()
            self.tables.append(df)

    def _unpersist(self) -> None:
        for df in self.tables:
            df.unpersist()
        self.tables = []

    def setup(self) -> None:
        self.build_inputs()

    def warm(self) -> dict:
        """Untimed pass; computes every query's digest and checks it."""
        self.build_inputs()
        got = {}
        for q in self.order:
            with self.tracer.span(f"op.{q}.digest"):
                got[q] = digest(entry_queries.QUERIES[q](self.spark, self.data))
        with open(DIGESTS) as f:
            want = json.load(f)["digests"]
        errors = [f"{q}: digest {got[q]} != recorded {want.get(q)}"
                  for q in self.order if got[q] != want.get(q)]
        # the digest plans differ from the drains; JIT-compile those too
        self.run_pass()
        return {"errors": errors, "ops": len(self.order)}

    def run_pass(self) -> dict:
        times = {}
        for q in self.order:
            with self.tracer.span(f"op.{q}"):
                t0 = time.perf_counter()
                entry_queries.QUERIES[q](self.spark, self.data).write.format(
                    "noop").mode("overwrite").save()
                times[q] = time.perf_counter() - t0
        return {"op_s": times, "ops": len(times)}

    def check(self, r: dict) -> list[str]:
        return []  # outputs are checked by digest in the warm pass

    def close(self) -> None:
        self._unpersist()
