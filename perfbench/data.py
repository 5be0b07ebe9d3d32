"""Seeded input generators for the benchmark.

Everything here is numpy + pyarrow on purpose: the workloads must not
change when the engine's own generator (``sources.synthetic``) changes, and
the same ``--seed`` must always give byte-identical inputs.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

with open(os.path.join(os.path.dirname(__file__), "recipe.json")) as _f:
    RECIPE = json.load(_f)

_TS = pa.timestamp("us")
#: Sensor timestamps are stored as UTC instants, the type the engine's own
#: generator and Spark-written sources produce; the session runs in UTC.
_UTC = pa.timestamp("us", tz="UTC")


def write_sensor_year(out_dir: str, seed: int) -> str:
    """One leap year of 1-minute wide sensor rows (FIXTURES.md section 1
    laws), one file per month and one row group per day."""
    spec = RECIPE["sensor"]
    rng = np.random.default_rng([seed, 1])
    start = np.datetime64(f"{spec['year']}-01-01T00:00", "m")
    end = np.datetime64(f"{spec['year'] + 1}-01-01T00:00", "m")
    n = int((end - start) / np.timedelta64(1, "m"))
    if n != spec["rows"]:
        raise ValueError(f"year has {n} minutes, recipe says {spec['rows']}")
    i = np.arange(n, dtype=np.int64)
    ts = start + i.astype("timedelta64[m]")
    ws = np.clip(rng.normal(12.0, 5.0, n), 0.0, 25.0)
    power = np.where(
        ws < 3.0, 0.0, np.where(ws > 20.0, 2000.0, ws**2 * 8.0 + rng.normal(0.0, 100.0, n))
    )
    power = np.clip(power, 0.0, 2000.0)
    temp = 20.0 + 10.0 * np.sin(2.0 * np.pi * (i % 1440) / 1440.0) + rng.normal(0.0, 3.0, n)
    table = pa.table(
        {
            "id": pa.array(i + 1, pa.int64()),
            "timestamp": pa.array(ts.astype("datetime64[us]"), _UTC),
            "wind_speed": ws,
            "power": power,
            "ambient_temprature": temp,  # sic: the engine's column name
        }
    )
    os.makedirs(out_dir)
    months = ts.astype("datetime64[M]")
    bounds = np.flatnonzero(np.r_[True, months[1:] != months[:-1], True])
    if len(bounds) - 1 != spec["files"]:
        raise ValueError(f"{len(bounds) - 1} month files, recipe says {spec['files']}")
    for lo, hi in zip(bounds[:-1], bounds[1:]):
        pq.write_table(
            table.slice(lo, hi - lo),
            os.path.join(out_dir, f"part-{str(months[lo])}.parquet"),
            row_group_size=spec["row_group_rows"],
        )
    return out_dir


_VOCAB = (
    "join hash row batch scan column customer filter small slow merge order "
    "vector line table data agg value key stream window a spark part group "
    "big sort query fast the"
).split()


def _days(rng, first: str, span: int, n: int) -> pa.Array:
    d = np.datetime64(first, "D") + rng.integers(0, span, n).astype("timedelta64[D]")
    return pa.array(d.astype("datetime64[us]"), _TS)


def _pick(rng, values, n, p=None) -> list[str]:
    return list(np.asarray(values)[rng.choice(len(values), n, p=p)])


def query_tables(seed: int) -> dict[str, pa.Table]:
    """The tables the query mix reads (lineitem, events, documents and
    embeddings) with the column names, types, sizes and value laws of the
    engine's sf0.01 test tables; ``selftest.py --reference`` compares them."""
    n = RECIPE["query_mix"]["tables"]
    rng = np.random.default_rng([seed, 2])
    out: dict[str, pa.Table] = {}
    keys = RECIPE["query_mix"]["lineitem_key_ranges"]
    m = n["lineitem"]
    out["lineitem"] = pa.table(
        {
            "l_orderkey": rng.integers(0, keys["orders"], m),
            "l_partkey": rng.integers(0, keys["part"], m),
            "l_suppkey": rng.integers(0, keys["supplier"], m),
            "l_linenumber": pa.array(rng.integers(1, 8, m), pa.int32()),
            "l_quantity": rng.integers(1, 51, m).astype(np.float64),
            "l_extendedprice": np.round(rng.uniform(900.0, 105000.0, m), 2),
            "l_discount": rng.integers(0, 11, m) / 100.0,
            "l_tax": rng.integers(0, 9, m) / 100.0,
            "l_returnflag": _pick(rng, ["A", "N", "R"], m),
            "l_linestatus": _pick(rng, ["F", "O"], m),
            "l_shipdate": _days(rng, "1995-01-02", 2500, m),
        }
    )
    e = n["events"]
    gaps = np.maximum(rng.exponential(259.0, e), 0.001)
    ts = np.datetime64("2024-01-01T00:00:00", "us") + (np.cumsum(gaps) * 1e6).astype("timedelta64[us]")
    out["events"] = pa.table(
        {
            "event_id": np.arange(e, dtype=np.int64),
            "ts": pa.array(ts, _TS),
            "user_id": rng.integers(0, 150, e),
            "event_type": _pick(rng, ["click", "error", "purchase", "signup", "view"], e),
            "value": np.maximum(np.round(rng.exponential(50.0, e), 2), 0.01),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, e)],
        }
    )
    d = n["documents"]
    texts = [" ".join(_pick(rng, _VOCAB, int(k))) for k in rng.integers(10, 100, d)]
    for j in np.flatnonzero(rng.random(d) < 0.05):
        texts[j] = texts[int(rng.integers(0, d))] + " dup"  # near-duplicate pairs
    out["documents"] = pa.table(
        {
            "doc_id": np.arange(d, dtype=np.int64),
            "text": texts,
            "lang": _pick(rng, ["en", "de", "es", "fr", "zh"], d, p=[0.44, 0.14, 0.14, 0.14, 0.14]),
            "source": [f"src{k % 20}" for k in range(d)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )
    v = n["embeddings"]
    dim = RECIPE["query_mix"]["embedding_dim"]
    labels = rng.integers(0, 10, v)
    centers = rng.normal(0.0, 1.0, (10, dim))
    vecs = rng.normal(0.0, 1.0, (v, dim)) + 0.15 * centers[labels]
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    out["embeddings"] = pa.table(
        {
            "vec_id": np.arange(v, dtype=np.int64),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(labels, pa.int32()),
        }
    )
    for name, table in out.items():
        if table.num_rows != n[name]:
            raise ValueError(f"{name}: {table.num_rows} rows, recipe says {n[name]}")
    return out


def write_query_tables(out_dir: str, seed: int) -> str:
    """One single-row-group parquet file per table, named as the engine's
    ``load_table`` expects (``<dir>/<table>.parquet``)."""
    os.makedirs(out_dir)
    for name, table in query_tables(seed).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return out_dir
