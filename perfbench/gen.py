"""Seeded input generators for the benchmark.

Two kinds of input, both a pure function of ``(seed, size)``:

* ``write_tables`` — the ten fixture tables the engine's queries read
  (``region nation customer supplier part orders lineitem events
  documents embeddings``), one parquet file each, with the column
  names and types of the engine's fixture contract
  (``i3cols_spark/sources/tables.py::FIXTURE_SCHEMAS``).
* ``write_npy_runs`` — an i3cols-layout dataset: K run directories,
  each with one subdirectory per key holding ``data.npy`` (and
  ``index.npy`` of ``(start, stop)`` pairs for the ragged ``pulses``
  key), the on-disk format ``sources/npy_cols.py`` reads.

Where the tables' values come from.  Every row count, value range,
distinct count, text length and duplicate rate below was measured,
column by column, on the fixture tables the engine is tested against
(TESTDATA.md: sf0.001, sf0.01 and sf0.1, seed 42).  With seed 42 at
sf0.01 this generator reproduces their row counts and, in the five
TPC-H-style tables, the min, median, max and distinct count of every
numeric column.  Where FIXTURES.md disagrees with those files, the
files win: every timestamp column in them is ``timestamp[us]``
(FIXTURES.md says ns for ``events.ts`` and ms for the two dates),
texts are 10–100 words, 48–553 chars with a median near 300 (not
~80), and ``n_chars`` equals ``len(text)`` in every row.
The npy run set has no such reference (the i3cols reference data is
not in the repository); its shapes are chosen, as ``write_npy_runs``
says.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
#: fixtures: 44% en, the other four about 14% each
_LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]
#: the fixtures' 30-word vocabulary (plus the "dup" marker below)
_VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
#: fixtures: 64-dim unit vectors, 10 labels
_EMBED_DIM = 64
_EMBED_LABELS = 10


def _days(start: dt.date, n_days: int, rng: np.random.Generator, n: int) -> pa.Array:
    """Whole days, uniform over ``n_days`` from ``start``, as
    timestamp[us] (the fixtures' o_orderdate and l_shipdate)."""
    base = np.datetime64(start, "us")
    offs = rng.integers(0, n_days + 1, n).astype("timedelta64[D]").astype("timedelta64[us]")
    return pa.array(base + offs, pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    # fixtures: 10-100 words per text, drawn uniformly from the vocabulary
    lengths = rng.integers(10, 101, n)
    texts = [" ".join(rng.choice(_VOCAB, k)) for k in lengths]
    # fixtures: 5% of texts are another text plus " dup" (25 of 500 at
    # sf0.01, 250 of 5000 at sf0.1), and 0.16% are exact copies (8 of
    # 5000 at sf0.1)
    for i in np.flatnonzero(rng.random(n) < 0.05):
        texts[i] = texts[int(rng.integers(0, n))] + " dup"
    for i in np.flatnonzero(rng.random(n) < 0.0016):
        texts[i] = texts[int(rng.integers(0, n))]
    ids = np.arange(n, dtype=np.int64)
    return pa.table({
        "doc_id": ids,
        "text": texts,
        "lang": rng.choice(_LANGS, n),
        "source": [f"src{i % 20}" for i in ids],
        # fixtures: n_chars == len(text) in every row
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def _embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    # fixtures: isotropic unit vectors (coordinate std 1/8 = 1/sqrt(64))
    # and a uniform label independent of the vector: each label's
    # centroid has the norm of a random mean, 1/sqrt(n/10)
    vecs = rng.normal(0.0, 1.0, (n, _EMBED_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    labels = rng.integers(0, _EMBED_LABELS, n).astype(np.int32)
    flat = pa.array(vecs.reshape(-1), pa.float32())
    offsets = pa.array(np.arange(0, (n + 1) * _EMBED_DIM, _EMBED_DIM, dtype=np.int32))
    return pa.table({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.ListArray.from_arrays(offsets, flat),
        "label": labels,
    })


def _events(rng: np.random.Generator, n: int, n_users: int, days: int) -> pa.Table:
    # fixtures: sorted timestamp[us] over 30 days from 2024-01-01, five
    # event types about equally often, value exponential with mean 50
    # (median 34.7) in cents, props {"k": 0..99}
    span_us = days * 86_400 * 1_000_000
    offs = np.sort(rng.integers(0, span_us, n))
    ts = np.datetime64("2024-01-01", "us") + offs.astype("timedelta64[us]")
    return pa.table({
        "event_id": np.arange(n, dtype=np.int64),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": rng.integers(0, n_users, n).astype(np.int64),
        "event_type": rng.choice(_EVENT_TYPES, n),
        "value": np.round(rng.exponential(50.0, n), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
    })


def table_sizes(sf: float, min_text_rows: int = 500) -> dict[str, int]:
    """Row count per table at scale factor ``sf``, as in the fixtures at
    sf0.001, sf0.01 and sf0.1.  ``min_text_rows`` is the floor of
    documents and embeddings (500 in the fixtures)."""
    return {
        "region": 5,
        "nation": 25,
        "customer": max(15, int(150_000 * sf)),
        "supplier": max(5, int(10_000 * sf)),
        "part": max(20, int(200_000 * sf)),
        "orders": max(150, int(1_500_000 * sf)),
        "lineitem": max(600, int(6_000_000 * sf)),
        "events": max(100, int(1_000_000 * sf)),
        "documents": max(min_text_rows, int(50_000 * sf)),
        "embeddings": max(min_text_rows, int(20_000 * sf)),
    }


def write_tables(out_dir: str, sf: float, seed: int, event_days: int = 30,
                 min_text_rows: int = 500) -> int:
    """Write the ten fixture tables for ``(sf, seed)`` under ``out_dir``;
    return the total parquet bytes written.  ``event_days`` is the time
    span of the events table (hourly rollups write one partition per
    hour of it)."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    n = table_sizes(sf, min_text_rows)
    nc, ns, npart, no, nl = n["customer"], n["supplier"], n["part"], n["orders"], n["lineitem"]
    tables = {
        "region": pa.table({
            "r_regionkey": np.arange(5, dtype=np.int32),
            "r_name": _REGIONS,
        }),
        "nation": pa.table({
            "n_nationkey": np.arange(25, dtype=np.int32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": (np.arange(25) % 5).astype(np.int32),
        }),
        "customer": pa.table({
            "c_custkey": np.arange(nc, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(nc)],
            "c_nationkey": rng.integers(0, 25, nc).astype(np.int32),
            "c_acctbal": _money(rng, -999.99, 9999.99, nc),
            "c_mktsegment": rng.choice(_SEGMENTS, nc),
        }),
        "supplier": pa.table({
            "s_suppkey": np.arange(ns, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
            "s_nationkey": rng.integers(0, 25, ns).astype(np.int32),
            "s_acctbal": _money(rng, -999.99, 9999.99, ns),
        }),
        "part": pa.table({
            "p_partkey": np.arange(npart, dtype=np.int64),
            "p_name": [f"{a} {b}" for a, b in zip(rng.choice(_ADJ, npart), rng.choice(_NOUN, npart))],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, npart)],
            "p_type": rng.choice(_PTYPES, npart),
            "p_size": rng.integers(1, 51, npart).astype(np.int32),
            "p_retailprice": np.round(900.0 + (np.arange(npart) % 1000) / 10.0, 1),
        }),
        "orders": pa.table({
            "o_orderkey": np.arange(no, dtype=np.int64),
            "o_custkey": rng.integers(0, nc, no).astype(np.int64),
            "o_orderstatus": rng.choice(["F", "O", "P"], no),
            "o_totalprice": _money(rng, 1000.0, 500_000.0, no),
            "o_orderdate": _days(dt.date(1995, 1, 1), 2403, rng, no),
            "o_orderpriority": rng.choice(_PRIORITIES, no),
        }),
        "lineitem": pa.table({
            "l_orderkey": rng.integers(0, no, nl).astype(np.int64),
            "l_partkey": rng.integers(0, npart, nl).astype(np.int64),
            "l_suppkey": rng.integers(0, ns, nl).astype(np.int64),
            "l_linenumber": rng.integers(1, 8, nl).astype(np.int32),
            "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105_000.0, nl),
            "l_discount": rng.integers(0, 11, nl) / 100.0,
            "l_tax": rng.integers(0, 9, nl) / 100.0,
            "l_returnflag": rng.choice(["A", "N", "R"], nl),
            "l_linestatus": rng.choice(["F", "O"], nl),
            "l_shipdate": _days(dt.date(1995, 1, 2), 2498, rng, nl),
        }),
        # fixtures: 15 000 x sf users
        "events": _events(rng, n["events"], max(15, int(15_000 * sf)), event_days),
        "documents": _documents(rng, n["documents"]),
        "embeddings": _embeddings(rng, n["embeddings"]),
    }
    total = 0
    for name, tbl in tables.items():
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(tbl, path)
        total += os.path.getsize(path)
    return total


def write_npy_runs(out_dir: str, n_runs: int, events_per_run: int, seed: int) -> dict:
    """Write ``n_runs`` i3cols-layout run directories under ``out_dir``.

    Each run ``Run<id>`` holds scalar header keys (``start_time``,
    ``energy``, ``n_hits``; the reader numbers events itself as
    ``event_id``) and a ragged ``pulses``
    key: a structured ``data.npy`` of (time, charge, flags) plus an
    ``index.npy`` of (start, stop) pairs, with a varying number of
    pulses per event (0 included).  Returns ``{"runs": {run_id: path},
    "arrays": {run_id: {key: ndarray}}, "npy_bytes": int}`` so the
    caller can check exports against the generated values.
    """
    rng = np.random.default_rng(seed)
    pulse_t = np.dtype([("time", "<f4"), ("charge", "<f4"), ("flags", "<i2")])
    index_t = np.dtype([("start", "<u8"), ("stop", "<u8")])
    runs, arrays, total = {}, {}, 0
    for r in range(n_runs):
        run_id = 100_000 + 17 * r + int(rng.integers(0, 17))
        n = events_per_run
        n_pulses = rng.integers(0, 40, n)
        stops = np.cumsum(n_pulses).astype(np.uint64)
        index = np.empty(n, dtype=index_t)
        index["start"], index["stop"] = stops - n_pulses.astype(np.uint64), stops
        pulses = np.empty(int(stops[-1]) if n else 0, dtype=pulse_t)
        pulses["time"] = rng.uniform(0.0, 10_000.0, len(pulses)).astype(np.float32)
        pulses["charge"] = rng.exponential(1.0, len(pulses)).astype(np.float32)
        pulses["flags"] = rng.integers(0, 8, len(pulses)).astype(np.int16)
        keys = {
            "start_time": np.sort(rng.integers(0, 10**12, n)).astype(np.int64),
            "energy": rng.lognormal(2.0, 1.0, n),
            "n_hits": n_pulses.astype(np.int32),
        }
        run_dir = os.path.join(out_dir, f"Run{run_id:08d}")
        for key, arr in keys.items():
            os.makedirs(os.path.join(run_dir, key), exist_ok=True)
            np.save(os.path.join(run_dir, key, "data.npy"), arr)
        os.makedirs(os.path.join(run_dir, "pulses"), exist_ok=True)
        np.save(os.path.join(run_dir, "pulses", "data.npy"), pulses)
        np.save(os.path.join(run_dir, "pulses", "index.npy"), index)
        runs[run_id] = run_dir
        arrays[run_id] = {**keys, "pulses": (pulses, index)}
        total += sum(
            os.path.getsize(os.path.join(dp, f))
            for dp, _, fs in os.walk(run_dir) for f in fs
        )
    return {"runs": runs, "arrays": arrays, "npy_bytes": total}
