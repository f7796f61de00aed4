"""Seeded input generators for the benchmark.

Everything the engine reads in a run is made here from the ``--seed``
argument; nothing is read from outside the checkout.

- ``write_tables`` writes the ten synthetic Parquet tables the registry
  queries read (one file, one row group per table, the layout
  ``catalog.load_table`` expects), with the value domains of the engine's
  fixture schemas (FIXTURES.md section B).
- ``write_landing`` writes NDJSON landing objects for the reference data
  path, with log-normal record counts and the FIXTURES.md section A cases:
  missing ``name``, ragged and nested keys, blank and whitespace lines.

The same seed gives byte-identical files; ``selfcheck.py`` asserts it.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Row counts at scale factor 1.0; region and nation are fixed.
_ROWS = {
    "customer": 150_000,
    "supplier": 10_000,
    "part": 200_000,
    "orders": 1_500_000,
    "lineitem": 6_000_000,
    "events": 1_000_000,
}
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_PART_ADJ = ["red", "hot", "new", "blue", "large", "small", "green", "old"]
_PART_NOUN = ["bolt", "anvil", "ring", "rod", "plate", "gear", "nut", "pipe"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
_LANGS = ["en", "de", "es", "fr", "zh"]
_LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
_EMBED_DIM = 64


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    """Two-decimal amounts, drawn as integer cents so values are exact."""
    return rng.integers(round(lo * 100), round(hi * 100) + 1, n) / 100.0


def _days(rng: np.random.Generator, start: str, end: str, n: int) -> pa.Array:
    lo = np.datetime64(start, "D")
    span = (np.datetime64(end, "D") - lo).astype(int)
    days = lo + rng.integers(0, span + 1, n).astype("timedelta64[D]")
    return pa.array(days.astype("datetime64[us]"), pa.timestamp("us"))


def _write(out_dir: str, name: str, cols: dict[str, pa.Array | np.ndarray | list]) -> None:
    table = pa.table(cols)
    pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"), compression="snappy")


def write_tables(out_dir: str, seed: int, sf: float) -> dict[str, int]:
    """Write the ten tables at scale factor ``sf``; return their row counts."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 1])
    n = {k: max(1, round(v * sf)) for k, v in _ROWS.items()}
    n_docs = 500 if sf <= 0.01 else round(50_000 * sf)
    n_vecs = 500 if sf <= 0.01 else round(20_000 * sf)
    users = max(1, n["customer"] // 10)

    _write(out_dir, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": _REGIONS,
    })
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    c = n["customer"]
    _write(out_dir, "customer", {
        "c_custkey": np.arange(c, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(c)],
        "c_nationkey": rng.integers(0, 25, c).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, c),
        "c_mktsegment": np.array(_SEGMENTS)[rng.integers(0, 5, c)],
    })
    s = n["supplier"]
    _write(out_dir, "supplier", {
        "s_suppkey": np.arange(s, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(s)],
        "s_nationkey": rng.integers(0, 25, s).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, s),
    })
    p = n["part"]
    adj = np.array(_PART_ADJ)[rng.integers(0, len(_PART_ADJ), p)]
    noun = np.array(_PART_NOUN)[rng.integers(0, len(_PART_NOUN), p)]
    _write(out_dir, "part", {
        "p_partkey": np.arange(p, dtype=np.int64),
        "p_name": np.char.add(np.char.add(adj, " "), noun),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, p).astype(str)),
        "p_type": np.array(_PART_TYPES)[rng.integers(0, 6, p)],
        "p_size": rng.integers(1, 51, p).astype(np.int32),
        "p_retailprice": 900.0 + (np.arange(p) % 1000) / 10.0,
    })
    o = n["orders"]
    _write(out_dir, "orders", {
        "o_orderkey": np.arange(o, dtype=np.int64),
        "o_custkey": rng.integers(0, c, o).astype(np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, o)],
        "o_totalprice": _money(rng, 1000.0, 500000.0, o),
        "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", o),
        "o_orderpriority": np.array(_PRIORITIES)[rng.integers(0, 5, o)],
    })
    li = n["lineitem"]
    _write(out_dir, "lineitem", {
        "l_orderkey": rng.integers(0, o, li).astype(np.int64),
        "l_partkey": rng.integers(0, p, li).astype(np.int64),
        "l_suppkey": rng.integers(0, s, li).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, li).astype(np.int32),
        "l_quantity": rng.integers(1, 51, li).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, li),
        "l_discount": rng.integers(0, 11, li) / 100.0,
        "l_tax": rng.integers(0, 9, li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, li)],
        "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", li),
    })
    e = n["events"]
    # Distinct, sorted microsecond offsets over 30 days: event_id follows ts.
    span_us = 30 * 86_400 * 1_000_000
    offs = np.sort(rng.choice(span_us, size=e, replace=False))
    ts = np.datetime64("2024-01-01T00:00:00", "us") + offs.astype("timedelta64[us]")
    _write(out_dir, "events", {
        "event_id": np.arange(e, dtype=np.int64),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": rng.integers(0, users, e).astype(np.int64),
        "event_type": np.array(_EVENT_TYPES)[rng.integers(0, 5, e)],
        "value": np.round(rng.exponential(50.0, e), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, e)],
    })
    texts = []
    for i in range(n_docs):
        r = rng.random()
        if i > 0 and r < 0.05:  # near-duplicate of an earlier document
            texts.append(texts[rng.integers(0, i)] + " dup")
        elif i > 0 and r < 0.052:  # exact duplicate
            texts.append(texts[rng.integers(0, i)])
        else:
            words = np.array(_WORDS)[rng.integers(0, len(_WORDS), rng.integers(10, 101))]
            texts.append(" ".join(words))
    _write(out_dir, "documents", {
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": np.array(_LANGS)[rng.choice(5, n_docs, p=_LANG_P)],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    vecs = rng.standard_normal((n_vecs, _EMBED_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    _write(out_dir, "embeddings", {
        "vec_id": np.arange(n_vecs, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n_vecs).astype(np.int32),
    })
    return {**n, "documents": n_docs, "embeddings": n_vecs, "region": 5, "nation": 25}


_FIRST = ["alice", "bob", "carol", "dave", "eve", "frank", "grace", "heidi",
          "ivan", "judy", "mallory", "oscar", "peggy", "trent", "victor", "walter"]
_CITIES = ["SP", "RJ", "NYC", "SF", "LDN", "BER"]


def _record(rng: np.random.Generator, i: int) -> dict:
    """One landing record; the shape mix covers FIXTURES.md section A."""
    kind = rng.random()
    rec: dict = {"id": i}
    if kind < 0.85:  # every record but the missing-name case carries a name
        rec["name"] = f"{_FIRST[rng.integers(0, len(_FIRST))]} {int(rng.integers(0, 10_000))}"
    if kind < 0.40:
        rec["age"] = int(rng.integers(18, 90))
        rec["tags"] = [str(_WORDS[t]) for t in rng.integers(0, len(_WORDS), rng.integers(0, 4))]
    elif kind < 0.60:
        rec["addr"] = {"city": _CITIES[rng.integers(0, len(_CITIES))],
                       "zip": f"{int(rng.integers(0, 100_000)):05d}"}
    elif kind < 0.70:
        rec["score"] = float(np.round(rng.random() * 100, 3))
    return rec


def write_landing(out_dir: str, seed: int, n_objects: int, median_records: int) -> list[str]:
    """Write ``n_objects`` NDJSON landing objects; return their paths.

    Record counts are log-normal around ``median_records`` (sigma 0.8), and
    about 3% of lines are blank or whitespace-only."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 2])
    counts = np.maximum(50, np.round(median_records * rng.lognormal(0.0, 0.8, n_objects))).astype(int)
    paths = []
    next_id = 0
    for k, count in enumerate(counts):
        lines = []
        for _ in range(count):
            if rng.random() < 0.03:
                lines.append(["", "   ", "\t"][rng.integers(0, 3)])
            lines.append(json.dumps(_record(rng, next_id), separators=(",", ":")))
            next_id += 1
        path = os.path.join(out_dir, f"landing-{k:02d}.json")
        with open(path, "w", encoding="utf-8") as fh:
            fh.write("\n".join(lines) + "\n")
        paths.append(path)
    return paths

