"""Deterministic generator for the benchmark's input tables.

The engine's operators read ten parquet tables (``session.TABLE_NAMES``): a
TPC-H-shaped star schema, an ``events`` stream and the LLM-corpus tables
``documents`` and ``embeddings``. This module writes all ten with the same
column names, physical types and value domains, so every registered query
runs on them. The data depends only on the scale factor and a fixed data
seed, never on the benchmark's ``--seed``: the seed varies the request
sequence, and the same tables are reused by every run in a checkout.

Writes go to a temporary directory that is renamed into place, so an
interrupted generation never leaves a half-written table set behind.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: Bump when the generated contents change; it names the output directory,
#: so stale tables from an older generator are never reused.
VERSION = 1
DATA_SEED = 42

#: Row counts that do not scale with ``sf`` (same as the TPC-H-ish testdata).
_FIXED_ROWS = {"events": 100_000, "documents": 5_000, "embeddings": 2_000}

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["en", "de", "es", "fr", "zh"]
_LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
_VOCAB = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window"
).split()
_EPOCH_DAY = np.datetime64("1970-01-01", "D")


def _days(lo: str, hi: str, n: int, rng: np.random.Generator) -> pa.Array:
    """n uniform calendar days in [lo, hi] as naive microsecond timestamps."""
    a = (np.datetime64(lo, "D") - _EPOCH_DAY).astype(np.int64)
    b = (np.datetime64(hi, "D") - _EPOCH_DAY).astype(np.int64)
    d = rng.integers(a, b + 1, n)
    return pa.array(d * 86_400_000_000, pa.timestamp("us"))


def _money(lo: float, hi: float, n: int, rng: np.random.Generator) -> np.ndarray:
    return np.round(rng.integers(int(lo * 100), int(hi * 100) + 1, n) / 100.0, 2)


def _pick(values: list[str], n: int, rng: np.random.Generator, p=None) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)])


def _documents(n: int, rng: np.random.Generator) -> pa.Table:
    vocab = np.asarray(_VOCAB, dtype=object)
    texts = [
        " ".join(vocab[rng.integers(0, len(vocab), rng.integers(10, 101))])
        for _ in range(n)
    ]
    # 5% near-duplicates (another document plus one token) and a few exact
    # copies, so the dedup operators find real candidate pairs.
    for i in rng.choice(n, n // 20, replace=False):
        texts[i] = texts[rng.integers(0, n)] + " dup"
    for i in rng.choice(n, max(1, n // 600), replace=False):
        texts[i] = texts[rng.integers(0, n)]
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n, dtype=np.int64)),
            "text": pa.array(texts),
            "lang": _pick(_LANGS, n, rng, p=_LANG_P),
            "source": pa.array([f"src{i % 20}" for i in range(n)]),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def _embeddings(n: int, rng: np.random.Generator) -> pa.Table:
    dim, k = 64, 10
    centers = rng.normal(0.0, 1.0, (k, dim))
    label = rng.integers(0, k, n)
    v = centers[label] + rng.normal(0.0, 1.0, (n, dim))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    emb = pa.ListArray.from_arrays(
        pa.array(np.arange(0, n * dim + 1, dim, dtype=np.int32)),
        pa.array(v.reshape(-1)),
    )
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n, dtype=np.int64)),
            "embedding": emb,
            "label": pa.array(label.astype(np.int32)),
        }
    )


def _events(n: int, rng: np.random.Generator) -> pa.Table:
    start = (np.datetime64("2024-01-01", "us") - np.datetime64("1970-01-01", "us"))
    offsets = np.sort(rng.integers(0, 30 * 86_400_000_000, n))
    return pa.table(
        {
            "event_id": pa.array(np.arange(n, dtype=np.int64)),
            "ts": pa.array(start.astype(np.int64) + offsets, pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, 1500, n).astype(np.int64)),
            "event_type": _pick(_EVENT_TYPES, n, rng),
            "value": pa.array(np.round(rng.exponential(50.0, n), 2)),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
        }
    )


def tables(sf: float) -> dict[str, pa.Table]:
    """All ten tables at scale factor ``sf``, built from the fixed data seed."""
    rng = np.random.default_rng(DATA_SEED)
    n_cust, n_supp = int(150_000 * sf), int(10_000 * sf)
    n_part, n_ord, n_li = int(200_000 * sf), int(1_500_000 * sf), int(6_000_000 * sf)
    i32 = lambda a: pa.array(np.asarray(a, dtype=np.int32))  # noqa: E731
    i64 = lambda a: pa.array(np.asarray(a, dtype=np.int64))  # noqa: E731
    out = {
        "region": pa.table({"r_regionkey": i32(range(5)), "r_name": pa.array(_REGIONS)}),
        "nation": pa.table(
            {
                "n_nationkey": i32(range(25)),
                "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
                "n_regionkey": i32([i % 5 for i in range(25)]),
            }
        ),
        "customer": pa.table(
            {
                "c_custkey": i64(range(n_cust)),
                "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
                "c_nationkey": i32(rng.integers(0, 25, n_cust)),
                "c_acctbal": pa.array(_money(-999.99, 9999.99, n_cust, rng)),
                "c_mktsegment": _pick(_SEGMENTS, n_cust, rng),
            }
        ),
        "supplier": pa.table(
            {
                "s_suppkey": i64(range(n_supp)),
                "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
                "s_nationkey": i32(rng.integers(0, 25, n_supp)),
                "s_acctbal": pa.array(_money(-999.99, 9999.99, n_supp, rng)),
            }
        ),
        "part": pa.table(
            {
                "p_partkey": i64(range(n_part)),
                "p_name": pa.array(
                    [
                        f"{_PART_ADJ[a]} {_PART_NOUN[b]}"
                        for a, b in zip(
                            rng.integers(0, 8, n_part), rng.integers(0, 8, n_part)
                        )
                    ]
                ),
                "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
                "p_type": _pick(_PART_TYPES, n_part, rng),
                "p_size": i32(rng.integers(1, 51, n_part)),
                "p_retailprice": pa.array(
                    np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 1)
                ),
            }
        ),
        "orders": pa.table(
            {
                "o_orderkey": i64(range(n_ord)),
                "o_custkey": i64(rng.integers(0, n_cust, n_ord)),
                "o_orderstatus": _pick(["F", "O", "P"], n_ord, rng),
                "o_totalprice": pa.array(_money(1000.0, 500000.0, n_ord, rng)),
                "o_orderdate": _days("1995-01-01", "2001-08-01", n_ord, rng),
                "o_orderpriority": _pick(_PRIORITIES, n_ord, rng),
            }
        ),
        "lineitem": pa.table(
            {
                "l_orderkey": i64(rng.integers(0, n_ord, n_li)),
                "l_partkey": i64(rng.integers(0, n_part, n_li)),
                "l_suppkey": i64(rng.integers(0, n_supp, n_li)),
                "l_linenumber": i32(rng.integers(1, 8, n_li)),
                "l_quantity": pa.array(rng.integers(1, 51, n_li).astype(np.float64)),
                "l_extendedprice": pa.array(_money(900.0, 105000.0, n_li, rng)),
                "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0),
                "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0),
                "l_returnflag": _pick(["A", "N", "R"], n_li, rng),
                "l_linestatus": _pick(["F", "O"], n_li, rng),
                "l_shipdate": _days("1995-01-02", "2001-11-04", n_li, rng),
            }
        ),
        "events": _events(_FIXED_ROWS["events"], rng),
        "documents": _documents(_FIXED_ROWS["documents"], rng),
        "embeddings": _embeddings(_FIXED_ROWS["embeddings"], rng),
    }
    return out


def path(base_dir: str, sf: float) -> str:
    """The directory for the tables at ``sf``. Reuse is safe because the
    contents depend only on ``sf`` and the generator version, both of which
    name the directory."""
    return os.path.join(base_dir, f"v{VERSION}-sf{sf}")


def ensure(base_dir: str, sf: float) -> str:
    """Return the directory holding the tables at ``sf``, generating it on
    first use."""
    out = path(base_dir, sf)
    if os.path.isdir(out):
        return out
    tmp = f"{out}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    for name, table in tables(sf).items():
        pq.write_table(table, os.path.join(tmp, f"{name}.parquet"), compression="snappy")
    try:
        os.rename(tmp, out)
    except OSError:
        # another process finished the same generation first
        shutil.rmtree(tmp, ignore_errors=True)
        if not os.path.isdir(out):
            raise
    return out
