"""Make a run's inputs and expected results, in a process of their own.

Generates the tables (``datagen.ensure``) unless the run was given a table
directory, and computes, with DuckDB over the same parquet files, the digest
of every oracle the workloads check against and the lakehouse workload's
expected aggregates. It runs as a child of ``run.py`` so that neither its
time nor its memory lands in the measured process, and it caches the results
in the cache directory: after the first run in a checkout it only reads the
cache back.

    python3 perfbench/prepare.py <sf> <data-dir> <cache-dir> <generate 0|1>
"""

from __future__ import annotations

import hashlib
import json
import os
import sys

import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
if ROOT not in sys.path:
    sys.path.insert(1, ROOT)

import check  # noqa: E402
import datagen  # noqa: E402

#: Lakehouse slices: ``l_orderkey % LAKE_SLICES`` picks one commit's rows.
LAKE_SLICES = 8
#: Exact per-flag aggregate the lakehouse workload reads back after each
#: commit; DECIMAL sums make it bit-comparable between Spark and DuckDB.
LAKE_AGG_SQL = f"""
SELECT l_orderkey % {LAKE_SLICES} AS slice, l_returnflag,
  COUNT(*) AS n,
  SUM(CAST(l_quantity AS DECIMAL(12,2))) AS qty,
  SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS price
FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2
"""


def lake_expected(data_dir: str, cache_dir: str) -> dict:
    """``slices``: {slice: {returnflag: [count, qty, price]}} with decimals
    as strings; ``user_bytes``: the Arrow size of lineitem, which is the
    user data one lakehouse pass commits (its slices partition the table)."""
    path = os.path.join(cache_dir, "lake_expected.json")
    key = hashlib.sha256(LAKE_AGG_SQL.encode()).hexdigest()
    try:
        with open(path) as f:
            cached = json.load(f)
        if cached["key"] == key:
            return cached
    except (OSError, ValueError, KeyError):
        pass
    con = check.make_duckdb(data_dir)
    slices: dict[str, dict[str, list]] = {}
    for s, flag, n, qty, price in con.execute(LAKE_AGG_SQL).fetchall():
        slices.setdefault(str(s), {})[flag] = [n, str(qty), str(price)]
    con.close()
    user_bytes = pq.read_table(os.path.join(data_dir, "lineitem.parquet")).nbytes
    out = {"key": key, "slices": slices, "user_bytes": user_bytes}
    with open(path + ".tmp", "w") as f:
        json.dump(out, f)
    os.replace(path + ".tmp", path)
    return out


def main(sf: float, data_dir: str, cache_dir: str, generate: bool) -> None:
    from datafusion_ballista_dhruvil_spark.operators import load_all, registry

    import workloads

    load_all()
    if generate:
        datagen.ensure(os.path.dirname(data_dir), sf)
    os.makedirs(cache_dir, exist_ok=True)
    names = workloads.TPCH_QUERIES + workloads.LLM_CORPUS
    check.oracle_digests(data_dir, cache_dir, {n: registry.ORACLES[n] for n in names if n in registry.ORACLES})
    lake_expected(data_dir, cache_dir)


if __name__ == "__main__":
    main(float(sys.argv[1]), sys.argv[2], sys.argv[3], sys.argv[4] == "1")
