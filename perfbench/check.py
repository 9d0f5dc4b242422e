"""Result checks, run outside the timed region.

A result is reduced to an order-insensitive digest: columns sorted by
lower-cased name, each value canonicalised type-strictly (an int never
equals a float), rows sorted, then hashed. Values are canonicalised and
DuckDB is set up by ``tools/drive_common``, the repository's driver-contract
harness, so the benchmark and that harness agree on what a match is. The
engine's determinism contract (exact DECIMAL money, total orders under every
LIMIT) makes exact equality with DuckDB the intended bar.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import json
import os

from tools.drive_common import canon, make_duckdb


def digest(columns: list[str], rows: list[tuple]) -> dict:
    """Order-insensitive digest of a result: row count, sorted column names
    and a hash over the canonical rows."""
    cols = [c.lower() for c in columns]
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    canon_rows = sorted(repr(tuple(canon(r[i]) for i in order)) for r in rows)
    h = hashlib.sha256()
    for r in canon_rows:
        h.update(r.encode())
        h.update(b"\n")
    return {"rows": len(rows), "columns": sorted(cols), "hash": h.hexdigest()}


def _naive_utc(v):
    # Arrow hands Spark TIMESTAMP back as UTC-aware; collect() and DuckDB
    # give the same instant naive (the session time zone is pinned UTC)
    if isinstance(v, dt.datetime) and v.tzinfo is not None:
        return v.astimezone(dt.timezone.utc).replace(tzinfo=None)
    return v


def arrow_digest(table) -> dict:
    rows = [tuple(_naive_utc(v) for v in r.values()) for r in table.to_pylist()]
    return digest(table.column_names, rows)


def oracle_digests(data_dir: str, cache_dir: str, sqls: dict[str, str]) -> dict[str, dict]:
    """DuckDB digests of the given oracle SQL texts over ``data_dir``.

    The tables do not change, so digests are cached in ``cache_dir`` under
    the hash of each SQL text: a changed oracle is recomputed, an unchanged
    one is read back."""
    cache_path = os.path.join(cache_dir, "oracle_digests.json")
    try:
        with open(cache_path) as f:
            cache = json.load(f)
    except (OSError, ValueError):
        cache = {}
    out, con = {}, None
    for name, sql in sqls.items():
        key = hashlib.sha256(sql.encode()).hexdigest()
        if key not in cache:
            if con is None:
                con = make_duckdb(data_dir)
            cur = con.execute(sql)
            cache[key] = digest([d[0] for d in cur.description], cur.fetchall())
        out[name] = cache[key]
    if con is not None:
        con.close()
        tmp = f"{cache_path}.tmp{os.getpid()}"
        with open(tmp, "w") as f:
            json.dump(cache, f)
        os.replace(tmp, cache_path)
    return out


def compare(got: dict, want: dict | None) -> str | None:
    """None when ``got`` matches ``want``; otherwise why it does not. With
    no oracle (``want`` is None) only a non-empty column list is required."""
    if want is None:
        return None if got["columns"] else "no columns"
    if got["columns"] != want["columns"]:
        return f"columns {got['columns']} != {want['columns']}"
    if got["rows"] != want["rows"]:
        return f"rows {got['rows']} != {want['rows']}"
    if got["hash"] != want["hash"]:
        return "values differ"
    return None
