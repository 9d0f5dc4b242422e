"""Compare the generated tables with another set of the same ten tables.

    python3 perfbench/compare_data.py <generated-dir> <reference-dir>

For each table it prints the row count and, per column, the distinct count
and the min and max on both sides; for ``documents`` also the token
vocabulary, mean tokens per document and exact-duplicate texts; then the
DuckDB row count of every oracle the workloads check against. It reads
only; the README records its output against the repository's sf0.1 test
tables.
"""

from __future__ import annotations

import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]


def column_stats(con, table: str) -> dict[str, tuple]:
    cols = [r[0] for r in con.execute(f"DESCRIBE {table}").fetchall()]
    out = {}
    for c in cols:
        typ = con.execute(f"SELECT typeof({c}) FROM {table} LIMIT 1").fetchone()[0]
        if typ.endswith("[]"):
            out[c] = (con.execute(f"SELECT count(DISTINCT len({c})) FROM {table}").fetchone()[0], "list", "")
            continue
        out[c] = con.execute(f"SELECT count(DISTINCT {c}), min({c}), max({c}) FROM {table}").fetchone()
    return out


def _cells(stats: tuple) -> str:
    return ", ".join(str(x)[:24] for x in stats)


DOC_SQL = """
SELECT count(DISTINCT tok) AS vocab,
       (SELECT avg(len(string_split(text, ' '))) FROM documents) AS mean_tokens,
       (SELECT count(*) - count(DISTINCT text) FROM documents) AS exact_dup_texts
FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
"""


def main(gen: str, ref: str) -> None:
    from datafusion_ballista_dhruvil_spark.operators import load_all, registry
    from datafusion_ballista_dhruvil_spark.session import TABLE_NAMES

    import workloads
    from tools.drive_common import make_duckdb

    g, r = make_duckdb(gen), make_duckdb(ref)
    print("| table | column | generated: distinct, min, max | reference: distinct, min, max |")
    print("|---|---|---|---|")
    for t in TABLE_NAMES:
        n_g = g.execute(f"SELECT count(*) FROM {t}").fetchone()[0]
        n_r = r.execute(f"SELECT count(*) FROM {t}").fetchone()[0]
        print(f"| {t} | (rows) | {n_g} | {n_r} |")
        sg, sr = column_stats(g, t), column_stats(r, t)
        for c in sg:
            print(f"| {t} | {c} | {_cells(sg[c])} | {_cells(sr.get(c, ()))} |")
    print()
    print("documents (vocab, mean tokens, exact duplicate texts):",
          g.execute(DOC_SQL).fetchone(), "vs", r.execute(DOC_SQL).fetchone())
    print()
    load_all()
    print("| oracle | generated rows | reference rows |")
    print("|---|---|---|")
    for name in workloads.TPCH_QUERIES + workloads.LLM_CORPUS:
        sql = registry.ORACLES.get(name)
        if sql is None:
            print(f"| {name} | (no oracle) | |")
            continue
        rows = [len(c.execute(sql).fetchall()) for c in (g, r)]
        print(f"| {name} | {rows[0]} | {rows[1]} |")


if __name__ == "__main__":
    main(sys.argv[1], sys.argv[2])
