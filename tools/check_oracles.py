"""Local replica of the driver's correctness gate: run every
``queries()`` entry on Spark and its ``oracle_sql()`` twin on DuckDB
over the same parquet tables, then compare row count, column names,
and an order-insensitive value hash.

Usage: python tools/check_oracles.py [sf_dir] [query ...]
"""

from __future__ import annotations

import hashlib
import os
import sys
import time

import duckdb
import pandas as pd

# this checkout, for the driver AND for Spark's Python workers, which
# import the package from PYTHONPATH rather than from sys.path
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
os.environ["PYTHONPATH"] = os.pathsep.join(
    p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
)

TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]


def norm_cell(v):
    if v is None or v is pd.NaT:
        return "∅"
    if isinstance(v, float):
        if v != v:
            return "∅"
        return repr(v)
    if isinstance(v, (list, tuple)) or str(type(v)).endswith("ndarray'>"):
        return "[" + ",".join(norm_cell(x) for x in v) + "]"
    if isinstance(v, bool):
        return "true" if v else "false"
    if hasattr(v, "item") and not isinstance(v, (str, bytes)):
        return norm_cell(v.item())
    return str(v)


def value_hash(pdf: pd.DataFrame) -> str:
    cols = sorted(pdf.columns)
    # Mirror the driver harness: it canonicalizes via pandas sort_values,
    # which throws on unhashable (list/dict) cells. Running the same call
    # here means a non-scalar output column fails LOCALLY instead of
    # being masked by our serializing norm_cell (the round-2
    # kg_entity_rollup trap).
    pdf[cols].sort_values(cols)
    rows = sorted(
        "\x1f".join(norm_cell(v) for v in rec)
        for rec in pdf[cols].itertuples(index=False, name=None)
    )
    return hashlib.sha256("\x1e".join(rows).encode()).hexdigest()[:16]


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as e
    from spinneret_spark.session import get_spark

    spark = get_spark(app_name="check-oracles")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )

    qs = e.queries()
    oracles = e.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            got = fn(spark, sf_dir).toPandas()
        except Exception as ex:
            print(f"FAIL  {name}: spark error: {ex}")
            failures.append(name)
            continue
        t_spark = time.time() - t0
        if name not in oracles:
            print(f"skip  {name}: rows-only ({len(got)} rows, {t_spark:.1f}s)")
            continue
        t0 = time.time()
        try:
            want = con.execute(oracles[name]).df()
        except Exception as ex:
            print(f"FAIL  {name}: duckdb error: {ex}")
            failures.append(name)
            continue
        t_duck = time.time() - t0
        problems = []
        if len(got) != len(want):
            problems.append(f"rows {len(got)} != {len(want)}")
        if sorted(got.columns) != sorted(want.columns):
            problems.append(f"cols {sorted(got.columns)} != {sorted(want.columns)}")
        elif value_hash(got) != value_hash(want):
            problems.append("value hash mismatch")
        if problems:
            print(f"FAIL  {name}: {'; '.join(problems)}")
            failures.append(name)
            if len(got) == len(want) and sorted(got.columns) == sorted(
                want.columns
            ):
                cols = sorted(got.columns)
                g = got[cols].sort_values(cols).reset_index(drop=True)
                w = want[cols].sort_values(cols).reset_index(drop=True)
                for c in cols:
                    gn = g[c].map(norm_cell)
                    wn = w[c].map(norm_cell)
                    bad = gn != wn
                    if bad.any():
                        i = bad.idxmax()
                        print(
                            f"        first diff col={c} row={i}: "
                            f"spark={gn[i]!r} duckdb={wn[i]!r}"
                        )
                        break
        else:
            print(
                f"ok    {name}: {len(got)} rows "
                f"(spark {t_spark:.1f}s, duckdb {t_duck:.1f}s)"
            )
    spark.stop()
    if failures:
        print(f"\n{len(failures)} FAILURES: {failures}")
        return 1
    print("\nall queries match")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
