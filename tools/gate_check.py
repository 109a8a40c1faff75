"""Local mimic of the driver's correctness gate: run every queries() entry
on Spark and its oracle_sql() on DuckDB over the same sf dir; compare
row-count, column names, and order-insensitive values.

Usage: python tools/gate_check.py [sf_dir]
"""
from __future__ import annotations

import os
import sys

import duckdb
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def normalize(pdf: pd.DataFrame) -> pd.DataFrame:
    pdf = pdf.reindex(sorted(pdf.columns), axis=1)
    for c in pdf.columns:
        if pdf[c].dtype == object:
            pdf[c] = pdf[c].astype(str)
    if len(pdf.columns):
        pdf = pdf.sort_values(list(pdf.columns)).reset_index(drop=True)
    # float tolerance: round for comparison
    for c in pdf.columns:
        if pdf[c].dtype == "float64":
            pdf[c] = pdf[c].round(9)
    return pdf


def main(sf_dir: str, only: list[str] | None = None) -> int:
    import __spark_entry__ as E
    from sparkfts.session import get_spark
    spark = get_spark(master="local[8]", app="gate-check",
                      shuffle_partitions=8)
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")

    # the BPE trained-merges oracle learns from the corpus it reads;
    # point it at the one under test unless the caller chose another
    os.environ.setdefault("SPARKFTS_ORACLE_SF_DIR", sf_dir)
    qs, os_ = E.queries(), E.oracle_sql()
    if only:
        qs = {k: v for k, v in qs.items()
              if any(pat in k for pat in only)}
    fails = 0
    for name, fn in qs.items():
        try:
            got = normalize(fn(spark, sf_dir).toPandas())
        except Exception as ex:  # noqa: BLE001
            print(f"FAIL {name}: spark error {type(ex).__name__}: {ex}")
            fails += 1
            continue
        sql = os_.get(name)
        if sql is None:
            print(f"WEAK {name}: no oracle, rows={len(got)}")
            continue
        try:
            want = normalize(con.execute(sql).df())
        except Exception as ex:  # noqa: BLE001
            print(f"FAIL {name}: duckdb error {ex}")
            fails += 1
            continue
        if list(got.columns) != list(want.columns):
            print(f"FAIL {name}: columns {list(got.columns)} vs {list(want.columns)}")
            fails += 1
            continue
        if len(got) != len(want):
            print(f"FAIL {name}: rows {len(got)} vs {len(want)}")
            fails += 1
            continue
        try:
            pd.testing.assert_frame_equal(got, want, check_dtype=False,
                                          check_exact=False, rtol=1e-7)
            print(f"OK   {name}: rows={len(got)}")
        except AssertionError as ex:
            print(f"FAIL {name}: values differ\n{str(ex)[:500]}")
            fails += 1
    # smoke entry()
    if not only:
        try:
            n = E.entry(spark).count()
            print(f"OK   entry(): rows={n}")
        except Exception as ex:  # noqa: BLE001
            print(f"FAIL entry(): {ex}")
            fails += 1
    print(f"{'ALL GREEN' if fails == 0 else f'{fails} FAILURES'}")
    return 1 if fails else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01",
                  sys.argv[2:] or None))
