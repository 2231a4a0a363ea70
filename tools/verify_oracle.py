"""Local mimic of the driver's correctness gate.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` on DuckDB
over the same parquet dir, then compares row count, column-name set, and
order-insensitive values (columns sorted by name, rows sorted). Exact value
equality is required — the operator modules are responsible for emitting
hash-stable types (see contract.py determinism rules).

Usage: python tools/verify_oracle.py [sf_dir] [key ...]
"""

from __future__ import annotations

import math
import os
import sys
import time

import duckdb
import pandas as pd


def duck_connect(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in (
        "region nation customer supplier part orders lineitem events "
        "documents embeddings".split()
    ):
        path = f"{sf_dir}/{t}.parquet"
        # Spark-written tables are DIRECTORIES of part files (the
        # synthetic sf1 probe corpus); DuckDB needs the glob form there.
        # The shipped fixtures are single files — keep the exact path so
        # a missing fixture still errors loudly.
        if os.path.isdir(path):
            path = f"{path}/*.parquet"
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
    return con


def unhashable_cols(pdf: pd.DataFrame) -> list[str]:
    """Columns whose cells would crash the driver's pandas-side
    canonicalizer (sort_values over object cells): list / dict / set /
    ndarray from an un-serialized array/map/struct column. Named so the
    gate (main) and its test import the SAME detector — the r13 ADVICE
    found the test re-implemented this inline, which is exactly the
    drift it could never catch."""
    return [
        c
        for c in pdf.columns
        if pdf[c].dtype == object
        and pdf[c]
        .map(
            lambda v: isinstance(v, (list, dict, set))
            or type(v).__name__ == "ndarray"
        )
        .any()
    ]


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    """Width-normalize without erasing the int-vs-float distinction.

    The driver's value hash formats each cell, so a BIGINT 42 ("42") and a
    DOUBLE 42.0 ("42.0") hash differently even though they compare equal as
    floats. Casting every numeric column to float64 here (the pre-r13
    behavior) made exactly that class of mismatch invisible locally — it
    only ever surfaced as a driver red (q_degree_assortativity, r12). So:
    integers normalize to int64 (width only), floats to float64, and an
    int-vs-float dtype skew between the engines is now a reported problem.
    """
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        # lower-cased so pandas nullable dtypes ("Int64", "UInt32",
        # "Float64", "boolean") take the width-normalization branches
        # instead of falling through to astype(str) (r13 ADVICE)
        dt = str(df[c].dtype).lower()
        if dt.startswith("datetime64"):
            df[c] = df[c].astype("datetime64[us]").astype("int64")
        elif df[c].dtype == object:
            df[c] = df[c].astype(str)
        elif dt == "bool" or dt == "boolean":
            # BEFORE the int branch: booleans keep their True/False
            # formatting (the driver hashes "True" vs "1" differently,
            # so a Spark-bool vs DuckDB-int skew must fail here too)
            df[c] = df[c].astype(str)
        elif "int" in dt and "interval" not in dt:
            # nullable Int64 with NA cells cannot widen to int64; the
            # counterpart engine surfaces such columns as float64, so
            # compare on the float path in that case
            if df[c].isna().any():
                df[c] = df[c].astype("float64")
            else:
                df[c] = df[c].astype("int64")
        elif dt.startswith("float"):
            df[c] = df[c].astype("float64")
        else:
            df[c] = df[c].astype(str)
    return df.sort_values(by=list(df.columns), ignore_index=True)


def compare(spark_pdf: pd.DataFrame, duck_pdf: pd.DataFrame) -> list[str]:
    problems = []
    if sorted(spark_pdf.columns) != sorted(duck_pdf.columns):
        problems.append(
            f"columns differ: spark={sorted(spark_pdf.columns)} duck={sorted(duck_pdf.columns)}"
        )
        return problems
    if len(spark_pdf) != len(duck_pdf):
        problems.append(f"row count: spark={len(spark_pdf)} duck={len(duck_pdf)}")
    s, d = normalize(spark_pdf), normalize(duck_pdf)
    if len(s) == len(d):
        for c in s.columns:
            sv, dv = s[c], d[c]
            if sv.dtype == "float64" and dv.dtype == "float64":
                both_nan = sv.isna() & dv.isna()
                eq = (sv == dv) | both_nan
            else:
                eq = (sv.astype(str) == dv.astype(str))
            bad = (~eq).to_numpy().nonzero()[0]
            if len(bad):
                i = bad[0]
                problems.append(
                    f"values differ in col {c!r}: {len(bad)} rows, first at sorted-row "
                    f"{i}: spark={s[c].iloc[i]!r} duck={d[c].iloc[i]!r}"
                )
    return problems


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    import __spark_entry__ as e
    from reactor_window_like_flink_spark.session import get_spark

    spark = get_spark(shuffle_partitions=8)
    con = duck_connect(sf_dir)
    qs, oracles = e.queries(), e.oracle_sql()

    n_pass = n_fail = n_rows_only = 0
    t_start = time.time()
    # registration order, not sorted: the driver's sweep visits keys in
    # queries() insertion order, so budget/abort behavior reproduces here
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            spark_pdf = fn(spark, sf_dir).toPandas()
        except Exception as exc:  # noqa: BLE001
            print(f"FAIL {name}: spark raised {type(exc).__name__}: {exc}")
            n_fail += 1
            continue
        # Driver-canonicalizability gate (applies to rows-only keys too):
        # the driver sorts every output column pandas-side, so an
        # unhashable cell (list/dict/ndarray from an array/map/struct
        # column) crashes its harness and leaves the key with NO record
        # (q_embed_pca, r12). This tool stringified such cells and
        # passed, hiding the crash class — fail loudly instead.
        bad_cols = unhashable_cols(spark_pdf)
        if bad_cols:
            print(
                f"FAIL {name}: driver-unhashable output column(s)"
                f" {bad_cols} (array/map/struct cells crash the driver's"
                " canonicalizer — serialize to string or explode)"
            )
            n_fail += 1
            continue
        if name not in oracles:
            nrows = len(spark_pdf)
            print(
                f"ROWS-ONLY {name}: {nrows} rows ({time.time()-t0:.1f}s,"
                f" cum {time.time()-t_start:.0f}s)"
            )
            n_rows_only += 1
            continue
        try:
            duck_pdf = con.sql(oracles[name]).df()
        except Exception as exc:  # noqa: BLE001
            print(f"FAIL {name}: duckdb raised {type(exc).__name__}: {exc}")
            n_fail += 1
            continue
        problems = compare(spark_pdf, duck_pdf)
        if problems:
            print(f"FAIL {name} ({time.time()-t0:.1f}s):")
            for p in problems:
                print(f"   {p}")
            n_fail += 1
        else:
            print(
                f"PASS {name}: {len(spark_pdf)} rows ({time.time()-t0:.1f}s,"
                f" cum {time.time()-t_start:.0f}s)"
            )
            n_pass += 1
    print(
        f"\n== {n_pass} pass, {n_fail} fail, {n_rows_only} rows-only"
        f" in {time.time()-t_start:.0f}s =="
    )
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
