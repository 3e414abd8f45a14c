"""Local replica of the driver's correctness gate.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` twin on
DuckDB at the given sf dir, compares row count + order-insensitive value
multiset (columns sorted by name, values normalized to strings).

Usage: python tools/check_correctness.py [sf_dir] [name_filter...]
"""

from __future__ import annotations

import math
import os
import sys
import time
import traceback
from collections import Counter

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import duckdb

from pyp_etl_pipeline_spark.driver_queries_ext import REGISTRY
from pyp_etl_pipeline_spark.session import get_spark
from pyp_etl_pipeline_spark.tables import TABLES


def norm_value(v) -> str:
    import decimal

    if v is None:
        return "<NULL>"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, decimal.Decimal):
        v = float(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        if v == int(v) and abs(v) < 1e15:
            return str(int(v))
        return repr(v)
    if hasattr(v, "isoformat"):
        return v.isoformat(sep=" ") if hasattr(v, "hour") else v.isoformat()
    return str(v)


def row_multiset(rows, colnames) -> Counter:
    order = sorted(range(len(colnames)), key=lambda i: colnames[i])
    return Counter("|".join(norm_value(r[i]) for i in order) for r in rows)


_SPARK_INTEGRAL = {"tinyint", "smallint", "int", "bigint"}


def dtype_mismatches(spark_dtypes: dict[str, str], duck_types: list[tuple[str, str]]) -> list[str]:
    """Driver-fidelity dtype check (VERDICT r7 item 2).

    The driver materializes DuckDB results through pandas/arrow, where
    HUGEINT (the silent widening of ``sum(BIGINT)``/``list_sum``/windowed
    sums) becomes float64 — so ``32`` hashes as ``"32.0"`` and the driver
    gate fails even though every value is numerically identical.  The
    local gate's string normalization cannot see this class, so we flag
    it structurally: any twin output column typed HUGEINT (Spark has no
    128-bit int, so it can never agree), or DECIMAL against a
    non-decimal Spark column, is an error the twin must CAST away.
    """
    bad = []
    for col, dt in duck_types:
        base = dt.upper().split("(")[0].strip()
        s = spark_dtypes.get(col)
        if s is None:
            continue  # column-set mismatch reported elsewhere
        if base in ("HUGEINT", "UHUGEINT"):
            bad.append(f"{col}: duckdb {dt} vs spark {s} — CAST the twin to BIGINT")
        elif base == "DECIMAL" and not s.startswith("decimal"):
            bad.append(f"{col}: duckdb {dt} vs spark {s} — CAST the twin to match")
        elif base in ("DOUBLE", "FLOAT", "REAL") and s in _SPARK_INTEGRAL:
            bad.append(f"{col}: duckdb {dt} vs spark {s} — integer/float dtype split")
    return bad


def duck_described_types(con, sql: str) -> list[tuple[str, str]]:
    """(column_name, column_type) for a query via bind-only DESCRIBE."""
    return [(r[0], r[1]) for r in con.execute(f"DESCRIBE {sql}").fetchall()]


def main() -> int:
    args = [a for a in sys.argv[1:] if a != "--plain-session"]
    plain = "--plain-session" in sys.argv[1:]
    sf_dir = args[0] if args else "/root/testdata/sf0.01"
    name_filter = args[1:]

    if plain:
        # Mimic the DRIVER's session: a bare builder with none of our
        # session-factory tuning (no UTC tz pin, no excluded optimizer
        # rules, default shuffle partitions). Results must be IDENTICAL —
        # any divergence here is an environment-dependence bug of the
        # kind that broke the events queries when the harness session
        # differed from ours (tz-dependent NTZ cast).
        from pyspark.sql import SparkSession  # noqa: PLC0415

        spark = (
            SparkSession.builder.master("local[8]")
            .appName("correctness-check-plain")
            .config("spark.sql.shuffle.partitions", "8")
            .getOrCreate()
        )
        # ...and fetch the queries the way the driver does, through the
        # entry module (which ships the package to the Python workers)
        import __spark_entry__  # noqa: PLC0415

        entry_queries = __spark_entry__.queries()
    else:
        spark = get_spark("correctness-check")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")

    n_pass = n_fail = n_weak = 0
    failures: list[str] = []
    for name, (fn, sql) in REGISTRY.items():
        if name_filter and not any(f in name for f in name_filter):
            continue
        t0 = time.time()
        if plain:
            fn = entry_queries[name]
        try:
            sdf = fn(spark, sf_dir)
            s_cols = sdf.columns
            s_rows = [tuple(r) for r in sdf.collect()]
        except Exception:
            print(f"FAIL {name}: SPARK ERROR\n{traceback.format_exc()}")
            n_fail += 1
            failures.append(name)
            continue
        if sql is None:
            print(f"weak {name}: rows-only, {len(s_rows)} rows ({time.time() - t0:.1f}s)")
            n_weak += 1
            continue
        try:
            res = con.execute(sql)
            d_cols = [d[0] for d in res.description]
            d_rows = res.fetchall()
        except Exception:
            print(f"FAIL {name}: DUCKDB ERROR\n{traceback.format_exc()}")
            n_fail += 1
            failures.append(name)
            continue

        ok = True
        msgs = []
        if sorted(s_cols) != sorted(d_cols):
            ok = False
            msgs.append(f"columns spark={sorted(s_cols)} duck={sorted(d_cols)}")
        try:
            dt_bad = dtype_mismatches(dict(sdf.dtypes), duck_described_types(con, sql))
        except Exception as exc:  # DESCRIBE should never fail if execute worked
            dt_bad = [f"DESCRIBE failed: {exc}"]
        if dt_bad:
            ok = False
            msgs.append("dtype: " + "; ".join(dt_bad))
        if len(s_rows) != len(d_rows):
            ok = False
            msgs.append(f"rowcount spark={len(s_rows)} duck={len(d_rows)}")
        if ok:
            ms, md = row_multiset(s_rows, s_cols), row_multiset(d_rows, d_cols)
            if ms != md:
                ok = False
                only_s = list((ms - md).items())[:3]
                only_d = list((md - ms).items())[:3]
                msgs.append(f"values: only-spark={only_s} only-duck={only_d}")
        if ok:
            print(f"PASS {name}: {len(s_rows)} rows ({time.time() - t0:.1f}s)")
            n_pass += 1
        else:
            print(f"FAIL {name}: " + "; ".join(msgs))
            n_fail += 1
            failures.append(name)

    print(f"\n{n_pass} pass, {n_weak} weak (rows-only), {n_fail} fail")
    if failures:
        print("failures:", ", ".join(failures))
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main())
