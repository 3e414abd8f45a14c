"""One pass over a mix of registry queries, checked against DuckDB twins.

Each query is built with its registry function ``fn(spark, tables_dir)``
(including any Spark jobs it runs eagerly) and its result collected; both
steps are timed. The comparison with the DuckDB ``oracle_sql()`` twin
reuses ``tools/check_correctness.py``'s helpers by import and runs after
the pass, outside the timed region.
"""

from __future__ import annotations

import os
import sys
import time
import traceback
from dataclasses import dataclass

# windows, LSH dedup, ANN, iterative graph rounds with localCheckpoint,
# the mapInPandas Python-worker boundary, the composed pretraining
# pipeline and bench.py's first headline query
MIX = (
    "w03_sessionize_30m",
    "flagship_band_rollup",
    "dd03_minhash_lsh_pairs",
    "ann03_ivf_topk",
    "gr01_pagerank",
    "pp01_pretraining_pipeline",
    "mm10_image_neardup_pairs",
)


@dataclass
class QueryRun:
    name: str
    build_s: float
    run_s: float
    columns: list[str]
    dtypes: dict[str, str]
    rows: list[tuple]
    error: str | None = None


def run_pass(spark, tables_dir: str, tracer, pass_idx: int) -> list[QueryRun]:
    from pyp_etl_pipeline_spark.driver_queries_ext import REGISTRY  # noqa: PLC0415

    out = []
    sc = spark.sparkContext
    for name in MIX:
        fn = REGISTRY[name][0]
        if tracer.enabled:
            sc.setJobGroup(f"registry.{name}.{pass_idx}", name)
        t0 = t1 = time.perf_counter()
        try:
            with tracer.span(f"registry.{name}", op=name):
                with tracer.span(f"registry.{name}.build"):
                    df = fn(spark, tables_dir)
                t1 = time.perf_counter()
                with tracer.span(f"registry.{name}.run"):
                    rows = [tuple(r) for r in df.collect()]
            out.append(QueryRun(name, t1 - t0, time.perf_counter() - t1, df.columns, dict(df.dtypes), rows))
        except Exception as exc:  # noqa: BLE001 — a failed query is a failed operation
            traceback.print_exc()
            t2 = time.perf_counter()
            out.append(QueryRun(name, t1 - t0, t2 - t1, [], {}, [], error=f"{type(exc).__name__}: {exc}"))
    if tracer.enabled:
        sc.setJobGroup("untimed", "checks")
    return out


def oracle(tables_dir: str):
    """DuckDB connection with one view per table, and the twin SQL map."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sys.path.insert(0, os.path.join(root, "tools"))
    import check_correctness as cc  # noqa: PLC0415
    import duckdb  # noqa: PLC0415

    from pyp_etl_pipeline_spark.driver_queries_ext import REGISTRY  # noqa: PLC0415
    from pyp_etl_pipeline_spark.tables import TABLES  # noqa: PLC0415

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{tables_dir}/{t}.parquet')")
    return cc, con, {n: REGISTRY[n][1] for n in MIX}


def check_query(cc, con, sql: str | None, q: QueryRun) -> list[str]:
    """The correctness gate's comparison: column set, dtype fidelity, row
    count and the order-insensitive normalized value multiset."""
    if q.error:
        return [f"{q.name}: {q.error}"]
    if sql is None:
        return [f"{q.name}: no DuckDB twin"]
    res = con.execute(sql)
    d_cols = [d[0] for d in res.description]
    d_rows = res.fetchall()
    fails = []
    if sorted(q.columns) != sorted(d_cols):
        fails.append(f"{q.name}: columns {sorted(q.columns)} vs {sorted(d_cols)}")
    bad = cc.dtype_mismatches(q.dtypes, cc.duck_described_types(con, sql))
    if bad:
        fails.append(f"{q.name}: dtype " + "; ".join(bad))
    if len(q.rows) != len(d_rows):
        fails.append(f"{q.name}: {len(q.rows)} rows vs {len(d_rows)}")
    elif not fails and cc.row_multiset(q.rows, q.columns) != cc.row_multiset(d_rows, d_cols):
        fails.append(f"{q.name}: values differ from the DuckDB twin")
    return fails
