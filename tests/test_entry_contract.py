"""Driver-contract tests: entry() smoke, queries()/oracle_sql() registry
consistency, and column-name alignment between Spark and oracle results.

The driver's compare sorts columns BY NAME before hashing, so a Spark
result and its oracle twin must expose identical column-name sets — this
test enforces that for every oracle pair cheaply (DuckDB describe-only,
Spark schema-only; no execution of the full queries).
"""

from __future__ import annotations

import duckdb
import pytest

import __spark_entry__ as entrymod
from pyp_etl_pipeline_spark.tables import TABLES


def test_entry_returns_rows(spark):
    df = entrymod.entry(spark)
    assert df.count() > 0
    assert len(df.columns) > 0


def test_registry_shapes():
    q = entrymod.queries()
    o = entrymod.oracle_sql()
    assert len(q) >= 56
    assert set(o) == set(q)  # every query oracle-verified — keep it that way
    # only genuinely non-SQL ops may omit the oracle
    assert all(callable(f) for f in q.values())
    assert all(isinstance(s, str) and "select" in s.lower() for s in o.values())


def test_driver_priority_unique_and_resolvable():
    """ADVICE r10: duplicate _DRIVER_PRIORITY names are harmless for
    ordering (dict keeps the first occurrence) but misrepresent the
    documented backfill order — ban them, and ban dangling names that
    silently drop out of the window."""
    from pyp_etl_pipeline_spark import driver_queries_ext as d

    dupes = [n for n in set(d._DRIVER_PRIORITY) if d._DRIVER_PRIORITY.count(n) > 1]
    assert not dupes, dupes
    dangling = [n for n in d._DRIVER_PRIORITY if n not in d.REGISTRY]
    assert not dangling, dangling


@pytest.mark.slow
def test_spark_oracle_column_names_align(spark, sf_dir):
    """Schema-only pass: Spark .columns vs DuckDB described columns, PLUS
    the driver-fidelity dtype check (VERDICT r7): any twin output column
    DuckDB types as HUGEINT (the silent ``sum(BIGINT)``/``list_sum``/
    windowed-sum widening) hashes as float64 on the driver while Spark
    emits int64 — local string-normalized compares can't see it, so it
    is banned structurally here. A twin that trips this needs a
    ``CAST(... AS BIGINT)``."""
    import sys

    sys.path.insert(0, "/root/repo/tools")
    from check_correctness import dtype_mismatches, duck_described_types  # noqa: PLC0415

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    q = entrymod.queries()
    o = entrymod.oracle_sql()
    mismatches = {}
    dtype_bad = {}
    for name, sql in o.items():
        sdf = q[name](spark, sf_dir)
        spark_cols = sorted(sdf.columns)
        duck_types = duck_described_types(con, sql)
        oracle_cols = sorted(c for c, _ in duck_types)
        if spark_cols != oracle_cols:
            mismatches[name] = (spark_cols, oracle_cols)
        bad = dtype_mismatches(dict(sdf.dtypes), duck_types)
        if bad:
            dtype_bad[name] = bad
    assert not mismatches, f"column-name drift: {mismatches}"
    assert not dtype_bad, f"driver-visible dtype drift (HUGEINT/DECIMAL twins): {dtype_bad}"


def test_registry_complete_under_either_import_order():
    """Every registry query must carry its oracle regardless of which
    driver_queries module is imported first (the cross-module composed
    oracles once raced the REGISTRY snapshot), the import graph is one-way
    (parts 3 and 4 load without the registry module), and both import
    orders yield the same oracle text."""
    import json
    import os
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    ext = "pyp_etl_pipeline_spark.driver_queries_ext"
    parts = (
        "import pyp_etl_pipeline_spark.driver_queries_ext3, pyp_etl_pipeline_spark.driver_queries_ext4;"
        f"assert {ext!r} not in sys.modules, 'part 3/4 imported the registry module';"
    )
    dump = (
        "from pyp_etl_pipeline_spark import driver_queries_ext as m;"
        "qs, os_ = m.queries(), m.oracle_sql();"
        "missing = sorted(set(qs) - set(os_));"
        "assert not missing, missing; print(json.dumps(os_))"
    )
    # p01's twin lists each field's alias set in set-iteration order, so
    # its text is stable only under one string-hash seed
    env = {**os.environ, "PYTHONHASHSEED": "0"}

    def oracle(first: str) -> dict[str, str]:
        code = f"import json, sys; sys.path.insert(0, {repo!r});" + first + dump
        out = subprocess.run(
            [sys.executable, "-c", code], capture_output=True, text=True, cwd="/tmp",
            env=env, check=True,
        )
        return json.loads(out.stdout)

    parts_first, registry_first = oracle(parts), oracle("")
    assert len(parts_first) == len(registry_first) >= 230
    assert parts_first == registry_first


def test_bench_query_names_resolve():
    """Every name in bench.py's HEADLINE/EXTENDED lists must exist in the
    registry — a typo here silently drops a query from the driver's
    per-round benchmark."""
    import importlib.util
    import os

    from pyp_etl_pipeline_spark.driver_queries_ext import REGISTRY

    spec = importlib.util.spec_from_file_location(
        "bench", os.path.join(os.path.dirname(__file__), "..", "bench.py")
    )
    bench = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(bench)
    missing = [n for n in bench.HEADLINE + bench.EXTENDED if n not in REGISTRY]
    assert not missing, f"bench names not in registry: {missing}"
    dupes = [n for n in set(bench.EXTENDED) if bench.EXTENDED.count(n) > 1]
    assert not dupes, f"duplicate bench entries: {dupes}"


def test_rotate_window_tool_is_consistent():
    """tools/rotate_window.py proposes the next driver window from the
    evidence ledger; its output must be duplicate-free, cover every
    registry query, and put zero-evidence queries inside the 50-slot
    window (the gt01 lesson, automated)."""
    import re
    import subprocess
    import sys

    out = subprocess.run(
        [sys.executable, "tools/rotate_window.py"],
        capture_output=True, text=True, check=True, cwd="/root/repo",
        timeout=300,
    ).stdout
    names = re.findall(r'^    "(\w+)",', out, flags=re.M)
    from pyp_etl_pipeline_spark import driver_queries_ext as d

    assert len(names) == len(set(names))
    assert set(names) == set(d.REGISTRY)
    window = names[:50]
    no_evidence = [n for n in names if f'"{n}",  # evidence r—' in out]
    assert all(n in window for n in no_evidence)
