"""Ingest scans (S1-S4): CSV with encoding detection, Excel, validation.

Reference semantics:
- S1 encoding detection: try utf-8, utf-8-sig, latin-1, cp1252, iso-8859-1
  in order on a head sample; first that decodes wins (``app/etl.py:15-36``)
- S2 CSV scan, header row = schema, every value a nullable string
  (``app/etl.py:942-944``)
- S3/S4 Excel scan + validation (``app/etl.py:970-993``, ``:670-699``):
  a self-contained stdlib zip+XML xlsx parser (``sources/xlsx.py``) —
  no openpyxl/spark-excel dependency needed for the reference's primary
  upload format.

The encoding probe is a driver-side peek at one small head sample —
the distributed read then uses the detected charset.
"""

from __future__ import annotations

import os
import zipfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StringType, StructField, StructType

ENCODING_CANDIDATES = ("utf-8", "utf-8-sig", "latin-1", "cp1252", "iso-8859-1")
ALLOWED_EXTENSIONS = {".csv", ".xlsx", ".xls"}

# Python codec name -> the name Spark 4's CSV charset whitelist accepts
# (iso-8859-1, us-ascii, utf-16*, utf-32, utf-8). Without this mapping the
# S1 fallback branch is BROKEN: detect_encoding returns "latin-1" and
# spark.read.csv raises INVALID_PARAMETER_VALUE.CHARSET (found building
# cv02, round 12). cp1252 maps to iso-8859-1 too — Spark has no
# windows-1252 codec, and the probe can never return cp1252 anyway
# (latin-1 precedes it and decodes any byte sequence; the same dead-branch
# order as the reference's app/etl.py:15-36). utf-8-sig is equally
# unreachable (utf-8 decodes a BOM as U+FEFF), but map it for callers
# that pass it explicitly.
_SPARK_CHARSET = {
    "latin-1": "iso-8859-1",
    "latin1": "iso-8859-1",
    "cp1252": "iso-8859-1",
    "windows-1252": "iso-8859-1",
    "iso-8859-1": "iso-8859-1",
    "utf-8-sig": "utf-8",
}


def detect_encoding(path: str, sample_bytes: int = 1024) -> str:
    """S1: first candidate encoding that decodes a head sample."""
    with open(path, "rb") as f:
        head = f.read(sample_bytes)
    for enc in ENCODING_CANDIDATES:
        try:
            head.decode(enc)
            return enc
        except (UnicodeDecodeError, ValueError):
            continue
    return "latin-1"  # decodes any byte sequence


def validate_upload_path(path: str) -> None:
    """F9/S4 pre-flight: extension whitelist + path-traversal guard."""
    ext = os.path.splitext(path)[1].lower()
    if ext not in ALLOWED_EXTENSIONS:
        raise ValueError(f"unsupported extension: {ext}")
    # check the RAW path segments: normpath would resolve '..' away and
    # let a traversal through
    if ".." in path.split(os.sep):
        raise ValueError("path traversal detected")


def validate_excel_file(path: str) -> None:
    """S4: zip magic + must contain xl/ entries."""
    if not zipfile.is_zipfile(path):
        raise ValueError("not a valid xlsx (zip magic missing)")
    with zipfile.ZipFile(path) as z:
        if not any(n.startswith("xl/") for n in z.namelist()):
            raise ValueError("not a valid xlsx (no xl/ entries)")


def read_csv_upload(spark: SparkSession, path: str, encoding: str | None = None) -> DataFrame:
    """S1+S2: all-string CSV read (schema inference off, like the reference)."""
    validate_upload_path(path)
    enc = encoding or detect_encoding(path)
    spark_enc = _SPARK_CHARSET.get(enc.lower(), enc)
    return (
        spark.read.option("header", True)
        .option("inferSchema", False)
        .option("encoding", spark_enc)
        .option("mode", "PERMISSIVE")
        .csv(path)
    )


MAX_EXCEL_BYTES = 16 * 1024 * 1024  # reference upload envelope (app/config.py:36)


def read_excel_upload(
    spark: SparkSession, path: str, sheet: int | str = 0, max_bytes: int | None = MAX_EXCEL_BYTES
) -> DataFrame:
    """S3: all-string Excel read via the self-contained stdlib xlsx parser
    (``sources/xlsx.py`` — zip + XML, no openpyxl dependency). Mirrors the
    reference's openpyxl scan (``app/etl.py:970-993``): first row =
    headers, values as-is; all columns nullable strings like the CSV path
    so both feed the same normalization chain. Empty header cells become
    ``col_<i>`` and duplicate headers get a ``_<i>`` suffix — a DataFrame
    needs distinct non-empty column names where the reference's positional
    row access did not.

    Scale envelope (deliberate): the workbook parses on the DRIVER and
    ships via ``createDataFrame`` — correct for the reference's upload
    contract (Flask caps requests at 16 MiB, ``app/config.py:36``, so a
    spreadsheet is by definition driver-sized) and enforced here with the
    same ``max_bytes`` cap rather than discovered via an OOM. A many-GB
    xlsx is not a thing this source accepts; bulk data belongs to the
    distributed CSV/parquet readers (``max_bytes=None`` opts out for
    callers that really mean it). Legacy ``.xls`` (BIFF) is accepted by
    extension but rejected by the zip check — faithfully reproducing the
    reference, whose openpyxl reader cannot parse true BIFF either
    (``app/etl.py:972``)."""
    from pyp_etl_pipeline_spark.sources.xlsx import parse_xlsx  # noqa: PLC0415

    validate_upload_path(path)
    if max_bytes is not None:
        size = os.path.getsize(path)
        if size > max_bytes:
            raise ValueError(
                f"xlsx is {size} bytes > the {max_bytes}-byte upload envelope "
                "(reference MAX_CONTENT_LENGTH); this source parses on the "
                "driver by design — use the distributed CSV/parquet readers "
                "for bulk data, or pass max_bytes=None to override"
            )
    validate_excel_file(path)
    headers, rows = parse_xlsx(path, sheet=sheet)
    if not headers:
        raise ValueError("xlsx sheet is empty (no header row)")
    names = _dataframe_column_names(headers)
    fields = ", ".join(f"`{n}` string" for n in names)
    return spark.createDataFrame(rows, schema=fields)


def _dataframe_column_names(headers: list[str]) -> list[str]:
    """Empty header cells -> ``col_<i>``, duplicates -> ``_<i>`` suffix —
    shared by the driver-side and distributed Excel paths so both yield
    identical schemas."""
    names: list[str] = []
    seen: set[str] = set()
    for i, h in enumerate(headers):
        name = (h or "").strip() or f"col_{i}"
        if name in seen:
            name = f"{name}_{i}"
        seen.add(name)
        names.append(name)
    return names


SIDECAR_THRESHOLD_BYTES = 32 * 1024 * 1024  # decompressed sheet size

_SIDECAR_DIR: str | None = None


def _process_sidecar_dir() -> str:
    """Process-scoped scratch dir for decompressed sheet sidecars —
    unique per process (concurrent sessions must not collide, the
    scratch_path lesson) and removed at exit."""
    global _SIDECAR_DIR
    if _SIDECAR_DIR is None:
        import atexit  # noqa: PLC0415
        import shutil  # noqa: PLC0415
        import tempfile  # noqa: PLC0415

        _SIDECAR_DIR = tempfile.mkdtemp(prefix="spark_graft_xlsx_sidecar_")
        atexit.register(shutil.rmtree, _SIDECAR_DIR, ignore_errors=True)
    return _SIDECAR_DIR


def _sidecar_usable(master: str, sidecar_dir: str | None) -> bool:
    """The default sidecar dir is a DRIVER-local tempdir; on a real
    multi-node cluster executors cannot read it, so the seek path would
    silently fail where the streaming path (which re-opens the
    shared-storage xlsx itself) still works (ADVICE r12). Callers on a
    cluster must pass a shared-storage ``sidecar_dir`` to opt in."""
    return sidecar_dir is not None or master.startswith("local")


def read_excel_distributed(
    spark: SparkSession,
    path: str,
    sheet: int | str = 0,
    rows_per_task: int = 50_000,
    sidecar_threshold: int | None = SIDECAR_THRESHOLD_BYTES,
    sidecar_dir: str | None = None,
) -> DataFrame:
    """S3 at cluster scale: the same worksheet -> all-string DataFrame
    contract as ``read_excel_upload``, but with the PARSE distributed —
    byte-identical output (pinned in tests), no driver materialization.

    The driver does only planning-weight work: resolve the sheet part,
    one streaming row COUNT (no values materialized), and a 1-row read
    for the header. Data rows are split into ``rows_per_task``-sized
    ranges; each (path, part, start, end) task re-opens the workbook on
    an EXECUTOR and streams exactly its slice via the stdlib parser
    (``xlsx.read_rows_slice`` — picklable pure python, Arrow-batched out
    through mapInPandas). A multi-GB sheet therefore costs the driver
    one SAX-style pass for the count and the cluster one parse spread
    over ceil(n/rows_per_task) tasks, instead of OOMing the driver the
    way a createDataFrame of the whole sheet would.

    Two physical strategies, one logical contract (byte-identical
    output, pinned in tests):

    - **streaming** (small sheets, decompressed size below
      ``sidecar_threshold``): each (path, part, start, end) task
      re-opens the workbook and streams the sheet from the top,
      discarding rows before ``start``. xlsx is a zip, so a task cannot
      seek into the compressed member — total parse work is
      O(n²/rows_per_task), fine at upload scale, wrong for the multi-GB
      sheet this reader otherwise supports.
    - **sidecar** (large sheets; VERDICT r11 item 4): ONE driver pass
      decompresses the sheet XML to a side-file while byte-indexing
      ``<row`` boundaries per task range
      (``xlsx.extract_sheet_sidecar``); each task then SEEKS to its
      byte span (``xlsx.read_rows_sidecar``) — total parse work is
      LINEAR in the sheet, and the driver pass does no value
      materialization. The sidecar lands in ``sidecar_dir`` (a
      process-scoped temp dir by default, removed at exit) — on a real
      multi-node cluster pass a shared-storage path, the same
      visibility requirement the upload file itself has. If the byte
      scan finds no standard ``<row`` layout (e.g. prefixed
      namespaces), it falls back to the streaming path.

    Shared strings load per task in both strategies, as in any xlsx
    reader. For many-file corpora, call this per file and union —
    tasks from different files parallelize perfectly.
    """
    import pandas as pd  # noqa: PLC0415

    from pyp_etl_pipeline_spark.sources.xlsx import (  # noqa: PLC0415
        count_sheet_rows,
        extract_sheet_sidecar,
        read_rows_sidecar,
        read_rows_slice,
        resolve_sheet_part,
    )

    validate_upload_path(path)
    validate_excel_file(path)
    path = os.path.abspath(path)  # executors must not depend on driver cwd
    part = resolve_sheet_part(path, sheet)

    sidecar = None
    with zipfile.ZipFile(path) as z:
        part_size = z.getinfo(part).file_size  # decompressed
    if not _sidecar_usable(spark.sparkContext.master, sidecar_dir):
        sidecar_threshold = None
    if sidecar_threshold is not None and part_size >= sidecar_threshold:
        sdir = sidecar_dir or _process_sidecar_dir()
        sidecar = os.path.join(
            sdir, f"sheet_{abs(hash((path, part, rows_per_task))):x}.xml"
        )
        n_rows, ranges = extract_sheet_sidecar(path, part, sidecar, rows_per_task)
        if n_rows == 0 and part_size > 0:
            sidecar = None  # non-standard layout: fall back to streaming

    if sidecar is None:
        n_rows = count_sheet_rows(path, part)
    if n_rows == 0:
        raise ValueError("xlsx sheet is empty (no header row)")
    header_rows = read_rows_slice(path, part, 0, 1)
    headers = [(h if h is not None else "") for h in header_rows[0]]
    names = _dataframe_column_names(headers)
    width = len(names)
    schema = StructType([StructField(n, StringType(), True) for n in names])
    if sidecar is not None:
        # (sidecar, xlsx, row_start, byte_start, byte_end); the header
        # row lives in range 0 and is dropped task-side via row_start
        tasks = [(sidecar, path, rs, bs, be) for rs, bs, be in ranges]
    else:
        tasks = [
            (path, part, start, min(start + rows_per_task, n_rows))
            for start in range(1, n_rows, rows_per_task)
        ]
    if not tasks:
        return spark.createDataFrame([], schema)

    def frame(rows: list[list]) -> pd.DataFrame:
        padded = [r[:width] + [None] * (width - len(r)) for r in rows]
        return pd.DataFrame({names[i]: [r[i] for r in padded] for i in range(width)}, dtype=object)

    if sidecar is not None:

        def parse_sidecar_slices(batches):  # pragma: no cover — runs on executors
            for pdf in batches:
                for task in pdf.itertuples(index=False):
                    rows = read_rows_sidecar(
                        task.sidecar, int(task.byte_start), int(task.byte_end), task.xlsx
                    )
                    if int(task.row_start) == 0:
                        rows = rows[1:]  # the header row lives in range 0
                    yield frame(rows)

        task_df = spark.createDataFrame(
            tasks, "sidecar string, xlsx string, row_start long, byte_start long, byte_end long"
        ).repartition(len(tasks))
        return task_df.mapInPandas(parse_sidecar_slices, schema)

    def parse_slices(batches):  # pragma: no cover — runs on executors
        for pdf in batches:
            for task in pdf.itertuples(index=False):
                yield frame(read_rows_slice(task.path, task.part, int(task.start), int(task.end)))

    task_df = spark.createDataFrame(
        tasks, "path string, part string, start long, end long"
    ).repartition(len(tasks))
    return task_df.mapInPandas(parse_slices, schema)


JSONL_EXTENSIONS = {".jsonl", ".ndjson", ".json"}


def read_jsonl_upload(
    spark: SparkSession,
    path: str,
    schema: str | None = None,
    corrupt_col: str = "_corrupt_record",
):
    """JSONL/NDJSON corpus scan — the interchange format of LLM data
    pipelines (one JSON document per line; extension tier, no reference
    counterpart — the reference ingests CSV/Excel uploads only).

    Distributed line-splittable read via ``spark.read.json``; ``.gz``
    members are decompressed transparently by the Hadoop codec (gzip is
    not splittable — at 100 TB ship many shard files, which this reader
    accepts as a directory/glob path, never one giant archive).

    Pass ``schema`` (DDL string) in production: with ``schema=None``
    Spark runs a FULL extra inference pass over the data before the real
    scan — fine for an upload-sized file, a wasted 100 TB read on a
    corpus. PERMISSIVE mode routes malformed lines into ``corrupt_col``
    (schema reads must declare it to capture them) instead of failing
    the job, matching the engine's stray-payload contract elsewhere.
    """
    base = path
    for suffix in (".gz",):
        if base.endswith(suffix):
            base = base[: -len(suffix)]
    ext = os.path.splitext(base)[1].lower()
    if ext and ext not in JSONL_EXTENSIONS:
        raise ValueError(f"not a jsonl upload: {ext}")
    if ".." in path.split(os.sep):
        raise ValueError("path traversal detected")
    reader = (
        spark.read.option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", corrupt_col)
    )
    if schema is not None:
        reader = reader.schema(schema)
    return reader.json(path)
