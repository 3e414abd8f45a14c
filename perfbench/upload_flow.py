"""The reference's upload -> review -> push workflow, driven through the
program's public functions, one upload at a time (closed loop, one client).

State (sink, processed-files ledger, dictionaries) lives in versioned
snapshots under one state directory and carries across uploads. Timed
regions cover only program work; decisions, checks and counters run
outside them.
"""

from __future__ import annotations

import json
import os
import time
from dataclasses import dataclass

import pyarrow as pa
import pyarrow.parquet as pq

from pyspark import StorageLevel
from pyspark.sql import functions as F

from gen_upload import ITEM_KINDS, Prior, Upload, Vocabulary, review_decisions
from pyp_etl_pipeline_spark import pipeline
from pyp_etl_pipeline_spark.operators import resolve, upsert
from pyp_etl_pipeline_spark.sources import ingest, reports, sinks

BANDS = ("auto_resolve", "review", "reject")


@dataclass
class State:
    root: str
    countries: object  # DataFrame
    sink_names: set[str]
    version: int = 0

    def path(self, name: str) -> str:
        return os.path.join(self.root, name)


def new_state(spark, vocab: Vocabulary, prior: Prior, root: str) -> State:
    """A fresh state directory holding what earlier uploads of the session
    left: dictionaries (with the rows they created), sink and ledger, each
    a versioned snapshot in the layout ``sources.sinks`` reads. Written
    with pyarrow, so set-up runs no Spark job."""
    dims = [(k, t, i) for k, rows in vocab.dims.items() for t, i in rows] + prior.created_dims
    _snapshot(root + "/dims", ("kind", "title", "ext_id"), dims)
    _snapshot(root + "/sink", ("businessName", "contactEmail", "source_file"), prior.sink)
    _snapshot(root + "/ledger", ("source_file",), [(n,) for n in prior.ledger])
    os.makedirs(root + "/countries")
    _parquet(root + "/countries/part-00000.parquet", ("title", "countryID"), vocab.countries)
    return State(root=root, countries=spark.read.parquet(root + "/countries"), sink_names=prior.names)


def _parquet(path: str, names: tuple[str, ...], rows: list[tuple]) -> None:
    cols = list(zip(*rows)) if rows else [()] * len(names)
    pq.write_table(pa.table({n: pa.array(c, pa.string()) for n, c in zip(names, cols)}), path)


def _snapshot(root: str, names: tuple[str, ...], rows: list[tuple]) -> None:
    snap = os.path.join(root, "v=00000")
    os.makedirs(snap)
    _parquet(os.path.join(snap, "part-00000.parquet"), names, rows)
    with open(os.path.join(root, "_CURRENT"), "w") as f:
        json.dump({"version": "00000", "path": snap}, f)


def install_wrappers(tracer) -> None:
    """Spans for the layer calls the pipeline makes internally."""
    tracer.wrap(pipeline, "map_headers_to_schema", "plans.header_map")
    tracer.wrap(pipeline, "similarity_resolve", "operators.resolve.similarity_resolve")
    tracer.wrap(pipeline, "apply_decisions", "operators.review.apply_decisions")


@dataclass
class UploadResult:
    review_ready_s: float
    push_s: float
    rows: int
    items: int
    failures: list[str]
    counts: dict[str, float]
    waste: dict[str, float]
    catalyst: dict[str, dict]
    review_root: object = None
    push_root: object = None


def run_upload(spark, st: State, up: Upload, seed: int, tracer, idx: int) -> UploadResult:
    path = st.path(up.name)
    if not os.path.exists(path):
        up.write(path)
    st.version += 1
    ver = f"{st.version:05d}"
    sc = spark.sparkContext

    # ---- phase 2 view: file on disk -> resolution, review queue, invalid rows materialized
    catalyst = {}
    if tracer.enabled:
        tracer.take_catalyst()  # drop what set-up planned
        sc.setJobGroup(f"review.{idx}", up.name)
    t0 = time.perf_counter()
    with tracer.span("phase.review", op=up.name) as review_root:
        with tracer.span("sources.read"):
            raw = ingest.read_csv_upload(spark, path)
        with tracer.span("pipeline.ingest_phase"):
            plan = pipeline.ingest_phase(raw)
        with tracer.span("sources.sink_write"):
            ledger = sinks.read_current_snapshot(spark, st.path("ledger"))
            dims_all = sinks.read_current_snapshot(spark, st.path("dims"))
        dims = {k: dims_all.filter(F.col("kind") == k).select("title", "ext_id") for k in ITEM_KINDS}
        with tracer.span("pipeline.etl_phase"):
            etl = pipeline.etl_phase(plan.normalized, dims, source_file=up.name, ledger=ledger)
        with tracer.span("bench.materialize"):
            # the review queue is derived from the resolution; cache it so
            # the three outputs cost one resolution pass, as a staging
            # table would
            etl.resolution.persist(StorageLevel.MEMORY_AND_DISK)
            resolution = etl.resolution.localCheckpoint(eager=True)
            reviews = etl.reviews.localCheckpoint(eager=True)
            invalid = etl.invalid_rows.localCheckpoint(eager=True)
    review_ready_s = time.perf_counter() - t0
    if tracer.enabled:
        catalyst["review"] = tracer.take_catalyst()

    # ---- the human in the loop (untimed)
    res_rows = [r.asDict() for r in resolution.select("kind", "item", "band", "matched_id", "score").collect()]
    queue = [r["item"] for r in reviews.select("item").collect()]
    decisions = spark.createDataFrame(review_decisions(queue, seed),
                                      "item string, action string, chosen_ext_id string")

    # ---- phase 3: decisions submitted -> sink committed, dims + ledger + audit CSVs written
    if tracer.enabled:
        sc.setJobGroup(f"push.{idx}", up.name)
    t2 = time.perf_counter()
    with tracer.span("phase.push", op=up.name) as push_root:
        done = pipeline.EtlResult(members=etl.members, invalid_rows=invalid, items=etl.items,
                                  resolution=resolution, reviews=reviews)
        with tracer.span("sources.sink_write"):
            sink = sinks.read_current_snapshot(spark, st.path("sink"))
        with tracer.span("pipeline.push_phase"):
            push = pipeline.push_phase(done, st.countries, sink, dims, decisions=decisions)
        new_rows = None
        for k, nd in push.new_dim_rows.items():
            part = nd.select(F.lit(k).alias("kind"), "title", "ext_id")
            new_rows = part if new_rows is None else new_rows.unionByName(part)
        with tracer.span("sources.sink_write"):
            sinks.write_versioned_snapshot(push.merged_sink, st.path("sink"), ver)
            sinks.write_versioned_snapshot(dims_all.unionByName(new_rows), st.path("dims"), ver)
            sinks.write_versioned_snapshot(
                ledger.unionByName(spark.createDataFrame([(up.name,)], "source_file string")),
                st.path("ledger"), ver)
        with tracer.span("sources.reports"):
            processed, errors, created = reports.build_audit_reports(
                up.name, resolution, invalid, push.new_dim_rows)
            out = st.path(f"reports/{ver}")
            for name, df in (("processed", processed), ("errors", errors), ("created", created)):
                reports.write_report_csv(df, f"{out}/{name}")
        with tracer.span("bench.summary"):
            summary = {r["metric"]: r["n"] for r in push.summary.collect()}
    push_s = time.perf_counter() - t2
    if tracer.enabled:
        catalyst["push"] = tracer.take_catalyst()
        sc.setJobGroup("untimed", "checks")

    # ---- output checks (untimed)
    invalid_rows = [(r["phone"], r["error"]) for r in invalid.select("phone", "error").collect()]
    skipped = [r["phone"] for r in push.skipped_members.select("phone").collect()]
    sink_now = sinks.read_current_snapshot(spark, st.path("sink"))
    sink_names = [r[0] for r in sink_now.select("businessName").collect()]
    n_items = etl.items.select("kind", "item").distinct().count()
    # the same file uploaded again must pass the ledger gate as a no-op
    ledger_now = sinks.read_current_snapshot(spark, st.path("ledger"))
    again = upsert.processed_files_gate(
        plan.normalized.withColumn("source_file", F.lit(up.name)), ledger_now).count()
    expected_sink = st.sink_names | up.pushed_names
    failures = check_upload(up, res_rows, invalid_rows, skipped, sink_names, expected_sink, summary,
                            n_items, again)
    st.sink_names = expected_sink
    etl.resolution.unpersist()

    counts = {
        "pipeline.rows_in": up.n_rows,
        "pipeline.rows_invalid": len(invalid_rows),
        "pipeline.items_distinct": n_items,
        **{f"pipeline.band.{b}": sum(r["band"] == b for r in res_rows) for b in BANDS},
        "pipeline.members_pushed": summary.get("members_pushed", 0),
        "pipeline.members_skipped": summary.get("members_skipped", 0),
        "pipeline.sink_rows": len(sink_names),
    }
    waste = {}
    if tracer.enabled:  # counters only the per-layer metrics need
        counts["pipeline.new_dim_rows"] = new_rows.count()
        waste = waste_counts(etl, res_rows, dims)
    return UploadResult(review_ready_s, push_s, up.n_rows, len(res_rows), failures, counts, waste,
                        catalyst, review_root, push_root)


def check_upload(up: Upload, res_rows: list[dict], invalid_rows: list[tuple[str, str]], skipped: list[str],
                 sink_names: list[str], expected_sink: set[str], summary: dict, n_items: int,
                 reupload_rows: int) -> list[str]:
    """Compare one upload's outputs with the generator's ground truth.
    Returns one message per failed check."""
    fails = []
    by_key: dict[tuple[str, str], list[dict]] = {}
    for r in res_rows:
        by_key.setdefault((r["kind"], r["item"].lower()), []).append(r)
    if any(len(v) > 1 for v in by_key.values()) or any(r["band"] not in BANDS for r in res_rows):
        fails.append("an item is in more than one band or in none")
    if len(res_rows) != n_items:
        fails.append(f"resolution has {len(res_rows)} rows for {n_items} distinct items")
    wrong = [k for k, ext in up.exact.items()
             if not by_key.get(k) or by_key[k][0]["band"] != "auto_resolve" or by_key[k][0]["matched_id"] != ext]
    if wrong:
        fails.append(f"{len(wrong)} exact dictionary variants not auto-resolved to their id, e.g. {wrong[0]}")
    got_invalid = dict(invalid_rows)
    if len(got_invalid) != len(invalid_rows) or got_invalid != up.invalid:
        fails.append(f"invalid rows differ: {len(got_invalid)} reported, {len(up.invalid)} planted")
    if sorted(skipped) != sorted(up.skipped):
        fails.append(f"skipped rows differ: {len(skipped)} reported, {len(up.skipped)} off-whitelist")
    if len(sink_names) != len(expected_sink) or set(sink_names) != expected_sink:
        fails.append(f"sink has {len(sink_names)} rows, expected {len(expected_sink)} (prior + inserts)")
    if summary.get("members_pushed") != len(up.pushed_names) or summary.get("members_skipped") != len(up.skipped):
        fails.append(f"push summary {summary} disagrees with {len(up.pushed_names)} pushed")
    if reupload_rows:
        fails.append(f"re-uploading the same file let {reupload_rows} rows past the ledger gate")
    return fails


def waste_counts(etl, res_rows: list[dict], dims: dict) -> dict[str, float]:
    """Resolution work counted by extra queries (traced run only): exact
    hits, candidate pairs, exact misses that fall back to n-gram blocking,
    and non-reject fuzzy items. ``waste_ratios`` turns sums of these into
    the four ratios."""
    items = etl.items.select("kind", "item").distinct()
    n_items = hits = misses = pairs = gram_only = 0
    for kind, dim in dims.items():
        it = items.filter(F.col("kind") == kind).select("item")
        exact = resolve.exact_resolve(it, dim)
        miss = exact.filter(~F.col("resolved")).select("item").localCheckpoint(eager=True)
        n_kind = it.count()
        n_miss = miss.count()
        n_items += n_kind
        misses += n_miss
        hits += n_kind - n_miss
        if n_miss:
            pairs += resolve.fuzzy_candidates(miss, dim).count()
            covered = resolve.fuzzy_candidates(miss, dim, ngram_fallback=False).select("__item").distinct().count()
            gram_only += n_miss - covered
    useful = sum(r["band"] != "reject" for r in res_rows) - hits
    return {"items": n_items, "hits": hits, "misses": misses, "pairs": pairs, "gram_only": gram_only,
            "useful": useful}


def waste_ratios(c: dict[str, float]) -> dict[str, float]:
    def ratio(a: float, b: float) -> float:
        return a / b if b else 0.0

    return {
        "operators.resolve.exact_hit_ratio": ratio(c["hits"], c["items"]),
        "operators.resolve.pairs_per_miss": ratio(c["pairs"], c["misses"]),
        "operators.resolve.gram_fallback_ratio": ratio(c["gram_only"], c["misses"]),
        "operators.resolve.useful_pair_ratio": ratio(c["useful"], c["pairs"]),
    }

