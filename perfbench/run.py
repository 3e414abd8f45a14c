"""Benchmark of the upload -> review -> push workflow and the query registry.

    python3 perfbench/run.py --workload upload_stream --seed 1 --seconds 10 --trace 0

Run it from the repository root. Both workloads are closed loop with one
client, in one process on local[nproc]:

- ``upload_stream``: reference-shaped member uploads, one after another,
  into a session whose sink, processed-files ledger and dictionaries
  already hold earlier uploads (a fifth of the members return and take
  the MERGE update path). Each upload goes through all three phases with
  simulated review decisions.
- ``registry_mix``: passes over a mix of registry queries on generated
  tables, after one untimed warm-up pass; each result is checked against
  its DuckDB twin.

A run measures whole operations until ``--seconds`` have passed (at least
one). ``--trace 0`` prints the end-to-end metrics; ``--trace 1`` runs the
same work with spans and Spark counters and prints the per-layer metrics.
The last stdout line is one JSON object. Spans go to
``.perfbench_results/`` at the repository root; scratch state to
``.perfbench_work/``, which the next run clears.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import math
import os
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
RESULTS = os.path.join(ROOT, ".perfbench_results")
WORKLOADS = ("upload_stream", "registry_mix")

DRIVER_MEMORY = "2g"   # the session factory's 16g default does not fit a 15 GB host
SETUP_REPS = 3         # set-up repetitions; setup_s counts their median
UPLOAD_ROWS = 500      # member rows per upload
RETURNING_SHARE = 0.2  # share of rows re-submitting a member already in the sink
PRIOR_UPLOADS, PRIOR_ROWS = 3, 400
REGISTRY_SF = 0.002    # scale of the generated registry tables (lineitem = 6M x sf)


def _age_at_import() -> float:
    """Seconds between this process's start (/proc/self/stat) and now."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


_AGE0, _T0 = _age_at_import(), time.perf_counter()
_LOAD0 = os.getloadavg()[0]  # host load before this run adds its own


def process_age() -> float:
    """Seconds since this process started: the clock-tick age at import
    plus a monotonic clock since."""
    return _AGE0 + time.perf_counter() - _T0


def geomean(xs: list[float]) -> float:
    return math.exp(sum(math.log(max(x, 1e-9)) for x in xs) / len(xs))


def start_session(traced: bool):
    import __spark_entry__  # noqa: PLC0415
    from pyp_etl_pipeline_spark.session import get_spark  # noqa: PLC0415

    retain = {"spark.ui.retainedJobs": "100000", "spark.ui.retainedStages": "100000",
              "spark.sql.ui.retainedExecutions": "100000"}
    spark = get_spark(
        "perfbench",
        cpus=os.cpu_count() or 1,
        driver_memory=DRIVER_MEMORY,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.path.join(WORK, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
            # the traced run reads every job, stage and execution back
            **(retain if traced else {}),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    __spark_entry__._ensure_workers_can_import(spark)  # the worker zip
    return spark


def live_heap_mb(spark) -> float:
    """Heap the driver JVM holds after a full collection: what the program
    and Spark retain, whatever size the collector has grown the heap to."""
    jvm = spark.sparkContext._jvm
    jvm.java.lang.System.gc()
    return jvm.java.lang.management.ManagementFactory.getMemoryMXBean().getHeapMemoryUsage().getUsed() / 2**20


def source_key() -> str:
    """Digest of the program's and the benchmark's Python sources, so that
    untraced records of other code are never compared with this code."""
    h = hashlib.md5()
    for d in ("pyp_etl_pipeline_spark", "perfbench"):
        for base, _, files in sorted(os.walk(os.path.join(ROOT, d))):
            for f in sorted(x for x in files if x.endswith(".py")):
                path = os.path.join(base, f)
                h.update(os.path.relpath(path, ROOT).encode())
                with open(path, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()


def canary(spark) -> float:
    """A fixed tiny query, timed; with /proc/loadavg it flags noisy runs."""
    t = time.perf_counter()
    spark.range(200_000).selectExpr("id % 97 AS k", "id").groupBy("k").count().collect()
    return time.perf_counter() - t


def timed_setup(step, reps: int = SETUP_REPS) -> tuple[object, list[float]]:
    """Run a repeatable set-up step ``reps`` times; returns the last result
    and every duration."""
    times, out = [], None
    for k in range(reps):
        t = time.perf_counter()
        out = step(k)
        times.append(time.perf_counter() - t)
    return out, times


# ------------------------------------------------------------------ workloads

def upload_stream(spark, seed: int, seconds: float, tracer) -> dict:
    import gen_upload  # noqa: PLC0415
    import upload_flow as uf  # noqa: PLC0415

    vocab = gen_upload.Vocabulary.build(seed)
    factory = gen_upload.UploadFactory(vocab, seed)
    prior = factory.prior_session(PRIOR_UPLOADS, PRIOR_ROWS)
    st, reps = timed_setup(lambda k: uf.new_state(spark, vocab, prior, os.path.join(WORK, f"state{k}")))
    canary_s = canary(spark)
    uf.install_wrappers(tracer)
    setup_s = process_age() - sum(reps) + statistics.median(reps)

    ops = []
    t_run = time.perf_counter()
    while not ops or time.perf_counter() - t_run < seconds:
        up = factory.new_upload(UPLOAD_ROWS, returning=st.sink_names, returning_share=RETURNING_SHARE)
        t = time.perf_counter()
        try:
            ops.append(uf.run_upload(spark, st, up, seed, tracer, len(ops)))
        except Exception as exc:  # noqa: BLE001 — a failed upload is a failed operation
            traceback.print_exc()
            ops.append(uf.UploadResult(review_ready_s=time.perf_counter() - t, push_s=0.0, rows=up.n_rows,
                                       items=0, failures=[f"{type(exc).__name__}: {exc}"], counts={},
                                       waste={}, catalyst={}))

    ready = [o.review_ready_s for o in ops]
    push = [o.push_s for o in ops]
    total = [o.review_ready_s + o.push_s for o in ops]
    n = len(ops)
    med = statistics.median
    out = {
        "attempted": n,
        "failed": sum(bool(o.failures) for o in ops),
        "failures": [f for o in ops for f in o.failures],
        "setup_s": setup_s,
        "canary_s": canary_s,
        "e2e": {"op_s": med(total), "prep_s": med(ready), "commit_s": med(push)},
        "report": [
            ("review_ready_s", med(ready), "s", n),
            ("push_s", med(push), "s", n),
            ("rows_per_s", sum(o.rows for o in ops) / sum(total), "rows/s", n),
            ("items_per_s", sum(o.items for o in ops) / sum(ready), "items/s", n),
            ("upload_rows", UPLOAD_ROWS, "rows", n),
            *((f"dictionary_{k}", v, "count", 1) for k, v in vocab.stats().items()),
        ],
    }
    if tracer.enabled:
        out["layers"] = upload_layers(tracer, ops, uf)
    return out


def upload_layers(tracer, ops, uf) -> dict[str, float]:
    layers: dict[str, float] = {}
    for s in tracer.spans:
        if s.name.startswith("phase."):
            continue
        layers[f"{s.name}_s"] = layers.get(f"{s.name}_s", 0.0) + s.dur
        layers[f"{s.name}_jobs"] = layers.get(f"{s.name}_jobs", 0.0) + s.jobs
    for key in ("pipeline.rows_in", "pipeline.rows_invalid", "pipeline.items_distinct",
                *(f"pipeline.band.{b}" for b in uf.BANDS), "pipeline.members_pushed",
                "pipeline.members_skipped", "pipeline.new_dim_rows"):
        layers[key] = sum(o.counts.get(key, 0) for o in ops)
    layers["pipeline.sink_rows"] = ops[-1].counts.get("pipeline.sink_rows", 0)
    waste = {k: sum(o.waste.get(k, 0) for o in ops) for k in ("items", "hits", "misses", "pairs", "gram_only",
                                                               "useful")}
    layers.update(uf.waste_ratios(waste))
    good = [o for o in ops if o.review_root is not None]  # uploads that completed
    for phase, roots, wall in (
        ("review", [o.review_root for o in good], sum(o.review_ready_s for o in good)),
        ("push", [o.push_root for o in good], sum(o.push_s for o in good)),
    ):
        layers.update(phase_layers(tracer, phase, roots, wall, [f"{phase}.{i}" for i in range(len(ops))],
                                   [o.catalyst.get(phase, {}) for o in good]))
    return layers


def phase_layers(tracer, phase: str, roots, wall: float, groups: list[str], catalyst: list[dict]):
    out = {f"{phase}.{k}": v for k, v in tracer.engine_stats(groups, wall).items()}
    for k in ("catalyst.analysis_s", "catalyst.optimization_s", "catalyst.planning_s"):
        out[f"{phase}.{k}"] = sum(c.get(k, 0.0) for c in catalyst)
    out[f"{phase}.unattributed_s"] = sum(tracer.self_times(r)["unattributed"] for r in roots)
    return out


def registry_mix(spark, seed: int, seconds: float, tracer) -> dict:
    import gen_tables  # noqa: PLC0415
    import registry_flow as rf  # noqa: PLC0415
    from spans import Tracer  # noqa: PLC0415

    tables, reps = timed_setup(lambda k: _tables(gen_tables, os.path.join(WORK, f"tables{k}"), seed))
    canary_s = canary(spark)
    # one untracked pass first, as bench.py warms up: the timed passes then
    # measure the queries, not JIT compilation and first-use class loading
    rf.run_pass(spark, tables, Tracer(enabled=False), 0)
    setup_s = process_age() - sum(reps) + statistics.median(reps)

    passes, walls, roots, catalyst = [], [], [], []
    t_run = time.perf_counter()
    while not passes or time.perf_counter() - t_run < seconds:
        if tracer.enabled:
            tracer.take_catalyst()
        t = time.perf_counter()
        with tracer.span("phase.registry", op=f"pass{len(passes)}") as root:
            passes.append(rf.run_pass(spark, tables, tracer, len(passes)))
        walls.append(time.perf_counter() - t)
        roots.append(root)
        if tracer.enabled:
            catalyst.append(tracer.take_catalyst())

    cc, con, sqls = rf.oracle(tables)
    failures, failed_ops = [], 0
    for p in passes:
        for q in p:
            f = rf.check_query(cc, con, sqls[q.name], q)
            failures += f
            failed_ops += bool(f)
    per_q = {name: [next(q for q in p if q.name == name) for p in passes] for name in rf.MIX}
    med = statistics.median
    build = {n: med([q.build_s for q in qs]) for n, qs in per_q.items()}
    run = {n: med([q.run_s for q in qs]) for n, qs in per_q.items()}
    total = {n: med([q.build_s + q.run_s for q in qs]) for n, qs in per_q.items()}
    out = {
        "attempted": sum(len(p) for p in passes),
        "failed": failed_ops,
        "failures": failures,
        "setup_s": setup_s,
        "canary_s": canary_s,
        "e2e": {"op_s": geomean(list(total.values())), "prep_s": geomean(list(build.values())),
                "commit_s": geomean(list(run.values()))},
        "report": [
            ("registry_pass_s", med(walls), "s", len(walls)),
            ("query_geomean_s", geomean(list(total.values())), "s", len(passes)),
            ("queries_in_mix", len(rf.MIX), "count", len(passes)),
        ],
    }
    if tracer.enabled:
        layers = {}
        for n in rf.MIX:
            layers[f"registry.{n}.s"] = total[n]
            layers[f"registry.{n}.build_s"] = build[n]
        groups = [f"registry.{n}.{i}" for i in range(len(passes)) for n in rf.MIX]
        layers.update(phase_layers(tracer, "registry", roots, sum(walls), groups, catalyst))
        out["layers"] = layers
    return out


def _tables(gen_tables, path: str, seed: int) -> str:
    gen_tables.write_tables(path, REGISTRY_SF, seed)
    return path


# ------------------------------------------------------------------ metrics

def per_layer_metrics() -> list[tuple[str, str]]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return [(m["name"], m["unit"]) for m in json.load(f)["per_layer"]]


def stop_session(spark) -> None:
    """Stop Spark and wait until the JVM and its Python workers have exited."""
    from spans import child_pids  # noqa: PLC0415

    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    try:
        gateway.shutdown()
    except Exception:  # noqa: BLE001 — already closed
        pass
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001
            proc.kill()
            proc.wait()
    deadline = time.time() + 30
    while child_pids(os.getpid()) and time.time() < deadline:
        time.sleep(0.1)


def prepare() -> bool:
    """Check the program is present, clear the scratch directory and keep
    every temporary file of this process, the JVM and its workers in it."""
    if not os.path.isfile(os.path.join(ROOT, "pyp_etl_pipeline_spark", "__init__.py")):
        print("perfbench: pyp_etl_pipeline_spark/ is missing next to perfbench/", file=sys.stderr)
        return False
    shutil.rmtree(WORK, ignore_errors=True)
    os.makedirs(WORK)
    os.makedirs(RESULTS, exist_ok=True)
    os.environ["TMPDIR"] = WORK
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    # for every JVM spark-submit starts: temporary files in the checkout,
    # no perf-data file in /tmp
    os.environ["_JAVA_OPTIONS"] = f"-Djava.io.tmpdir={WORK} -XX:-UsePerfData"
    sys.path[:0] = [HERE, ROOT]
    return True


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not prepare():
        return 2
    from spans import RssSampler, Tracer  # noqa: PLC0415

    traced = bool(args.trace)
    rss = RssSampler().start()
    spark = start_session(traced)
    session_s = process_age()
    tracer = Tracer(enabled=traced, spark=spark)
    tracer.listen_catalyst()
    try:
        res = (upload_stream if args.workload == "upload_stream" else registry_mix)(
            spark, args.seed, args.seconds, tracer)
        if traced:
            res["layers"]["jvm.live_heap_mb"] = live_heap_mb(spark)
    finally:
        peak_rss_mb = rss.stop()
        stop_session(spark)

    for f in res["failures"]:
        print(f"check failed: {f}")
    ratio = res["failed"] / res["attempted"]
    e2e = {"setup_s": (res["setup_s"], "s"), "peak_rss_mb": (peak_rss_mb, "MB")}
    e2e.update({k: (v, "s") for k, v in res["e2e"].items()})
    print(f"perfbench {args.workload} seed={args.seed} trace={args.trace}: canary {res['canary_s']:.3f} s, "
          f"loadavg {_LOAD0:.2f}, session start {session_s:.2f} s")
    for name, value, unit, n in res["report"]:
        print(f"  {name} = {value:.4f} {unit} (n={n})")
    print(f"  failed_ops_ratio = {ratio:.4f} ratio (n={res['attempted']})")
    for name, (value, unit) in e2e.items():
        print(f"  {name} = {value:.4f} {unit}")

    # untraced op_s per source digest and seed, for the tracing overhead
    record = os.path.join(RESULTS, f"{args.workload}.json")
    runs = json.load(open(record)) if os.path.exists(record) else {}
    same_code = runs.setdefault(source_key(), {})
    if traced:
        layers = dict(res["layers"])
        layers["session.start_s"] = session_s
        layers["checks.failed_ops_ratio"] = ratio
        layers["host.canary_s"] = res["canary_s"]
        layers["host.loadavg"] = _LOAD0
        layers["trace.bookkeeping_s"] = tracer.bookkeeping_s
        base = same_code.get(str(args.seed))
        if base is None:
            print(f"  trace.overhead_s not reported: no untraced run of seed {args.seed} on this code")
        else:
            layers["trace.overhead_s"] = res["e2e"]["op_s"] - base
            print(f"  trace.overhead_s = {layers['trace.overhead_s']:.4f} s (traced op_s - untraced op_s)")
        with open(os.path.join(RESULTS, f"trace_{args.workload}_seed{args.seed}.json"), "w") as f:
            json.dump({"spans": tracer.dump(), "phases": tracer.phase_summary(), "layers": layers}, f, indent=1)
        metrics = {n: {"value": float(layers.get(n, 0.0)), "unit": u} for n, u in per_layer_metrics()}
    else:
        same_code[str(args.seed)] = res["e2e"]["op_s"]
        with open(record, "w") as f:
            json.dump(runs, f)
        metrics = {n: {"value": float(v), "unit": u} for n, (v, u) in e2e.items()}
    print(json.dumps({"correct": res["failed"] == 0, "attempted": res["attempted"], "failed": res["failed"],
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
