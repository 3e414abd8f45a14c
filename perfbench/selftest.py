"""Self-test of the benchmark at tiny sizes.

    python3 perfbench/selftest.py

- the generators are byte-identical for the same seed and differ across
  seeds;
- every header variant the generator emits maps back to its column;
- each output check has teeth: one tiny upload and one registry query
  run for real and pass their checks; then a flipped band, an item in two
  bands, a dropped sink row, a wrong invalid-row reason, a lost skipped
  row, a ledger-gate leak and a perturbed or dropped registry row must each
  register as a failure.

Exits 0 when every item holds.
"""

from __future__ import annotations

import copy
import hashlib
import inspect
import os
import sys
import tempfile

import run

RESULTS: list[tuple[str, bool]] = []


def expect(name: str, ok: bool) -> None:
    RESULTS.append((name, ok))
    print(f"{'PASS' if ok else 'FAIL'} {name}", flush=True)


def digest(path: str) -> str:
    h = hashlib.md5()
    for base, _, files in sorted(os.walk(path)):
        for f in sorted(files):
            with open(os.path.join(base, f), "rb") as fh:
                h.update(f.encode() + fh.read())
    return h.hexdigest()


def generated(seed: int, out: str) -> str:
    import gen_tables  # noqa: PLC0415
    import gen_upload  # noqa: PLC0415

    vocab = gen_upload.Vocabulary.build(seed)
    f = gen_upload.UploadFactory(vocab, seed)
    prior = f.prior_session(2, 50)
    os.makedirs(out)
    f.new_upload(60, returning=prior.names, returning_share=0.2).write(os.path.join(out, "u.csv"))
    gen_tables.write_tables(os.path.join(out, "tables"), 0.0005, seed)
    return digest(out)


def test_determinism() -> None:
    with tempfile.TemporaryDirectory() as d:
        a, b, c = (generated(s, os.path.join(d, n)) for s, n in ((5, "a"), (5, "b"), (6, "c")))
    expect("generator is byte-identical for the same seed", a == b)
    expect("generator differs across seeds", a != c)


def test_headers() -> None:
    import gen_upload  # noqa: PLC0415
    from pyp_etl_pipeline_spark.plans.header_map import map_headers_to_schema  # noqa: PLC0415

    bad = [(c, h) for c, hs in gen_upload.HEADER_VARIANTS.items() for h in hs
           if map_headers_to_schema([h]).rename_dict().get(h) != c]
    expect("every header variant maps to its column", not bad)


def test_upload_teeth(spark) -> None:
    import gen_upload  # noqa: PLC0415
    import upload_flow as uf  # noqa: PLC0415
    from spans import Tracer  # noqa: PLC0415

    seen = {}
    real = uf.check_upload

    def capture(*args):
        seen["args"] = args
        return real(*args)

    uf.check_upload = capture
    vocab = gen_upload.Vocabulary.build(3)
    f = gen_upload.UploadFactory(vocab, 3)
    prior = f.prior_session(2, 50)
    st = uf.new_state(spark, vocab, prior, os.path.join(run.WORK, "selftest_state"))
    up = f.new_upload(60, returning=st.sink_names, returning_share=0.2)
    res = uf.run_upload(spark, st, up, 3, Tracer(enabled=False), 0)
    uf.check_upload = real
    expect(f"tiny upload passes its checks {res.failures}", not res.failures)

    def fails_with(mutate) -> bool:
        """Run the check on a mutated copy of the real outputs."""
        bound = inspect.signature(real).bind(*copy.deepcopy(seen["args"]))
        mutate(bound.arguments)
        return bool(real(*bound.args))

    def wrong_reason(a):
        phone, reason = a["invalid_rows"][0]
        a["invalid_rows"][0] = (phone, "invalid email" if reason != "invalid email" else "missing country")

    a0 = inspect.signature(real).bind(*seen["args"]).arguments
    hit = next(i for i, r in enumerate(a0["res_rows"]) if (r["kind"], r["item"].lower()) in up.exact)
    expect("flipped band is caught", fails_with(lambda a: a["res_rows"][hit].update(band="review")))
    expect("item in two bands is caught",
           fails_with(lambda a: a["res_rows"].append(dict(a["res_rows"][hit], band="reject"))))
    expect("dropped sink row is caught", fails_with(lambda a: a["sink_names"].pop()))
    expect("wrong invalid-row reason is caught", bool(a0["invalid_rows"]) and fails_with(wrong_reason))
    expect("lost skipped row is caught", bool(a0["skipped"]) and fails_with(lambda a: a["skipped"].pop()))
    expect("ledger gate leak is caught", fails_with(lambda a: a.update(reupload_rows=1)))


def test_registry_teeth(spark) -> None:
    import gen_tables  # noqa: PLC0415
    import registry_flow as rf  # noqa: PLC0415
    from spans import Tracer  # noqa: PLC0415

    tables = os.path.join(run.WORK, "selftest_tables")
    gen_tables.write_tables(tables, 0.0005, 3)
    rf.MIX = ("w03_sessionize_30m",)
    q = rf.run_pass(spark, tables, Tracer(enabled=False), 0)[0]
    cc, con, sqls = rf.oracle(tables)
    expect("registry query matches its DuckDB twin", not rf.check_query(cc, con, sqls[q.name], q))
    bad = copy.deepcopy(q)
    row = list(bad.rows[0])
    k = next(i for i, v in enumerate(row) if isinstance(v, (int, float)) and not isinstance(v, bool))
    row[k] = row[k] + 1
    bad.rows[0] = tuple(row)
    expect("perturbed registry value is caught", bool(rf.check_query(cc, con, sqls[q.name], bad)))
    bad.rows = q.rows[1:]
    expect("dropped registry row is caught", bool(rf.check_query(cc, con, sqls[q.name], bad)))


def main() -> int:
    if not run.prepare():
        return 2
    test_determinism()
    test_headers()
    spark = run.start_session(False)
    try:
        test_upload_teeth(spark)
        test_registry_teeth(spark)
    finally:
        run.stop_session(spark)
    failed = [n for n, ok in RESULTS if not ok]
    print(f"{len(RESULTS) - len(failed)}/{len(RESULTS)} self-test items hold")
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
