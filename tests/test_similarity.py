"""Embedding similarity search: brute-force cosine top-k (exact baseline)
vs LSH-bucketed top-k (scale path), and near-dup pairs."""

from __future__ import annotations

import math

import pytest

from pyp_etl_pipeline_spark.operators import similarity


def unit(angle_deg: float, dim: int = 4) -> list[float]:
    a = math.radians(angle_deg)
    v = [math.cos(a), math.sin(a)] + [0.0] * (dim - 2)
    return v


@pytest.fixture(scope="module")
def vectors(spark):
    rows = [
        (1, unit(0.0)),
        (2, unit(5.0)),     # ~cos 0.996 vs v1
        (3, unit(45.0)),
        (4, unit(90.0)),    # orthogonal to v1
        (5, unit(180.0)),   # opposite of v1
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def test_brute_force_topk_exact_order(spark, vectors):
    queries = spark.createDataFrame([(100, unit(0.0))], "query_id long, query_vec array<double>")
    out = similarity.brute_force_topk(vectors, queries, k=3).collect()
    assert [r["neighbor_id"] for r in out] == [1, 2, 3]
    assert out[0]["cosine"] == pytest.approx(1.0)
    assert out[1]["cosine"] == pytest.approx(math.cos(math.radians(5.0)), abs=1e-5)


def test_brute_force_excludes_self(spark, vectors):
    queries = spark.createDataFrame([(1, unit(0.0))], "query_id long, query_vec array<double>")
    out = similarity.brute_force_topk(vectors, queries, k=5).collect()
    assert all(r["neighbor_id"] != 1 for r in out)


def test_lsh_topk_finds_close_neighbors(spark, vectors):
    queries = spark.createDataFrame([(100, unit(1.0))], "query_id long, query_vec array<double>")
    out = similarity.lsh_topk(vectors, queries, k=3, n_planes=2, dim=4).collect()
    got = [r["neighbor_id"] for r in out]
    # near-identical vectors land in the query's sign bucket
    assert 1 in got and 2 in got
    # LSH ranks within-bucket candidates by exact cosine
    assert got == sorted(got, key=lambda i: dict((r["neighbor_id"], -r["cosine"]) for r in out)[i])


def test_cosine_neardup_exact_vs_lsh(spark, vectors):
    exact = {
        (r["id_a"], r["id_b"])
        for r in similarity.cosine_neardup_pairs(vectors, threshold=0.99, exact=True).collect()
    }
    assert exact == {(1, 2)}
    approx = {
        (r["id_a"], r["id_b"])
        for r in similarity.cosine_neardup_pairs(vectors, threshold=0.99, n_planes=2, dim=4).collect()
    }
    # LSH candidates are a subset of exact pairs with no false positives
    assert approx <= exact


def test_cosine_neardup_lsh_full_recall_on_exact_dups(spark):
    """Identical vectors always share a sign bucket — the bucketed path
    has recall 1.0 on true duplicates, the case that matters for a
    dedup pipeline (pinned so nd01's registered plan stays honest)."""
    base = [(i, unit(i * 17.0)) for i in range(1, 9)]
    dups = [(i + 100, v) for i, v in base]  # exact copies under new ids
    df = spark.createDataFrame(base + dups, "vec_id long, embedding array<double>")
    got = {
        (r["id_a"], r["id_b"])
        for r in similarity.cosine_neardup_pairs(df, threshold=0.999, n_planes=2, dim=4).collect()
    }
    expected = {(i, i + 100) for i, _ in base}
    assert expected <= got


def test_derive_n_planes_scales_with_corpus():
    from pyp_etl_pipeline_spark.operators.similarity import derive_n_planes

    # small corpora: one plane (two buckets) is enough
    assert derive_n_planes(100) == 1
    assert derive_n_planes(1024) == 1
    # planes grow logarithmically: expected bucket stays ~target rows
    assert derive_n_planes(1024 * 16) == 4
    assert derive_n_planes(1024 * 1024) == 10
    # monotone in corpus size, capped for bounded bucket-id width
    sizes = [10**3, 10**5, 10**7, 10**9, 10**12]
    planes = [derive_n_planes(n) for n in sizes]
    assert planes == sorted(planes)
    assert planes[-1] == 16
    # custom target shifts the knee
    assert derive_n_planes(10**6, target_bucket_rows=10**5) == 4


def test_lsh_topk_multiprobe_recall_superset(spark):
    """Radius-1 multi-probe must recover at least the single-probe pairs
    (same planes, strictly more probed buckets) — and on a fixture built
    to straddle one hyperplane it recovers strictly more."""
    import random

    random.seed(7)
    dim = 8
    vectors = [(i, [random.uniform(-1, 1) for _ in range(dim)]) for i in range(40)]
    queries = [(100 + i, vectors[i][1]) for i in range(6)]
    vdf = spark.createDataFrame(vectors, "vec_id long, embedding array<double>")
    qdf = spark.createDataFrame(queries, "query_id long, query_vec array<double>")

    single = {
        (r["query_id"], r["neighbor_id"])
        for r in similarity.lsh_topk(vdf, qdf, k=40, n_planes=3, dim=dim).collect()
    }
    multi = {
        (r["query_id"], r["neighbor_id"])
        for r in similarity.lsh_topk(vdf, qdf, k=40, n_planes=3, dim=dim, multiprobe=True).collect()
    }
    assert single <= multi
    assert len(multi) > len(single)


def test_lsh_topk_adaptive_planes_small_corpus(spark):
    """n_planes=None on a tiny corpus -> 1 plane (2 buckets), and the
    result stays a valid top-k (rank contiguous from 1 per query)."""
    import random

    random.seed(11)
    dim = 4
    vdf = spark.createDataFrame(
        [(i, [random.uniform(-1, 1) for _ in range(dim)]) for i in range(30)],
        "vec_id long, embedding array<double>",
    )
    qdf = spark.createDataFrame(
        [(100, [0.5, -0.2, 0.1, 0.9])], "query_id long, query_vec array<double>"
    )
    out = similarity.lsh_topk(vdf, qdf, k=5, dim=dim).collect()
    assert 0 < len(out) <= 5
    assert [r["rank"] for r in sorted(out, key=lambda r: r["rank"])] == list(range(1, len(out) + 1))


def test_estimate_rows_parquet_no_job(spark):
    """estimate_rows on a file scan reads plan statistics only — no Spark
    job runs (the point of removing the plan-time corpus count), and the
    estimate lands within an order of magnitude of the true count."""
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    tracker = spark.sparkContext.statusTracker()
    before = len(tracker.getJobIdsForGroup(None) or [])
    est = similarity.estimate_rows(emb)
    after = len(tracker.getJobIdsForGroup(None) or [])
    assert after == before, "estimate_rows launched a Spark job on a file scan"
    true_n = emb.count()
    assert true_n / 10 <= est <= true_n * 10


def test_kmeans_separates_blobs(spark):
    from pyp_etl_pipeline_spark.operators import similarity

    # 3 tight, well-separated 4-d blobs; ids interleaved across blobs
    base = {0: [1.0, 0.0, 0.0, 0.0], 1: [0.0, 1.0, 0.0, 0.0], 2: [0.0, 0.0, 1.0, 0.0]}
    rows = []
    for i in range(30):
        b = i % 3
        rows.append((i, [v + (0.001 * (i % 5)) for v in base[b]]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    cents = similarity.kmeans_fit(df, k=3, n_iter=3, dim=4)
    assert len(cents) == 3 and all(len(c) == 4 for c in cents)
    out = similarity.kmeans_assign(df, cents).collect()
    # every blob maps to exactly one cluster and vice versa
    mapping = {}
    for r in out:
        blob = r["id"] % 3
        mapping.setdefault(blob, set()).add(r["cluster_id"])
    assert all(len(s) == 1 for s in mapping.values())
    assert len({next(iter(s)) for s in mapping.values()}) == 3
    # distances are small within a tight blob (micro-units squared)
    assert all(r["dist"] < 10**8 for r in out)


def test_kmeans_empty_cluster_keeps_previous_centroid(spark):
    from pyp_etl_pipeline_spark.operators import similarity

    # k=3 over 2 distinct points: one seed cluster ends up empty and
    # must carry its previous centroid instead of crashing
    rows = [(0, [0.0, 0.0]), (1, [1.0, 1.0]), (2, [1.0, 1.0]), (3, [0.0, 0.0])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = similarity.kmeans_fit(df, k=3, n_iter=2, dim=2)
    assert len(cents) == 3
    out = similarity.kmeans_assign(df, cents).collect()
    assert len(out) == 4


def test_ivf_topk_with_trained_centroids(spark):
    from pyp_etl_pipeline_spark.operators import similarity

    rows = [(i, [float(i % 4 == j) + 0.01 * (i % 3) for j in range(4)]) for i in range(40)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = df.filter("vec_id < 4").selectExpr("vec_id AS query_id", "embedding AS query_vec")

    cents = similarity.kmeans_centroids_df(spark, similarity.kmeans_fit(df, k=4, n_iter=2, dim=4))
    out = similarity.ivf_topk(df, q, k=3, nprobe=2, centroids=cents).collect()
    assert len(out) == 4 * 3
    # the nearest neighbor of each query shares its one-hot direction
    best = {r["query_id"]: r["neighbor_id"] for r in out if r["rank"] == 1}
    assert all((qid % 4) == (nid % 4) for qid, nid in best.items())


def test_semantic_dedup_drops_higher_id_within_cluster(spark):
    from pyp_etl_pipeline_spark.operators import similarity

    # two tight blobs (near-dup groups) plus one isolated vector; the
    # three SMALLEST ids (= the kmeans seeds) span the three groups so
    # the quantizer starts one centroid per blob
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (5, [0.999, 0.001, 0.0, 0.0]),   # near-dup of 0
        (6, [0.998, 0.002, 0.0, 0.0]),   # near-dup of 0 and 5
        (1, [0.0, 1.0, 0.0, 0.0]),
        (7, [0.0, 0.999, 0.001, 0.0]),   # near-dup of 1
        (2, [0.0, 0.0, 0.0, 1.0]),       # isolated — must be kept
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = similarity.kmeans_fit(df, k=3, n_iter=2, dim=4)
    out = similarity.semantic_dedup(df, cents, threshold=0.99).collect()

    dropped = {r["id"]: r for r in out}
    # lowest id of each group survives; every dropped row names a
    # LOWER-id keeper in the same cluster
    assert set(dropped) == {5, 6, 7}
    assert dropped[5]["kept_by"] == 0 and dropped[6]["kept_by"] == 0
    assert dropped[7]["kept_by"] == 1
    assert all(r["kept_by"] < r["id"] for r in out)
    assert all(r["cos_to_keeper"] >= 0.99 for r in out)


def test_semantic_dedup_no_pairs_below_threshold(spark):
    from pyp_etl_pipeline_spark.operators import similarity

    # orthogonal vectors: nothing is semantically duplicated
    rows = [(i, [float(i == j) for j in range(4)]) for i in range(4)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = similarity.kmeans_fit(df, k=2, n_iter=1, dim=4)
    assert similarity.semantic_dedup(df, cents, threshold=0.5).count() == 0


def test_kmeans_fit_sample_fraction_trains_usable_quantizer(spark):
    from pyp_etl_pipeline_spark.operators import similarity

    # 3 tight blobs; a 50% keyed sample still sees every blob, so the
    # sampled fit must separate them exactly like the full fit
    base = {0: [1.0, 0.0, 0.0, 0.0], 1: [0.0, 1.0, 0.0, 0.0], 2: [0.0, 0.0, 1.0, 0.0]}
    rows = [(i, [v + 0.001 * (i % 5) for v in base[i % 3]]) for i in range(60)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    cents = similarity.kmeans_fit(df, k=3, n_iter=3, dim=4, sample_fraction=0.5)
    out = similarity.kmeans_assign(df, cents).collect()
    mapping = {}
    for r in out:
        mapping.setdefault(r["id"] % 3, set()).add(r["cluster_id"])
    assert all(len(s) == 1 for s in mapping.values())
    assert len({next(iter(s)) for s in mapping.values()}) == 3
    # deterministic: the same call yields the same centroids
    assert cents == similarity.kmeans_fit(df, k=3, n_iter=3, dim=4, sample_fraction=0.5)


def test_semantic_dedup_single_cluster_equals_exact_pair_rule(spark):
    """With k=1 (one cluster) semantic_dedup must equal the plain
    pairwise rule: drop exactly the ids that have ANY lower-id neighbor
    with cosine >= t, keeping the minimal such neighbor."""
    import random

    from pyp_etl_pipeline_spark.operators import similarity

    random.seed(3)
    rows = [(i, [random.uniform(-1, 1) for _ in range(4)]) for i in range(25)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = similarity.kmeans_fit(df, k=1, n_iter=1, dim=4)
    got = {r["id"]: r["kept_by"] for r in similarity.semantic_dedup(df, cents, threshold=0.8).collect()}

    # reference computation in python
    import math

    def cos(a, b):
        d = sum(x * y for x, y in zip(a, b))
        return d / (math.sqrt(sum(x * x for x in a)) * math.sqrt(sum(x * x for x in b)))

    expect = {}
    for i, vi in rows:
        lows = [j for j, vj in rows if j < i and cos(vj, vi) >= 0.8]
        if lows:
            expect[i] = min(lows)
    assert got == expect


def test_kmeans_fit_validates_inputs(spark):
    """Too few vectors for k seeds must raise a clear ValueError (not an
    IndexError deep in the fit loop), and a wrong `dim` argument must be
    harmless: the dimensionality is derived from the data."""
    import pytest as _pytest

    from pyp_etl_pipeline_spark.operators import similarity

    rows = [(i, [float(i), 1.0, 0.0, 2.0]) for i in range(3)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    with _pytest.raises(ValueError, match="at least k=5"):
        similarity.kmeans_fit(df, k=5, n_iter=1)
    # dim=64 vs actual 4 components: derived, no KeyError
    cents = similarity.kmeans_fit(df, k=2, n_iter=1, dim=64)
    assert all(len(c) == 4 for c in cents)


def test_pq_fit_encode_adc_exact_small(spark):
    """PQ end-to-end on a hand-checkable corpus: codebooks replay the
    per-subspace integer Lloyd's contract, encoding picks the nearest
    code (ties to smaller), and every ADC distance equals the exact
    integer L2 between the query's micro vector and the RECONSTRUCTED
    (codebook-decoded) neighbor — the defining PQ identity."""
    from pyp_etl_pipeline_spark.operators import similarity

    from pyspark.sql import functions as F

    rows = [(i, [float(i % 3), float((i * 7) % 5), float(i % 2), 1.0]) for i in range(12)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    books = similarity.pq_fit(df, m=2, ksub=2, n_iter=1)
    assert len(books) == 2 and all(len(b) == 2 and len(b[0]) == 2 for b in books)

    q = df.filter("vec_id = 0").select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    got = {r["neighbor_id"]: r for r in similarity.pq_topk(df, q, books, k=11).collect()}
    assert len(got) == 11 and 0 not in got  # self excluded, all ranked

    # python reference: encode + ADC
    def micro(v):
        import math
        return [int(math.floor(x * 1_000_000 + 0.5)) for x in v]

    def code_of(sub, book):
        ds = [(sum((a - b) ** 2 for a, b in zip(sub, c)), j) for j, c in enumerate(book)]
        return min(ds)[1]

    qm = micro(rows[0][1])
    for i, emb in rows[1:]:
        xm = micro(emb)
        adc = 0
        for s in range(2):
            c = code_of(xm[s * 2 : (s + 1) * 2], books[s])
            adc += sum((a - b) ** 2 for a, b in zip(qm[s * 2 : (s + 1) * 2], books[s][c]))
        assert got[i]["adc_dist"] == adc, i
    # ranks ordered by (adc, id)
    ordered = sorted(got.values(), key=lambda r: (r["adc_dist"], r["neighbor_id"]))
    assert [r["rank"] for r in ordered] == list(range(1, 12))


def test_pq_fit_validations(spark):
    import pytest as _pytest

    from pyp_etl_pipeline_spark.operators import similarity

    df = spark.createDataFrame([(1, [1.0, 2.0, 3.0])], "vec_id long, embedding array<double>")
    with _pytest.raises(ValueError, match="not divisible"):
        similarity.pq_fit(df, m=2, ksub=1, n_iter=1)
    with _pytest.raises(ValueError, match="at least ksub"):
        similarity.pq_fit(df, m=3, ksub=4, n_iter=1)


def test_ivfpq_fit_fused_equals_separate(spark):
    """The fused trainer must be BIT-IDENTICAL to kmeans_fit + pq_fit run
    separately (ann06's oracle replays the two separate stage contracts,
    so any drift here is a driver hash failure). Covers k != ksub and
    n_iter > 1, plus the sample_fraction=1.0 path (VERDICT r7 item 7:
    the documented 100 TB fit path gets a green test)."""
    import random

    from pyp_etl_pipeline_spark.operators import similarity

    random.seed(11)
    rows = [(i, [random.uniform(-1, 1) for _ in range(16)]) for i in range(60)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    for k, m, ksub, n_iter in ((4, 4, 4, 1), (6, 2, 3, 2)):
        want_c = similarity.kmeans_fit(emb, k=k, n_iter=n_iter)
        want_b = similarity.pq_fit(emb, m=m, ksub=ksub, n_iter=n_iter)
        got_c, got_b = similarity.ivfpq_fit(emb, k=k, m=m, ksub=ksub, n_iter=n_iter)
        assert got_c == want_c, (k, m, ksub, n_iter)
        assert got_b == want_b, (k, m, ksub, n_iter)
    # fraction=1.0 keeps every row -> identical codebooks to the unsampled fit
    sc, sb = similarity.ivfpq_fit(emb, k=4, m=4, ksub=4, n_iter=1, sample_fraction=1.0)
    fc, fb = similarity.ivfpq_fit(emb, k=4, m=4, ksub=4, n_iter=1)
    assert (sc, sb) == (fc, fb)
    with pytest.raises(ValueError, match="not divisible"):
        similarity.ivfpq_fit(emb, k=4, m=3, ksub=4, n_iter=1)
    with pytest.raises(ValueError, match="at least max"):
        similarity.ivfpq_fit(emb.limit(3), k=4, m=4, ksub=4, n_iter=1)


def test_ivfpq_refine_recovers_exact_topk(spark):
    """With nprobe = k_coarse and a shortlist covering the whole corpus,
    the refined ranking must equal the exact integer-L2 brute-force
    top-k — ADC error can only reorder candidates, and refine erases
    that within the shortlist. Also: refined exact_dist is the true
    micro L2 (checked against a python reference), and a small r_factor
    still returns k rows per query."""
    import math
    import random

    from pyp_etl_pipeline_spark.operators import similarity

    random.seed(13)
    rows = [(i, [random.uniform(-1, 1) for _ in range(16)]) for i in range(60)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    q = emb.filter("vec_id % 15 = 0").selectExpr("vec_id AS query_id", "embedding AS query_vec")
    coarse, books = similarity.ivfpq_fit(emb, k=4, m=4, ksub=4, n_iter=1)
    got = similarity.ivfpq_refine_topk(
        emb, q, coarse, books, nprobe=4, k=3, r_factor=20
    ).collect()

    def micro(v):
        # match _micro_vec on float32 inputs: cast to double first
        import struct as _s

        return [int(math.floor(_s.unpack("f", _s.pack("f", x))[0] * 1_000_000 + 0.5)) for x in v]

    vecs = {i: micro(v) for i, v in rows}
    by_q: dict[int, list] = {}
    for r in got:
        by_q.setdefault(r["query_id"], []).append(r)
    assert set(by_q) == {0, 15, 30, 45}
    for qid, rs in by_q.items():
        want = sorted(
            (sum((a - b) ** 2 for a, b in zip(vecs[qid], vecs[i])), i)
            for i in vecs
            if i != qid
        )[:3]
        rs.sort(key=lambda r: r["rank"])
        assert [(r["exact_dist"], r["neighbor_id"]) for r in rs] == want, qid
    # small r_factor: still exactly k rows per query
    narrow = similarity.ivfpq_refine_topk(emb, q, coarse, books, nprobe=4, k=3, r_factor=1)
    assert narrow.groupBy("query_id").count().filter("count <> 3").count() == 0
    with pytest.raises(ValueError, match="r_factor"):
        similarity.ivfpq_refine_topk(emb, q, coarse, books, k=3, r_factor=0)


def test_ann_recall_metric(spark):
    """recall@k semantics: probing every list recovers the exact top-k
    through refine (recall 1.0); a deliberately wrong 'approx' scores 0;
    integer micro division is exact."""
    import random

    from pyspark.sql import functions as F

    from pyp_etl_pipeline_spark.operators import similarity

    random.seed(17)
    rows = [(i, [random.uniform(-1, 1) for _ in range(16)]) for i in range(60)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    q = emb.filter("vec_id % 15 = 0").selectExpr("vec_id AS query_id", "embedding AS query_vec")
    exact = similarity.exact_l2_topk(emb, q, k=4)
    coarse, books = similarity.ivfpq_fit(emb, k=4, m=4, ksub=4, n_iter=1)
    perfect = similarity.ivfpq_refine_topk(emb, q, coarse, books, nprobe=4, k=4, r_factor=20)
    rec = {r["query_id"]: r for r in similarity.ann_recall(perfect, exact, k=4).collect()}
    assert all(r["n_hits"] == 4 and r["recall_micro"] == 1_000_000 for r in rec.values())
    # shifted ids never overlap -> recall 0
    wrong = exact.select("query_id", (F.col("neighbor_id") + 1000).alias("neighbor_id"))
    rec0 = similarity.ann_recall(wrong, exact, k=4).collect()
    assert all(r["n_hits"] == 0 and r["recall_micro"] == 0 for r in rec0)
    # k=3 division floors exactly
    three = similarity.ann_recall(exact.filter("rank <= 1"), exact.filter("rank <= 3"), k=3)
    assert all(r["recall_micro"] == 333_333 for r in three.collect())


def test_ivfpq_probe_all_equals_pq(spark):
    """With nprobe = k_coarse (probe every inverted list) IVF-PQ must
    degenerate to plain PQ ADC ranking — same neighbors, same ranks."""
    import random

    from pyp_etl_pipeline_spark.operators import similarity

    random.seed(7)
    rows = [(i, [random.uniform(-1, 1) for _ in range(16)]) for i in range(80)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    q = emb.filter("vec_id % 20 = 0").selectExpr("vec_id AS query_id", "embedding AS query_vec")
    coarse = similarity.kmeans_fit(emb, k=4, n_iter=1, dim=16)
    books = similarity.pq_fit(emb, m=4, ksub=4, n_iter=1)
    full = similarity.pq_topk(emb, q, books, k=3)
    ivf = similarity.ivfpq_topk(emb, q, coarse, books, nprobe=4, k=3)
    a = sorted((r["query_id"], r["rank"], r["neighbor_id"], r["adc_dist"]) for r in full.collect())
    b = sorted((r["query_id"], r["rank"], r["neighbor_id"], r["adc_dist"]) for r in ivf.collect())
    assert a == b
    # with nprobe=1 the candidate set shrinks (a real restriction)
    narrow = similarity.ivfpq_topk(emb, q, coarse, books, nprobe=1, k=3)
    assert narrow.count() <= ivf.count()


def test_lit_double_array_round_trips_special_values_bit_exact(spark):
    """NaN, ±Infinity and -0.0 go through the string-cast route of the
    fast SQL literal builder; every value must collect bit-identical
    (compared as packed bytes, since NaN != NaN and -0.0 == 0.0)."""
    import struct

    vals = [math.nan, math.inf, -math.inf, -0.0, 0.1]
    got = spark.range(1).select(similarity._lit_double_array(vals).alias("a")).first()["a"]
    assert [struct.pack("<d", v) for v in got] == [struct.pack("<d", v) for v in vals]


def test_bt_quotes_names_containing_backticks(spark):
    """``_bt`` escapes an embedded backtick, and a select through the
    quoted name resolves that column."""
    name = "we`ird col"
    assert similarity._bt(name) == "`we``ird col`"
    df = spark.createDataFrame([(7,)], f"{similarity._bt(name)} long")
    assert df.columns == [name]
    assert df.selectExpr(similarity._bt(name)).first()[0] == 7
