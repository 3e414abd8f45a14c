"""Round-8 continuation registry: embedding quantization/geometry,
feature hashing, padding economics, vocab sizing, and the TPC-H Q22
anti-join shape. Merged into the main REGISTRY by driver_queries_ext.

Every query carries a DuckDB twin built on the repo's portability
contract: integer micro for anything summed across rows, CAST(... AS
BIGINT) on every sum-derived output (the HUGEINT trap), explicit
IS NOT NULL mirrors on nullable driver columns (the null-sweep
contract), and the same md5-based portable hash both engines agree on.
"""

from __future__ import annotations

import glob
import os
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from pyp_etl_pipeline_spark import driver_queries as core
from pyp_etl_pipeline_spark.functions.aggregates import (
    exact_sum_wide,
    micro_col,
    sql_exact_sum_wide,
)
from pyp_etl_pipeline_spark.multimodal.av1 import (
    av1_container_features,
    av1_seq_features,
    av1_sequence_header_encode,
    mp4_av1_encode,
)
from pyp_etl_pipeline_spark.multimodal.h264 import (
    avc_container_features,
    mp4_avc_encode,
    sps_encode,
    sps_features,
)
from pyp_etl_pipeline_spark.multimodal.h265 import (
    hevc_container_features,
    hevc_sps_encode,
    hevc_sps_features,
    mp4_hevc_encode,
)
from pyp_etl_pipeline_spark.multimodal.rowmap import synth_media
from pyp_etl_pipeline_spark.multimodal.vp9 import (
    mp4_vp9_encode,
    vp9_container_features,
    vp9_frame_features,
    vp9_frame_header_encode,
)
from pyp_etl_pipeline_spark.operators import dedup, embedding_ops, packing, textan
from pyp_etl_pipeline_spark.operators.dedup import word_shingles
from pyp_etl_pipeline_spark.operators.textan import token_count, whitespace_tokens
from pyp_etl_pipeline_spark.sources.ingest import (
    detect_encoding,
    read_csv_upload,
    read_excel_distributed,
)
from pyp_etl_pipeline_spark.sources.reports import write_report_csv
from pyp_etl_pipeline_spark.sources.xlsx import write_xlsx
from pyp_etl_pipeline_spark.streaming.events import read_events_stream, run_to_memory
from pyp_etl_pipeline_spark.tables import load_corpus, load_corpus_unique, load_table, scratch_path

_TOKS_LOWER = "list_filter(string_split_regex(trim(lower(text)), '\\s+'), w -> w <> '')"


# --------------------------------------------------------------------------
# qn01: symmetric int8 quantization plan over the embedding column
# --------------------------------------------------------------------------

def qn01_int8_quantize(spark: SparkSession, sf: str) -> DataFrame:
    return embedding_ops.int8_quantize_stats(load_corpus(spark, sf, "embeddings"))


QN01_SQL = """
WITH e AS (
  SELECT vec_id,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS xd
  FROM embeddings
  WHERE embedding IS NOT NULL AND len(embedding) > 0
),
m AS (
  SELECT vec_id, xd, list_max(list_transform(xd, x -> abs(x))) AS max_abs FROM e
),
q AS (
  SELECT vec_id, xd, max_abs,
         list_transform(xd, x -> CASE WHEN max_abs > 0.0
                                      THEN CAST(floor(x / max_abs * 127.0) AS BIGINT)
                                      ELSE CAST(0 AS BIGINT) END) AS qv
  FROM m
)
SELECT vec_id,
       CAST(len(xd) AS BIGINT) AS dim,
       CAST(floor(max_abs * 1000000) AS BIGINT) AS max_abs_micro,
       CAST(coalesce(list_sum(list_transform(qv, v -> abs(v))), 0) AS BIGINT) AS q_l1,
       CAST(coalesce(list_sum(
         list_transform(generate_series(1, len(xd)),
           i -> CASE WHEN max_abs > 0.0
                     THEN CAST(floor(abs(xd[i] - CAST(qv[i] AS DOUBLE) * max_abs / 127.0) * 1000000) AS BIGINT)
                     ELSE CAST(0 AS BIGINT) END)), 0) AS BIGINT) AS recon_err_micro
FROM q
"""


# --------------------------------------------------------------------------
# dm01: pairwise cosine between per-label embedding centroids
# --------------------------------------------------------------------------

def dm01_label_centroid_cosine(spark: SparkSession, sf: str) -> DataFrame:
    return embedding_ops.label_centroid_cosine(load_corpus(spark, sf, "embeddings"))


DM01_SQL = """
WITH e AS (
  SELECT CAST(label AS BIGINT) AS label,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS xd
  FROM embeddings
  WHERE embedding IS NOT NULL AND label IS NOT NULL AND len(embedding) > 0
),
terms AS (
  SELECT label,
         unnest(generate_series(1, len(xd))) - 1 AS idx,
         xd
  FROM e
),
t2 AS (
  SELECT label, CAST(idx AS INTEGER) AS idx,
         CAST(floor(xd[CAST(idx AS INTEGER) + 1] * 1000000) AS BIGINT) AS mi
  FROM terms
),
cent AS (
  SELECT label, idx,
         CAST(sum(mi) AS BIGINT) // CAST(count(*) AS BIGINT) AS s,
         CAST(count(*) AS BIGINT) AS n
  FROM t2 GROUP BY label, idx
),
pairs AS (
  SELECT a.label AS label_a, b.label AS label_b,
         max(a.n) AS n_a, max(b.n) AS n_b,
         CAST(sum(a.s * b.s) AS BIGINT) AS dot,
         CAST(sum(a.s * a.s) AS BIGINT) AS na2,
         CAST(sum(b.s * b.s) AS BIGINT) AS nb2
  FROM cent a JOIN cent b ON a.idx = b.idx AND a.label < b.label
  GROUP BY a.label, b.label
)
SELECT label_a, label_b,
       CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
       CASE WHEN na2 > 0 AND nb2 > 0
            THEN CAST(floor(dot / (sqrt(CAST(na2 AS DOUBLE)) * sqrt(CAST(nb2 AS DOUBLE))) * 1000000) AS BIGINT)
       END AS cos_micro
FROM pairs
"""


# --------------------------------------------------------------------------
# fh01: hashing-trick bag-of-words (no vocabulary dictionary)
# --------------------------------------------------------------------------

def fh01_feature_hashing(spark: SparkSession, sf: str) -> DataFrame:
    return textan.feature_hash_counts(load_corpus(spark, sf, "documents"))


FH01_SQL = f"""
WITH toks AS (
  SELECT unnest({_TOKS_LOWER}) AS tok
  FROM documents WHERE text IS NOT NULL
),
hashed AS (
  SELECT tok, ('0x' || substr(md5(tok), 1, 8))::BIGINT % 256 AS bucket FROM toks
)
SELECT bucket,
       CAST(count(*) AS BIGINT) AS n_tokens,
       CAST(count(DISTINCT tok) AS BIGINT) AS n_distinct_tokens
FROM hashed
GROUP BY bucket
ORDER BY n_tokens DESC, bucket ASC
LIMIT 20
"""


# --------------------------------------------------------------------------
# tk04: vocabulary coverage curve (top-k frequency truncation)
# --------------------------------------------------------------------------

def tk04_vocab_coverage_curve(spark: SparkSession, sf: str) -> DataFrame:
    return textan.vocab_coverage_curve(load_corpus(spark, sf, "documents"))


TK04_SQL = f"""
WITH counts AS (
  SELECT tok, CAST(count(*) AS BIGINT) AS cnt
  FROM (SELECT unnest({_TOKS_LOWER}) AS tok FROM documents WHERE text IS NOT NULL)
  GROUP BY tok
),
ranked AS (
  SELECT tok, cnt, row_number() OVER (ORDER BY cnt DESC, tok ASC) AS rk FROM counts
),
ks AS (SELECT unnest([10, 50, 100, 500]) AS k),
per_k AS (
  SELECT CAST(k AS BIGINT) AS k, CAST(sum(cnt) AS BIGINT) AS covered_tokens
  FROM ks JOIN ranked ON rk <= k
  GROUP BY k
),
totals AS (
  SELECT CAST(count(*) AS BIGINT) AS vocab_size, CAST(sum(cnt) AS BIGINT) AS total_tokens
  FROM ranked
)
SELECT k, vocab_size, covered_tokens, total_tokens,
       CASE WHEN total_tokens > 0
            THEN covered_tokens * CAST(1000000 AS BIGINT) // total_tokens END AS coverage_micro
FROM per_k, totals
"""


# --------------------------------------------------------------------------
# pb01: padding economics of length-bucketed batching
# --------------------------------------------------------------------------

def pb01_padding_efficiency(spark: SparkSession, sf: str) -> DataFrame:
    return packing.padding_efficiency(load_corpus(spark, sf, "documents"))


_PB_TOKS = "list_filter(string_split_regex(trim(text), '\\s+'), w -> w <> '')"

PB01_SQL = f"""
WITH lens AS (
  SELECT CAST(len({_PB_TOKS}) AS BIGINT) AS n_tok
  FROM documents WHERE text IS NOT NULL
),
staged AS (
  SELECT n_tok, (n_tok + 31) // 32 * 32 AS bucket_len FROM lens WHERE n_tok > 0
),
gm AS (SELECT CAST(max(n_tok) AS BIGINT) AS g_max FROM staged),
per_bucket AS (
  SELECT bucket_len,
         CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(n_tok) AS BIGINT) AS sum_tokens
  FROM staged GROUP BY bucket_len
)
SELECT bucket_len, n_docs, sum_tokens,
       bucket_len * n_docs - sum_tokens AS waste_bucketed,
       g_max * n_docs - sum_tokens AS waste_global,
       CASE WHEN g_max * n_docs - sum_tokens > 0
            THEN ((g_max * n_docs - sum_tokens) - (bucket_len * n_docs - sum_tokens))
                 * CAST(1000000 AS BIGINT) // (g_max * n_docs - sum_tokens)
            ELSE CAST(1000000 AS BIGINT) END AS savings_micro
FROM per_bucket, gm
"""


# --------------------------------------------------------------------------
# q08: TPC-H Q22 shape — scalar-subquery threshold + anti-join
# --------------------------------------------------------------------------

_Q08_NATIONS = (1, 3, 5, 7, 9, 11, 13, 15)


def q08_idle_customers(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q22 re-keyed to this schema (customer has no phone column —
    nationkey plays the country-code role; every synthetic customer has
    SOME order, so "idle" = never placed an URGENT one): customers in a
    fixed nation set whose balance exceeds the positive-balance average
    and who have no '1-URGENT' order, rolled up per nation.

    Exactness: the avg threshold is the classic order-sensitive double
    trap — ``c_acctbal > avg(...)`` can flip on the last ulp of a
    partition-order-dependent mean. We compare in exact integers
    instead: ``cents * n > sum_cents`` (identical predicate, zero
    floats). Plan shape: the priority predicate is PUSHED to the orders
    parquet scan, the 1-row threshold arrives by BROADCAST (lazy cross
    join), LEFT ANTI join on the shuffle key o_custkey (AQE picks
    broadcast if the filtered build side shrinks), final hash rollup.
    """
    nat = list(_Q08_NATIONS)
    c = (
        load_table(spark, sf, "customer")
        .filter(F.col("c_acctbal").isNotNull() & F.col("c_nationkey").isin(nat))
        .select(
            "c_custkey",
            F.col("c_nationkey").cast("long").alias("nationkey"),
            F.floor(F.col("c_acctbal") * 100).cast("long").alias("cents"),
        )
    )
    thr = c.filter(F.col("cents") > 0).agg(
        F.sum("cents").cast("long").alias("sum_cents"),
        F.count(F.lit(1)).cast("long").alias("n_pos"),
    )
    rich = c.join(F.broadcast(thr)).filter(
        F.col("cents") * F.col("n_pos") > F.col("sum_cents")
    )
    urgent = (
        load_table(spark, sf, "orders")
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .select("o_custkey")
    )
    idle = rich.join(urgent, rich.c_custkey == urgent.o_custkey, "left_anti")
    return (
        idle.groupBy("nationkey")
        .agg(
            F.count(F.lit(1)).cast("long").alias("numcust"),
            F.sum("cents").cast("long").alias("total_acctbal_cents"),
        )
    )


Q08_SQL = f"""
WITH c AS (
  SELECT c_custkey, CAST(c_nationkey AS BIGINT) AS nationkey,
         CAST(floor(c_acctbal * 100) AS BIGINT) AS cents
  FROM customer
  WHERE c_acctbal IS NOT NULL AND c_nationkey IN {_Q08_NATIONS}
),
thr AS (
  SELECT CAST(sum(cents) AS BIGINT) AS sum_cents, CAST(count(*) AS BIGINT) AS n_pos
  FROM c WHERE cents > 0
),
rich AS (
  SELECT c.* FROM c, thr WHERE c.cents * thr.n_pos > thr.sum_cents
),
idle AS (
  SELECT * FROM rich r
  WHERE NOT EXISTS (SELECT 1 FROM orders o
                    WHERE o.o_custkey = r.c_custkey
                      AND o.o_orderpriority = '1-URGENT')
)
SELECT nationkey,
       CAST(count(*) AS BIGINT) AS numcust,
       CAST(sum(cents) AS BIGINT) AS total_acctbal_cents
FROM idle
GROUP BY nationkey
"""


QUERIES4 = {
    "qn01_int8_quantize": (qn01_int8_quantize, QN01_SQL),
    "dm01_label_centroid_cosine": (dm01_label_centroid_cosine, DM01_SQL),
    "fh01_feature_hashing": (fh01_feature_hashing, FH01_SQL),
    "tk04_vocab_coverage_curve": (tk04_vocab_coverage_curve, TK04_SQL),
    "pb01_padding_efficiency": (pb01_padding_efficiency, PB01_SQL),
    "q08_idle_customers": (q08_idle_customers, Q08_SQL),
}


# --------------------------------------------------------------------------
# br01: boolean conjunction retrieval (posting-list intersection)
# --------------------------------------------------------------------------

_BR01_TERMS = ("spark", "table", "query")


def br01_boolean_retrieval(spark: SparkSession, sf: str) -> DataFrame:
    """Docs containing ALL query terms, via distributed posting-list
    intersection: explode per-doc DISTINCT tokens, keep only the query
    terms (the filter lands right after the generator — postings for
    the other ~every token are never materialized), then a per-doc
    count == n_terms. The one shuffle moves only (doc_id, term) rows
    for matching terms — at 100 TB that is postings-sized, not
    corpus-sized, and skew is bounded by the term list. The map-only
    array_contains conjunction is the equivalence oracle in the unit
    test; the posting shape is what generalizes to dynamic query sets.
    """
    terms = list(_BR01_TERMS)
    d = load_corpus(spark, sf, "documents").filter(F.col("text").isNotNull())
    staged = d.select(
        "doc_id",
        whitespace_tokens(F.lower(F.col("text"))).alias("__toks"),
    )
    postings = staged.select(
        "doc_id",
        F.size("__toks").cast("long").alias("n_tokens"),
        F.explode(F.array_distinct("__toks")).alias("tok"),
    ).filter(F.col("tok").isin(terms))
    return (
        postings.groupBy("doc_id")
        .agg(
            F.max("n_tokens").alias("n_tokens"),
            F.count(F.lit(1)).cast("long").alias("n_terms_matched"),
        )
        .filter(F.col("n_terms_matched") == len(terms))
    )


BR01_SQL = f"""
WITH postings AS (
  SELECT doc_id,
         CAST(len({_TOKS_LOWER}) AS BIGINT) AS n_tokens,
         unnest(list_distinct({_TOKS_LOWER})) AS tok
  FROM documents WHERE text IS NOT NULL
)
SELECT doc_id,
       CAST(max(n_tokens) AS BIGINT) AS n_tokens,
       CAST(count(*) AS BIGINT) AS n_terms_matched
FROM postings
WHERE tok IN {_BR01_TERMS}
GROUP BY doc_id
HAVING count(*) = {len(_BR01_TERMS)}
"""


# --------------------------------------------------------------------------
# rp01: corpus data card (per-source release report)
# --------------------------------------------------------------------------

def rp01_corpus_datacard(spark: SparkSession, sf: str) -> DataFrame:
    """The per-source data card a corpus release ships with: doc and
    token counts, English share, exact-duplicate share (corpus-wide
    fingerprint, attributed back to each source), and mean doc length —
    every ratio in integer micro so the card is partition-order exact.

    Plan: one fingerprint aggregation (shuffle on md5 — uniformly
    distributed, skew-free by construction), one join back on fp, one
    rollup by source. Null-text docs stay IN the card (0 tokens, never
    dup-matched: a NULL fp fails the equi-join in both engines).
    """
    d = load_corpus(spark, sf, "documents")
    base = d.select(
        "source",
        "lang",
        F.when(F.col("text").isNotNull(), dedup.fingerprint("text")).alias("fp"),
        F.when(F.col("text").isNotNull(), token_count("text"))
        .otherwise(F.lit(0))
        .cast("long")
        .alias("n_tok"),
    )
    dup = (
        base.filter(F.col("fp").isNotNull())
        .groupBy("fp")
        .agg(F.count(F.lit(1)).alias("__c"))
        .filter(F.col("__c") > 1)
        .select("fp", F.lit(1).alias("__dup"))
    )
    j = base.join(dup, "fp", "left")
    card = j.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_tok").cast("long").alias("total_tokens"),
        F.sum(F.when(F.col("lang") == "en", 1).otherwise(0)).cast("long").alias("n_en"),
        F.sum(F.when(F.col("__dup").isNotNull(), 1).otherwise(0)).cast("long").alias("n_exact_dup"),
    )
    return card.select(
        "source",
        "n_docs",
        "total_tokens",
        "n_en",
        "n_exact_dup",
        F.expr(
            "CASE WHEN n_docs > 0 THEN n_en * CAST(1000000 AS BIGINT) DIV n_docs END"
        ).alias("en_share_micro"),
        F.expr(
            "CASE WHEN n_docs > 0 THEN n_exact_dup * CAST(1000000 AS BIGINT) DIV n_docs END"
        ).alias("dup_share_micro"),
        F.expr(
            "CASE WHEN n_docs > 0 THEN total_tokens * CAST(1000000 AS BIGINT) DIV n_docs END"
        ).alias("mean_doc_tokens_micro"),
    )


_RP01_NT = "trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))"
_RP01_TOKS = "list_filter(string_split_regex(trim(text), '\\s+'), w -> w <> '')"

RP01_SQL = f"""
WITH base AS (
  SELECT source, lang,
         CASE WHEN text IS NOT NULL THEN md5({_RP01_NT}) END AS fp,
         CASE WHEN text IS NOT NULL THEN CAST(len({_RP01_TOKS}) AS BIGINT) ELSE 0 END AS n_tok
  FROM documents
),
dup AS (
  SELECT fp, 1 AS dup_ FROM base WHERE fp IS NOT NULL GROUP BY fp HAVING count(*) > 1
),
j AS (SELECT base.*, dup.dup_ FROM base LEFT JOIN dup ON base.fp = dup.fp),
card AS (
  SELECT source,
         CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(n_tok) AS BIGINT) AS total_tokens,
         CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS n_en,
         CAST(sum(CASE WHEN dup_ IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_exact_dup
  FROM j GROUP BY source
)
SELECT source, n_docs, total_tokens, n_en, n_exact_dup,
       CASE WHEN n_docs > 0 THEN n_en * CAST(1000000 AS BIGINT) // n_docs END AS en_share_micro,
       CASE WHEN n_docs > 0 THEN n_exact_dup * CAST(1000000 AS BIGINT) // n_docs END AS dup_share_micro,
       CASE WHEN n_docs > 0 THEN total_tokens * CAST(1000000 AS BIGINT) // n_docs END AS mean_doc_tokens_micro
FROM card
"""

QUERIES4["br01_boolean_retrieval"] = (br01_boolean_retrieval, BR01_SQL)
QUERIES4["rp01_corpus_datacard"] = (rp01_corpus_datacard, RP01_SQL)


# --------------------------------------------------------------------------
# sp03: leakage-safe train/test split (group-aware hashing on content)
# --------------------------------------------------------------------------

def sp03_group_safe_split(spark: SparkSession, sf: str) -> DataFrame:
    """Train/test split keyed on the CONTENT fingerprint, not the row id —
    exact duplicates can never straddle the boundary, the classic
    train→test leakage channel naive id-hash splits leave open. The
    output certifies it: per split, doc and distinct-fingerprint counts
    plus the number of fingerprints seen in BOTH splits (zero by
    construction, counted anyway — the certificate, not an assumption).

    Scale: assignment is a pure map (first 8 hex chars of the existing
    md5 fingerprint → bucket 0..99, <90 = train); the certificate is one
    (fp, split) distinct + one count-distinct rollup — all hash-
    partitioned on uniformly distributed md5 keys, skew-free.
    """
    d = load_corpus(spark, sf, "documents").filter(F.col("text").isNotNull())
    fps = d.select(dedup.fingerprint("text").alias("fp"))
    assigned = fps.select(
        "fp",
        F.when(
            F.conv(F.substring(F.col("fp"), 1, 8), 16, 10).cast("long") % 100 < 90,
            F.lit("train"),
        )
        .otherwise(F.lit("test"))
        .alias("split"),
    )
    per_split = assigned.groupBy("split").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.countDistinct("fp").cast("long").alias("n_fingerprints"),
    )
    leaked = (
        assigned.select("fp", "split")
        .distinct()
        .groupBy("fp")
        .agg(F.countDistinct("split").alias("__ns"))
        .filter(F.col("__ns") > 1)
        .agg(F.count(F.lit(1)).cast("long").alias("n_leaked_fingerprints"))
    )
    return per_split.join(F.broadcast(leaked))


SP03_SQL = f"""
WITH assigned AS (
  SELECT md5({_RP01_NT}) AS fp,
         CASE WHEN ('0x' || substr(md5({_RP01_NT}), 1, 8))::BIGINT % 100 < 90
              THEN 'train' ELSE 'test' END AS split
  FROM documents WHERE text IS NOT NULL
),
per_split AS (
  SELECT split,
         CAST(count(*) AS BIGINT) AS n_docs,
         CAST(count(DISTINCT fp) AS BIGINT) AS n_fingerprints
  FROM assigned GROUP BY split
),
leaked AS (
  SELECT CAST(count(*) AS BIGINT) AS n_leaked_fingerprints
  FROM (SELECT fp FROM (SELECT DISTINCT fp, split FROM assigned)
        GROUP BY fp HAVING count(DISTINCT split) > 1)
)
SELECT split, n_docs, n_fingerprints, n_leaked_fingerprints
FROM per_split, leaked
"""


# --------------------------------------------------------------------------
# im01: class-imbalance reweighting plan over the labeled embeddings
# --------------------------------------------------------------------------

def im01_class_weight_plan(spark: SparkSession, sf: str) -> DataFrame:
    """Inverse-frequency class weights, normalized so a perfectly
    balanced corpus gets weight 1.0 per class: ``w = N / (k * n_c)`` in
    integer micro (sklearn's 'balanced' convention). One tiny rollup —
    the weights relation is k rows and broadcasts to the trainer.
    """
    e = load_corpus(spark, sf, "embeddings").filter(F.col("label").isNotNull())
    per = e.groupBy(F.col("label").cast("long").alias("label")).agg(
        F.count(F.lit(1)).cast("long").alias("n_vecs")
    )
    tot = per.agg(
        F.sum("n_vecs").cast("long").alias("n_total"),
        F.count(F.lit(1)).cast("long").alias("k_classes"),
    )
    return per.join(F.broadcast(tot)).select(
        "label",
        "n_vecs",
        F.expr(
            "CASE WHEN n_vecs > 0"
            " THEN n_total * CAST(1000000 AS BIGINT) DIV (k_classes * n_vecs) END"
        ).alias("weight_micro"),
        F.expr("n_vecs * CAST(1000000 AS BIGINT) DIV n_total").alias("share_micro"),
    )


IM01_SQL = """
WITH per AS (
  SELECT CAST(label AS BIGINT) AS label, CAST(count(*) AS BIGINT) AS n_vecs
  FROM embeddings WHERE label IS NOT NULL GROUP BY 1
),
tot AS (
  SELECT CAST(sum(n_vecs) AS BIGINT) AS n_total, CAST(count(*) AS BIGINT) AS k_classes FROM per
)
SELECT label, n_vecs,
       CASE WHEN n_vecs > 0
            THEN n_total * CAST(1000000 AS BIGINT) // (k_classes * n_vecs) END AS weight_micro,
       n_vecs * CAST(1000000 AS BIGINT) // n_total AS share_micro
FROM per, tot
"""

QUERIES4["sp03_group_safe_split"] = (sp03_group_safe_split, SP03_SQL)
QUERIES4["im01_class_weight_plan"] = (im01_class_weight_plan, IM01_SQL)


# --------------------------------------------------------------------------
# dr01: population-stability-index drift monitor (reference vs current)
# --------------------------------------------------------------------------

_DR01_SPLIT_EPOCH = 1705363200  # 2024-01-16 00:00:00 UTC — fixed boundary
_DR01_BINS = 10
_DR01_BIN_W = 50.0


def dr01_psi_drift(spark: SparkSession, sf: str) -> DataFrame:
    """Per-event-type PSI (population stability index) between the
    reference half and the current half of the event stream — the
    standard "did this feature's distribution move?" monitor a feature
    pipeline runs before retraining.

    Exactness: Laplace-smoothed bin shares ((n+1)/(N+B), so EMPTY bins
    contribute their term too — the full type x bin grid is generated,
    never inferred from observed bins), each bin's
    ``(p_cur - p_ref) * ln(p_cur / p_ref)`` term is >= 0 by
    construction and micro-floored BEFORE the cross-bin integer sum
    (the repo's order-independence contract; ln is certified portable
    by the tx06/tx14/bm01 twins). The time boundary compares integer
    epochs — never a string-to-timestamp cast, which would read the
    session timezone.

    Scale: one counting agg over the stream, then everything is
    (n_types x 10) rows — grid build, totals, and the PSI epilogue are
    broadcast-sized.
    """
    e = load_table(spark, sf, "events").filter(
        F.col("event_type").isNotNull() & F.col("value").isNotNull() & F.col("ts").isNotNull()
    )
    base = e.select(
        "event_type",
        (F.col("ts").cast("long") >= _DR01_SPLIT_EPOCH).alias("is_cur"),
        F.least(
            F.lit(_DR01_BINS - 1),
            F.greatest(F.lit(0), F.floor(F.col("value") / _DR01_BIN_W).cast("int")),
        ).alias("bin"),
    )
    counts = base.groupBy("event_type", "bin").agg(
        F.sum(F.when(~F.col("is_cur"), 1).otherwise(0)).cast("long").alias("nr"),
        F.sum(F.when(F.col("is_cur"), 1).otherwise(0)).cast("long").alias("nc"),
    )
    return _psi_epilogue(counts)


def _psi_epilogue(counts: DataFrame) -> DataFrame:
    """Shared PSI epilogue over a (event_type, bin, nr, nc) counts
    relation: full-grid fill, Laplace smoothing, micro-floored terms,
    integer sum — used by both the batch (dr01) and streaming (st11)
    front halves, which is why the two share one oracle twin."""
    # the grid derives FROM counts, so a plain self-join hits Spark's
    # conflicting-reference resolution (st11's memory-table lineage
    # triggered it); aliasing the grid keys to fresh attributes avoids it
    grid = (
        counts.select(F.col("event_type").alias("__et"))
        .distinct()
        .select("__et", F.explode(F.sequence(F.lit(0), F.lit(_DR01_BINS - 1))).alias("__bin"))
    )
    filled = (
        grid.join(
            counts,
            (grid["__et"] == counts["event_type"]) & (grid["__bin"] == counts["bin"]),
            "left",
        )
        .select(
            F.col("__et").alias("event_type"),
            F.col("__bin").alias("bin"),
            F.coalesce("nr", F.lit(0)).cast("long").alias("nr"),
            F.coalesce("nc", F.lit(0)).cast("long").alias("nc"),
        )
    )
    tot = filled.groupBy("event_type").agg(
        F.sum("nr").cast("long").alias("n_ref"),
        F.sum("nc").cast("long").alias("n_cur"),
    )
    terms = filled.join(F.broadcast(tot), "event_type").select(
        "event_type",
        "n_ref",
        "n_cur",
        F.expr(
            f"CAST(floor((CAST(nc + 1 AS DOUBLE) / CAST(n_cur + {_DR01_BINS} AS DOUBLE)"
            f"             - CAST(nr + 1 AS DOUBLE) / CAST(n_ref + {_DR01_BINS} AS DOUBLE))"
            f"  * ln((CAST(nc + 1 AS DOUBLE) / CAST(n_cur + {_DR01_BINS} AS DOUBLE))"
            f"     / (CAST(nr + 1 AS DOUBLE) / CAST(n_ref + {_DR01_BINS} AS DOUBLE)))"
            f"  * 1000000) AS BIGINT)"
        ).alias("term_micro"),
    )
    return terms.groupBy("event_type").agg(
        F.max("n_ref").alias("n_ref"),
        F.max("n_cur").alias("n_cur"),
        F.sum("term_micro").cast("long").alias("psi_micro"),
    )


DR01_SQL = f"""
WITH base AS (
  SELECT event_type,
         CAST(floor(epoch(ts)) AS BIGINT) >= {_DR01_SPLIT_EPOCH} AS is_cur,
         least({_DR01_BINS - 1}, greatest(0, CAST(floor(value / {_DR01_BIN_W}) AS INTEGER))) AS bin
  FROM events
  WHERE event_type IS NOT NULL AND value IS NOT NULL AND ts IS NOT NULL
),
counts AS (
  SELECT event_type, bin,
         CAST(sum(CASE WHEN NOT is_cur THEN 1 ELSE 0 END) AS BIGINT) AS nr,
         CAST(sum(CASE WHEN is_cur THEN 1 ELSE 0 END) AS BIGINT) AS nc
  FROM base GROUP BY event_type, bin
),
grid AS (
  SELECT event_type, unnest(generate_series(0, {_DR01_BINS - 1})) AS bin
  FROM (SELECT DISTINCT event_type FROM counts)
),
filled AS (
  SELECT g.event_type, g.bin,
         coalesce(c.nr, 0) AS nr, coalesce(c.nc, 0) AS nc
  FROM grid g LEFT JOIN counts c ON g.event_type = c.event_type AND g.bin = c.bin
),
tot AS (
  SELECT event_type, CAST(sum(nr) AS BIGINT) AS n_ref, CAST(sum(nc) AS BIGINT) AS n_cur
  FROM filled GROUP BY event_type
),
terms AS (
  SELECT f.event_type, t.n_ref, t.n_cur,
         CAST(floor((CAST(nc + 1 AS DOUBLE) / CAST(n_cur + {_DR01_BINS} AS DOUBLE)
                     - CAST(nr + 1 AS DOUBLE) / CAST(n_ref + {_DR01_BINS} AS DOUBLE))
          * ln((CAST(nc + 1 AS DOUBLE) / CAST(n_cur + {_DR01_BINS} AS DOUBLE))
             / (CAST(nr + 1 AS DOUBLE) / CAST(n_ref + {_DR01_BINS} AS DOUBLE)))
          * 1000000) AS BIGINT) AS term_micro
  FROM filled f JOIN tot t ON f.event_type = t.event_type
)
SELECT event_type,
       CAST(max(n_ref) AS BIGINT) AS n_ref,
       CAST(max(n_cur) AS BIGINT) AS n_cur,
       CAST(sum(term_micro) AS BIGINT) AS psi_micro
FROM terms GROUP BY event_type
"""


# --------------------------------------------------------------------------
# ka02: l-diversity audit of the k-anonymity release level
# --------------------------------------------------------------------------

def ka02_l_diversity(spark: SparkSession, sf: str) -> DataFrame:
    """L-diversity audit complementing ka01: k-anonymity alone cannot
    stop attribute disclosure when a whole equivalence class shares one
    sensitive value. For the (region, segment) generalization level,
    each class reports its size and the number of DISTINCT sensitive
    balance bands it contains (fixed thresholds, identical in both
    engines); ``l_ok`` marks classes meeting l >= 3. One broadcast dim
    enrichment + one rollup — release-gate cheap at any scale.
    """
    c = load_table(spark, sf, "customer").select("c_nationkey", "c_mktsegment", "c_acctbal")
    n = load_table(spark, sf, "nation").select("n_nationkey", "n_regionkey")
    r = load_table(spark, sf, "region").select("r_regionkey", "r_name")
    base = (
        c.join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"], "left")
        .join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"], "left")
        .filter(F.col("c_acctbal").isNotNull() & F.col("c_mktsegment").isNotNull())
        .select(
            F.coalesce(F.col("r_name"), F.lit("?")).alias("reg"),
            F.col("c_mktsegment").alias("seg"),
            F.expr(
                "CASE WHEN c_acctbal < 0 THEN 'neg' WHEN c_acctbal < 2500 THEN 'low'"
                " WHEN c_acctbal < 5000 THEN 'mid' WHEN c_acctbal < 7500 THEN 'high'"
                " ELSE 'top' END"
            ).alias("band"),
        )
    )
    return (
        base.groupBy("reg", "seg")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.countDistinct("band").cast("long").alias("l_distinct"),
        )
        .select(
            "reg",
            "seg",
            "n",
            "l_distinct",
            (F.col("l_distinct") >= 3).alias("l_ok"),
        )
    )


KA02_SQL = """
WITH base AS (
  SELECT coalesce(r.r_name, '?') AS reg,
         c.c_mktsegment AS seg,
         CASE WHEN c.c_acctbal < 0 THEN 'neg' WHEN c.c_acctbal < 2500 THEN 'low'
              WHEN c.c_acctbal < 5000 THEN 'mid' WHEN c.c_acctbal < 7500 THEN 'high'
              ELSE 'top' END AS band
  FROM customer c
  LEFT JOIN nation n ON c.c_nationkey = n.n_nationkey
  LEFT JOIN region r ON n.n_regionkey = r.r_regionkey
  WHERE c.c_acctbal IS NOT NULL AND c.c_mktsegment IS NOT NULL
)
SELECT reg, seg,
       CAST(count(*) AS BIGINT) AS n,
       CAST(count(DISTINCT band) AS BIGINT) AS l_distinct,
       count(DISTINCT band) >= 3 AS l_ok
FROM base GROUP BY reg, seg
"""

QUERIES4["dr01_psi_drift"] = (dr01_psi_drift, DR01_SQL)
QUERIES4["ka02_l_diversity"] = (ka02_l_diversity, KA02_SQL)


# --------------------------------------------------------------------------
# q09: TPC-H Q4 shape — filtered EXISTS semi-join, priority rollup
# --------------------------------------------------------------------------

def q09_priority_with_returns(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q4 re-keyed to this schema (lineitem has no commit/receipt
    dates — 'had a returned item' plays the late-delivery role): for one
    quarter of orders, how many per priority have AT LEAST ONE returned
    lineitem. The canonical LEFT SEMI join: the probe side never
    multiplies (an order with 5 returned items counts once), the date
    filter is PUSHED to the orders scan and the flag filter to the
    lineitem scan, and the semi-join shuffles only the filtered keys.
    """
    o = load_table(spark, sf, "orders").filter(
        (F.col("o_orderdate") >= "1996-07-01") & (F.col("o_orderdate") < "1996-10-01")
    )
    returned = (
        load_table(spark, sf, "lineitem")
        .filter(F.col("l_returnflag") == "R")
        .select("l_orderkey")
    )
    return (
        o.join(returned, o["o_orderkey"] == returned["l_orderkey"], "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).cast("long").alias("order_count"))
    )


Q09_SQL = """
SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS order_count
FROM orders o
WHERE o.o_orderdate >= '1996-07-01' AND o.o_orderdate < '1996-10-01'
  AND EXISTS (SELECT 1 FROM lineitem l
              WHERE l.l_orderkey = o.o_orderkey AND l.l_returnflag = 'R')
GROUP BY o_orderpriority
"""


# --------------------------------------------------------------------------
# cd02: CDC change-feed apply (insert/update/delete to final state)
# --------------------------------------------------------------------------

def cd02_apply_changefeed(spark: SparkSession, sf: str) -> DataFrame:
    """The lakehouse MERGE primitive run as a batch: treat the event
    stream as a per-user change feed (signup=INSERT, click/view/
    purchase=UPDATE, error=DELETE) and reduce it to the final state —
    last operation wins in (ts, event_id) order, deletes tombstone the
    key. One window partitioned BY USER (fully parallel after the hash
    shuffle — never a global sort), ties broken by the unique event id
    so task retries and duplicate delivery cannot flip the winner.
    """
    e = load_table(spark, sf, "events").filter(
        F.col("event_type").isNotNull() & F.col("ts").isNotNull()
    )

    w = Window.partitionBy("user_id").orderBy(
        F.desc("ts"), F.desc("event_id")
    )
    staged = e.select(
        "user_id",
        "event_type",
        "ts",
        "event_id",
        F.when(F.col("value").isNotNull(), F.floor(F.col("value") * 1000000))
        .cast("long")
        .alias("value_micro"),
    )
    ranked = staged.select(
        "user_id",
        "event_type",
        "value_micro",
        F.row_number().over(w).alias("__rn"),
        F.count(F.lit(1)).over(Window.partitionBy("user_id")).cast("long").alias("n_changes"),
    )
    return ranked.filter(F.col("__rn") == 1).select(
        "user_id",
        F.col("event_type").alias("last_op"),
        (F.col("event_type") == "error").alias("is_deleted"),
        "value_micro",
        "n_changes",
    )


CD02_SQL = """
WITH staged AS (
  SELECT user_id, event_type, ts, event_id,
         CASE WHEN value IS NOT NULL
              THEN CAST(floor(value * 1000000) AS BIGINT) END AS value_micro
  FROM events
  WHERE event_type IS NOT NULL AND ts IS NOT NULL
),
ranked AS (
  SELECT user_id, event_type, value_micro,
         row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn,
         CAST(count(*) OVER (PARTITION BY user_id) AS BIGINT) AS n_changes
  FROM staged
)
SELECT user_id,
       event_type AS last_op,
       event_type = 'error' AS is_deleted,
       value_micro,
       n_changes
FROM ranked WHERE rn = 1
"""

QUERIES4["q09_priority_with_returns"] = (q09_priority_with_returns, Q09_SQL)
QUERIES4["cd02_apply_changefeed"] = (cd02_apply_changefeed, CD02_SQL)


# --------------------------------------------------------------------------
# st11: streaming PSI drift — the dr01 monitor as a live stream job
# --------------------------------------------------------------------------

def st11_streaming_psi_drift(spark: SparkSession, sf: str) -> DataFrame:
    """dr01's distribution-drift monitor computed BY THE STREAM: the
    event stream maintains running (type, half, bin) counts in complete
    mode; on drain the batch PSI epilogue (the SAME `_psi_epilogue` the
    batch query uses) turns the counts into per-type PSI. Registered
    against dr01's twin VERBATIM, so the gate certifies the streaming
    counts reproduce the batch scan exactly — the standing pattern that
    a monitor can run continuously without a nightly batch job. State
    is n_types x 2 x 10 counters: O(1), watermark-free by design
    (complete-mode counts over a categorical grid, not per-key state).
    """
    name = "st11_" + uuid.uuid4().hex[:8]
    stream = read_events_stream(spark, sf).filter(
        F.col("event_type").isNotNull() & F.col("value").isNotNull() & F.col("ts").isNotNull()
    )
    staged = stream.select(
        "event_type",
        (F.col("ts").cast("long") >= _DR01_SPLIT_EPOCH).alias("is_cur"),
        F.least(
            F.lit(_DR01_BINS - 1),
            F.greatest(F.lit(0), F.floor(F.col("value") / _DR01_BIN_W).cast("int")),
        ).alias("bin"),
    )
    agg = staged.groupBy("event_type", "is_cur", "bin").count()
    run_to_memory(agg, name, output_mode="complete")
    drained = spark.table(name)
    counts = drained.groupBy("event_type", "bin").agg(
        F.sum(F.when(~F.col("is_cur"), F.col("count")).otherwise(0)).cast("long").alias("nr"),
        F.sum(F.when(F.col("is_cur"), F.col("count")).otherwise(0)).cast("long").alias("nc"),
    )
    return _psi_epilogue(counts)


# same semantics, same certified answer: dr01's twin verbatim
ST11_SQL = DR01_SQL


# --------------------------------------------------------------------------
# tx18: Zipf fit of the token frequency distribution
# --------------------------------------------------------------------------

def tx18_zipf_fit(spark: SparkSession, sf: str) -> DataFrame:
    """Zipf's-law fit of the corpus unigram distribution: OLS of
    ln(count) on ln(rank) over the top-100 vocabulary — the tokenizer
    sanity check (natural text ~ slope -1; synthetic/templated corpora
    flatten). ml01's exact-integer-moment recipe applied to micro-floored
    logs: each (x, y) pair is floored to integer micro FIRST, the five
    OLS moments are int64 sums (order-independent), and the
    normal-equation combination + divisions run in doubles as the
    literally-identical IEEE sequence in both engines (int64
    combination overflows once a token count reaches ~1e12).
    Top-100 via TakeOrderedAndProject (never a full-vocab window)."""
    counts = (
        load_corpus(spark, sf, "documents")
        .filter(F.col("text").isNotNull())
        .select(F.explode(whitespace_tokens(F.lower(F.col("text")))).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )
    top = counts.orderBy(F.desc("cnt"), F.asc("tok")).limit(100)
    w = Window.orderBy(F.desc("cnt"), F.asc("tok"))
    pts = top.select(
        F.floor(F.log(F.row_number().over(w).cast("double")) * 1000000).alias("xm"),
        F.floor(F.log(F.col("cnt").cast("double")) * 1000000).alias("ym"),
    )
    m = pts.agg(
        F.count(F.lit(1)).cast("long").alias("n_points"),
        F.sum("xm").cast("long").alias("sx"),
        F.sum("ym").cast("long").alias("sy"),
        F.sum(F.col("xm") * F.col("ym")).cast("long").alias("sxy"),
        F.sum(F.col("xm") * F.col("xm")).cast("long").alias("sxx"),
        F.sum(F.col("ym") * F.col("ym")).cast("long").alias("syy"),
    )
    # the normal-equation combination runs in DOUBLES (identical IEEE
    # sequence in the twin): as int64, sy*sy reaches ~7.8e18 once a
    # token's count hits 1e12 (ln*1e6 micro logs) — the ml01
    # ARITHMETIC_OVERFLOW class, one corpus-order-of-magnitude away.
    nd = F.col("n_points").cast("double")
    sxd = F.col("sx").cast("double")
    syd = F.col("sy").cast("double")
    num = nd * F.col("sxy").cast("double") - sxd * syd
    den = nd * F.col("sxx").cast("double") - sxd * sxd
    deny = nd * F.col("syy").cast("double") - syd * syd
    slope = num / den
    r2 = (num * num) / (den * deny)
    return m.select(
        "n_points",
        F.when(den != 0, F.floor(slope * 1000000)).cast("long").alias("zipf_slope_micro"),
        F.when(
            (den != 0) & (deny != 0), F.floor(r2 * 1000000)
        ).cast("long").alias("r2_micro"),
    )


TX18_SQL = f"""
WITH counts AS (
  SELECT tok, CAST(count(*) AS BIGINT) AS cnt
  FROM (SELECT unnest({_TOKS_LOWER}) AS tok FROM documents WHERE text IS NOT NULL)
  GROUP BY tok
),
top AS (SELECT tok, cnt FROM counts ORDER BY cnt DESC, tok ASC LIMIT 100),
pts AS (
  SELECT CAST(floor(ln(CAST(row_number() OVER (ORDER BY cnt DESC, tok ASC) AS DOUBLE)) * 1000000) AS BIGINT) AS xm,
         CAST(floor(ln(CAST(cnt AS DOUBLE)) * 1000000) AS BIGINT) AS ym
  FROM top
),
m AS (
  SELECT CAST(count(*) AS BIGINT) AS n_points,
         CAST(sum(xm) AS BIGINT) AS sx, CAST(sum(ym) AS BIGINT) AS sy,
         CAST(sum(xm * ym) AS BIGINT) AS sxy,
         CAST(sum(xm * xm) AS BIGINT) AS sxx,
         CAST(sum(ym * ym) AS BIGINT) AS syy
  FROM pts
)
-- the combination runs in DOUBLES on both engines (identical IEEE
-- sequence): as int64 sy*sy overflows once a token count reaches 1e12
-- (the ml01 ARITHMETIC_OVERFLOW class; DuckDB would widen to HUGEINT
-- silently and diverge).
SELECT n_points,
       CASE WHEN n_points::DOUBLE * sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE <> 0
            THEN CAST(floor((n_points::DOUBLE * sxy::DOUBLE - sx::DOUBLE * sy::DOUBLE)
                            / (n_points::DOUBLE * sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE) * 1000000) AS BIGINT)
       END AS zipf_slope_micro,
       CASE WHEN n_points::DOUBLE * sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE <> 0
             AND n_points::DOUBLE * syy::DOUBLE - sy::DOUBLE * sy::DOUBLE <> 0
            THEN CAST(floor((n_points::DOUBLE * sxy::DOUBLE - sx::DOUBLE * sy::DOUBLE) * (n_points::DOUBLE * sxy::DOUBLE - sx::DOUBLE * sy::DOUBLE)
                            / ((n_points::DOUBLE * sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE) * (n_points::DOUBLE * syy::DOUBLE - sy::DOUBLE * sy::DOUBLE))
                            * 1000000) AS BIGINT)
       END AS r2_micro
FROM m
"""

QUERIES4["st11_streaming_psi_drift"] = (st11_streaming_psi_drift, ST11_SQL)
QUERIES4["tx18_zipf_fit"] = (tx18_zipf_fit, TX18_SQL)


# --------------------------------------------------------------------------
# q10: TPC-H Q10 shape — returned-item revenue per customer, top 20
# --------------------------------------------------------------------------

def q10_returned_revenue_topk(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q10: which customers returned the most revenue in a
    quarter. The canonical 3-way fact join: the quarter filter PUSHED to
    the orders scan, the return-flag filter PUSHED to the lineitem scan,
    revenue in exact integer micro (order-independent), nation dim
    BROADCAST, and the global top-20 via orderBy().limit() —
    TakeOrderedAndProject, never a single-partition window. Ties break
    on custkey."""
    o = load_table(spark, sf, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1996-04-01")
    ).select("o_orderkey", "o_custkey")
    li = load_table(spark, sf, "lineitem").filter(F.col("l_returnflag") == "R").select(
        "l_orderkey",
        micro_col(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("m_rev"),
    )
    c = load_table(spark, sf, "customer").select(
        "c_custkey", "c_name", F.col("c_nationkey").cast("long").alias("nationkey")
    )
    j = li.join(o, li["l_orderkey"] == o["o_orderkey"]).join(
        c, o["o_custkey"] == c["c_custkey"]
    )
    agg = j.groupBy("c_custkey", "c_name", "nationkey").agg(
        F.sum("m_rev").cast("long").alias("revenue_micro"),
        F.count(F.lit(1)).cast("long").alias("n_items"),
    )
    return agg.orderBy(F.desc("revenue_micro"), F.asc("c_custkey")).limit(20)


Q10_SQL = """
WITH j AS (
  SELECT c.c_custkey, c.c_name, CAST(c.c_nationkey AS BIGINT) AS nationkey,
         CAST(floor(l.l_extendedprice * (1 - l.l_discount) * 1000000 + 0.5) AS BIGINT) AS m_rev
  FROM lineitem l
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN customer c ON o.o_custkey = c.c_custkey
  WHERE l.l_returnflag = 'R'
    AND o.o_orderdate >= '1996-01-01' AND o.o_orderdate < '1996-04-01'
)
SELECT c_custkey, c_name, nationkey,
       CAST(sum(m_rev) AS BIGINT) AS revenue_micro,
       CAST(count(*) AS BIGINT) AS n_items
FROM j
GROUP BY c_custkey, c_name, nationkey
ORDER BY revenue_micro DESC, c_custkey ASC
LIMIT 20
"""

QUERIES4["q10_returned_revenue_topk"] = (q10_returned_revenue_topk, Q10_SQL)


# --------------------------------------------------------------------------
# ann08: int8-quantized dot-product retrieval (qn01's plan, executed)
# --------------------------------------------------------------------------

def ann08_int8_topk(spark: SparkSession, sf: str) -> DataFrame:
    """Top-k retrieval over the INT8-QUANTIZED store qn01 plans: each
    vector is symmetric-int8 quantized (q_i = floor(x_i/max_abs*127)),
    and candidates rank by the exact integer key ``dot(q_x, q_q) *
    max_abs_micro(x)`` — for a fixed query this is monotone in the
    dequantized dot product, so the whole scoring path is 64-bit
    integer arithmetic: no float drift, 4x less scan bandwidth than
    float32, and SIMD-able on a real cluster. Queries broadcast; the
    per-query window is key-partitioned. The unit test measures
    recall@5 against the exact float scan (ann01)."""
    e = load_corpus_unique(spark, sf, "embeddings").filter(
        F.col("embedding").isNotNull() & (F.size("embedding") > 0)
    )
    xd = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    max_abs = F.array_max(F.transform(xd, F.abs))
    qv = F.transform(
        xd,
        lambda x: F.when(max_abs > 0.0, F.floor(x / max_abs * F.lit(127.0)))
        .otherwise(F.lit(0))
        .cast("long"),
    )
    base = e.select(
        "vec_id", qv.alias("qv"), F.floor(max_abs * 1000000).cast("long").alias("sx")
    )
    queries = base.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("query_id"), F.col("qv").alias("qq")
    )
    zero = F.lit(0).cast("long")
    dot = F.aggregate(
        F.zip_with(F.col("qv"), F.col("qq"), lambda a, b: a * b), zero, lambda acc, x: acc + x
    )
    scored = base.join(
        F.broadcast(queries), F.col("query_id") != F.col("vec_id")
    ).select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        dot.alias("qdot"),
        (dot * F.col("sx")).alias("rank_key"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("rank_key"), F.asc("neighbor_id"))
    return (
        scored.withColumn("match_rank", F.row_number().over(w))
        .filter(F.col("match_rank") <= 5)
        .select("query_id", "neighbor_id", F.col("match_rank").cast("long"), "qdot", "rank_key")
    )


ANN08_SQL = """
WITH e AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS xd
  FROM (SELECT DISTINCT * FROM embeddings)
  WHERE embedding IS NOT NULL AND len(embedding) > 0
),
b AS (
  SELECT vec_id,
         list_transform(xd, x -> CASE WHEN list_max(list_transform(xd, v -> abs(v))) > 0.0
                                      THEN CAST(floor(x / list_max(list_transform(xd, v -> abs(v))) * 127.0) AS BIGINT)
                                      ELSE CAST(0 AS BIGINT) END) AS qv,
         CAST(floor(list_max(list_transform(xd, v -> abs(v))) * 1000000) AS BIGINT) AS sx
  FROM e
),
q AS (SELECT vec_id AS query_id, qv AS qq FROM b WHERE vec_id % 100 = 0),
scored AS (
  SELECT q.query_id, b.vec_id AS neighbor_id,
         CAST(coalesce(list_sum(list_transform(generate_series(1, len(b.qv)),
              i -> b.qv[i] * q.qq[i])), 0) AS BIGINT) AS qdot,
         CAST(coalesce(list_sum(list_transform(generate_series(1, len(b.qv)),
              i -> b.qv[i] * q.qq[i])), 0) * b.sx AS BIGINT) AS rank_key
  FROM b JOIN q ON q.query_id <> b.vec_id
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY rank_key DESC, neighbor_id ASC) AS match_rank
  FROM scored
)
SELECT query_id, neighbor_id, CAST(match_rank AS BIGINT) AS match_rank, qdot, rank_key
FROM ranked WHERE match_rank <= 5
"""

QUERIES4["ann08_int8_topk"] = (ann08_int8_topk, ANN08_SQL)


# --------------------------------------------------------------------------
# dd09: asymmetric containment near-dup pairs (quote/subset detection)
# --------------------------------------------------------------------------

def dd09_containment_pairs(spark: SparkSession, sf: str) -> DataFrame:
    """Containment-based near-dup detection: |shingles(A) ∩ shingles(B)|
    / |shingles(A)| >= 0.8 — the ASYMMETRIC relation Jaccard (dd02)
    cannot see: a short document quoted inside a much longer one has
    high containment but tiny Jaccard.

    Scale shape: the SSJoin PREFIX FILTER, here hash-certified through
    the oracle gate (dd02 carries it as a pytest-only variant). A pair
    with containment >= t from side X must share a shingle within X's
    first ``|X| - ceil(t*|X|) + 1`` shingles under ANY fixed global
    order (md5 — both engines sort hex identically), so only those
    prefixes are indexed against the full postings — candidate fan-out
    drops ~(1-t) vs indexing everything, with ZERO recall loss. The
    size band that makes dd02's count-based variant cheap is
    unavailable here (small-in-large is exactly the signal), which is
    why the prefix filter is the containment scale path. Survivor pairs
    verify with one exact in-memory intersection per candidate.
    """
    t = 0.8
    t_micro = 800_000
    d = load_corpus_unique(spark, sf, "documents").filter(F.col("text").isNotNull())
    docs = d.select(F.col("doc_id").alias("id"), word_shingles("text", 5).alias("sh"))
    sized = docs.select("id", F.size("sh").alias("n_sh"), "sh").filter(F.col("n_sh") > 0)
    # The (shingle -> md5 -> sort) corpus pass feeds FOUR consumers —
    # the prefix index, the full postings, and both verification join
    # legs — and each re-derived the whole pass in the executed plan
    # (the textan wave-1 shape). One lazy localCheckpoint materializes
    # it once inside the timed action; every consumer reads the stored
    # relation (r14 optimization, VERDICT r13 item 2).
    hashed = sized.withColumn(
        "hs", F.array_sort(F.transform("sh", lambda x: F.md5(x)))
    ).localCheckpoint(eager=False)
    sized = hashed.select("id", "n_sh", "sh")
    prefix_len = (F.col("n_sh") - F.ceil(F.lit(t) * F.col("n_sh")) + 1).cast("int")
    pref = hashed.select(
        F.col("id").alias("id_x"),
        F.col("n_sh").alias("n_x"),
        F.explode(F.slice("hs", F.lit(1), prefix_len)).alias("h"),
    )
    full = hashed.select(
        F.col("id").alias("id_y"),
        F.col("n_sh").alias("n_y"),
        F.explode("hs").alias("h"),
    )
    # A hit from X's prefix only certifies the X->Y direction, which
    # needs |X∩Y| >= t|X| and |X∩Y| <= |Y|, hence |Y| >= t|X| — hits
    # against smaller docs are dead weight (the Y->X direction is
    # independently certified via Y's OWN prefix), so the length filter
    # drops them with ZERO recall loss (VERDICT r8 item 3).
    cands = (
        pref.hint("shuffle_hash")
        .join(full, "h")
        .filter(
            # n_x/n_y come from F.size (IntegerType): cast to long BEFORE
            # the micro multiply — under ANSI a >2147-shingle doc (~2150
            # words, routine at 100 TB) would overflow int32 (ADVICE r9).
            (F.col("id_x") != F.col("id_y"))
            & (
                F.col("n_y").cast("long") * 1_000_000
                >= F.lit(t_micro).cast("long") * F.col("n_x").cast("long")
            )
        )
        .select(
            F.least("id_x", "id_y").alias("id_a"), F.greatest("id_x", "id_y").alias("id_b")
        )
        .distinct()
    )
    sets_ = sized.select("id", "n_sh", "sh")
    g = (
        cands.join(
            sets_.select(
                F.col("id").alias("id_a"), F.col("n_sh").alias("n_a"), F.col("sh").alias("sh_a")
            ),
            "id_a",
        )
        .join(
            sets_.select(
                F.col("id").alias("id_b"), F.col("n_sh").alias("n_b"), F.col("sh").alias("sh_b")
            ),
            "id_b",
        )
        .select(
            "id_a",
            "id_b",
            "n_a",
            "n_b",
            F.size(F.array_intersect("sh_a", "sh_b")).cast("long").alias("n_inter"),
        )
    )
    directed = g.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("id_a").alias("src_id"),
                    F.col("id_b").alias("ref_id"),
                    F.col("n_a").alias("n_src"),
                ),
                F.struct(
                    F.col("id_b").alias("src_id"),
                    F.col("id_a").alias("ref_id"),
                    F.col("n_b").alias("n_src"),
                ),
            )
        ).alias("p"),
        "n_inter",
    ).select("p.src_id", "p.ref_id", F.col("p.n_src").cast("long").alias("n_src"), "n_inter")
    return directed.filter(
        F.col("n_inter") * F.lit(1_000_000).cast("long")
        >= F.lit(t_micro).cast("long") * F.col("n_src")
    ).select(
        "src_id",
        "ref_id",
        "n_src",
        "n_inter",
        F.expr("n_inter * CAST(1000000 AS BIGINT) DIV n_src").alias("containment_micro"),
    )


def _dd09_sql() -> str:
    toks = f"string_split({core.sql_normalized_text('text')}, ' ')"
    return f"""
WITH t AS (
  SELECT doc_id, {core.sql_shingles(toks, 5)} AS sh
  FROM (SELECT DISTINCT * FROM documents) WHERE text IS NOT NULL
),
sz AS (SELECT doc_id, sh, len(sh) AS n_sh,
              list_sort(list_transform(sh, s -> md5(s))) AS hs
       FROM t WHERE len(sh) > 0),
pref AS (
  SELECT doc_id AS id_x, n_sh AS n_x,
         unnest(hs[1:(n_sh - CAST(ceil(0.8 * n_sh) AS INT) + 1)]) AS h
  FROM sz
),
fullp AS (SELECT doc_id AS id_y, n_sh AS n_y, unnest(hs) AS h FROM sz),
cands AS (
  SELECT DISTINCT least(id_x, id_y) AS id_a, greatest(id_x, id_y) AS id_b
  FROM pref JOIN fullp USING (h)
  WHERE id_x <> id_y AND n_y * 1000000 >= 800000 * n_x
),
g AS (
  SELECT c.id_a, c.id_b, a.n_sh AS n_a, b.n_sh AS n_b,
         CAST(len(list_intersect(a.sh, b.sh)) AS BIGINT) AS n_inter
  FROM cands c
  JOIN sz a ON a.doc_id = c.id_a
  JOIN sz b ON b.doc_id = c.id_b
),
directed AS (
  SELECT id_a AS src_id, id_b AS ref_id, n_a AS n_src, n_inter FROM g
  UNION ALL
  SELECT id_b AS src_id, id_a AS ref_id, n_b AS n_src, n_inter FROM g
)
SELECT src_id, ref_id, CAST(n_src AS BIGINT) AS n_src, n_inter,
       n_inter * CAST(1000000 AS BIGINT) // n_src AS containment_micro
FROM directed WHERE n_inter * 1000000 >= 800000 * n_src
"""


QUERIES4["dd09_containment_pairs"] = (dd09_containment_pairs, _dd09_sql())


# --------------------------------------------------------------------------
# ab01: A/B experiment readout (two-proportion z on exact integer counts)
# --------------------------------------------------------------------------

def ab01_ab_test_readout(spark: SparkSession, sf: str) -> DataFrame:
    """Experimentation analytics: users split by a deterministic
    assignment (user_id parity plays the bucketing hash), conversion =
    "placed at least one purchase event". All COUNTS are exact
    distinct-user integers; the lift and the two-proportion z² statistic
    are computed in doubles FROM those identical integers and
    micro-floored, so the readout is partition-order exact. One
    distinct-user aggregation + a 1-row epilogue — a dashboard query
    that costs the same at any corpus size past the first rollup."""
    e = load_table(spark, sf, "events").filter(
        F.col("user_id").isNotNull() & F.col("event_type").isNotNull()
    )
    per_user = e.groupBy("user_id").agg(
        F.max(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias("converted")
    )
    g = per_user.select(
        (F.col("user_id") % 2 == 1).alias("treated"), "converted"
    ).groupBy("treated").agg(
        F.count(F.lit(1)).cast("long").alias("n_users"),
        F.sum("converted").cast("long").alias("n_converted"),
    )
    t = g.filter(F.col("treated")).select(
        F.col("n_users").alias("n_t"), F.col("n_converted").alias("x_t")
    )
    c = g.filter(~F.col("treated")).select(
        F.col("n_users").alias("n_c"), F.col("n_converted").alias("x_c")
    )
    j = t.join(F.broadcast(c))
    pt = F.col("x_t").cast("double") / F.col("n_t").cast("double")
    pc = F.col("x_c").cast("double") / F.col("n_c").cast("double")
    pp = (F.col("x_t") + F.col("x_c")).cast("double") / (F.col("n_t") + F.col("n_c")).cast("double")
    se2 = pp * (F.lit(1.0) - pp) * (
        F.lit(1.0) / F.col("n_t").cast("double") + F.lit(1.0) / F.col("n_c").cast("double")
    )
    return j.select(
        "n_c",
        "n_t",
        "x_c",
        "x_t",
        F.floor((pt - pc) * 1000000).cast("long").alias("lift_micro"),
        F.when(se2 > 0.0, F.floor((pt - pc) * (pt - pc) / se2 * 1000))
        .cast("long")
        .alias("z2_milli"),
    )


AB01_SQL = """
WITH per_user AS (
  SELECT user_id,
         max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS converted
  FROM events
  WHERE user_id IS NOT NULL AND event_type IS NOT NULL
  GROUP BY user_id
),
g AS (
  SELECT user_id % 2 = 1 AS treated,
         CAST(count(*) AS BIGINT) AS n_users,
         CAST(sum(converted) AS BIGINT) AS n_converted
  FROM per_user GROUP BY 1
),
t AS (SELECT n_users AS n_t, n_converted AS x_t FROM g WHERE treated),
c AS (SELECT n_users AS n_c, n_converted AS x_c FROM g WHERE NOT treated)
SELECT n_c, n_t, x_c, x_t,
       CAST(floor((CAST(x_t AS DOUBLE) / CAST(n_t AS DOUBLE)
                   - CAST(x_c AS DOUBLE) / CAST(n_c AS DOUBLE)) * 1000000) AS BIGINT) AS lift_micro,
       CASE WHEN (CAST(x_t + x_c AS DOUBLE) / CAST(n_t + n_c AS DOUBLE))
                 * (1.0 - CAST(x_t + x_c AS DOUBLE) / CAST(n_t + n_c AS DOUBLE))
                 * (1.0 / CAST(n_t AS DOUBLE) + 1.0 / CAST(n_c AS DOUBLE)) > 0.0
            THEN CAST(floor(
                 (CAST(x_t AS DOUBLE) / CAST(n_t AS DOUBLE) - CAST(x_c AS DOUBLE) / CAST(n_c AS DOUBLE))
               * (CAST(x_t AS DOUBLE) / CAST(n_t AS DOUBLE) - CAST(x_c AS DOUBLE) / CAST(n_c AS DOUBLE))
               / ((CAST(x_t + x_c AS DOUBLE) / CAST(n_t + n_c AS DOUBLE))
                  * (1.0 - CAST(x_t + x_c AS DOUBLE) / CAST(n_t + n_c AS DOUBLE))
                  * (1.0 / CAST(n_t AS DOUBLE) + 1.0 / CAST(n_c AS DOUBLE)))
               * 1000) AS BIGINT)
       END AS z2_milli
FROM t, c
"""

QUERIES4["ab01_ab_test_readout"] = (ab01_ab_test_readout, AB01_SQL)


# --------------------------------------------------------------------------
# dd10: cross-document exact substring duplication (Lee et al. shape)
# --------------------------------------------------------------------------

def dd10_exact_substring_spans(spark: SparkSession, sf: str) -> DataFrame:
    """Exact duplicated CHARACTER spans across documents — the canonical
    LLM-curation exact-substring dedup signal (Lee et al. 2021),
    approximated with overlapping 40-char grams + interval extension
    (``operators/dedup.exact_substring_spans``; generalizes the
    reference's E2/dd06 line dedup to unaligned character spans). The
    twin replays the identical gram/extension arithmetic."""
    d = load_corpus_unique(spark, sf, "documents")
    return dedup.exact_substring_spans(d, gram=40)


DD10_SQL = """
WITH d AS (
  SELECT doc_id AS id, text AS txt FROM (SELECT DISTINCT * FROM documents)
  WHERE text IS NOT NULL AND length(text) >= 40
),
g AS (SELECT id, unnest(generate_series(1, length(txt) - 40 + 1)) AS p, txt FROM d),
g2 AS (SELECT id, p, substring(txt, p, 40) AS gram FROM g),
dup AS (SELECT gram FROM g2 GROUP BY gram HAVING min(id) <> max(id)),
hits AS (SELECT id, p FROM g2 JOIN dup USING (gram)),
w AS (SELECT id, p,
        lead(p) OVER (PARTITION BY id ORDER BY p) AS np,
        lag(p)  OVER (PARTITION BY id ORDER BY p) AS pp
      FROM hits)
SELECT id AS doc_id,
       CAST(count(*) AS BIGINT) AS n_dup_grams,
       CAST(sum(CASE WHEN np IS NULL THEN 40 ELSE least(np - p, 40) END) AS BIGINT) AS dup_chars,
       CAST(sum(CASE WHEN pp IS NULL OR p - pp > 40 THEN 1 ELSE 0 END) AS BIGINT) AS n_spans
FROM w GROUP BY id
"""

QUERIES4["dd10_exact_substring_spans"] = (dd10_exact_substring_spans, DD10_SQL)


# --------------------------------------------------------------------------
# tx19: per-document token-distribution Shannon entropy (quality signal)
# --------------------------------------------------------------------------

def tx19_token_entropy(spark: SparkSession, sf: str) -> DataFrame:
    """Information-density quality gate: Shannon entropy (nats, exact
    integer micro) of each document's token distribution — low entropy
    at high length = repetitive junk the fixed-n repetition window
    (tx05) can miss; abnormally high = mojibake/noise. Two per-doc
    hash aggregates, no corpus pass (operators/textan.token_entropy)."""
    out = textan.token_entropy(load_corpus(spark, sf, "documents"))
    return out.withColumnRenamed("id", "doc_id")


def _tx19_sql() -> str:
    return f"""
WITH t AS (
  SELECT doc_id, unnest(string_split({core.sql_normalized_text("text")}, ' ')) AS tok
  FROM documents
),
t2 AS (SELECT doc_id, tok FROM t WHERE tok <> ''),
cnts AS (SELECT doc_id, tok, count(*) AS cnt FROM t2 GROUP BY 1, 2),
tot AS (SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n,
               CAST(count(*) AS BIGINT) AS n_distinct
        FROM cnts GROUP BY 1)
SELECT cnts.doc_id,
       CAST(max(tot.n) AS BIGINT) AS n_tokens,
       CAST(max(tot.n_distinct) AS BIGINT) AS n_distinct,
       CAST(sum(CAST(floor((cnt / tot.n) * ln(tot.n / cnt) * 1000000) AS BIGINT)) AS BIGINT)
         AS entropy_nats_micro
FROM cnts JOIN tot USING (doc_id)
GROUP BY 1
"""

QUERIES4["tx19_token_entropy"] = (tx19_token_entropy, _tx19_sql())


# --------------------------------------------------------------------------
# gt01: grand money totals through the WIDE (decimal-backed) aggregate
# --------------------------------------------------------------------------

def gt01_grand_total_wide(spark: SparkSession, sf: str) -> DataFrame:
    """Corpus-level money totals per return flag — the aggregate class
    whose magnitude scales WITH the corpus (SCALE.md round-10 note):
    at sf1e5 the grand revenue total is ~2.2e22 micro-units, past
    int64, so this query runs `exact_sum_wide` (DECIMAL(38,0)
    aggregation, exact to 1e32 units, HUGEINT twin) instead of the
    per-key long path the rest of the registry uses. Three coarse
    groups — one map-side-combined shuffle, no skew exposure."""
    li = load_table(spark, sf, "lineitem").select(
        "l_returnflag",
        "l_extendedprice",
        (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("disc_price"),
    )
    return li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast("long").alias("n_items"),
        exact_sum_wide("l_extendedprice").alias("gross"),
        exact_sum_wide("disc_price").alias("revenue"),
    )


def _gt01_sql() -> str:
    return f"""
SELECT l_returnflag,
       CAST(count(*) AS BIGINT) AS n_items,
       {sql_exact_sum_wide("l_extendedprice")} AS gross,
       {sql_exact_sum_wide("l_extendedprice * (1 - l_discount)")} AS revenue
FROM lineitem
GROUP BY 1
"""


QUERIES4["gt01_grand_total_wide"] = (gt01_grand_total_wide, _gt01_sql())


# --------------------------------------------------------------------------
# mm15: H.264 SPS metadata parse (real Annex-B bitstream, metadata-only)
# --------------------------------------------------------------------------

def mm15_h264_sps_metadata(spark: SparkSession, sf: str) -> DataFrame:
    """REAL H.264 SPS metadata decode, VERDICT r10 item 8's honest
    scope: per doc_id a spec-shaped Annex-B SPS NAL is synthesized
    (``multimodal/h264.sps_encode`` — exp-Golomb, frame cropping for
    non-macroblock dims, VUI timing, emulation prevention: for a large
    share of the doc_id parameter grid the 32-bit timing fields
    byte-align to 00 00 03 and exercise the escape), then
    ``sps_features`` bit-parses the
    actual bytes back (profile/level/width/height/fps). The twin
    computes every value analytically from doc_id, so any bit-reader
    bug — exp-Golomb drift, crop-unit misuse, missed emulation strip,
    high-profile chroma branch — breaks the hash. Pixel decode of
    inter-frame video remains behind the plugin seam; this is the
    metadata tier a 100 TB pipeline routes on."""
    d = load_table(spark, sf, "documents").select("doc_id")
    media = synth_media(
        d,
        lambda i: sps_encode(
            16 + (i % 952) * 2,
            16 + (i % 532) * 2,
            profile_idc=(66, 77, 100)[i % 3],
            level_idc=10 + i % 42,
            fps=24 + i % 37,
        ),
    )
    return sps_features(media).select(
        "media_id",
        "profile_idc",
        "level_idc",
        "width",
        "height",
        F.round("fps", 4).alias("fps"),
    )


MM15_SQL = """
SELECT doc_id AS media_id,
  (CASE doc_id % 3 WHEN 0 THEN 66 WHEN 1 THEN 77 ELSE 100 END)::INT AS profile_idc,
  (10 + doc_id % 42)::INT AS level_idc,
  (16 + (doc_id % 952) * 2)::INT AS width,
  (16 + (doc_id % 532) * 2)::INT AS height,
  round((24 + doc_id % 37)::DOUBLE, 4) AS fps
FROM documents
"""

QUERIES4["mm15_h264_sps_metadata"] = (mm15_h264_sps_metadata, MM15_SQL)


# --------------------------------------------------------------------------
# mm16: avcC-in-MP4 extraction + container-vs-stream QA cross-check
# --------------------------------------------------------------------------

def mm16_mp4_avcc_qa(spark: SparkSession, sf: str) -> DataFrame:
    """How H.264 actually arrives in a lake: inside an MP4 sample entry
    (moov/trak/mdia/minf/stbl/stsd/avc1/avcC), not bare Annex-B. Per
    doc_id a complete ISO-BMFF file with a real AVCDecoderConfiguration
    Record is synthesized (``multimodal/h264.mp4_avc_encode``), then
    ``avc_container_features`` walks the actual box tree, bit-parses the
    embedded SPS, and cross-validates CONTAINER display dims (tkhd)
    against STREAM coded dims (SPS minus crop) — every 7th doc is
    synthesized with inflated display dims, the real-world corruption
    the ``dims_match`` QA flag exists to catch. The twin is fully
    analytic, so any box-walk offset drift (the 78-byte VisualSampleEntry
    skip, the stsd FullBox header) or SPS bit-parse bug breaks the hash."""
    def mp4(i: int) -> bytes:
        w, h = 16 + (i % 952) * 2, 16 + (i % 532) * 2
        return mp4_avc_encode(
            w,
            h,
            1 + i % 600000,
            profile_idc=(66, 77, 100)[i % 3],
            level_idc=10 + i % 42,
            fps=24 + i % 37,
            display_width=w + 2 if i % 7 == 0 else None,
            display_height=h + 2 if i % 7 == 0 else None,
        )

    d = load_table(spark, sf, "documents").select("doc_id")
    media = synth_media(d, mp4)
    return avc_container_features(media).select(
        "media_id",
        "container_width",
        "container_height",
        F.round("duration_ms", 4).alias("duration_ms"),
        "profile_idc",
        "level_idc",
        "width",
        "height",
        F.round("fps", 4).alias("fps"),
        "dims_match",
    )


MM16_SQL = """
SELECT doc_id AS media_id,
  (16 + (doc_id % 952) * 2 + CASE WHEN doc_id % 7 = 0 THEN 2 ELSE 0 END)::INT AS container_width,
  (16 + (doc_id % 532) * 2 + CASE WHEN doc_id % 7 = 0 THEN 2 ELSE 0 END)::INT AS container_height,
  round((1 + doc_id % 600000)::DOUBLE, 4) AS duration_ms,
  (CASE doc_id % 3 WHEN 0 THEN 66 WHEN 1 THEN 77 ELSE 100 END)::INT AS profile_idc,
  (10 + doc_id % 42)::INT AS level_idc,
  (16 + (doc_id % 952) * 2)::INT AS width,
  (16 + (doc_id % 532) * 2)::INT AS height,
  round((24 + doc_id % 37)::DOUBLE, 4) AS fps,
  (doc_id % 7 <> 0) AS dims_match
FROM documents
"""

QUERIES4["mm16_mp4_avcc_qa"] = (mm16_mp4_avcc_qa, MM16_SQL)


# --------------------------------------------------------------------------
# mm17: HEVC SPS metadata parse (full §7.3.2.2.1 bit-parse, metadata-only)
# --------------------------------------------------------------------------

def mm17_hevc_sps_metadata(spark: SparkSession, sf: str) -> DataFrame:
    """REAL HEVC SPS metadata decode — the H.265 half of the video
    metadata tier (VERDICT r11 item 8; mm15 is the H.264 half): per
    doc_id a spec-shaped Annex-B SPS NAL is synthesized
    (``multimodal/h265.hevc_sps_encode`` — profile_tier_level,
    conformance window restoring non-multiple-of-8 dims, VUI timing,
    emulation prevention), then ``hevc_sps_features`` bit-parses the
    actual bytes back. The twin computes every value analytically from
    doc_id, so exp-Golomb drift anywhere in the §7.3.2.2.1 walk, a
    conformance-window unit bug (4:2:0 crops in chroma units), or a
    missed emulation strip breaks the hash. Pixel decode stays behind
    the plugin seam; see tests/test_h265.py for the hand-assembled
    spec golden covering the RPS/PCM/scaling-list branches."""
    d = load_table(spark, sf, "documents").select("doc_id")
    media = synth_media(
        d,
        lambda i: hevc_sps_encode(
            16 + (i % 952) * 2,
            16 + (i % 532) * 2,
            profile_idc=1 + i % 2,
            level_idc=30 + i % 124,
            fps=24 + i % 37,
        ),
    )
    return hevc_sps_features(media).select(
        "media_id",
        "profile_idc",
        "tier",
        "level_idc",
        "width",
        "height",
        "bit_depth",
        F.round("fps", 4).alias("fps"),
    )


MM17_SQL = """
SELECT doc_id AS media_id,
  (1 + doc_id % 2)::INT AS profile_idc,
  0::INT AS tier,
  (30 + doc_id % 124)::INT AS level_idc,
  (16 + (doc_id % 952) * 2)::INT AS width,
  (16 + (doc_id % 532) * 2)::INT AS height,
  8::INT AS bit_depth,
  round((24 + doc_id % 37)::DOUBLE, 4) AS fps
FROM documents
"""

QUERIES4["mm17_hevc_sps_metadata"] = (mm17_hevc_sps_metadata, MM17_SQL)


# --------------------------------------------------------------------------
# mm18: hvcC-in-MP4 container-vs-stream QA (HEVC mirror of mm16)
# --------------------------------------------------------------------------

def mm18_mp4_hvcc_qa(spark: SparkSession, sf: str) -> DataFrame:
    """How HEVC actually arrives in a lake: an hvc1 sample entry whose
    hvcC record (ISO/IEC 14496-15 §8.3.3.1 — per-NAL-type ARRAYS, unlike
    avcC's flat lists) carries the SPS. Per doc_id a complete ISO-BMFF
    file is synthesized (``multimodal/h265.mp4_hevc_encode``), then
    ``hevc_container_features`` walks the real box tree, parses the
    hvcC arrays to the SPS, bit-parses it, and cross-validates container
    display dims (tkhd) against stream coded-minus-crop dims — every
    7th doc is synthesized with inflated display dims, the corruption
    the ``dims_match`` QA flag exists to catch. Fully analytic twin."""
    def mp4(i: int) -> bytes:
        w, h = 16 + (i % 952) * 2, 16 + (i % 532) * 2
        return mp4_hevc_encode(
            w,
            h,
            1 + i % 600000,
            profile_idc=1 + i % 2,
            level_idc=30 + i % 124,
            fps=24 + i % 37,
            display_width=w + 2 if i % 7 == 0 else None,
            display_height=h + 2 if i % 7 == 0 else None,
        )

    d = load_table(spark, sf, "documents").select("doc_id")
    media = synth_media(d, mp4)
    return hevc_container_features(media).select(
        "media_id",
        "container_width",
        "container_height",
        F.round("duration_ms", 4).alias("duration_ms"),
        "profile_idc",
        "level_idc",
        "width",
        "height",
        "bit_depth",
        F.round("fps", 4).alias("fps"),
        "dims_match",
    )


MM18_SQL = """
SELECT doc_id AS media_id,
  (16 + (doc_id % 952) * 2 + CASE WHEN doc_id % 7 = 0 THEN 2 ELSE 0 END)::INT AS container_width,
  (16 + (doc_id % 532) * 2 + CASE WHEN doc_id % 7 = 0 THEN 2 ELSE 0 END)::INT AS container_height,
  round((1 + doc_id % 600000)::DOUBLE, 4) AS duration_ms,
  (1 + doc_id % 2)::INT AS profile_idc,
  (30 + doc_id % 124)::INT AS level_idc,
  (16 + (doc_id % 952) * 2)::INT AS width,
  (16 + (doc_id % 532) * 2)::INT AS height,
  8::INT AS bit_depth,
  round((24 + doc_id % 37)::DOUBLE, 4) AS fps,
  (doc_id % 7 <> 0) AS dims_match
FROM documents
"""

QUERIES4["mm18_mp4_hvcc_qa"] = (mm18_mp4_hvcc_qa, MM18_SQL)


# --------------------------------------------------------------------------
# mm19: AV1 sequence-header metadata parse (OBU framing + §5.5 bit-parse)
# --------------------------------------------------------------------------

def mm19_av1_seq_metadata(spark: SparkSession, sf: str) -> DataFrame:
    """REAL AV1 sequence-header decode — the third leg of the video
    metadata tier (H.264 mm15, HEVC mm17): per doc_id a spec-shaped
    temporal unit (temporal delimiter + sequence header OBU with leb128
    size fields — AV1 has no start codes and no emulation prevention)
    is synthesized (``multimodal/av1.av1_sequence_header_encode``), then
    ``av1_seq_features`` walks the OBU framing and bit-parses the §5.5
    layout back (profile/level/tier, variable-width dimension fields,
    color_config-derived bit depth and subsampling, timing-info fps).
    Analytic twin: any leb128/operating-point/color-config drift breaks
    the hash. See tests/test_av1.py for the hand-assembled spec golden
    covering multi-op tables, decoder model, and reduced headers."""
    d = load_table(spark, sf, "documents").select("doc_id")
    media = synth_media(
        d,
        lambda i: av1_sequence_header_encode(
            1 + i % 1903,
            1 + i % 1063,
            seq_profile=i % 3,
            seq_level_idx=8 + i % 24,
            seq_tier=i % 2,
            fps=24 + i % 37,
            high_bitdepth=i % 5 == 0,
        ),
    )
    return av1_seq_features(media).select(
        "media_id",
        "seq_profile",
        "seq_level_idx",
        "seq_tier",
        "width",
        "height",
        "bit_depth",
        "chroma_sub_x",
        "chroma_sub_y",
        F.round("fps", 4).alias("fps"),
    )


MM19_SQL = """
SELECT doc_id AS media_id,
  (doc_id % 3)::INT AS seq_profile,
  (8 + doc_id % 24)::INT AS seq_level_idx,
  (doc_id % 2)::INT AS seq_tier,
  (1 + doc_id % 1903)::INT AS width,
  (1 + doc_id % 1063)::INT AS height,
  (CASE WHEN doc_id % 5 = 0 THEN 10 ELSE 8 END)::INT AS bit_depth,
  (CASE doc_id % 3 WHEN 1 THEN 0 ELSE 1 END)::INT AS chroma_sub_x,
  (CASE doc_id % 3 WHEN 0 THEN 1 ELSE 0 END)::INT AS chroma_sub_y,
  round((24 + doc_id % 37)::DOUBLE, 4) AS fps
FROM documents
"""

QUERIES4["mm19_av1_seq_metadata"] = (mm19_av1_seq_metadata, MM19_SQL)


# --------------------------------------------------------------------------
# mm20: av1C-in-MP4 container-vs-stream QA (AV1 mirror of mm16/mm18)
# --------------------------------------------------------------------------

def mm20_mp4_av1c_qa(spark: SparkSession, sf: str) -> DataFrame:
    """How AV1 arrives in a lake: an av01 sample entry whose av1C box
    (AV1CodecConfigurationRecord: 4-byte fixed prefix + configOBUs)
    carries the sequence header. Per doc_id a complete ISO-BMFF file is
    synthesized (``multimodal/av1.mp4_av1_encode``), then
    ``av1_container_features`` walks the real box tree, parses the
    record AND its embedded sequence header, and cross-validates BOTH
    container display dims vs stream dims (every 7th doc inflated) and
    the record's profile/level prefix vs the stream's own values
    (``record_matches`` — muxers get this wrong in real corpora).
    Fully analytic twin."""
    def mp4(i: int) -> bytes:
        w, h = 16 + (i % 952) * 2, 16 + (i % 532) * 2
        return mp4_av1_encode(
            w,
            h,
            1 + i % 600000,
            seq_profile=i % 3,
            seq_level_idx=8 + i % 24,
            fps=24 + i % 37,
            display_width=w + 2 if i % 7 == 0 else None,
            display_height=h + 2 if i % 7 == 0 else None,
        )

    d = load_table(spark, sf, "documents").select("doc_id")
    media = synth_media(d, mp4)
    return av1_container_features(media).select(
        "media_id",
        "container_width",
        "container_height",
        F.round("duration_ms", 4).alias("duration_ms"),
        "seq_profile",
        "seq_level_idx",
        "width",
        "height",
        F.round("fps", 4).alias("fps"),
        "record_matches",
        "dims_match",
    )


MM20_SQL = """
SELECT doc_id AS media_id,
  (16 + (doc_id % 952) * 2 + CASE WHEN doc_id % 7 = 0 THEN 2 ELSE 0 END)::INT AS container_width,
  (16 + (doc_id % 532) * 2 + CASE WHEN doc_id % 7 = 0 THEN 2 ELSE 0 END)::INT AS container_height,
  round((1 + doc_id % 600000)::DOUBLE, 4) AS duration_ms,
  (doc_id % 3)::INT AS seq_profile,
  (8 + doc_id % 24)::INT AS seq_level_idx,
  (16 + (doc_id % 952) * 2)::INT AS width,
  (16 + (doc_id % 532) * 2)::INT AS height,
  round((24 + doc_id % 37)::DOUBLE, 4) AS fps,
  TRUE AS record_matches,
  (doc_id % 7 <> 0) AS dims_match
FROM documents
"""

QUERIES4["mm20_mp4_av1c_qa"] = (mm20_mp4_av1c_qa, MM20_SQL)


# --------------------------------------------------------------------------
# qa01: daily byte-quota ledger (A6's quota accounting, data-plane)
# --------------------------------------------------------------------------

_QA01_LIMIT = 192  # bytes/day, scaled so every sf mixes accepts+rejects
_QA01_WARN = 0.8  # DailyQuota.warn_fraction (reference: warn at 80%)


def qa01_daily_quota_ledger(spark: SparkSession, sf: str) -> DataFrame:
    """Data-plane mirror of ``operators/quota.DailyQuota`` (reference
    5 GB/day hard stop, warn at 80% — limit scaled to the test corpus):
    each event is a write batch of ``octet_length(props)`` bytes; within
    a day, batches land in (ts, event_id) order and a batch is accepted
    iff the running byte total stays within the limit. Byte totals are
    non-negative, so cumulative-sum <= limit IS the hard-stop semantics
    (first overflow rejects everything after). The running sum uses the
    default RANGE frame, so full-row duplicate batches (--dupes: ties on
    BOTH order keys) share one cumulative value and one verdict on both
    engines — at-least-once ingest consumes quota per copy, order-tie
    ambiguity impossible by construction. Day buckets use the
    epoch-floor contract (cast-to-long + floor-of-double-division), so
    pre-1970 timestamps land one bucket correctly on both engines."""
    e = load_table(spark, sf, "events")
    ts_s = F.col("ts").cast("long")
    day = F.floor(ts_s / F.lit(86400.0)).cast("long")
    nb = F.coalesce(F.octet_length("props"), F.lit(0))
    b = e.select(day.alias("day"), ts_s.alias("ts_s"), "event_id", nb.alias("nb"))
    w = Window.partitionBy("day").orderBy("ts_s", "event_id")
    c = b.withColumn("cum", F.sum("nb").over(w))
    acc = F.col("cum") <= _QA01_LIMIT
    out = c.groupBy("day").agg(
        F.count(F.lit(1)).cast("long").alias("n_batches"),
        F.sum(acc.cast("int")).cast("long").alias("n_accepted"),
        F.sum((~acc).cast("int")).cast("long").alias("n_rejected"),
        F.sum("nb").cast("long").alias("bytes_total"),
        F.coalesce(F.sum(F.when(acc, F.col("nb"))), F.lit(0)).cast("long").alias("bytes_accepted"),
    )
    state = (
        F.when(F.col("bytes_total") > _QA01_LIMIT, "exceeded")
        .when(F.col("bytes_total") >= F.lit(_QA01_WARN * _QA01_LIMIT), "warning")
        .otherwise("ok")
    )
    return out.withColumn("day_state", state)


QA01_SQL = f"""
WITH b AS (
  SELECT CAST(floor(CAST(floor(epoch(ts)) AS BIGINT) / 86400.0) AS BIGINT) AS day,
         CAST(floor(epoch(ts)) AS BIGINT) AS ts_s,
         event_id,
         COALESCE(strlen(props), 0) AS nb  -- strlen = BYTES in DuckDB (unicode contract)
  FROM events
),
c AS (
  SELECT day, nb,
         sum(nb) OVER (PARTITION BY day ORDER BY ts_s, event_id) AS cum
  FROM b
),
g AS (
  SELECT day,
         CAST(count(*) AS BIGINT) AS n_batches,
         CAST(sum(CASE WHEN cum <= {_QA01_LIMIT} THEN 1 ELSE 0 END) AS BIGINT) AS n_accepted,
         CAST(sum(CASE WHEN cum <= {_QA01_LIMIT} THEN 0 ELSE 1 END) AS BIGINT) AS n_rejected,
         CAST(sum(nb) AS BIGINT) AS bytes_total,
         CAST(COALESCE(sum(CASE WHEN cum <= {_QA01_LIMIT} THEN nb END), 0) AS BIGINT) AS bytes_accepted
  FROM c GROUP BY 1
)
SELECT *,
       CASE WHEN bytes_total > {_QA01_LIMIT} THEN 'exceeded'
            WHEN bytes_total >= {_QA01_WARN * _QA01_LIMIT!r} THEN 'warning'
            ELSE 'ok' END AS day_state
FROM g
"""

QUERIES4["qa01_daily_quota_ledger"] = (qa01_daily_quota_ledger, QA01_SQL)


# --------------------------------------------------------------------------
# xl01: xlsx upload round-trip through the distributed Excel reader
# --------------------------------------------------------------------------

_XL01_KEY_CAP = 100_000  # ~100k rows max -> a few-MB xlsx, inside the envelope


def xl01_xlsx_roundtrip(spark: SparkSession, sf: str) -> DataFrame:
    """Physical Excel ingest round-trip (converts the S2-S4 file-source
    tier from pytest-only to oracle-certified): the customer table is
    written to a REAL .xlsx (stdlib OOXML writer, inline strings —
    ``sources/xlsx.write_xlsx``), then read back through the
    DISTRIBUTED stdlib parser (``ingest.read_excel_distributed``:
    per-task row-range streaming on executors, upload-path + magic-byte
    validation included), cast out of the all-string contract, and
    aggregated per market segment against an analytic twin over the
    original parquet. The hash certifies the whole loop: XML escaping,
    gap-cell None round-trip, '' vs NULL distinction, float repr
    fidelity (repr -> cast is exact), short-row padding, and the
    row-range task split. The driver-side collect writes the UPLOAD
    fixture — upload-sized by definition (the reference's S3 is a
    browser upload); the certified operator is the distributed read.
    The collect is BOUNDED at any sf (VERDICT r11 item 3) by a
    value-based key cap mirrored in the twin: ``c_custkey <
    _XL01_KEY_CAP`` keeps the fixture inside the 16 MiB upload envelope
    even if the gate ever runs at sf1+ (a value filter, not a LIMIT —
    deterministic under duplicates and independent of row order on
    both engines). Every sf the gate runs today (<= 0.1) is fully
    below the cap, so the certified content is unchanged there."""
    d = scratch_path("xl01_upload")
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d, exist_ok=True)
    fpath = os.path.join(d, "customers.xlsx")
    rows = (
        load_table(spark, sf, "customer")
        .filter(F.col("c_custkey") < _XL01_KEY_CAP)
        .select("c_custkey", "c_mktsegment", "c_acctbal")
        .collect()
    )
    data = sorted(
        (
            [
                str(r["c_custkey"]),
                r["c_mktsegment"],
                None if r["c_acctbal"] is None else repr(float(r["c_acctbal"])),
            ]
            for r in rows
        ),
        key=lambda x: x[0],
    )
    write_xlsx(fpath, ["c_custkey", "c_mktsegment", "c_acctbal"], data)

    back = read_excel_distributed(spark, fpath, rows_per_task=512)
    return back.groupBy(F.col("c_mktsegment").alias("seg")).agg(
        F.count(F.lit(1)).cast("long").alias("n_customers"),
        F.sum(micro_col(F.col("c_acctbal").cast("double"))).cast("long").alias("bal_micro"),
        F.min(F.col("c_custkey").cast("long")).alias("min_key"),
        F.max(F.col("c_custkey").cast("long")).alias("max_key"),
    )


XL01_SQL = f"""
SELECT c_mktsegment AS seg,
       CAST(count(*) AS BIGINT) AS n_customers,
       CAST(sum(CAST(floor(c_acctbal * 1000000 + 0.5) AS BIGINT)) AS BIGINT) AS bal_micro,
       CAST(min(c_custkey) AS BIGINT) AS min_key,
       CAST(max(c_custkey) AS BIGINT) AS max_key
FROM customer
WHERE c_custkey < {_XL01_KEY_CAP}
GROUP BY 1
"""

QUERIES4["xl01_xlsx_roundtrip"] = (xl01_xlsx_roundtrip, XL01_SQL)


def xl02_xlsx_sidecar_roundtrip(spark: SparkSession, sf: str) -> DataFrame:
    """The SIDECAR strategy of ``read_excel_distributed``, oracle-
    certified end-to-end (round 12's linear large-sheet path: one driver
    pass decompresses the worksheet XML while byte-indexing ``<row``
    boundaries, executor tasks SEEK to their range —
    ``xlsx.extract_sheet_sidecar``/``read_rows_sidecar``). Same fixture
    and aggregate as xl01, forced onto the seek path with
    ``sidecar_threshold=0``; the shared analytic twin makes the hash
    certify byte-identical output across the two physical strategies —
    range splitting, header-drop in range 0, fragment re-parse, and the
    offset index itself."""
    d = scratch_path("xl02_upload")
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d, exist_ok=True)
    fpath = os.path.join(d, "customers.xlsx")
    rows = (
        load_table(spark, sf, "customer")
        .filter(F.col("c_custkey") < _XL01_KEY_CAP)
        .select("c_custkey", "c_mktsegment", "c_acctbal")
        .collect()
    )
    data = sorted(
        (
            [
                str(r["c_custkey"]),
                r["c_mktsegment"],
                None if r["c_acctbal"] is None else repr(float(r["c_acctbal"])),
            ]
            for r in rows
        ),
        key=lambda x: x[0],
    )
    write_xlsx(fpath, ["c_custkey", "c_mktsegment", "c_acctbal"], data)

    back = read_excel_distributed(
        spark, fpath, rows_per_task=512, sidecar_threshold=0, sidecar_dir=d
    )
    return back.groupBy(F.col("c_mktsegment").alias("seg")).agg(
        F.count(F.lit(1)).cast("long").alias("n_customers"),
        F.sum(micro_col(F.col("c_acctbal").cast("double"))).cast("long").alias("bal_micro"),
        F.min(F.col("c_custkey").cast("long")).alias("min_key"),
        F.max(F.col("c_custkey").cast("long")).alias("max_key"),
    )


QUERIES4["xl02_xlsx_sidecar_roundtrip"] = (xl02_xlsx_sidecar_roundtrip, XL01_SQL)


# --------------------------------------------------------------------------
# cv01: CSV report-sink -> upload-reader round-trip (S2 + S10/S11)
# --------------------------------------------------------------------------

def cv01_csv_roundtrip(spark: SparkSession, sf: str) -> DataFrame:
    """Physical CSV round-trip closing the loop between the REPORT SINK
    (S10/S11, ``reports.write_report_csv``) and the all-string UPLOAD
    READER (S1 encoding detection + S2 ``ingest.read_csv_upload``): the
    customer table is written through the sink, read back as strings,
    cast, and aggregated per market segment against an analytic twin
    over the original parquet. CSV is a LOSSY text format by contract —
    unquoted empty is NULL (so '' collapses to NULL) and the writer
    trims leading/trailing whitespace — and the twin mirrors exactly
    that documented loss (`NULLIF(TRIM(seg), '')`), so the hash
    certifies the real S2 semantics, quoting/escaping, and the double
    shortest-repr rendering (write -> cast back is exact)."""
    d = scratch_path("cv01_report")
    shutil.rmtree(d, ignore_errors=True)
    write_report_csv(
        load_table(spark, sf, "customer").select("c_custkey", "c_mktsegment", "c_acctbal"),
        d,
    )
    csv_files = sorted(glob.glob(f"{d}/*.csv"))
    back = read_csv_upload(spark, csv_files[0] if csv_files else d)
    return back.groupBy(F.col("c_mktsegment").alias("seg")).agg(
        F.count(F.lit(1)).cast("long").alias("n_customers"),
        F.sum(micro_col(F.col("c_acctbal").cast("double"))).cast("long").alias("bal_micro"),
        F.min(F.col("c_custkey").cast("long")).alias("min_key"),
        F.max(F.col("c_custkey").cast("long")).alias("max_key"),
    )


CV01_SQL = """
SELECT NULLIF(TRIM(c_mktsegment), '') AS seg,
       CAST(count(*) AS BIGINT) AS n_customers,
       CAST(sum(CAST(floor(c_acctbal * 1000000 + 0.5) AS BIGINT)) AS BIGINT) AS bal_micro,
       CAST(min(c_custkey) AS BIGINT) AS min_key,
       CAST(max(c_custkey) AS BIGINT) AS max_key
FROM customer
GROUP BY 1
"""

QUERIES4["cv01_csv_roundtrip"] = (cv01_csv_roundtrip, CV01_SQL)


# --------------------------------------------------------------------------
# cv02: NON-UTF8 CSV upload — the S1 encoding-detection fallback branch
# --------------------------------------------------------------------------

_CV02_MARKER = "é-ñ-Ü"  # é-ñ-Ü: latin-1 bytes E9/F1/DC, invalid utf-8


def cv02_csv_nonutf8_roundtrip(spark: SparkSession, sf: str) -> DataFrame:
    """S1's NON-utf8 branch, oracle-certified (VERDICT r11 item 2 —
    cv01 covers only the utf-8 path): segment names get a latin-1-only
    marker appended (bytes E9/F1/DC — each an invalid utf-8 lead byte),
    the table is written through the report sink as iso-8859-1, read
    back through ``detect_encoding`` + ``read_csv_upload``, and
    aggregated against an analytic twin that appends the same marker to
    the original parquet. ``detected_enc`` pins the branch: utf-8 must
    FAIL on the head sample and the latin-1 fallback must win (the
    probe's first candidate that decodes any byte sequence — cp1252 is
    unreachable behind it, same dead-branch order as the reference's
    ``app/etl.py:15-36``). Building this exposed and fixed a real S1
    bug: Spark 4's CSV reader rejects the python codec NAME "latin-1"
    (whitelist wants iso-8859-1) — ``ingest._SPARK_CHARSET`` now
    normalizes; without it this query raises INVALID_PARAMETER_VALUE.
    The hash additionally certifies byte-exact accent round-trip
    (sum of char codepoints) and the cv01 loss contract (writer trims
    leading whitespace; NULL survives as unquoted empty)."""
    d = scratch_path("cv02_report")
    shutil.rmtree(d, ignore_errors=True)
    marked = load_table(spark, sf, "customer").select(
        "c_custkey",
        F.concat(F.col("c_mktsegment"), F.lit(_CV02_MARKER)).alias("c_mktsegment"),
        "c_acctbal",
    )
    write_report_csv(marked, d, encoding="iso-8859-1")
    csv_files = sorted(glob.glob(f"{d}/*.csv"))
    fpath = csv_files[0] if csv_files else d
    enc = detect_encoding(fpath)
    back = read_csv_upload(spark, fpath)  # re-detects internally
    return back.groupBy(F.col("c_mktsegment").alias("seg")).agg(
        F.lit(enc).alias("detected_enc"),
        F.count(F.lit(1)).cast("long").alias("n_customers"),
        F.sum(micro_col(F.col("c_acctbal").cast("double"))).cast("long").alias("bal_micro"),
        F.min(F.col("c_custkey").cast("long")).alias("min_key"),
        F.max(F.col("c_custkey").cast("long")).alias("max_key"),
        # accent fidelity: codepoint sum of the seg value itself — any
        # mojibake (utf-8 misread / charset replacement '?') shifts it
        F.sum(
            F.aggregate(
                F.transform(F.split(F.col("c_mktsegment"), ""), lambda ch: F.ascii(ch)),
                F.lit(0).cast("long"),
                lambda acc, x: acc + x,
            )
        ).cast("long").alias("codepoint_sum"),
    )


CV02_SQL = f"""
WITH marked AS (
  SELECT c_custkey, c_acctbal,
         TRIM(c_mktsegment || '{_CV02_MARKER}') AS seg
  FROM customer
)
SELECT seg,
       'latin-1' AS detected_enc,
       CAST(count(*) AS BIGINT) AS n_customers,
       CAST(sum(CAST(floor(c_acctbal * 1000000 + 0.5) AS BIGINT)) AS BIGINT) AS bal_micro,
       CAST(min(c_custkey) AS BIGINT) AS min_key,
       CAST(max(c_custkey) AS BIGINT) AS max_key,
       CAST(sum(CASE WHEN seg IS NULL THEN NULL
                ELSE (SELECT COALESCE(sum(unicode(c)), 0)
                      FROM unnest(string_split(seg, '')) AS u(c)) END) AS BIGINT) AS codepoint_sum
FROM marked
GROUP BY 1
"""

QUERIES4["cv02_csv_nonutf8_roundtrip"] = (cv02_csv_nonutf8_roundtrip, CV02_SQL)


# --------------------------------------------------------------------------
# mm21: VP9 keyframe uncompressed-header metadata parse (§6.2 bit-parse)
# --------------------------------------------------------------------------

def mm21_vp9_frame_metadata(spark: SparkSession, sf: str) -> DataFrame:
    """REAL VP9 keyframe-header decode — the fourth leg of the video
    metadata tier (H.264 mm15, HEVC mm17, AV1 mm19): per doc_id a
    spec-shaped keyframe uncompressed header is synthesized
    (``multimodal/vp9.vp9_frame_header_encode`` — VP9 has no parameter
    sets; stream config lives in every keyframe), then
    ``vp9_frame_features`` bit-parses the §6.2 layout back
    (profile-coupled bit depth and subsampling, the CS_RGB forced-4:4:4
    branch, frame + render dimensions). Analytic twin: any
    profile/color-config/frame-size drift breaks the hash. See
    tests/test_vp9.py for the hand-assembled spec golden."""
    def frame(i: int) -> bytes:
        profile = i % 4
        rgb = profile in (1, 3) and i % 11 == 0
        w, h = 1 + i % 1903, 1 + i % 1063
        return vp9_frame_header_encode(
            w,
            h,
            profile=profile,
            bit_depth=(10 if i % 2 == 0 else 12) if profile >= 2 else 8,
            color_space=7 if rgb else 2,
            color_range=1 if rgb else i % 2,
            sub_x=(0 if rgb else i % 2) if profile in (1, 3) else None,
            sub_y=0 if profile in (1, 3) else None,
            render_width=w * 2 if i % 9 == 0 else None,
            render_height=h * 2 if i % 9 == 0 else None,
        )

    d = load_table(spark, sf, "documents").select("doc_id")
    media = synth_media(d, frame)
    return vp9_frame_features(media).select(
        "media_id",
        "profile",
        "bit_depth",
        "color_space",
        "color_range",
        "chroma_sub_x",
        "chroma_sub_y",
        "width",
        "height",
        "render_width",
        "render_height",
    )


MM21_SQL = """
SELECT doc_id AS media_id,
  (doc_id % 4)::INT AS profile,
  (CASE WHEN doc_id % 4 >= 2 THEN CASE WHEN doc_id % 2 = 0 THEN 10 ELSE 12 END
        ELSE 8 END)::INT AS bit_depth,
  (CASE WHEN doc_id % 4 IN (1, 3) AND doc_id % 11 = 0 THEN 7 ELSE 2 END)::INT AS color_space,
  (CASE WHEN doc_id % 4 IN (1, 3) AND doc_id % 11 = 0 THEN 1
        ELSE doc_id % 2 END)::INT AS color_range,
  (CASE WHEN doc_id % 4 IN (1, 3)
        THEN CASE WHEN doc_id % 11 = 0 THEN 0 ELSE doc_id % 2 END
        ELSE 1 END)::INT AS chroma_sub_x,
  (CASE WHEN doc_id % 4 IN (1, 3) THEN 0 ELSE 1 END)::INT AS chroma_sub_y,
  (1 + doc_id % 1903)::INT AS width,
  (1 + doc_id % 1063)::INT AS height,
  ((1 + doc_id % 1903) * CASE WHEN doc_id % 9 = 0 THEN 2 ELSE 1 END)::INT AS render_width,
  ((1 + doc_id % 1063) * CASE WHEN doc_id % 9 = 0 THEN 2 ELSE 1 END)::INT AS render_height
FROM documents
"""

QUERIES4["mm21_vp9_frame_metadata"] = (mm21_vp9_frame_metadata, MM21_SQL)


# --------------------------------------------------------------------------
# mm22: vpcC-in-MP4 container-vs-stream QA (VP9 mirror of mm16/mm18/mm20)
# --------------------------------------------------------------------------

def mm22_mp4_vpcc_qa(spark: SparkSession, sf: str) -> DataFrame:
    """How VP9 arrives in a lake: a vp09 sample entry whose vpcC box
    carries the VPCodecConfigurationRecord — which for VP9 holds NO init
    data (codecInitializationDataSize == 0), so record-vs-stream QA must
    read the first keyframe from mdat. Per doc_id a complete ISO-BMFF
    file is synthesized (``multimodal/vp9.mp4_vp9_encode``), then
    ``vp9_container_features`` walks the real box tree, parses record
    AND mdat frame header, and cross-validates container display dims vs
    coded dims (every 7th doc inflated) plus record fields vs the
    stream's own header (``record_matches``). Fully analytic twin."""
    levels = [10, 11, 20, 21, 30, 31, 40, 41, 50, 51, 52, 60, 61, 62]

    def mp4(i: int) -> bytes:
        profile = i % 4
        w, h = 16 + (i % 952) * 2, 16 + (i % 532) * 2
        return mp4_vp9_encode(
            w,
            h,
            1 + i % 600000,
            profile=profile,
            level=levels[i % 14],
            bit_depth=(10 if i % 2 == 0 else 12) if profile >= 2 else 8,
            color_range=i % 2,
            display_width=w + 2 if i % 7 == 0 else None,
            display_height=h + 2 if i % 7 == 0 else None,
        )

    d = load_table(spark, sf, "documents").select("doc_id")
    media = synth_media(d, mp4)
    return vp9_container_features(media).select(
        "media_id",
        "container_width",
        "container_height",
        F.round("duration_ms", 4).alias("duration_ms"),
        "profile",
        "record_level",
        "bit_depth",
        "chroma_sub_x",
        "chroma_sub_y",
        "color_range",
        "width",
        "height",
        "record_matches",
        "dims_match",
    )


MM22_SQL = """
SELECT doc_id AS media_id,
  (16 + (doc_id % 952) * 2 + CASE WHEN doc_id % 7 = 0 THEN 2 ELSE 0 END)::INT AS container_width,
  (16 + (doc_id % 532) * 2 + CASE WHEN doc_id % 7 = 0 THEN 2 ELSE 0 END)::INT AS container_height,
  round((1 + doc_id % 600000)::DOUBLE, 4) AS duration_ms,
  (doc_id % 4)::INT AS profile,
  ([10, 11, 20, 21, 30, 31, 40, 41, 50, 51, 52, 60, 61, 62])[(doc_id % 14)::INT + 1]::INT AS record_level,
  (CASE WHEN doc_id % 4 >= 2 THEN CASE WHEN doc_id % 2 = 0 THEN 10 ELSE 12 END
        ELSE 8 END)::INT AS bit_depth,
  1::INT AS chroma_sub_x,
  (CASE WHEN doc_id % 4 IN (1, 3) THEN 0 ELSE 1 END)::INT AS chroma_sub_y,
  (doc_id % 2)::INT AS color_range,
  (16 + (doc_id % 952) * 2)::INT AS width,
  (16 + (doc_id % 532) * 2)::INT AS height,
  TRUE AS record_matches,
  (doc_id % 7 <> 0) AS dims_match
FROM documents
"""

QUERIES4["mm22_mp4_vpcc_qa"] = (mm22_mp4_vpcc_qa, MM22_SQL)
