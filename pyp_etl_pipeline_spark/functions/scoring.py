"""Similarity scoring, penalties, and confidence banding (J2-J6, T8).

Reference semantics:
- fuzzy scorers: rapidfuzz ``token_set_ratio`` / ``ratio`` / ``partial_ratio``
  (``app/etl.py:1270-1294``). This engine re-expresses them as *native Spark
  column expressions* (array ops + ``levenshtein``) so scoring stays inside
  whole-stage codegen — no Python in the hot path. Documented deviation:
  ``ratio`` here is normalized Levenshtein similarity
  ``100 * (1 - lev / max(len))`` rather than rapidfuzz's indel-based ratio;
  band decisions are pinned by golden tests in ``tests/test_golden_bands.py``
  and the reference-derived fixture sweep in ``tests/test_scorer_fidelity.py``.
- penalty rescoring (``apply_match_penalties``, app/etl.py:713-755):
  length-diff, word-count (cap 25), dietary-term mismatch, special-char
  count mismatch, digit-presence mismatch; floor at 0.
- cross-algorithm disagreement penalty (app/etl.py:1280-1294): applied ONLY
  to the raw-score rank-1 candidate per item; penalty 15 when
  ``max(|raw - ratio|, |raw - partial|)`` exceeds 20.
- band routing (app/etl.py:1318-1374): >=97 auto_resolve, [50, 97) review,
  <50 reject.
- confidence class (app/routes.py:31-39): >=90 high, >=70 medium, else low.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from pyp_etl_pipeline_spark import schema as S


def _col(c: Column | str) -> Column:
    return F.col(c) if isinstance(c, str) else c


# ---------------------------------------------------------------- tokenizing

def process_text(c: Column | str) -> Column:
    """rapidfuzz ``utils.default_process`` analog: lowercase, replace
    every non-alphanumeric character with a space, trim the ends
    (interior space runs are preserved, exactly like default_process).
    The reference passes this processor to every scorer call
    (app/etl.py:1272, :1283, :1286), so "vitamin-d3" and "vitamin d3"
    are the same string to it — skipping it made the engine tokenize
    hyphenated/parenthesized variants differently and mis-band them
    (caught by the test_scorer_fidelity sweep). ASCII alphanumerics
    only (rapidfuzz is Unicode-aware; the corpus and the DuckDB twin
    are ASCII — documented deviation)."""
    return F.trim(F.regexp_replace(F.lower(_col(c)), "[^a-z0-9]", " "))


def tokens(c: Column | str) -> Column:
    """Sorted distinct whitespace tokens of the default_process'd string
    (empty strings dropped)."""
    toks = F.split(process_text(c), r"\s+")
    return F.array_sort(F.array_distinct(F.filter(toks, lambda x: x != F.lit(""))))


def char_ngrams(c: Column | str, n: int = 3) -> Column:
    """Distinct character n-grams of the lowercase trimmed string (used as
    fallback blocking keys when whole-token blocking yields no candidate —
    a single-token typo shares no token with its target but shares most
    n-grams). Strings shorter than ``n`` contribute themselves as one gram
    so nothing blocks to an empty key set."""
    c = F.lower(F.trim(_col(c)))
    starts = F.sequence(F.lit(1), F.greatest(F.length(c) - (n - 1), F.lit(1)))
    return F.array_distinct(F.transform(starts, lambda i: c.substr(i, F.lit(n))))


# ------------------------------------------------------------------ scorers

def ratio(a: Column | str, b: Column | str) -> Column:
    """rapidfuzz ``fuzz.ratio`` analog: similarity normalized by the SUM
    of lengths, ``100 * (1 - dist / (len(a) + len(b)))``, with Spark's
    ``levenshtein`` standing in for the InDel distance. Levenshtein and
    InDel are IDENTICAL whenever the optimal edit script uses only
    inserts/deletes (prefix/suffix additions, word insertions — the
    dominant near-match shapes), and lev <= indel always, so this can
    only score >= rapidfuzz, never below. Max-length normalization (the
    round-1 form) systematically under-scored pure-insertion pairs and
    spuriously fired the disagreement penalty on them — caught by the
    ``tests/test_scorer_fidelity.py`` sweep against exact rapidfuzz
    semantics."""
    a, b = _col(a), _col(b)
    total = F.length(a) + F.length(b)
    return F.when(total == 0, F.lit(100.0)).otherwise(
        100.0 * (1.0 - F.levenshtein(a, b) / total)
    )


def containment_ratio(a: Column | str, b: Column | str) -> Column:
    """partial_ratio analog: 100 if one default_process'd string contains
    the other, else plain ``ratio``. Captures the reference's use of
    partial_ratio for substring-ish matches without O(n*m) alignment."""
    a, b = process_text(a), process_text(b)
    contains = a.contains(b) | b.contains(a)
    return F.when(contains, F.lit(100.0)).otherwise(ratio(a, b))


def token_set_parts(a: Column | str, b: Column | str) -> tuple[Column, Column, Column]:
    """The three building-block strings of token_set_ratio:
    (join(sorted(A&B)), join(sorted(A-B)), join(sorted(B-A))).
    Materialize these as real projected columns in hot paths — Catalyst
    does NOT eliminate common subexpressions inside when() branches, so
    passing raw expression trees to ``token_set_ratio_from_parts`` would
    re-evaluate tokenize/intersect/join once per reference."""
    return token_set_parts_from_tokens(tokens(a), tokens(b))


def token_set_parts_from_tokens(ta: Column, tb: Column) -> tuple[Column, Column, Column]:
    """Same, from pre-tokenized sorted-distinct arrays — use this when the
    token arrays were already materialized before a join fan-out, so 5M
    candidate pairs don't re-tokenize the same 20k strings."""
    return (
        F.array_join(F.array_intersect(ta, tb), " "),
        F.array_join(F.array_except(ta, tb), " "),
        F.array_join(F.array_except(tb, ta), " "),
    )


def token_set_ratio_from_parts(inter: Column, rest_a: Column, rest_b: Column) -> Column:
    """token_set_ratio from materialized part strings.

    Exactly equivalent to max pairwise ``ratio`` over s0 = inter,
    s1 = glue(inter, rest_a), s2 = glue(inter, rest_b), using that s0 is a
    prefix of both s1 and s2:
      dist(s0, s1) = len(s1) - len(s0)      (insertions only — exact for
                     both Levenshtein and InDel)
      dist(s1, s2) = dist(rest_a, rest_b)   (common prefix cancels;
                    pure length diff when either rest = '')
    -> 3 full distance computations over long strings become 1 Levenshtein
    over just the symmetric-difference strings (short for blocked
    candidates, which share tokens by construction).

    Normalization follows rapidfuzz (sum of lengths): ratio(prefix, full)
    = 100 * 2*lp / (lp + lf), and the rapidfuzz token_set special case
    "non-empty intersection with an empty diff -> 100" falls out of it
    automatically (lf = lp). rapidfuzz reference: token_set_ratio /
    indel ratio as published; reference usage app/etl.py:1272."""

    def _glue_len(base: Column, rest: Column) -> Column:
        # len(glue(base, rest)) without building the string
        return F.when(F.length(rest) == 0, F.length(base)).otherwise(
            F.when(F.length(base) == 0, F.length(rest)).otherwise(
                F.length(base) + 1 + F.length(rest)
            )
        )

    l0 = F.length(inter)
    l1 = _glue_len(inter, rest_a)
    l2 = _glue_len(inter, rest_b)

    def _prefix_ratio(lp: Column, lf: Column) -> Column:
        # ratio(prefix, full), sum-normalized: dist = lf - lp
        return F.when(lp + lf == 0, F.lit(100.0)).otherwise(100.0 * 2.0 * lp / (lp + lf))

    lev_rest = (
        F.when((F.length(rest_a) == 0) | (F.length(rest_b) == 0), F.abs(l1 - l2))
        .otherwise(F.levenshtein(rest_a, rest_b))
    )
    r12 = F.when((l1 == 0) & (l2 == 0), F.lit(100.0)).otherwise(
        100.0 * (1.0 - lev_rest / (l1 + l2))
    )
    return F.greatest(_prefix_ratio(l0, l1), _prefix_ratio(l0, l2), r12)


def token_set_ratio(a: Column | str, b: Column | str) -> Column:
    """token_set_ratio analog over sorted distinct token sets (convenience
    single-expression form; hot paths should materialize
    ``token_set_parts`` as columns and use ``token_set_ratio_from_parts``)."""
    inter, rest_a, rest_b = token_set_parts(a, b)
    return token_set_ratio_from_parts(inter, rest_a, rest_b)


def dice_token_score(a: Column | str, b: Column | str) -> Column:
    """Sorensen-Dice coefficient over distinct token sets, in [0, 100].
    The blocking-friendly scorer used by the distributed similarity join."""
    ta, tb = tokens(a), tokens(b)
    shared = F.size(F.array_intersect(ta, tb))
    denom = F.size(ta) + F.size(tb)
    return F.when(denom == 0, F.lit(0.0)).otherwise(200.0 * shared / denom)


# ---------------------------------------------------------------- penalties

def _count_special(c: Column) -> Column:
    # count of chars in S.SPECIAL_CHARS — length minus length-with-them-removed
    return F.length(c) - F.length(F.regexp_replace(c, f"[{S.SPECIAL_CHARS}]", ""))


def _has_dietary(c: Column) -> Column:
    lc = F.lower(c)
    out = F.lit(False)
    for term in S.DIETARY_TERMS:
        out = out | lc.contains(term)
    return out


def apply_match_penalties(raw_score: Column | str, text: Column | str, match: Column | str) -> Column:
    """Penalty-adjusted rescoring (J4), reference app/etl.py:713-755."""
    raw_score, text, match = _col(raw_score), _col(text), _col(match)
    lt, lm = F.length(text), F.length(match)
    length_penalty = (F.abs(lt - lm) / F.greatest(lt, lm, F.lit(1))) * S.LENGTH_PENALTY_MULTIPLIER

    wc_t = F.size(F.filter(F.split(F.trim(text), r"\s+"), lambda x: x != F.lit("")))
    wc_m = F.size(F.filter(F.split(F.trim(match), r"\s+"), lambda x: x != F.lit("")))
    word_penalty = F.least(
        F.abs(wc_t - wc_m) * S.WORD_COUNT_PENALTY_MULTIPLIER, F.lit(S.WORD_COUNT_PENALTY_CAP)
    )

    dietary_penalty = F.when(
        _has_dietary(text) != _has_dietary(match), F.lit(S.DIETARY_TERMS_PENALTY)
    ).otherwise(F.lit(0.0))

    special_penalty = F.when(
        _count_special(text) != _count_special(match), F.lit(S.SPECIAL_CHARS_PENALTY)
    ).otherwise(F.lit(0.0))

    numbers_penalty = F.when(
        text.rlike("[0-9]") != match.rlike("[0-9]"), F.lit(S.NUMBERS_PENALTY)
    ).otherwise(F.lit(0.0))

    adjusted = raw_score - length_penalty - word_penalty - dietary_penalty - special_penalty - numbers_penalty
    return F.greatest(adjusted, F.lit(0.0))


def algorithm_disagreement_penalty(primary: Column, *others: Column) -> Column:
    """J3 cross-validation penalty, reference app/etl.py:1291-1294:
    ``score_variance = max(|primary - other_i|)``; penalty 15 when the
    variance exceeds 20. The variance is anchored on the primary
    (token_set) score — NOT the greatest-least spread across all scorers,
    which would over-penalize when the validators straddle the primary.
    The reference computes this only for the raw-best candidate per item;
    callers gate it on the raw rank (see ``resolve.score_candidates``)."""
    variance = F.greatest(*[F.abs(primary - o) for o in others])
    return F.when(
        variance > S.ALGORITHM_DISAGREEMENT_THRESHOLD, F.lit(S.ALGORITHM_DISAGREEMENT_PENALTY)
    ).otherwise(F.lit(0.0))


# ------------------------------------------------------------------ banding

def band(score: Column | str) -> Column:
    """J6 three-band routing: auto_resolve / review / reject."""
    score = _col(score)
    return (
        F.when(score >= S.AUTO_RESOLVE_THRESHOLD, F.lit("auto_resolve"))
        .when(score >= S.AUTO_REJECT_THRESHOLD, F.lit("review"))
        .otherwise(F.lit("reject"))
    )


def confidence_class(score: Column | str) -> Column:
    """T8 confidence bucketing: high / medium / low."""
    score = _col(score)
    return (
        F.when(score >= 90, F.lit("high"))
        .when(score >= 70, F.lit("medium"))
        .otherwise(F.lit("low"))
    )
