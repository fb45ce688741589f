"""Fuzzy name search (F1–F4).

Reference: core/logic/fuzzy_search.py — a dict index of normalized
names; exact hit scores 100, else rapidfuzz WRatio over ALL keys with
custom re-scoring (−30 short-candidate penalty, +20 prefix bonus,
+10 substring bonus), cutoff 60, top 10.

Spark design: the index is a DataFrame keyed by ``norm_name`` —
exact lookup is a broadcast equi-join; the fuzzy path scores
candidates with a pandas UDF wrapping rapidfuzz when available
(exact WRatio parity, SURVEY §7.4.4) or the pure-Python
WRatio-compatible twin in ``wratio.py`` otherwise — same recipe, so
the reference's scoring semantics hold in environments without
rapidfuzz. A JVM levenshtein-ratio scorer remains for fully
oracle-checkable (no-Python) scans. Re-scoring is pure column
arithmetic on every path. At 100 TB-node scale the scored scan is
bounded by a cheap JVM pre-filter (first-character block / length
band) before the expensive scorer runs.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from social_link_prediction_spark.operators.cleaning import normalize_name

SCORE_CUTOFF = 60  # config/settings.py:46
SHORT_PENALTY = 30  # fuzzy_search.py:69-86
PREFIX_BONUS = 20
SUBSTRING_BONUS = 10

import pandas as pd
from pyspark.sql.functions import pandas_udf

from social_link_prediction_spark.search import wratio as _wratio_py

try:  # rapidfuzz (C++) preferred when importable; optional
    from rapidfuzz import fuzz as _rf_fuzz

    _HAS_RAPIDFUZZ = True
except ImportError:  # pragma: no cover - depends on environment
    _HAS_RAPIDFUZZ = False


def build_search_index(nodes: DataFrame, name_col: str = "name") -> DataFrame:
    """F1: (norm_name, id, name, type) index table. Persist bucketed by
    norm_name for repeated interactive lookups; broadcast when small.
    """
    return (
        nodes.filter(F.col(name_col).isNotNull())
        .select(
            normalize_name(name_col).alias("norm_name"),
            "id",
            F.col(name_col).alias("name"),
            *(["type"] if "type" in nodes.columns else []),
        )
    )


def exact_lookup(index: DataFrame, query: str) -> DataFrame:
    """F2 fast path: exact normalized match -> score 100."""
    qn = _normalize_py(query)
    return index.filter(F.col("norm_name") == qn).withColumn("score", F.lit(100.0))


def _normalize_py(s: str) -> str:
    """Driver-side twin of cleaning.normalize_name for query literals."""
    from social_link_prediction_spark.operators.cleaning import (
        _DIACRITIC_DST,
        _DIACRITIC_SRC,
    )

    table = str.maketrans(dict(zip(_DIACRITIC_SRC, _DIACRITIC_DST)))
    return s.translate(table).lower().strip()


def _base_score(query_norm: str, scorer: str = "auto") -> Column:
    """Similarity 0-100 for each index key vs the query literal.
    ``scorer``: 'auto'/'wratio' (rapidfuzz WRatio when installed, else
    the pure-Python WRatio-compatible scorer in wratio.py — same
    recipe, so reference parity holds on both paths) or 'levenshtein'
    (pure-JVM, deterministic, oracle-checkable)."""
    if scorer != "levenshtein":
        score_fn = (
            (lambda q, n: float(_rf_fuzz.WRatio(q, n)))
            if _HAS_RAPIDFUZZ
            else _wratio_py.wratio
        )

        @pandas_udf("double")
        def wratio(names: pd.Series) -> pd.Series:
            return names.map(lambda n: score_fn(query_norm, n or ""))

        # nondeterministic only to the optimizer: it then keeps the
        # cutoff filter above the score projection instead of pushing a
        # copy of the UDF into it, so each candidate is scored once
        # (one ArrowEvalPython node, not two)
        return wratio.asNondeterministic()(F.col("norm_name"))
    # JVM levenshtein ratio (no Python in the scan)
    q = F.lit(query_norm)
    dist = F.levenshtein(F.col("norm_name"), q)
    longest = F.greatest(F.length("norm_name"), F.length(q))
    return F.lit(100.0) * (F.lit(1.0) - dist / longest)


def rescore(base: Column, query_norm: str) -> Column:
    """The reference's exact bonus/penalty arithmetic
    (fuzzy_search.py:66-88) as column expressions."""
    q = F.lit(query_norm)
    short = F.length("norm_name") / F.greatest(F.length(q), F.lit(1)) < 0.5
    prefix = F.col("norm_name").startswith(query_norm)
    substr = F.col("norm_name").contains(query_norm) & ~prefix
    return (
        base
        - F.when(short, F.lit(SHORT_PENALTY)).otherwise(F.lit(0))
        + F.when(prefix, F.lit(PREFIX_BONUS)).otherwise(F.lit(0))
        + F.when(substr, F.lit(SUBSTRING_BONUS)).otherwise(F.lit(0))
    )


def fuzzy_lookup(
    index: DataFrame,
    query: str,
    limit: int = 10,
    cutoff: float = SCORE_CUTOFF,
    prefilter: bool = True,
    scorer: str = "auto",
) -> DataFrame:
    """F2: exact hit short-circuits to 100; otherwise score candidates,
    re-score, keep >= cutoff, top ``limit``. ``prefilter`` bounds the
    expensive scorer to a candidate block (shared first character or
    overlapping length band) — the scan stays full-table only when
    explicitly requested."""
    qn = _normalize_py(query)
    exact = exact_lookup(index, query)
    if not exact.isEmpty():
        return exact.limit(limit)
    cand = index
    if prefilter and qn:
        cand = index.filter(
            F.col("norm_name").startswith(qn[0])
            | (F.abs(F.length("norm_name") - len(qn)) <= F.lit(max(2, len(qn) // 2)))
        )
    scored = cand.withColumn("score", rescore(_base_score(qn, scorer), qn))
    return (
        scored.filter(F.col("score") >= cutoff)
        .orderBy(F.col("score").desc(), F.col("norm_name").asc(), F.col("id").asc())
        .limit(limit)
    )


def id_to_pyg(nodes: DataFrame, node_id: str) -> DataFrame:
    """F4 forward: id -> (type, pyg_id)."""
    return nodes.filter(F.col("id") == node_id).select("id", "type", "pyg_id")


def pyg_to_id(nodes: DataFrame, node_type: str, pyg_id: int) -> DataFrame:
    """F4 backward: (type, pyg_id) -> node row."""
    return nodes.filter((F.col("type") == node_type) & (F.col("pyg_id") == pyg_id))
