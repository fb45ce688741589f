"""Set operations / deduplication (SURVEY.md §2.6, D1–D8).

Spark has no row order, so every "keep first" in the reference
(pandas ``drop_duplicates(keep='first')``) becomes an explicit
priority: ``row_number`` over a deterministic ordering. This is a
correctness rule, not a style choice — see SURVEY.md §7.4.2.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


# --- D1: union of heterogeneous extracts (transformer.py:49,72,170)
def union_all(dfs: Sequence[DataFrame]) -> DataFrame:
    """``unionByName(allowMissingColumns=True)`` fold — schema-merging
    union, the Spark analog of ``pd.concat(ignore_index=True)``."""
    out = dfs[0]
    for df in dfs[1:]:
        out = out.unionByName(df, allowMissingColumns=True)
    return out


# --- D2/D3: key distinct (NB cell 29; transformer.py:241)
def distinct_by_key(
    df: DataFrame, keys: Sequence[str], order_by: Sequence[Column] | None = None
) -> DataFrame:
    """Key-subset dedup. With ``order_by`` the survivor is deterministic
    (row_number == 1); without, it's Spark's arbitrary-survivor
    ``dropDuplicates`` (fine when non-key cols are unused downstream).
    """
    if order_by is None:
        return df.dropDuplicates(list(keys))
    w = Window.partitionBy(*keys).orderBy(*order_by)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


# --- D4: order-sensitive node dedup (transformer.py:170-172)
def priority_dedup(
    df: DataFrame, key: str, priority_col: str, tiebreak: Sequence[str] = ()
) -> DataFrame:
    """"First wins" merge where "first" = lowest ``priority_col``
    (person-sourced rows = 0 beat object-sourced rows = 1 in the
    reference's concat order). Ties broken by ``tiebreak`` columns so
    the result is fully deterministic across retries/partitionings.
    """
    order = [F.col(priority_col).asc()] + [F.col(c).asc_nulls_last() for c in tiebreak]
    return distinct_by_key(df, [key], order)


# --- D5: reverse-edge canonicalization (transformer.py:116-134)
def canonicalize_edges(
    df: DataFrame,
    src: str = "person",
    dst: str = "object",
    rel: str = "relationship_label",
    order_by: Sequence[Column] | None = None,
) -> DataFrame:
    """Undirected edge uniqueness while keeping the original row: add
    ``least/greatest`` canonical endpoints, keep one row per
    ``(n1, n2, rel)``. Original direction columns survive — exactly the
    reference's ``_remove_back_edges_stay_columns``.
    """
    with_key = df.withColumn("__n1", F.least(F.col(src), F.col(dst))).withColumn(
        "__n2", F.greatest(F.col(src), F.col(dst))
    )
    order = list(order_by) if order_by is not None else [F.col(src).asc(), F.col(dst).asc()]
    w = Window.partitionBy("__n1", "__n2", rel).orderBy(*order)
    return (
        with_key.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__n1", "__n2", "__rn")
    )


# --- D6: per-relation edge dedup (TRAIN-NB cell 16)
def dedup_edges_per_relation(
    df: DataFrame, src: str = "src", dst: str = "dst", rel: str = "rel"
) -> DataFrame:
    return df.dropDuplicates([src, dst, rel])


# --- D7: relation merging / flipping (TRAIN-NB cell 19)
def merge_relations(
    df: DataFrame, mapping: dict[str, str], rel: str = "relationship_label"
) -> DataFrame:
    """Rename relations per ``mapping`` (e.g. partner->spouse)."""
    expr = F.col(rel)
    for old, new in mapping.items():
        expr = F.when(F.col(rel) == old, F.lit(new)).otherwise(expr)
    return df.withColumn(rel, expr)


def flip_edges(df: DataFrame, src: str, dst: str) -> DataFrame:
    """Reverse edge direction (student_of -> advisor_of pattern)."""
    cols = [F.col(dst).alias(src) if c == src else (F.col(src).alias(dst) if c == dst else F.col(c)) for c in df.columns]
    return df.select(*cols)


# --- D8: thin-relation pruning (data_processor.py:148-180)
def prune_thin_groups(df: DataFrame, keys: Sequence[str], min_count: int = 500) -> DataFrame:
    """Drop all rows of groups with < min_count members. Implemented as
    a count-aggregate + broadcast-able semi-join (the relation-count
    side is tiny: one row per relation type).
    """
    big = (
        df.groupBy(*keys)
        .count()
        .filter(F.col("count") >= min_count)
        .select(*keys)
    )
    return df.join(F.broadcast(big), on=list(keys), how="left_semi")
