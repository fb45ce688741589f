"""Projection / filter / scalar cleaning operators (SURVEY.md §2.2, P1–P15).

Reference semantics: the pandas cleaning pipeline in
``infrastructure/pipelines/transformer.py:175-277`` of the reference
repo. Every operator here is a column expression (JVM-side,
codegen-friendly); the only Python-side work is the driver-side column
*name* transforms (P1/P2), which touch metadata, not data.
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

QID_PATTERN = "^Q[0-9]+$"


# --- P1: keep only `.value` columns, strip the suffix (transformer.py:180-190)
def strip_value_suffix(df: DataFrame) -> DataFrame:
    """Project only the ``*.value`` columns of a flattened SPARQL frame,
    renaming ``x.value`` -> ``x``. Metadata columns (``*.type``,
    ``*.xml:lang``) are pruned — Catalyst then never reads them from disk.
    """
    keep = [c for c in df.columns if c.endswith(".value")]
    return df.select(
        *[F.col(f"`{c}`").alias(c[: -len(".value")]) for c in keep]
    )


# --- P2: snake_case column normalization (transformer.py:254-269)
_SNAKE_1 = re.compile(r"(.)([A-Z][a-z]+)")
_SNAKE_2 = re.compile(r"([a-z0-9])([A-Z])")


def to_snake_case(name: str) -> str:
    name = _SNAKE_1.sub(r"\1_\2", name)
    name = _SNAKE_2.sub(r"\1_\2", name)
    name = name.replace(" ", "_").replace("-", "_").lower()
    return re.sub("_+", "_", name)


def snake_case_columns(df: DataFrame) -> DataFrame:
    """Rename all columns to snake_case (driver-side metadata op)."""
    return df.toDF(*[to_snake_case(c) for c in df.columns])


# --- P3: URI -> Q-ID extraction (transformer.py:211-213)
def uri_to_qid(col: Column | str) -> Column:
    """``http://www.wikidata.org/entity/Q42`` -> ``Q42`` (last path part)."""
    return F.element_at(F.split(F.col(col) if isinstance(col, str) else col, "/"), -1)


# --- P4: whitespace/control-char scrub (transformer.py:207-208)
def scrub_text(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.trim(F.regexp_replace(c, "[\\r\\n\\t]+", " "))


def scrub_all_strings(df: DataFrame) -> DataFrame:
    """Apply the whitespace scrub to every string column (the reference
    loops over every column; here it's one projection)."""
    out = []
    for field in df.schema.fields:
        if field.dataType.simpleString() == "string":
            out.append(scrub_text(field.name).alias(field.name))
        else:
            out.append(F.col(field.name))
    return df.select(*out)


# --- P5: Q-ID validity filter (transformer.py:219-226)
def filter_valid_qids(df: DataFrame, *cols: str) -> DataFrame:
    cond = None
    for c in cols:
        this = F.col(c).rlike(QID_PATTERN)
        cond = this if cond is None else (cond & this)
    return df.filter(cond)


# --- P6: unresolved-label filter (transformer.py:228-233)
def filter_resolved_labels(df: DataFrame, *label_cols: str) -> DataFrame:
    """Drop rows where any label column is still a bare Q-ID."""
    cond = None
    for c in label_cols:
        this = ~F.coalesce(F.col(c).rlike(QID_PATTERN), F.lit(False))
        cond = this if cond is None else (cond & this)
    return df.filter(cond)


# --- P7: null/empty filter (transformer.py:237)
def filter_non_empty(df: DataFrame, col: str) -> DataFrame:
    return df.filter(F.col(col).isNotNull() & (F.col(col) != ""))


# --- P8: lenient numeric coercion (transformer.py:171)
def coerce_int(col: Column | str) -> Column:
    """``pd.to_numeric(errors='coerce')`` semantics: invalid -> null.
    try_cast, not cast — ANSI mode (Spark 4 default) makes plain cast
    THROW on malformed input."""
    c = F.col(col) if isinstance(col, str) else col
    return c.try_cast("int")


# --- P9: empty-string -> null (transformer.py:201)
def empty_to_null(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.nullif(c, F.lit(""))


# --- P10: unicode fold + lowercase for search keys (fuzzy_search.py:14,49)
# Targeted ASCII folding for the diacritics the reference corpus actually
# carries (Vietnamese + Latin-1 ranges) implemented with translate(), which
# stays JVM-side. search.fuzzy adds a pandas-UDF `unidecode` fallback for
# full parity when the package is available.
def _build_fold_table() -> tuple[str, str]:
    """Generate the 1:1 diacritic-fold table from NFD decomposition over
    Latin-1 Supplement / Latin Extended-A / Latin Extended Additional
    (covers Vietnamese fully), plus đ/Đ which don't NFD-decompose."""
    import unicodedata

    src, dst = [], []
    for block in (range(0x00C0, 0x0250), range(0x1E00, 0x1F00)):
        for cp in block:
            ch = chr(cp)
            base = "".join(
                c for c in unicodedata.normalize("NFD", ch) if not unicodedata.combining(c)
            )
            if len(base) == 1 and base != ch and base.isascii() and base.isalpha():
                src.append(ch)
                dst.append(base)
    src.extend("đĐ")
    dst.extend("dD")
    return "".join(src), "".join(dst)


_DIACRITIC_SRC, _DIACRITIC_DST = _build_fold_table()


def normalize_name(col: Column | str) -> Column:
    """Lowercased, trimmed, diacritic-folded search key (P10)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.lower(F.trim(F.translate(c, _DIACRITIC_SRC, _DIACRITIC_DST)))


# --- P11: full-text assembly for embedding (data_processor.py:109-118)
def assemble_text(df: DataFrame, fields: dict[str, str], out: str = "full_text") -> DataFrame:
    """``'name: '+name+', description: '+...`` with null-safe fill."""
    parts = []
    for label, col in fields.items():
        parts.append(F.concat(F.lit(f"{label}: "), F.coalesce(F.col(col).cast("string"), F.lit(""))))
    return df.withColumn(out, F.concat_ws(", ", *parts))


# --- P12 lives in ml/features.py (needs aggregates); P13 is F.log1p
# --- P14: constant typing columns = withColumn(..., lit(...)) at call sites
