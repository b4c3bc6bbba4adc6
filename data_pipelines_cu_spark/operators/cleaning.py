"""Cleaning / normalization operators (SURVEY.md §2.2 P4/P9, §2.8).

The reference cleans row dicts imperatively (strip strings, lowercase keys,
drop nulls — lecture2/tutorial1_basic_etl.py:136-161); here each step is a
column expression so the whole clean runs inside whole-stage codegen.
"""

from __future__ import annotations

import re
from collections.abc import Mapping, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


def normalize_column_names(df: DataFrame) -> DataFrame:
    """Lowercase + spaces→underscores on column names (reference
    tutorial1:153-157; gold_war:59-63 flattens/lowercases columns)."""
    new_names = [re.sub(r"\s+", "_", c.strip().lower()) for c in df.columns]
    return df.toDF(*new_names)


def trim_strings(df: DataFrame, cols: Sequence[str] | None = None) -> DataFrame:
    """Trim whitespace on all (or given) string columns (tutorial1:140-144)."""
    targets = set(cols) if cols is not None else {
        f.name for f in df.schema.fields if isinstance(f.dataType, T.StringType)
    }
    out = df
    for c in df.columns:
        if c in targets:
            out = out.withColumn(c, F.trim(F.col(c)))
    return out


def cast_with_reject(
    df: DataFrame, casts: Mapping[str, str]
) -> tuple[DataFrame, DataFrame]:
    """Type-cast-with-reject: rows where any cast fails are quarantined
    (reference tutorial2_data_ingestion.py:152-159 int()/float() with
    try/except skip).

    Uses try_cast semantics: a non-null input that casts to null failed.
    Returns (typed, rejected-original-rows).
    """
    cond = F.lit(True)
    typed = df
    for col, dtype in casts.items():
        casted = F.col(col).try_cast(dtype)
        cond = cond & (F.col(col).isNull() | casted.isNotNull())
        typed = typed.withColumn(col, casted)
    return typed.filter(cond), df.filter(~cond)


def truncate_strings(df: DataFrame, limits: Mapping[str, int]) -> DataFrame:
    """Truncate string columns to length caps (reference gold_war:105-106
    title[:200], summary[:500])."""
    out = df
    for col, n in limits.items():
        out = out.withColumn(col, F.substring(F.col(col), 1, n))
    return out
