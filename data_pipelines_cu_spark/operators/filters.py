"""Filter / predicate operators (SURVEY.md §2.2).

All are plain Column predicates so Catalyst pushes them into the parquet
scan (``PushedFilters``) — the declarative analog of the reference's
server-side date filtering (Solutions/chapter03/docker/events-api/app.py:61-65).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def keyword_any(
    df: DataFrame, text_cols: Sequence[str], keywords: Sequence[str]
) -> DataFrame:
    """Keep rows where ANY keyword appears in the lowercased concatenation
    of ``text_cols`` (reference gold_war_etl_dag.py:37,93-97 WAR_KEYWORDS).

    One rlike over a concat — single JVM regex per row, whole-stage codegen.
    """
    pattern = "|".join(keywords)
    text = F.lower(F.concat_ws(" ", *[F.col(c) for c in text_cols]))
    return df.filter(text.rlike(pattern))


def validate_split(
    df: DataFrame, required_cols: Sequence[str]
) -> tuple[DataFrame, DataFrame]:
    """Valid/invalid split: rows with all ``required_cols`` non-null pass;
    the rest are quarantined (reference's warn-and-skip validation,
    lecture2/tutorial1_basic_etl.py:146-161).

    Returns (valid, quarantine). Both sides derive from one scan; Spark
    evaluates the predicate twice rather than materializing — at scale,
    persist the parent if both sides are consumed.
    """
    cond = F.lit(True)
    for c in required_cols:
        cond = cond & F.col(c).isNotNull()
    return df.filter(cond), df.filter(~cond)
