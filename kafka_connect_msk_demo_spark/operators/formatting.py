"""Presentation formatting — format_number / de-format sort / top-k.

Reference semantics (SURVEY.md §2.4 F1-F2, §2.8 O3-O4):

* ``format_number(col, 2)`` for thousands-separated display
  (``02_batch_read_kafka.py:88-89`` and six other scripts).
* Sorting *after* formatting by stripping separators and casting back —
  ``orderBy(regexp_replace("sales", ",", "").cast("float"))``
  (``02:91``, ``07:78``, ``13:76``). Kept verbatim for parity; the
  cleaner sort-then-format variant is also provided.
* Top-k exposed as a real ``limit`` (the reference truncates at the
  console sink, ``numRows=25`` etc.).

Scale note: ``limit(k)`` after ``orderBy`` compiles to
``TakeOrderedAndProject`` — each partition keeps k rows, the driver
merges; no global sort materialization. The reference's ``coalesce(1)``
before sinks (§2.8 O6) is deliberately NOT applied here.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def format_sales(df: DataFrame) -> DataFrame:
    """F1: render ``sales`` as a grouped string ("1,234.56") and
    ``orders`` as a grouped integer string — reference 02:87-89."""
    return df.withColumn("sales", F.format_number(F.col("sales"), 2)) \
             .withColumn("orders", F.format_number(F.col("orders"), 0))


def order_by_deformatted(df: DataFrame, formatted_col: str,
                         *tiebreak) -> DataFrame:
    """O3: sort on the de-formatted string (reference 02:91) —
    ``regexp_replace(col, ",", "").cast(double)`` descending."""
    key = F.regexp_replace(F.col(formatted_col), ",", "").cast("double")
    return df.orderBy(key.desc(), *tiebreak)


def top_k_formatted(df: DataFrame, k: int, *tiebreak) -> DataFrame:
    """02/03's display shape as a real query: format ``sales`` and
    ``orders``, de-format sort, limit k (console ``numRows`` → ``limit``);
    ``tiebreak`` orders equal sales."""
    return order_by_deformatted(format_sales(df), "sales", *tiebreak).limit(k)
