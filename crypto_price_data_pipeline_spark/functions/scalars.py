"""Scalar functions used by the BPI pipeline (SURVEY.md §2.3 F1-F10).

All JVM-side Column expressions — no Python UDFs — so they stay inside
whole-stage codegen and remain visible to Catalyst (constant folding,
null propagation, pushdown through projections).

Reference semantics being reproduced:

- F1/F2 de-comma + float cast: ``float("17,091.07".replace(",",""))``
  (bpi_crawler.py:105).
- F4 parse ``"Dec 6, 2022 13:31:00 UTC"`` with ``%b %d, %Y %H:%M:%S %Z``
  (bpi_crawler.py:114, test.py:4) — note the non-zero-padded day.
- F5 parse ISO-8601 with offset, ``%Y-%m-%dT%H:%M:%S%z``
  (bpi_crawler.py:116).
- F6 format back to ``"%Y-%m-%d %H:%M:%S"``, dropping the timezone
  (bpi_crawler.py:115,117,118) — the output columns are *strings*, which
  is part of the declared schema.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Java SimpleDateFormat-style patterns (Spark's proleptic parser).
BPI_UPDATED_FMT = "MMM d, yyyy HH:mm:ss zzz"  # %b %d, %Y %H:%M:%S %Z
ISO_OFFSET_FMT = "yyyy-MM-dd'T'HH:mm:ssXXX"  # %Y-%m-%dT%H:%M:%S%z
WALL_FMT = "yyyy-MM-dd HH:mm:ss"  # %Y-%m-%d %H:%M:%S


def de_comma_double(col: Column | str) -> Column:
    """``"17,091.0667"`` → 17091.0667 (DoubleType).

    regexp-free ``translate`` beats ``regexp_replace`` in codegen; money
    stays float64 to match the reference (bpi_crawler.py:105), not
    decimal.
    """
    c = F.col(col) if isinstance(col, str) else col
    # try_cast: malformed input → NULL (caught by the expectation gate)
    # instead of an ANSI runtime error aborting the whole batch
    return F.translate(c, ",", "").try_cast("double")


def parse_bpi_updated(col: Column | str) -> Column:
    """Parse the BPI ``time.updated`` string (``"Dec 6, 2022 13:31:00 UTC"``).

    try_to_timestamp: a malformed value becomes NULL and is rejected by
    the expectation gate (ValidationError), never an ANSI DateTimeException
    that aborts the batch before validation can report it."""
    c = F.col(col) if isinstance(col, str) else col
    return F.try_to_timestamp(c, F.lit(BPI_UPDATED_FMT))


def parse_iso_offset(col: Column | str) -> Column:
    """Parse ``time.updatedISO`` (``"2022-12-06T13:31:00+00:00"``)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.try_to_timestamp(c, F.lit(ISO_OFFSET_FMT))


def format_wall_ts(col: Column) -> Column:
    """Timestamp → ``"YYYY-MM-DD HH:MM:SS"`` string (tz dropped), the
    reference's canonical output encoding for all three *_updated cols."""
    return F.date_format(col, WALL_FMT)


def _dec(col: Column) -> Column:
    """Exact ``decimal(38,6)`` cast: the registry sums doubles through it so
    Spark and DuckDB agree bit for bit (see queries.py's docstring)."""
    return col.cast("decimal(38,6)")


def dsum(col: Column) -> Column:
    """Deterministic double sum: the exact decimal sum, cast back to double."""
    return F.sum(_dec(col)).cast("double")


def davg(col: Column) -> Column:
    """Deterministic double average: :func:`dsum` over the row count."""
    return dsum(col) / F.count(col)
