"""Expectation gate — the validation stage (SURVEY.md §5).

The reference wraps each staged record in great_expectations and asserts
(bpi_crawler.py:137-159, duplicated at dump_with_postgres.py:112-144):

1. ``expect_column_values_to_match_strftime_format("%Y-%m-%d %H:%M:%S")``
   on time_updated / time_updated_iso / last_updated;
2. float dtype on the four ``*_rate_float`` columns;
3. string dtype on the eight text columns.

Any failure fails the task *before* the warehouse load (task ordering at
bpi_crawler.py:214). Here the dtype checks are static schema assertions
(free), and the format and float checks are one per-row ``Filter`` in
the plan the sink writes: a row that misses one raises from inside the
sink's own Spark job, so that job aborts before its commit and a sink
that commits per job loads nothing of the batch. Validation costs **zero
extra passes** over the data (the reference re-reads the record and
builds a pandas frame per check). :func:`gate_errors` turns that raise
back into ``ValidationError``.
"""

from __future__ import annotations

import functools
from contextlib import contextmanager

from pyspark.errors import SparkRuntimeException
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..session import per_gateway

WALL_RE = r"^\d{4}-\d{2}-\d{2} \d{2}:\d{2}:\d{2}$"

FORMAT_COLS = ["time_updated", "time_updated_iso", "last_updated"]
FLOAT_COLS = [
    "bpi_usd_rate_float",
    "bpi_gdp_rate_float",
    "bpi_eur_rate_float",
    "bpi_idr_rate_float",
]
STRING_COLS = [
    "job_id",
    "disclaimer",
    "chart_name",
    "bpi_usd_code",
    "bpi_usd_description",
    "bpi_gdp_code",
    "bpi_gdp_description",
    "bpi_eur_code",
    "bpi_eur_description",
]


class ValidationError(ValueError):
    """Raised when a batch fails the expectation gate: a dtype check as
    the gate is built, or a row check inside the job that computes the
    gated frame (see :func:`gate_errors`)."""


# leads the message of every row check's raise_error
_TAG = "expectation gate failed"


@per_gateway
def _row_check() -> Column:
    """``true`` for a row that passes the format and float checks; for
    any other, a ``raise_error`` listing each miss as ``<column>=<value>``.
    Name-bound, so built once."""
    miss = {c: F.col(c).isNull() | ~F.col(c).rlike(WALL_RE) for c in FORMAT_COLS}
    miss |= {c: F.col(c).isNull() for c in FLOAT_COLS}
    value = {c: F.coalesce(F.col(c).cast("string"), F.lit("NULL")) for c in miss}
    listed = [F.when(m, F.concat(F.lit(f"{c}="), value[c])) for c, m in miss.items()]
    message = F.concat(F.lit(f"{_TAG}: "), F.concat_ws(", ", *listed))
    failed = functools.reduce(Column.__or__, miss.values())
    return F.when(failed, F.raise_error(message)).otherwise(F.lit(True))


def expectation_gate(df: DataFrame) -> DataFrame:
    """Check the dtypes now; return ``df`` behind the per-row checks.

    The checks are a ``Filter``: a ``count()`` prunes a projection's
    ``raise_error``, never a filter's. Apply it before anything that
    drops rows, so it sees every row offered. On a batch frame a
    ``sample`` of every row keeps the filter above ``df``'s projections:
    pushed below them, it re-parsed a ``from_json`` payload once per
    checked column (400k rows took twice as long, 4 cores). A stream
    cannot be sampled; its file source parses at the scan.
    """
    schema = {f.name: f.dataType for f in df.schema.fields}
    for c in FLOAT_COLS:
        if not isinstance(schema.get(c), (T.DoubleType, T.FloatType)):
            raise ValidationError(f"expected float dtype for {c}, got {schema.get(c)}")
    for c in STRING_COLS:
        if not isinstance(schema.get(c), T.StringType):
            raise ValidationError(f"expected string dtype for {c}, got {schema.get(c)}")
    kept = df if df.isStreaming else df.sample(fraction=1.0, seed=0)
    return kept.where(_row_check())


@contextmanager
def gate_errors():
    """Re-raise a row check's failure, from any Spark action in the
    block, as ``ValidationError``; every other exception passes through
    unchanged."""
    try:
        yield
    except SparkRuntimeException as e:
        if e.getCondition() == "USER_RAISED_EXCEPTION":
            message = (e.getMessageParameters() or {}).get("errorMessage", "")
            if message.startswith(_TAG):
                raise ValidationError(message) from e
        raise
