"""Expectation gate — the validation stage (SURVEY.md §5).

The reference wraps each staged record in great_expectations and asserts
(bpi_crawler.py:137-159, duplicated at dump_with_postgres.py:112-144):

1. ``expect_column_values_to_match_strftime_format("%Y-%m-%d %H:%M:%S")``
   on time_updated / time_updated_iso / last_updated;
2. float dtype on the four ``*_rate_float`` columns;
3. string dtype on the eight text columns.

Any failure fails the task *before* the warehouse load (task ordering at
bpi_crawler.py:214). Here the same contract is a fail-closed gate built
from Column predicates + ``df.observe`` — dtype checks are static schema
assertions (free), format checks ride along the first action as observed
metrics, so validation costs **zero extra passes** over the data
(the reference re-reads the record and builds a pandas frame per check).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Observation
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
    """Raised when a batch fails the expectation gate. With a staging
    sink, it is raised before the batch is committed (see
    ``run_pipeline``)."""


def _bad_format(col: str):
    c = F.col(col)
    return F.sum((c.isNull() | ~c.rlike(WALL_RE)).cast("long")).alias(f"bad_{col}")


@per_gateway
def _gate_metrics() -> tuple[Column, ...]:
    """The gate's observed metrics: row count, per-column format misses
    and float nulls. Name-bound, so built once."""
    return (
        F.count(F.lit(1)).alias("n_rows"),
        *[_bad_format(c) for c in FORMAT_COLS],
        *[F.sum(F.col(c).isNull().cast("long")).alias(f"null_{c}") for c in FLOAT_COLS],
    )


def expectation_gate(df: DataFrame) -> tuple[DataFrame, Observation]:
    """Static dtype checks now; attach format-match metrics via observe().

    Returns (observed_df, observation). Call :func:`check_observation`
    after the first action on ``observed_df`` (e.g. the sink write) to
    enforce the gate — single-pass, but that action has already run.
    The metric Columns are built once (see ``session.per_gateway``);
    only the ``Observation`` is new per call, since each one observes a
    single DataFrame.
    """
    schema = {f.name: f.dataType for f in df.schema.fields}
    for c in FLOAT_COLS:
        if not isinstance(schema.get(c), (T.DoubleType, T.FloatType)):
            raise ValidationError(f"expected float dtype for {c}, got {schema.get(c)}")
    for c in STRING_COLS:
        if not isinstance(schema.get(c), T.StringType):
            raise ValidationError(f"expected string dtype for {c}, got {schema.get(c)}")

    obs = Observation("expectation_gate")
    return df.observe(obs, *_gate_metrics()), obs


def check_observation(obs: Observation) -> dict:
    """Enforce the gate from the metrics gathered by the completed action."""
    metrics = obs.get
    failures = {k: v for k, v in metrics.items() if k != "n_rows" and v}
    if failures:
        raise ValidationError(f"expectation gate failed: {failures}")
    return metrics


def validate_eager(df: DataFrame) -> DataFrame:
    """Small-batch convenience: run the gate with its own action and
    return ``df`` unchanged if clean (used by tests and the batch path)."""
    observed, obs = expectation_gate(df)
    observed.count()  # JVM-only action; observe metrics ride along
    check_observation(obs)
    return df
