"""End-to-end BPI pipeline: payloads + rates → validated enriched rows.

The Spark re-expression of the reference's full DAG chain
(crawl → idr-enrich → flatten → validate → load,
bpi_crawler.py:178-214). What was seven Celery tasks with Mongo/XCom
handoffs collapses into one lazy DataFrame plan: the staging store is
lineage, the validation is observe() metrics on the sink action, and the
load is whatever sink the caller points at.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..io.sinks import pre_commit
from ..session import per_gateway
from .flatten import flatten_payload
from .rates import join_idr_rate
from .schema import ENRICHED_COLUMNS
from .validate import check_observation, expectation_gate


@per_gateway
def _sink_columns() -> tuple[Column, ...]:
    return tuple(F.col(c) for c in ENRICHED_COLUMNS)


def run_pipeline(
    payloads: DataFrame,
    fx_rates: DataFrame,
    now: str | None = None,
    sink=None,
) -> DataFrame:
    """Flatten → rates lookup → projection → expectation gate [→ sink].

    Returns the enriched DataFrame in the reference's 16-column sink
    order (bpi_crawler.py:172). If ``sink`` (a callable df→None) is
    given, the gate's metrics ride on the sink's own action, so the
    batch is computed once. The gate's check is registered as a
    pre-commit check (``io.sinks.pre_commit``) for the duration of the
    sink: a staging sink (``idempotent_append``) runs it after its
    staged write and before anything reaches the table, so a batch that
    fails the gate raises ``ValidationError`` with nothing loaded, the
    reference's validate-then-load order (bpi_crawler.py:214). The check
    runs again after the sink returns, so a sink that does not stage
    still raises, after its write. Without a sink, the gate runs its own
    action and raises before anything is returned.
    """
    enriched = join_idr_rate(flatten_payload(payloads, now=now), fx_rates)
    out = enriched.select(*_sink_columns())
    if sink is not None:
        observed, obs = expectation_gate(out)
        with pre_commit(lambda: check_observation(obs)):
            sink(observed)
        check_observation(obs)
        return out
    from .validate import validate_eager

    return validate_eager(out)
