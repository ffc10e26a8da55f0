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
    """Flatten → rates join → projection → expectation gate [→ sink].

    Returns the enriched DataFrame in the reference's 16-column sink
    order (bpi_crawler.py:172). If ``sink`` (a callable df→None) is
    given, the gate's metrics ride on the sink's own action, so the
    batch is computed once. The order is write, then check: the sink
    commits every row, bad ones included, and only then does
    ``check_observation`` raise ``ValidationError``. This path is not
    fail-closed; the reference validates before it loads
    (bpi_crawler.py:214), and staging the write until the gate passes is
    ROADMAP direction 5. Without a sink, the gate runs its own action
    and raises before anything is returned.
    """
    enriched = join_idr_rate(flatten_payload(payloads, now=now), fx_rates)
    out = enriched.select(*_sink_columns())
    if sink is not None:
        observed, obs = expectation_gate(out)
        sink(observed)
        check_observation(obs)
        return out
    from .validate import validate_eager

    return validate_eager(out)
