"""End-to-end BPI pipeline: payloads + rates → validated enriched rows.

The Spark re-expression of the reference's full DAG chain
(crawl → idr-enrich → flatten → validate → load,
bpi_crawler.py:178-214). What was seven Celery tasks with Mongo/XCom
handoffs collapses into one lazy DataFrame plan: the staging store is
lineage, the validation is a row filter in the plan the sink writes, and
the load is whatever sink the caller points at.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..session import per_gateway
from .flatten import flatten_payload
from .rates import join_idr_rate
from .schema import ENRICHED_COLUMNS
from .validate import expectation_gate, gate_errors


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
    order (bpi_crawler.py:172). ``sink`` (a callable df→None) gets it
    behind the gate's row filter, so a failing row aborts the sink's own
    Spark job and a sink whose job is its commit loads nothing of the
    batch (``io.sinks``): the reference's validate-then-load order
    (bpi_crawler.py:214). Without a sink the gate runs its own action.
    A failing batch raises ``ValidationError``; any other error of the
    sink passes through as it was raised.
    """
    enriched = join_idr_rate(flatten_payload(payloads, now=now), fx_rates)
    out = enriched.select(*_sink_columns())
    gated = expectation_gate(out)
    with gate_errors():
        if sink is None:
            gated.count()
        else:
            sink(gated)
    return out
