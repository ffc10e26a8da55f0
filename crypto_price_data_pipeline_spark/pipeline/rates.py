"""FX-rate enrichment join (SURVEY.md §2.4 J1).

The reference calls a live convert API per record
(``gete_idr_price``, bpi_crawler.py:62-91: GET
api.apilayer.com/exchangerates_data/convert?from=USD&to=IDR&date=today,
then attaches ``result = amount × rate`` via ``update_one $set``).

Re-expressed as a broadcast equi-join of the snapshot stream against a
rates *dimension table* ``(from_ccy, to_ccy, rate_date, rate)`` — the
deterministic form the correctness oracle needs, and the form that
scales: the dimension is tiny, so the join is a broadcast hash join with
no shuffle of the (huge) fact side. The multiplication
``usd_rate × fx_rate`` happens engine-side (the reference delegated it
to the API).

The dimension is read once per ``fx_rates`` DataFrame object: the first
join against a frame materializes its ``(from_ccy, to_ccy)`` slice, and
every later join against the same object reads that snapshot instead of
re-evaluating the caller's plan. A streaming ingest joins one rates frame
per trigger, and when that frame is a Python-built dimension
(``createDataFrame`` from a list), re-scanning it cost more CPU than the
trigger's own snapshots. The snapshot is what the frame held on first
use; to pick up new rates, pass a new DataFrame. The memo holds its key
weakly: when the caller drops the frame, the entry and its materialized
blocks go with it. A streaming ``fx_rates`` is never memoized.
"""

from __future__ import annotations

import threading
import weakref

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..session import materialize, per_gateway

# fx_rates frame -> {(from_ccy, to_ccy): materialized (rate_date, rate) slice};
# foreachBatch calls of concurrent streams may share one frame, hence the lock
_SLICES: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()
_SLICES_LOCK = threading.Lock()


def _rate_slice(fx_rates: DataFrame, from_ccy: str, to_ccy: str) -> DataFrame:
    """The ``(rate_date, rate)`` rows of one currency pair, materialized
    on first use of ``fx_rates`` and reused for the life of that object.

    ``materialize``, not ``cache()``: a cached plan is registered with the
    session's cache manager, where any query with a matching plan picks it
    up, and it stays there until someone unpersists it.
    """
    key = (from_ccy, to_ccy)
    with _SLICES_LOCK:
        memo = _SLICES.get(fx_rates, {}).get(key)
    if memo is not None:  # a streaming frame never gets here
        return memo
    dim = fx_rates.where(
        (F.col("from_ccy") == from_ccy) & (F.col("to_ccy") == to_ccy)
    ).select("rate_date", "rate")
    if fx_rates.isStreaming:
        return dim
    with _SLICES_LOCK:
        slices = _SLICES.setdefault(fx_rates, {})
        if key not in slices:
            slices[key] = dim.transform(materialize)
        return slices[key]


@per_gateway
def _join_exprs() -> tuple[Column, Column]:
    """(join condition, IDR product): name-bound, so built once."""
    on = F.to_date(F.col("_event_ts")) == F.col("rate_date")
    return on, F.col("bpi_usd_rate_float") * F.col("rate")


def join_idr_rate(
    enriched: DataFrame,
    fx_rates: DataFrame,
    from_ccy: str = "USD",
    to_ccy: str = "IDR",
) -> DataFrame:
    """Attach ``bpi_idr_rate_float = bpi_usd_rate_float * rate`` for the
    rate row matching (pair, event date). Left join: a missing rate row
    yields NULL (caught by the validation gate), never a dropped snapshot.
    The rates are a snapshot of ``fx_rates`` taken on its first use (see
    :func:`_rate_slice`). The condition and the product are built once
    (see ``session.per_gateway``): they name ``_event_ts``, ``rate_date``
    and ``rate``, which only one side of the join carries.
    """
    on, idr = _join_exprs()
    return (
        enriched.join(F.broadcast(_rate_slice(fx_rates, from_ccy, to_ccy)), on, "left")
        .withColumn("bpi_idr_rate_float", idr)
        .drop("rate_date", "rate")
    )
