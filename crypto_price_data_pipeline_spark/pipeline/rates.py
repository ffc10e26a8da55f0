"""FX-rate enrichment (SURVEY.md §2.4 J1).

The reference calls a live convert API per record
(``gete_idr_price``, bpi_crawler.py:62-91: GET
api.apilayer.com/exchangerates_data/convert?from=USD&to=IDR&date=today,
then attaches ``result = amount × rate`` via ``update_one $set``).

Re-expressed against a rates *dimension table* ``(from_ccy, to_ccy,
rate_date, rate)``, the deterministic form the correctness oracle needs,
and as a lookup, not a join. The pair's ``(rate_date, rate)`` slice is
collected to the driver once per ``fx_rates`` DataFrame object and
turned into two array literals over its date span: the rates, and a
validity flag per day. A row reads both at its event's days since the
first rate date. That is a constant-time array read per row whatever
the number of dates, and a micro-batch plans no join, no broadcast and
no job for its rates. The broadcast equi-join this replaces cost a
Spark job per trigger to broadcast the slice, and it needed the slice
on the driver too (a broadcast is built there). Either form therefore
holds only a driver-sized dimension: one row per date of one currency
pair, 12 bytes per day of its span in the plan (ten years is about
44 KB). The multiplication ``usd_rate × fx_rate`` happens engine-side
(the reference delegated it to the API).

A date missing from the slice reads NULL, so the validation gate fails
the row. Two rates for one date raise ``ValueError``: a join would have
duplicated the snapshot.

The slice is what the frame held on first use; to pick up new rates,
pass a new DataFrame. The memo holds its key weakly: when the caller
drops the frame, its entry goes with it. A streaming ``fx_rates``
raises ``ValueError``: it has no contents to take on first use.
"""

from __future__ import annotations

import datetime as dt
import threading
import weakref

import numpy as np
from pyspark import SparkContext
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..session import per_gateway

# fx_rates frame -> {(from_ccy, to_ccy): rate lookup Column}; foreachBatch
# calls of concurrent streams may share one frame, hence the lock
_SLICES: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()
_SLICES_LOCK = threading.Lock()


@per_gateway
def _jvm_types():
    """(``java.nio.ByteBuffer``, ``double``, ``int``) handles: each lookup
    through ``_jvm`` is a py4j round trip per name segment."""
    jvm = SparkContext._jvm
    return jvm.java.nio.ByteBuffer, jvm.double, jvm.int


def _array_lit(values: np.ndarray) -> Column:
    """A float64 or int32 ``values`` as an array literal, in a fixed number
    of py4j calls: the bytes cross as one ``byte[]`` and fill a JVM array
    through a buffer view. ``F.lit(ndarray)`` sends one call per element."""
    buffer, double, int_ = _jvm_types()
    wide = values.dtype == np.float64
    data = buffer.wrap(values.astype(">f8" if wide else ">i4").tobytes())
    out = SparkContext._gateway.new_array(double if wide else int_, len(values))
    (data.asDoubleBuffer() if wide else data.asIntBuffer()).get(out)
    return F.lit(out)


def _lookup(rows: list, from_ccy: str, to_ccy: str) -> Column:
    """The rate of the row's event date from ``rows`` of ``(rate_date,
    rate)``, as a Column with no join. A row with no date never matched
    the old join, so it is left out; a NULL rate reads NULL."""
    rows = [(d, r) for d, r in rows if d is not None]
    if not rows:
        return F.lit(None).cast("double")
    days = np.array([d.toordinal() for d, _ in rows])
    first = int(days.min())
    offsets = days - first
    seen = np.bincount(offsets)
    if seen.max() > 1:
        twice = dt.date.fromordinal(first + int(seen.argmax()))
        raise ValueError(f"fx_rates has more than one {from_ccy}->{to_ccy} rate on {twice}")
    rates = np.zeros(len(seen))
    valid = np.zeros(len(seen), dtype=np.int32)
    for off, (_, r) in zip(offsets, rows):
        if r is not None:
            rates[off], valid[off] = r, 1
    day = F.datediff(F.to_date(F.col("_event_ts")), F.lit(dt.date.fromordinal(first)))
    return F.when(F.get(_array_lit(valid), day) == 1, F.get(_array_lit(rates), day))


def _rate_slice(fx_rates: DataFrame, from_ccy: str, to_ccy: str) -> Column:
    """The pair's rate for the row's event date (see :func:`_lookup`),
    built from one collect of the pair's slice on first use of
    ``fx_rates`` and reused for the life of that object."""
    key = (from_ccy, to_ccy)
    with _SLICES_LOCK:
        memo = _SLICES.get(fx_rates, {}).get(key)
        if memo is None:
            if fx_rates.isStreaming:
                raise ValueError("fx_rates must be a static DataFrame, not a stream")
            pair = (F.col("from_ccy") == from_ccy) & (F.col("to_ccy") == to_ccy)
            rows = fx_rates.where(pair).select("rate_date", "rate").collect()
            memo = _SLICES.setdefault(fx_rates, {})[key] = _lookup(rows, from_ccy, to_ccy)
        return memo


@per_gateway
def _usd_rate() -> Column:
    return F.col("bpi_usd_rate_float")


def join_idr_rate(
    enriched: DataFrame,
    fx_rates: DataFrame,
    from_ccy: str = "USD",
    to_ccy: str = "IDR",
) -> DataFrame:
    """Attach ``bpi_idr_rate_float = bpi_usd_rate_float * rate`` for the
    pair's rate on the row's event date (``_event_ts``). A missing rate
    yields NULL (caught by the validation gate), never a dropped
    snapshot. The rates are a snapshot of ``fx_rates`` taken on its first
    use and read through a lookup, not a join (see the module docstring);
    the name is kept from the join it replaces.
    """
    return enriched.withColumn(
        "bpi_idr_rate_float", _usd_rate() * _rate_slice(fx_rates, from_ccy, to_ccy)
    )
