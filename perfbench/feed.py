"""Seeded BPI snapshot feed for the ``http_poll`` source's ``fetcher``.

Tick ``i`` is one poll of the price endpoint. The endpoint updates once a
minute and the poller is faster, so in every block of four polls one
returns the same snapshot as the poll before it: a quarter of all polled
snapshots repeat an ``updatedISO`` that was already delivered. Minutes
advance from ``EPOCH`` without wrapping. The USD price is a seeded
random walk; GBP and EUR are fixed multiples of it.

The source calls :func:`fetch` inside Spark's Python workers, which import
this module by name, so the seed travels in the ``PERFBENCH_SEED``
environment variable that the workers inherit.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import zlib

import numpy as np

EPOCH = dt.datetime(2022, 12, 6, tzinfo=dt.timezone.utc)
CROSS = [
    ("USD", 1.0, "United States Dollar"),
    ("GBP", 0.82, "British Pound Sterling"),
    ("EUR", 0.94, "Euro"),
]
_WALK: dict[int, np.ndarray] = {}


def minute(i: int, s: int) -> int:
    """Minute index of the snapshot poll ``i`` returns."""
    block, r = divmod(i, 4)
    repeat_at = 1 + zlib.crc32(f"{s}:{block}".encode()) % 3
    return 3 * block + (r if r < repeat_at else r - 1)


def usd_price(m: int, s: int) -> float:
    walk = _WALK.get(s)
    if walk is None or m >= len(walk):
        n = max(1 << 16, 2 * (m + 1))
        steps = np.random.default_rng(s).normal(0.0, 12.0, n)
        walk = _WALK[s] = np.round(17000.0 + np.cumsum(steps), 4)
    return float(walk[m])


def payload(m: int, s: int) -> str:
    t = EPOCH + dt.timedelta(minutes=m)
    usd = usd_price(m, s)
    return json.dumps(
        {
            "time": {
                "updated": f"{t:%b} {t.day}, {t:%Y %H:%M:%S} UTC",
                "updatedISO": t.isoformat(),
            },
            "disclaimer": "seeded benchmark feed",
            "chartName": "Bitcoin",
            "bpi": {
                code: {"code": code, "rate": f"{usd * mult:,.4f}", "description": desc}
                for code, mult, desc in CROSS
            },
        }
    )


def fetch(from_offset: int, to_offset: int) -> list[str]:
    s = int(os.environ["PERFBENCH_SEED"])
    return [payload(minute(i, s), s) for i in range(from_offset, to_offset)]


def rate_rows(days: int, s: int) -> list[tuple[str, str, dt.date, float]]:
    """USD→IDR rates dimension: one row per event date from ``EPOCH``."""
    rng = np.random.default_rng(s + 1)
    return [
        ("USD", "IDR", (EPOCH + dt.timedelta(days=d)).date(), round(15600 + float(x), 2))
        for d, x in enumerate(rng.uniform(0, 200, days))
    ]
