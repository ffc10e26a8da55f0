"""Custom Python streaming data source for HTTP polling (SURVEY.md §2.1
S1/S2 true-streaming form; Spark 4 ``pyspark.sql.datasource`` API).

The reference polls the CoinDesk BPI endpoint on an Airflow cron
(bpi_crawler.py:43-60). Here the poll is a first-class Spark streaming
source: each micro-batch fetches whatever snapshots arrived since the
last committed offset, so checkpointing gives exactly-once delivery
into the pipeline with no XCom/Mongo bookkeeping.

The reader is a ``SimpleDataSourceStreamReader``, so the poll runs on
the driver. Each trigger, ``read(start)`` fetches the next
``ticksPerBatch`` ticks inside the stream's long-lived planner process
(Spark's ``latestOffset`` step) and returns their end offset; the rows
go to the JVM as cached Arrow blocks, and the batch's scan reads those
blocks. No Python worker task runs per trigger. A poll batch is a
handful of small JSON strings, where a worker task cost far more CPU to
start than the read itself. The offsets are a pure function of
``start``, so a restarted stream resumes from its checkpoint. A batch
planned before a crash but not committed is replayed through
``readBetweenOffsets(start, end)``, which re-fetches exactly the ticks
the offset log recorded (in a Python worker: the restarted planner has
no cached rows).

Network access is injected: the source takes a ``fetcher`` module path
resolving to ``fetch(from_offset: int, to_offset: int) -> list[str]``
(JSON payload strings). The default fetcher is a deterministic
generator (for tests/CI); a production deployment points it at a real
HTTP client with the same contract. ``fetch`` must return the same
payloads when asked for the same ticks again (a replay); the driver-side
poll suits small batches, since one process reads every row.
"""

from __future__ import annotations

import importlib
import json
from collections.abc import Iterator

from pyspark.sql.datasource import DataSource, SimpleDataSourceStreamReader


def default_fetch(from_offset: int, to_offset: int) -> list[str]:
    """Deterministic stand-in for the BPI endpoint: one synthetic
    snapshot per offset tick (minute cadence from a fixed epoch)."""
    out = []
    for i in range(from_offset, to_offset):
        minute = i % 60
        hour = 12 + (i // 60) % 12
        iso = f"2022-12-06T{hour:02d}:{minute:02d}:00+00:00"
        rate = 17000.0 + i
        payload = {
            "time": {
                "updated": f"Dec 6, 2022 {hour:02d}:{minute:02d}:00 UTC",
                "updatedISO": iso,
            },
            "disclaimer": "synthetic",
            "chartName": "Bitcoin",
            "bpi": {
                c: {
                    "code": c,
                    "rate": f"{rate * m:,.4f}",
                    "description": d,
                }
                for c, m, d in [
                    ("USD", 1.0, "United States Dollar"),
                    ("GBP", 0.82, "British Pound Sterling"),
                    ("EUR", 0.94, "Euro"),
                ]
            },
        }
        out.append(json.dumps(payload))
    return out


class HttpPollStreamReader(SimpleDataSourceStreamReader):
    def __init__(self, options: dict):
        self._batch_ticks = int(options.get("ticksperbatch", "3"))
        fetcher = options.get("fetcher")
        if fetcher:
            mod, name = fetcher.rsplit(":", 1)
            self._fetch = getattr(importlib.import_module(mod), name)
        else:
            self._fetch = default_fetch

    def initialOffset(self) -> dict:
        return {"tick": 0}

    def read(self, start: dict) -> tuple[Iterator[tuple], dict]:
        # each trigger advances the poll window by ticksPerBatch
        end = {"tick": start["tick"] + self._batch_ticks}
        return self.readBetweenOffsets(start, end), end

    def readBetweenOffsets(self, start: dict, end: dict) -> Iterator[tuple]:
        # a list iterator: Spark copies the iterator it caches, which a
        # generator does not allow
        return iter([(raw,) for raw in self._fetch(start["tick"], end["tick"])])


class HttpPollDataSource(DataSource):
    """spark.readStream.format("http_poll").option("ticksPerBatch", 5)
    → DataFrame[value: string] of raw JSON payloads; pipe into
    from_json(BPI_PAYLOAD_SCHEMA) + the flatten/enrich pipeline."""

    @classmethod
    def name(cls) -> str:
        return "http_poll"

    def schema(self) -> str:
        return "value string"

    def simpleStreamReader(self, schema) -> HttpPollStreamReader:
        return HttpPollStreamReader(self.options)


def register(spark) -> None:
    spark.dataSource.register(HttpPollDataSource)
