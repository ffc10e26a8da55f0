"""Flatten the nested BPI payload into the 16-column enriched record.

Reproduces ``data_enrichment`` (reference: bpi_crawler.py:93-125) as one
pure DataFrame→DataFrame projection — nested-field extraction (P1),
renames (P2), de-comma casts (F1/F2), datetime parse/format round-trips
(F4-F6) — all JVM-side expressions, so the whole stage is a single
codegen'd projection over the scan; Catalyst prunes unread payload
fields at the source.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.scalars import (
    de_comma_double,
    format_wall_ts,
    parse_bpi_updated,
    parse_iso_offset,
)
from ..session import per_gateway


@per_gateway
def _projection(bpi_is_map: bool, now: str | None) -> tuple[Column, ...]:
    """The 17 output Columns (16 record columns + ``_event_ts``) for one
    ``bpi`` encoding (struct or map) and one ``now``, built once."""

    def ccy(code: str) -> Column:
        return F.col("bpi").getItem(code) if bpi_is_map else F.col(f"bpi.{code}")

    usd, gbp, eur = ccy("USD"), ccy("GBP"), ccy("EUR")
    job_id = F.md5(F.concat_ws("|", F.col("time.updatedISO"), F.col("chartName")))
    now_col = F.lit(now).cast("timestamp") if now is not None else F.current_timestamp()
    event_ts = parse_iso_offset(F.col("time.updatedISO"))
    return (
        job_id.alias("job_id"),
        F.col("disclaimer"),
        F.col("chartName").alias("chart_name"),
        usd["code"].alias("bpi_usd_code"),
        de_comma_double(usd["rate"]).alias("bpi_usd_rate_float"),
        usd["description"].alias("bpi_usd_description"),
        # GBP data lands under bpi_gdp_* — reference's declared schema
        # (bpi_crawler.py:107-109; misspelling preserved intentionally).
        gbp["code"].alias("bpi_gdp_code"),
        de_comma_double(gbp["rate"]).alias("bpi_gdp_rate_float"),
        gbp["description"].alias("bpi_gdp_description"),
        eur["code"].alias("bpi_eur_code"),
        de_comma_double(eur["rate"]).alias("bpi_eur_rate_float"),
        eur["description"].alias("bpi_eur_description"),
        # string-formatted timestamps, tz dropped (bpi_crawler.py:114-118)
        format_wall_ts(parse_bpi_updated(F.col("time.updated"))).alias("time_updated"),
        format_wall_ts(event_ts).alias("time_updated_iso"),
        format_wall_ts(now_col).alias("last_updated"),
        # typed event-time column kept for the rates join & streaming
        # surface (internal; dropped by the sink projection).
        event_ts.alias("_event_ts"),
    )


def flatten_payload(
    payloads: DataFrame,
    now: str | None = None,
    job_id: Column | None = None,
) -> DataFrame:
    """Payload rows → flat enriched rows (minus the IDR join, see rates.py).

    ``now`` freezes the wall-clock ``last_updated`` (reference:
    ``datetime.now()`` at bpi_crawler.py:118) for deterministic tests;
    ``job_id`` overrides the surrogate key (reference: Mongo ObjectId hex,
    bpi_crawler.py:171) — default is a deterministic content hash so that
    retries produce the same key (idempotent sink friendly), with
    ``F.expr("uuid()")`` as the engine-generated alternative.

    The projection's Columns are built once per ``bpi`` encoding and
    ``now`` value (see ``session.per_gateway``), not on every call: a
    streaming ingest flattens one small batch per trigger, and
    rebuilding them cost more driver CPU than the batch itself.
    """
    bpi_is_map = isinstance(payloads.schema["bpi"].dataType, T.MapType)
    cols = _projection(bpi_is_map, now)
    if job_id is not None:
        cols = (job_id.alias("job_id"), *cols[1:])
    return payloads.select(*cols)
