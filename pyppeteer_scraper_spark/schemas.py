"""Explicit StructType schemas for the engine tables.

The reference's schemas are implicit (dicts shaped by ``.get()`` reads,
documented only by its JSON fixtures, e.g.
/root/reference/tests/homedepot_sample_response.json).  The engine flips
this to explicit columnar schemas so Catalyst can prune/push down.
"""

from __future__ import annotations

from pyspark.sql import types as T

# Epoch second of round 0 (2026-01-01T00:00:00Z): round timestamps and
# synthetic page timestamps count from here, never from the wall clock.
BASE_EPOCH = 1767225600

# ---------------------------------------------------------------------------
# Input table: Common-Crawl-style fetched pages (BASELINE.json input_hint).
PAGES_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("warc_ts", T.TimestampType(), True),
        T.StructField("html", T.BinaryType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("lang", T.StringType(), True),
    ]
)

URL_SEEN_SCHEMA = T.StructType(
    [
        T.StructField("url_hash", T.LongType(), False),
        T.StructField("url", T.StringType(), False),
        T.StructField("first_seen_round", T.IntegerType(), True),
    ]
)

SEEDS_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("priority", T.IntegerType(), True),
    ]
)

METRICS_SCHEMA = T.StructType(
    [
        T.StructField("round", T.IntegerType(), False),
        T.StructField("partition_id", T.IntegerType(), False),
        T.StructField("fetched", T.LongType(), True),
        T.StructField("deduped", T.LongType(), True),
        T.StructField("emitted", T.LongType(), True),
        T.StructField("duration_ms", T.LongType(), True),
    ]
)

# Extraction output of one round (mapInPandas over html).
EXTRACTED_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("title", T.StringType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("lang", T.StringType(), True),
        T.StructField("links", T.ArrayType(T.StringType()), True),
        T.StructField("payload_json", T.StringType(), True),
    ]
)

# Embedded workshop payload — the reference's golden-fixture shape
# (/root/reference/tests/homedepot_sample_response.json:1-40,
#  parsed at /root/reference/scraper/home_depo.py:393-405).
WORKSHOP_EVENT_SCHEMA = T.StructType(
    [
        T.StructField("code", T.StringType(), True),
        T.StructField("workshopId", T.StringType(), True),
        T.StructField("attendeeLimit", T.IntegerType(), True),
        T.StructField("remainingSeats", T.IntegerType(), True),
        T.StructField("duration", T.StringType(), True),
        T.StructField("closeDate", T.StringType(), True),
        T.StructField("endTime", T.StringType(), True),
        T.StructField("eventDate", T.StringType(), True),
        T.StructField("startTime", T.StringType(), True),
        T.StructField("workshopStatus", T.StringType(), True),
        T.StructField("workshopType", T.StringType(), True),
        T.StructField(
            "icsFile",
            T.StructType(
                [
                    T.StructField("code", T.StringType(), True),
                    T.StructField("url", T.StringType(), True),
                ]
            ),
            True,
        ),
        T.StructField(
            "eventType",
            T.StructType(
                [
                    T.StructField("workshopEventId", T.StringType(), True),
                    T.StructField("code", T.StringType(), True),
                    T.StructField("name", T.StringType(), True),
                    T.StructField("shortCode", T.StringType(), True),
                    T.StructField("description", T.StringType(), True),
                    T.StructField("thingsToKnow", T.StringType(), True),
                    T.StructField("imageUrl", T.StringType(), True),
                    T.StructField(
                        "photo",
                        T.StructType(
                            [
                                T.StructField("code", T.StringType(), True),
                                T.StructField("url", T.StringType(), True),
                            ]
                        ),
                        True,
                    ),
                ]
            ),
            True,
        ),
    ]
)

WORKSHOP_PAYLOAD_SCHEMA = T.StructType(
    [
        T.StructField(
            "workshopEventWsDTO", T.ArrayType(WORKSHOP_EVENT_SCHEMA), True
        ),
        T.StructField("dihFlag", T.BooleanType(), True),
        T.StructField("diyFlag", T.BooleanType(), True),
        T.StructField("kidFlag", T.BooleanType(), True),
    ]
)
