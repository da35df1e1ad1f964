"""Compaction probe: 100-round synthetic crawl state, load_state timing
and per-load file counts with vs. without delta->base compaction.

Prints one JSON line; evidence for BENCH/BASELINE.md (the round-2
verdict's remaining scale-killer: O(rounds) small-file reads).

Usage: python tools/bench_compaction.py [n_rounds] [compact_every]
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import functions as F  # noqa: E402


def synth_crawl(spark, ckpt: str, n_rounds: int, compact_every: int | None):
    from pyppeteer_scraper_spark.plans.checkpoint import load_state, save_state
    from pyppeteer_scraper_spark.plans.round import (
        CrawlState,
        WORKSHOPS_SCHEMA_DDL,
    )
    from pyppeteer_scraper_spark.schemas import URL_SEEN_SCHEMA

    frontier = spark.range(50).select(
        F.concat(F.lit("https://d.example/p"), F.col("id")).alias("url"),
        F.xxhash64("id").alias("url_hash"),
        F.lit("d.example").alias("host"),
        F.lit("d.example").alias("domain"),
        F.lit(0).cast("int").alias("priority"),
        F.lit(0).cast("int").alias("depth"),
        F.timestamp_seconds(F.lit(0)).alias("discovered_ts"),
        F.lit("pending").alias("state"),
        F.lit(0).cast("int").alias("revisit_interval"),
        F.lit(-1).cast("int").alias("last_fetch_round"),
        F.lit(0).cast("int").alias("fetch_attempt"),
    )
    workshops = spark.createDataFrame([], WORKSHOPS_SCHEMA_DDL)
    seen = spark.createDataFrame([], URL_SEEN_SCHEMA)
    load_times: dict[int, float] = {}
    for rnd in range(0, n_rounds + 1):
        if rnd > 0:
            delta = spark.range(200 * rnd, 200 * (rnd + 1)).select(
                F.xxhash64("id").alias("url_hash"),
                F.concat(F.lit("https://d.example/u"), F.col("id")).alias("url"),
                F.lit(rnd).cast("int").alias("first_seen_round"),
            )
            seen = seen.unionByName(delta)
        save_state(
            CrawlState(frontier, seen, workshops, rnd),
            ckpt,
            n_partitions=4,
            compact_every=compact_every,
        )
        st = load_state(spark, ckpt, rnd)
        if rnd in (1, 25, 50, 75, 100):
            t0 = time.time()
            st.url_seen.count()  # force the full deltas-or-base read
            load_times[rnd] = round(time.time() - t0, 3)
        seen = st.url_seen
    return load_times


def main() -> None:
    n_rounds = int(sys.argv[1]) if len(sys.argv) > 1 else 100
    k = int(sys.argv[2]) if len(sys.argv) > 2 else 16

    from pyppeteer_scraper_spark.plans.checkpoint import _delta_dirs, read_manifest
    from pyppeteer_scraper_spark.session import get_spark

    spark = get_spark("compaction-bench", cores=8, shuffle_partitions=4)
    out = {}
    for label, ce in (("compacted", k), ("uncompacted", None)):
        ckpt = tempfile.mkdtemp(prefix=f"cmp_{label}_")
        t0 = time.time()
        load_times = synth_crawl(spark, ckpt, n_rounds, ce)
        compacted = read_manifest(ckpt, n_rounds).get("compacted", {})
        dirs = _delta_dirs(
            ckpt, "url_seen", n_rounds, compacted.get("url_seen", 0)
        )
        n_files = sum(
            len([x for x in os.listdir(d) if x.endswith(".parquet")])
            for d in dirs
        )
        out[label] = {
            "load_seconds_by_round": load_times,
            "dirs_read_at_final_load": len(dirs),
            "parquet_files_read_at_final_load": n_files,
            "total_seconds": round(time.time() - t0, 1),
        }
    print(
        json.dumps(
            {"metric": "compaction_probe", "n_rounds": n_rounds,
             "compact_every": k, **out}
        )
    )


if __name__ == "__main__":
    main()
