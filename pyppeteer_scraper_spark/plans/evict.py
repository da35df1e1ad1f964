"""TTL / recrawl eviction — remove URLs from the url_seen set and reset
their frontier rows to ``pending`` so a resumed crawl re-fetches them.

Reference analog: the reference has no eviction at all — its JSON seen
set only grows (/root/reference/service/alert.py:460-490), so a page
that changes after first sight is never re-alerted unless the state
file is hand-deleted.  Adaptive revisit scheduling
(operators/revisit.py, Cho & Garcia-Molina 2003) tells us WHICH pages
to re-crawl; this module makes the seen-state actually forget them.

Snapshot semantics: eviction is written as a NEW checkpoint round
(``round_no + 1``) via ``save_state(compact_every=1)`` — the forced
compaction writes the survivor set as the new ``compacted/url_seen``
base, so no in-place rewrite ever happens.  ``save_state`` moves LATEST
only after every file of the round has landed, so a crash mid-evict
leaves LATEST pointing at the intact pre-evict round — the one commit
point every crawl round goes through too.  This is the parquet
emulation of an Iceberg ``DELETE FROM url_seen WHERE ...`` +
``rewrite_data_files``.

The cuckoo seen-filter sidecar is left alone: it holds the frontier's
URL keys, and an evicted URL stays a frontier row (reset, not removed),
so deleting its key would make the filter call a known URL "definitely
unseen".  The eviction round moves LATEST past the round the sidecar's
marker records, so the next ``crawl(use_seen_filter=True)`` rebuilds it
from the full frontier — one pass over the frontier, the same order of
work as the forced url_seen compaction.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pyppeteer_scraper_spark.plans.checkpoint import load_state, save_state
from pyppeteer_scraper_spark.plans.round import CrawlState


def evict_urls(spark: SparkSession, ckpt_dir: str, urls: DataFrame) -> dict:
    """Evict ``urls`` (columns ``url_hash``, ``url``) from the LATEST
    checkpoint: drop them from url_seen and reset their frontier rows to
    ``pending`` (``last_fetch_round=-1, fetch_attempt=0``) so the next
    crawl rounds re-schedule and re-fetch them.

    Returns ``{"round_no", "evicted"}``.
    """
    state = load_state(spark, ckpt_dir)
    assert state.round_no > 0, "evict_urls needs at least one crawled round"
    ev = urls.select("url_hash", "url").distinct().cache()
    n_evict = ev.count()

    survivors = state.url_seen.join(ev, ["url_hash", "url"], "left_anti")
    hit = F.col("__evict").isNotNull()
    frontier = (
        state.frontier.join(
            ev.withColumn("__evict", F.lit(True)), ["url_hash", "url"], "left"
        )
        .withColumn(
            "state", F.when(hit, F.lit("pending")).otherwise(F.col("state"))
        )
        .withColumn(
            "last_fetch_round",
            F.when(hit, F.lit(-1).cast("int")).otherwise(
                F.col("last_fetch_round")
            ),
        )
        .withColumn(
            "fetch_attempt",
            F.when(hit, F.lit(0).cast("int")).otherwise(F.col("fetch_attempt")),
        )
        .drop("__evict")
    )
    new_state = CrawlState(
        frontier=frontier,
        url_seen=survivors,
        workshops=state.workshops,
        round_no=state.round_no + 1,
    )
    # compact_every=1 forces the survivor set out as the new compacted
    # url_seen base — the eviction IS the compaction.  (The per-round
    # url_seen delta for this synthetic round is empty by construction:
    # no row has first_seen_round == round_no + 1.)
    save_state(new_state, ckpt_dir, compact_every=1)
    ev.unpersist()
    return {"round_no": new_state.round_no, "evicted": n_evict}
