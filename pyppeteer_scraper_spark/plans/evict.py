"""TTL / recrawl eviction — remove URLs from the url_seen set (and the
seen-filter sidecar) and reset their frontier rows to ``pending`` so a
resumed crawl re-fetches them.

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

Duplicate cuckoo fingerprints after a crash: a crawl round updates the
sidecar before its checkpoint commits, so a crash in between makes the
resumed round insert the same keys again, and the shards keep two
copies of each.  Evicting such a key removes one copy and leaves a
stale positive.  Every positive is verified exactly against url_seen,
so this costs time, never results (tests/test_checkpoint_resume.py
evicts after a crash and compares with a crawl that never crashed).

Sidecar cost asymmetry (when to pick cuckoo over bloom):
  - cuckoo: ``delete_cuckoo_shards`` removes one stored fingerprint
    copy per key — O(evicted batch) work, shards stay valid.
  - bloom: bits cannot be unset (other keys share them), so the ONLY
    correct path is a full rebuild from the survivor set — O(entire
    url_seen) per eviction.
  A crawl that never re-crawls (archive snapshot) should keep bloom
  (smaller, faster probes); any crawl driven by revisit scheduling /
  TTLs should run ``seen_filter="cuckoo"`` so evictions stay O(batch).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pyppeteer_scraper_spark.plans.checkpoint import load_state, save_state
from pyppeteer_scraper_spark.plans.round import CrawlState


def evict_urls(
    spark: SparkSession,
    ckpt_dir: str,
    urls: DataFrame,
    seen_filter: str = "cuckoo",
    store_factory=None,
) -> dict:
    """Evict ``urls`` (columns ``url_hash``, ``url``) from the LATEST
    checkpoint: drop them from url_seen, reset their frontier rows to
    ``pending`` (``last_fetch_round=-1, fetch_attempt=0``) so the next
    crawl rounds re-schedule and re-fetch them, and remove them from
    the seen-filter sidecar if one exists under ``ckpt_dir``.

    Returns ``{"round_no", "evicted", "sidecar"}`` where ``sidecar`` is
    ``"cuckoo-deleted"`` (O(batch)), ``"bloom-rebuilt"`` (O(url_seen) —
    the documented cost of evicting under bloom), or ``"none"``.
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

    sidecar = "none"
    cuckoo_dir = os.path.join(ckpt_dir, "cuckoo")
    bloom_dir = os.path.join(ckpt_dir, "bloom")
    if seen_filter == "cuckoo":
        from pyppeteer_scraper_spark.operators import cuckoo

        if cuckoo.load_params(cuckoo_dir, store_factory) is not None:
            cuckoo.delete_cuckoo_shards(
                ev.select("url_hash"), cuckoo_dir, store_factory=store_factory
            )
            sidecar = "cuckoo-deleted"
    else:
        from pyppeteer_scraper_spark.operators import bloom

        if bloom.load_params(bloom_dir, store_factory) is not None:
            # Bloom bits are shared between keys — deletion is
            # impossible, so correctness demands a full rebuild from
            # the survivor set (this O(url_seen) pass is exactly why
            # recrawl-driven deployments should use seen_filter="cuckoo").
            store = bloom._store(bloom_dir, store_factory)
            params = bloom.load_params(bloom_dir, store_factory)
            for name in store.list():
                if name.endswith(".npz") or name == "params.json":
                    store.delete(name)
            bloom.ensure_bloom_sidecar(
                survivors, bloom_dir, params, store_factory=store_factory
            )
            sidecar = "bloom-rebuilt"
    ev.unpersist()
    return {
        "round_no": new_state.round_no,
        "evicted": n_evict,
        "sidecar": sidecar,
    }
