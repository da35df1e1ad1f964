"""async_checkpoint: overlapped writes must not change ANY observable —
final state, per-round checkpoints, resume, metrics, seen-filter
results."""

import pytest
from pyspark.sql import functions as F

from pyppeteer_scraper_spark.plans.checkpoint import (
    crawl,
    load_metrics,
    load_state,
)
from pyppeteer_scraper_spark.sources.datagen import generate_crawl_tables


def _state_snapshot(state):
    frontier = sorted(
        (r["url"], r["priority"], r["depth"], r["state"])
        for r in state.frontier.collect()
    )
    seen = sorted((r["url"], r["first_seen_round"]) for r in state.url_seen.collect())
    ws = sorted(
        (r["event_code"], r["is_registered"], r["discovered_round"])
        for r in state.workshops.collect()
    )
    return frontier, seen, ws


def test_async_equals_sync(spark, sf_small, tmp_path):
    t = generate_crawl_tables(spark, sf_small)
    pages, seeds, robots = t["pages"], t["seeds"], t["robots"]

    sync = crawl(spark, pages, seeds, robots, 3, str(tmp_path / "sync"))
    asy = crawl(
        spark, pages, seeds, robots, 3, str(tmp_path / "asy"),
        async_checkpoint=True,
    )
    assert asy.state.round_no == sync.state.round_no == 3
    assert _state_snapshot(asy.state) == _state_snapshot(sync.state)
    assert asy.fetched_per_round == sync.fetched_per_round

    # every round's checkpoint is complete and identical on disk
    for rnd in range(0, 4):
        ss = load_state(spark, str(tmp_path / "sync"), rnd)
        aa = load_state(spark, str(tmp_path / "asy"), rnd)
        assert _state_snapshot(aa) == _state_snapshot(ss)
    # metrics deltas written for every round
    ms = load_metrics(spark, str(tmp_path / "asy"), 3)
    assert sorted(r["round"] for r in ms.select("round").distinct().collect()) == [
        1, 2, 3,
    ]


def test_async_resume_from_checkpoint(spark, sf_small, tmp_path):
    t = generate_crawl_tables(spark, sf_small)
    pages, seeds, robots = t["pages"], t["seeds"], t["robots"]

    full = crawl(
        spark, pages, seeds, robots, 3, str(tmp_path / "full"),
        async_checkpoint=True,
    )
    crawl(
        spark, pages, seeds, robots, 2, str(tmp_path / "part"),
        async_checkpoint=True,
    )
    # resume ACROSS modes: async-written checkpoints feed a sync resume
    # and vice versa — the on-disk contract is identical
    resumed_sync = crawl(
        spark, pages, seeds, robots, 1, str(tmp_path / "part"), resume=True
    )
    assert _state_snapshot(resumed_sync.state) == _state_snapshot(full.state)


def test_async_with_bloom_and_incremental(spark, sf_small, tmp_path):
    """The two stateful sidecars (seen filter, bucketed frontier) under
    overlapped writes: results must match the plain sync crawl, and the
    sidecar race guard (synchronous update) must keep dedup exact."""
    t = generate_crawl_tables(spark, sf_small)
    pages, seeds, robots = t["pages"], t["seeds"], t["robots"]

    ref = crawl(spark, pages, seeds, robots, 3, str(tmp_path / "ref"))
    asy = crawl(
        spark, pages, seeds, robots, 3, str(tmp_path / "asy"),
        async_checkpoint=True, use_bloom=True,
        incremental_frontier=True, n_buckets=8,
    )
    assert _state_snapshot(asy.state) == _state_snapshot(ref.state)
    # no URL scheduled twice (exact dedup survived the async window)
    dup = (
        asy.state.url_seen.groupBy("url")
        .agg(F.count("*").alias("n"))
        .filter(F.col("n") > 1)
        .count()
    )
    assert dup == 0


@pytest.fixture(scope="module", params=[False, True], ids=["sync", "async"])
def bucketed_crawl(request, spark, sf_small, tmp_path_factory):
    """A 3-round crawl with a bucketed frontier and a compaction at
    round 2, in each checkpoint mode: (result, checkpoint dir)."""
    t = generate_crawl_tables(spark, sf_small)
    ckpt = str(tmp_path_factory.mktemp("bucketed"))
    res = crawl(
        spark, t["pages"], t["seeds"], t["robots"], 3, ckpt,
        incremental_frontier=True, n_buckets=8, compact_every=2,
        async_checkpoint=request.param,
    )
    return res, ckpt


def test_checkpoint_equals_in_memory_state(spark, bucketed_crawl):
    """No round reads its own checkpoint back, so the last checkpoint
    must hold exactly the state the crawl carried in memory."""
    res, ckpt = bucketed_crawl
    assert res.state.round_no == 3
    assert _state_snapshot(load_state(spark, ckpt, 3)) == _state_snapshot(res.state)


def test_duration_ms_every_round(spark, bucketed_crawl):
    _, ckpt = bucketed_crawl
    m = load_metrics(spark, ckpt, 3)
    per_round = {
        r["round"]: (r["rows"], r["ok"])
        for r in m.groupBy("round")
        .agg(
            F.count("*").alias("rows"),
            F.sum((F.col("duration_ms") > 0).cast("int")).alias("ok"),
        )
        .collect()
    }
    assert set(per_round) == {1, 2, 3}
    for rows, ok in per_round.values():
        assert rows > 0 and ok == rows
