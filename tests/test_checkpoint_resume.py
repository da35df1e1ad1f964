"""Resume-from-checkpoint exactness + parallelism invariance
(SURVEY.md §5 items 4-5), delta→base compaction (bounded per-load
file reads at unbounded round counts), and resume after a write that
fails part-way through a round's checkpoint."""

import os
import shutil

import pytest
from pyspark.sql import DataFrameWriter
from pyspark.sql import functions as F

from pyppeteer_scraper_spark.operators.linkrank import load_edges
from pyppeteer_scraper_spark.plans.checkpoint import (
    _delta_dirs,
    crawl,
    load_metrics,
    load_state,
    read_manifest,
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


def test_resume_equals_uninterrupted(spark, sf_small, tmp_path):
    t = generate_crawl_tables(spark, sf_small)
    pages, seeds, robots = t["pages"], t["seeds"], t["robots"]

    full = crawl(spark, pages, seeds, robots, 3, str(tmp_path / "full"))

    # interrupted: 2 rounds, then a fresh resume (simulating a restart —
    # state is reloaded purely from the checkpoint dir) for 1 more
    crawl(spark, pages, seeds, robots, 2, str(tmp_path / "part"))
    resumed = crawl(
        spark, pages, seeds, robots, 1, str(tmp_path / "part"), resume=True
    )

    assert resumed.state.round_no == full.state.round_no == 3
    assert _state_snapshot(resumed.state) == _state_snapshot(full.state)

    # every intermediate round remains individually loadable (lineage)
    for rnd in range(0, 3):
        st = load_state(spark, str(tmp_path / "full"), rnd)
        assert st.round_no == rnd
        assert st.url_seen.filter(F.col("first_seen_round") > rnd).count() == 0


def test_partitioning_invariance(spark, sf_small, tmp_path):
    """Same results regardless of shuffle parallelism — the in-process
    proxy for the local[8]-vs-local[32] scaling invariance (the real
    two-master comparison runs in bench_scaling.py)."""
    t = generate_crawl_tables(spark, sf_small)
    pages, seeds, robots = t["pages"], t["seeds"], t["robots"]

    prev = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "3")
        a = crawl(spark, pages, seeds, robots, 2, str(tmp_path / "p3"))
        spark.conf.set("spark.sql.shuffle.partitions", "17")
        b = crawl(spark, pages, seeds, robots, 2, str(tmp_path / "p17"))
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)

    assert _state_snapshot(a.state) == _state_snapshot(b.state)


def test_incremental_frontier_equals_full(spark, sf_small, tmp_path):
    """Bucketed incremental frontier checkpoints (only touched
    domain-buckets rewritten per round, Iceberg-MERGE emulation) must
    be state-identical to full rewrites, resumable mid-crawl, and must
    actually skip untouched buckets."""
    import json
    import os

    t = generate_crawl_tables(spark, sf_small)
    pages, seeds, robots = t["pages"], t["seeds"], t["robots"]

    full = crawl(spark, pages, seeds, robots, 3, str(tmp_path / "f"))
    inc_dir = str(tmp_path / "i")
    crawl(spark, pages, seeds, robots, 2, inc_dir, incremental_frontier=True)
    inc = crawl(
        spark, pages, seeds, robots, 1, inc_dir,
        resume=True, incremental_frontier=True,
    )
    assert _state_snapshot(inc.state) == _state_snapshot(full.state)

    # every intermediate round is individually loadable via its pointers
    for rnd in range(0, 4):
        st = load_state(spark, inc_dir, rnd)
        assert st.frontier.count() > 0

    # later rounds rewrite a strict subset of buckets; pointers span rounds
    with open(os.path.join(inc_dir, "round=3", "manifest.json")) as f:
        meta = json.load(f)["frontier"]
    assert meta["layout"] == "bucketed"
    rounds_pointed = set(meta["pointers"].values())
    assert len(rounds_pointed) > 1, "no bucket skipped a rewrite — not incremental"
    bdir3 = os.path.join(inc_dir, "frontier_buckets", "round=3")
    written3 = {n for n in os.listdir(bdir3) if n.startswith("__bucket=")}
    assert len(written3) < len(meta["pointers"]), "round 3 rewrote every bucket"


def test_compaction_resume_equals_uncompacted(spark, sf_small, tmp_path):
    """State across a delta→base compaction boundary (compact_every=2,
    resume at round 3 reads compacted base + deltas) must equal the
    never-compacted crawl, and metrics must survive with non-null
    deduped/emitted counts."""
    t = generate_crawl_tables(spark, sf_small)
    pages, seeds, robots = t["pages"], t["seeds"], t["robots"]

    plain = crawl(
        spark, pages, seeds, robots, 3, str(tmp_path / "plain"), compact_every=None
    )
    cdir = str(tmp_path / "compact")
    crawl(spark, pages, seeds, robots, 2, cdir, compact_every=2)
    resumed = crawl(
        spark, pages, seeds, robots, 1, cdir, resume=True, compact_every=2
    )

    def snap(state):
        seen = sorted(
            (r["url"], r["first_seen_round"]) for r in state.url_seen.collect()
        )
        ws = sorted(
            (r["event_code"], r["is_registered"]) for r in state.workshops.collect()
        )
        return seen, ws

    assert snap(resumed.state) == snap(plain.state)

    # manifest pointers advanced at the boundary; the round-3 load reads
    # exactly 1 compacted dir + 1 delta dir
    import json
    import os

    with open(os.path.join(cdir, "round=3", "manifest.json")) as f:
        compacted = json.load(f)["compacted"]
    assert compacted["url_seen"] == 2 and compacted["workshops"] == 2
    dirs = _delta_dirs(cdir, "url_seen", 3, compacted["url_seen"])
    assert len(dirs) == 2 and "compacted" in dirs[0]

    # metrics: one delta dir per round, compacted pointer ≤ boundary,
    # counts filled (deduped = novel links, emitted = action rows)
    m = load_metrics(spark, cdir).groupBy("round").agg(
        F.sum("fetched").alias("f"),
        F.sum("deduped").alias("d"),
        F.sum("emitted").alias("e"),
    )
    rows = {r["round"]: (r["f"], r["d"], r["e"]) for r in m.collect()}
    assert set(rows) == {1, 2, 3}
    assert all(v is not None for trip in rows.values() for v in trip)
    assert rows[1][1] > 0, "round 1 should discover novel links"
    assert sum(e for _, _, e in rows.values()) > 0, "no actions emitted"


def test_compaction_bounds_load_file_count(spark, tmp_path):
    """40-round synthetic crawl: per-load directory count stays ≤
    1 + compact_every however many rounds ran (without compaction it is
    O(rounds)), and the loaded seen-set is exact."""
    from pyppeteer_scraper_spark.plans.checkpoint import save_state
    from pyppeteer_scraper_spark.plans.round import CrawlState, WORKSHOPS_SCHEMA_DDL
    from pyppeteer_scraper_spark.schemas import URL_SEEN_SCHEMA

    ckpt = str(tmp_path / "ckpt")
    n_rounds, k = 40, 8
    frontier = spark.range(5).select(
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
    for rnd in range(0, n_rounds + 1):
        if rnd > 0:
            delta = spark.range(3 * rnd, 3 * rnd + 3).select(
                F.xxhash64("id").alias("url_hash"),
                F.concat(F.lit("https://d.example/u"), F.col("id")).alias("url"),
                F.lit(rnd).cast("int").alias("first_seen_round"),
            )
            seen = seen.unionByName(delta)
        save_state(
            CrawlState(frontier, seen, workshops, rnd),
            ckpt,
            n_partitions=2,
            compact_every=k,
        )
        # carry the reloaded table forward (flat lineage; exercises
        # load_state at every round)
        seen = load_state(spark, ckpt, rnd).url_seen

    import json
    import os

    with open(os.path.join(ckpt, f"round={n_rounds}", "manifest.json")) as f:
        compacted = json.load(f)["compacted"]
    assert compacted["url_seen"] == n_rounds  # boundary round: fully compacted
    assert len(_delta_dirs(ckpt, "url_seen", n_rounds, compacted["url_seen"])) == 1
    # a mid-window round never reads more than 1 + k dirs
    with open(os.path.join(ckpt, "round=37", "manifest.json")) as f:
        c37 = json.load(f)["compacted"]["url_seen"]
    assert c37 == 32
    assert len(_delta_dirs(ckpt, "url_seen", 37, c37)) == 1 + 5
    # without the pointer the same load would touch O(rounds) dirs
    assert len(_delta_dirs(ckpt, "url_seen", 37, 0)) == 37

    final = load_state(spark, ckpt, n_rounds).url_seen
    assert final.count() == 3 * n_rounds
    assert final.agg(F.max("first_seen_round")).first()[0] == n_rounds


def test_all_features_on_crawl_equals_plain(spark, sf_small, tmp_path):
    """Integration safety net: every optional engine feature enabled at
    once — bloom-gated anti-join, incremental bucketed frontier,
    aggressive delta→base compaction (every 2 rounds), and a mid-crawl
    restart — must produce EXACTLY the plain crawl's final state."""
    t = generate_crawl_tables(spark, sf_small)
    pages, seeds, robots = t["pages"], t["seeds"], t["robots"]

    plain = crawl(spark, pages, seeds, robots, 4, str(tmp_path / "plain"))

    fancy_dir = str(tmp_path / "fancy")
    kw = dict(
        use_bloom=True, incremental_frontier=True, n_buckets=8, compact_every=2
    )
    crawl(spark, pages, seeds, robots, 2, fancy_dir, **kw)
    fancy = crawl(spark, pages, seeds, robots, 2, fancy_dir, resume=True, **kw)

    assert _state_snapshot(plain.state) == _state_snapshot(fancy.state)
    # metrics survive compaction across the restart: 4 rounds, real counts
    m = load_metrics(spark, fancy_dir)
    rounds = {r["round"] for r in m.select("round").distinct().collect()}
    assert rounds == {1, 2, 3, 4}
    sums = m.groupBy().agg(
        F.sum("fetched").alias("f"), F.sum("emitted").alias("e")
    ).collect()[0]
    assert sums["f"] > 0 and sums["e"] > 0


def test_track_edges_and_reprioritize(spark, sf_small, tmp_path):
    """track_edges=True persists per-round (src_hash, dst_hash) deltas
    WITHOUT changing crawl results; reprioritize_frontier folds link
    scores back into pending priorities (Cho et al. WWW 1998 ordering),
    moving priority only downward and only for pending rows."""
    from pyppeteer_scraper_spark.operators.linkrank import (
        load_edges,
        reprioritize_frontier,
    )

    t = generate_crawl_tables(spark, sf_small)
    pages, seeds, robots = t["pages"], t["seeds"], t["robots"]

    edir = str(tmp_path / "edged")
    res = crawl(spark, pages, seeds, robots, 3, edir, track_edges=True)
    plain = crawl(spark, pages, seeds, robots, 3, str(tmp_path / "plain3"))
    assert _state_snapshot(res.state) == _state_snapshot(plain.state)

    edges = load_edges(spark, edir)
    assert set(edges.columns) == {"src_hash", "dst_hash", "round"}
    assert {r["round"] for r in edges.select("round").distinct().collect()} <= {
        1, 2, 3,
    }
    n_edges = edges.count()
    assert n_edges > 0
    # src hashes come from fetched frontier URLs: every src is in url_seen
    seen_hashes = {r["url_hash"] for r in res.state.url_seen.collect()}
    src_hashes = {r["src_hash"] for r in edges.select("src_hash").distinct().collect()}
    assert src_hashes <= seen_hashes

    for method in ("indegree", "pagerank"):
        new_frontier = reprioritize_frontier(
            res.state.frontier, edges, method=method, promote_frac=0.3,
            iters=2,
        )
        assert new_frontier.columns == res.state.frontier.columns
        before = {
            r["url"]: (r["priority"], r["state"])
            for r in res.state.frontier.collect()
        }
        after = {r["url"]: r["priority"] for r in new_frontier.collect()}
        assert set(after) == set(before)
        promoted = []
        for url, (p0, st) in before.items():
            assert after[url] <= p0
            if after[url] < p0:
                assert st == "pending"
                promoted.append(url)
        # with 0/1 priorities and a 30% promote band, some pending
        # priority-1 URL with in-links must move to the front
        assert promoted, f"{method}: no URL promoted"


# Every stateful option on: bucketed frontier, a compaction at round 2,
# edge deltas and a cuckoo seen-filter sidecar.
FAULT_KW = dict(
    incremental_frontier=True, n_buckets=8, compact_every=2, track_edges=True,
    use_bloom=True, seen_filter="cuckoo",
)


@pytest.fixture(scope="module")
def crawl_tables(spark, sf_small):
    return generate_crawl_tables(spark, sf_small)


@pytest.fixture(scope="module")
def reference_ckpt(spark, crawl_tables, tmp_path_factory):
    """Checkpoint dir of the never-crashed 3-round crawl."""
    t = crawl_tables
    ckpt = str(tmp_path_factory.mktemp("reference"))
    crawl(spark, t["pages"], t["seeds"], t["robots"], 3, ckpt, **FAULT_KW)
    return ckpt


def _committed(spark, ckpt):
    """What a resume must reproduce: the LATEST state, every round's
    metrics and the union of every round's edge delta.

    Metrics are compared as per-round totals: ``partition_id`` is the
    Spark task partition, and a resumed round reads its state from
    parquet instead of pinned frames, so adaptive execution can split
    the same rows over partitions differently (this holds for any
    resume, crash or not)."""
    metrics = load_metrics(spark, ckpt).groupBy("round").agg(
        F.sum("fetched").alias("fetched"),
        F.sum("deduped").alias("deduped"),
        F.sum("emitted").alias("emitted"),
    )
    edges = load_edges(spark, ckpt).select("round", "src_hash", "dst_hash")
    return (
        _state_snapshot(load_state(spark, ckpt)),
        sorted(tuple(r) for r in metrics.collect()),
        sorted(tuple(r) for r in edges.collect()),
    )


def _crash_at(spark, t, ckpt, table, async_checkpoint, monkeypatch):
    """Run 3 rounds whose round-2 write to ``table`` raises, then check
    that nothing of round 2 was committed and that the failed crawl
    left no cached data behind."""
    failing = os.path.join(ckpt, table, "round=2")
    parquet = DataFrameWriter.parquet

    def failing_parquet(self, path, *args, **kwargs):
        # matched on the path: the round's writes run concurrently
        if path == failing:
            raise OSError(f"injected write failure: {path}")
        return parquet(self, path, *args, **kwargs)

    monkeypatch.setattr(DataFrameWriter, "parquet", failing_parquet)
    spark.catalog.clearCache()
    with pytest.raises(OSError, match="injected write failure"):
        crawl(
            spark, t["pages"], t["seeds"], t["robots"], 3, ckpt,
            async_checkpoint=async_checkpoint, **FAULT_KW,
        )
    monkeypatch.undo()
    with open(os.path.join(ckpt, "LATEST")) as f:
        assert f.read() == "1"
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
    # an edges delta that landed before the failure is not read
    assert load_edges(spark, ckpt).filter(F.col("round") > 1).count() == 0


@pytest.mark.parametrize(
    "table,async_checkpoint",
    [
        ("frontier_buckets", False),
        ("url_seen", True),
        ("compacted/url_seen", False),
        ("edges", True),
        ("metrics", False),
    ],
)
def test_resume_after_failed_write_equals_uncrashed(
    spark, crawl_tables, reference_ckpt, tmp_path, monkeypatch, table,
    async_checkpoint,
):
    """A write that fails anywhere in round 2's checkpoint leaves LATEST
    at round 1, and the resumed crawl commits exactly the state, metrics
    and edges of a crawl that never crashed."""
    t = crawl_tables
    ckpt = str(tmp_path / "ckpt")
    _crash_at(spark, t, ckpt, table, async_checkpoint, monkeypatch)
    crawl(
        spark, t["pages"], t["seeds"], t["robots"], 2, ckpt, resume=True,
        async_checkpoint=async_checkpoint, **FAULT_KW,
    )
    assert _committed(spark, ckpt) == _committed(spark, reference_ckpt)


def test_cuckoo_reinsert_after_crash_only_costs_time(
    spark, crawl_tables, reference_ckpt, tmp_path, monkeypatch
):
    """The crashed round updated the cuckoo sidecar before its commit
    failed, so the resumed round inserts the same keys again and the
    shards hold two fingerprints per key.  Evicting such a key removes
    one copy and leaves a stale positive; the exact verify behind every
    positive keeps the next round equal to the never-crashed crawl's."""
    from pyppeteer_scraper_spark.operators.cuckoo import cuckoo_annotate
    from pyppeteer_scraper_spark.plans.evict import evict_urls

    t = crawl_tables
    crashed = str(tmp_path / "crashed")
    _crash_at(spark, t, crashed, "metrics", False, monkeypatch)
    crawl(
        spark, t["pages"], t["seeds"], t["robots"], 2, crashed, resume=True,
        **FAULT_KW,
    )
    uncrashed = str(tmp_path / "uncrashed")
    shutil.copytree(reference_ckpt, uncrashed)

    victims = spark.createDataFrame(
        load_state(spark, uncrashed)
        .url_seen.filter(F.col("first_seen_round") == 2)
        .orderBy("url")
        .select("url_hash", "url")
        .limit(2)
        .collect()
    )
    assert victims.count() == 2
    for ckpt in (crashed, uncrashed):
        evict_urls(spark, ckpt, victims, seen_filter="cuckoo")
    stale = cuckoo_annotate(victims, os.path.join(crashed, "cuckoo")).collect()
    assert all(r["maybe_seen"] for r in stale)

    for ckpt in (crashed, uncrashed):
        crawl(
            spark, t["pages"], t["seeds"], t["robots"], 1, ckpt, resume=True,
            **FAULT_KW,
        )
    assert _committed(spark, crashed) == _committed(spark, uncrashed)


def test_read_manifest_rejects_a_moved_round(tmp_path):
    """A round directory copied or moved to another round number must
    not load as that round."""
    rdir = tmp_path / "round=3"
    rdir.mkdir()
    (rdir / "manifest.json").write_text('{"round_no": 2}')
    (tmp_path / "LATEST").write_text("3")
    with pytest.raises(ValueError, match="manifest of round 2"):
        read_manifest(str(tmp_path))
