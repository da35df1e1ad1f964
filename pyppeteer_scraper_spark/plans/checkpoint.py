"""Round-numbered state checkpointing + the driver crawl loop.

Reference analogs: the JSON state files re-read each cron run
(/root/reference/service/alert.py:91-130,460-575) and the Postgres
snapshot upsert (/root/reference/scraper/canada_ircc.py:101-119).
Here every round persists {frontier, url_seen, workshops, metrics} as
round-numbered parquet snapshots plus a manifest — the resume point.
Rounds hand state to each other through executor-pinned frames
(``localCheckpoint``), which keeps the iterative loop's plans flat; a
checkpoint is read back only on resume.  With an Iceberg runtime jar
the same seam becomes MERGE INTO on snapshot-versioned tables; the
layout below mirrors that.
"""

from __future__ import annotations

import json
import os
import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pyppeteer_scraper_spark.plans.round import (
    CrawlState,
    RoundOutputs,
    init_state,
    prepare_pages,
    run_round,
)

STATE_TABLES = ["frontier", "url_seen", "workshops"]

# Delta→base compaction cadence: every k rounds the append-only tables
# (url_seen, workshops, metrics) are merged into one compacted snapshot
# and the manifest points loads at (compacted, deltas-after) — the
# parquet emulation of Iceberg's rewrite_data_files + snapshot
# expiry.  Without it a load reads one small-file directory PER ROUND
# (O(rounds) listings — the classic streaming small-file problem; the
# reference re-reads its whole JSON seen-set each run,
# /root/reference/service/alert.py:460-490).  With it a load reads
# 1 compacted dir + < k delta dirs regardless of crawl length.
COMPACT_EVERY = 16


def _bucket_col(n_buckets: int):
    return F.pmod(F.xxhash64("domain"), F.lit(n_buckets)).cast("int")


def _run_parallel(thunks) -> None:
    """Submit independent Spark write jobs from threads so their fixed
    per-job scheduling latency overlaps (Spark's scheduler interleaves
    concurrently-submitted jobs across the executor pool; with 3-4
    writes per round the serial form pays 3-4x the fixed latency, which
    is exactly the seconds-scale floor that caps full-crawl scaling
    efficiency — BENCH/BASELINE.md §2).  All thunks read either cached
    intra-round DataFrames or the in-memory state tables, so concurrent
    scans do not recompute heavy lineage.  Exceptions propagate: the
    caller must not commit the manifest if any write failed."""
    thunks = [t for t in thunks if t is not None]
    if len(thunks) == 1:
        thunks[0]()
        return
    with ThreadPoolExecutor(max_workers=len(thunks)) as pool:
        futures = [pool.submit(t) for t in thunks]
        for fut in futures:
            fut.result()


def _pin(dfs: list[DataFrame]) -> list[DataFrame]:
    """localCheckpoint each frame, serially and in caller order, and
    return the pinned frames in input order.

    - Serial: a round's frames share intra-round caches, so concurrent
      pins would race to fill the same cold cache partitions.
    - Each frame is coalesced to at most ``spark.sql.shuffle.partitions``
      partitions first (no shuffle, contents unchanged), so the pinned
      partition count cannot grow with every round's union."""
    out = []
    for d in dfs:
        cap = int(d.sparkSession.conf.get("spark.sql.shuffle.partitions"))
        out.append(d.coalesce(cap).localCheckpoint())
    return out


def save_state(
    state: CrawlState,
    ckpt_dir: str,
    n_partitions: int | None = None,
    incremental: bool = False,
    touched_domains=None,
    n_buckets: int = 64,
    compact_every: int | None = COMPACT_EVERY,
    seen_delta: DataFrame | None = None,
    workshops_delta: DataFrame | None = None,
) -> str:
    """Persist round state.

    - ``frontier``: full rewrite by default (the mutating priority
      queue).  With ``touched_domains`` (incremental mode) the frontier
      is domain-hash bucketed and ONLY buckets containing a touched
      domain are rewritten this round — the parquet emulation of
      Iceberg MERGE INTO on a bucket(domain) layout.  The manifest
      records, per bucket, the round of its latest rewrite, so resume
      reads each bucket's newest file; untouched buckets cost nothing.
      Per-round write cost drops from O(frontier) to O(active buckets)
      — at 10^10 URLs with 4096 buckets, rewriting the ~budgeted
      domains' buckets instead of the whole queue.
    - ``url_seen`` and ``workshops`` are APPEND-ONLY: each round writes
      only its delta (rows first seen this round).  Rewriting them in
      full would be O(entire crawl history) per round — fatal at
      10^10-URL scale; deltas keep the round cost O(new URLs).
    - every ``compact_every`` rounds the deltas are additionally merged
      into ``compacted/{table}/round=N`` and the manifest's
      ``compacted`` pointers advance, so a load reads ≤ 1 compacted dir
      + ``compact_every`` delta dirs however long the crawl ran.  The
      compacted snapshot is written straight from the in-memory state
      (already the full table — no disk re-read); old deltas are kept
      so earlier rounds stay loadable (Iceberg snapshot-expiry would
      reclaim them on a real deploy).  Compaction cost is
      O(state size) every k rounds ⇒ amortized O(state/k) per round —
      bounded, unlike the O(rounds) load it prevents.
    """
    if n_partitions is None:
        # Writer parallelism follows the session (I/O scales with cores).
        n_partitions = int(
            state.frontier.sparkSession.conf.get("spark.sql.shuffle.partitions")
        )
    rdir = os.path.join(ckpt_dir, f"round={state.round_no}")
    prev_manifest: dict = {}
    if state.round_no > 0:
        prev_path = os.path.join(
            ckpt_dir, f"round={state.round_no - 1}", "manifest.json"
        )
        if os.path.isfile(prev_path):
            with open(prev_path) as f:
                prev_manifest = json.load(f)
    compacted: dict[str, int] = dict(prev_manifest.get("compacted", {}))
    frontier_meta: dict = {"layout": "full"}
    # All per-round writes are INDEPENDENT jobs over cached/in-memory
    # inputs — submit them concurrently (_run_parallel) and only then
    # commit the manifest.  Serial submission paid one fixed job-setup
    # latency per table per round, the floor that capped full-crawl
    # N→4N scaling at 0.27 (VERDICT r03 #8).
    writes = []
    if incremental:
        bdir = os.path.join(ckpt_dir, "frontier_buckets", f"round={state.round_no}")
        fb = state.frontier.withColumn("__bucket", _bucket_col(n_buckets))
        pointers: dict[str, int] = {}
        if state.round_no > 0:
            prev_meta = prev_manifest.get("frontier", {"layout": "full"})
            if (
                prev_meta["layout"] == "bucketed"
                and prev_meta.get("n_buckets") == n_buckets
            ):
                pointers = dict(prev_meta["pointers"])
        if touched_domains is not None and pointers:
            # prior round is bucket-consistent → rewrite ONLY touched
            # buckets; otherwise fall through to an all-bucket write
            # (first incremental round, or layout/bucket-count change).
            tb = touched_domains.select(
                _bucket_col(n_buckets).alias("__b")
            ).distinct()
            touched = sorted(r["__b"] for r in tb.collect())
            fb = fb.filter(F.col("__bucket").isin(touched))
        frontier_meta = {
            "layout": "bucketed",
            "n_buckets": n_buckets,
            "pointers": pointers,
        }

        def _write_frontier_bucketed(fb=fb, pointers=pointers):
            (
                fb.repartition(n_buckets, "__bucket")
                .write.mode("overwrite")
                .partitionBy("__bucket")
                .parquet(bdir)
            )
            # pointers: previous round's, overridden by buckets written
            # now (mutates the dict frontier_meta already references —
            # read after the parallel join, before the manifest commit)
            for name in os.listdir(bdir):
                if name.startswith("__bucket="):
                    pointers[name.split("=", 1)[1]] = state.round_no

        writes.append(_write_frontier_bucketed)
    else:
        writes.append(
            lambda: state.frontier.repartition(n_partitions, "domain")
            .write.mode("overwrite")
            .parquet(os.path.join(rdir, "frontier"))
        )
    if state.round_no > 0:
        # Round 5: callers that already hold the round's delta frames
        # (run_round exposes them) pass them in, so the append-only
        # writes never re-filter the full in-memory unions — O(delta)
        # per round instead of O(state).
        sd = (
            seen_delta
            if seen_delta is not None
            else state.url_seen.filter(
                F.col("first_seen_round") == state.round_no
            )
        )
        wd = (
            workshops_delta
            if workshops_delta is not None
            else state.workshops.filter(
                F.col("discovered_round") == state.round_no
            )
        )
        writes.append(
            lambda: sd.repartition(n_partitions, "url_hash")
            .write.mode("overwrite")
            .parquet(os.path.join(ckpt_dir, "url_seen", f"round={state.round_no}"))
        )
        writes.append(
            lambda: wd.coalesce(1)
            .write.mode("overwrite")
            .parquet(os.path.join(ckpt_dir, "workshops", f"round={state.round_no}"))
        )
    if (
        compact_every
        and state.round_no > 0
        and state.round_no % compact_every == 0
    ):
        # The in-memory state IS the full table (compacted-so-far +
        # deltas) — write it once as the new base.
        writes.append(
            lambda: state.url_seen.repartition(n_partitions, "url_hash")
            .write.mode("overwrite")
            .parquet(
                os.path.join(
                    ckpt_dir, "compacted", "url_seen", f"round={state.round_no}"
                )
            )
        )
        writes.append(
            lambda: state.workshops.coalesce(1)
            .write.mode("overwrite")
            .parquet(
                os.path.join(
                    ckpt_dir, "compacted", "workshops", f"round={state.round_no}"
                )
            )
        )
        compacted["url_seen"] = state.round_no
        compacted["workshops"] = state.round_no
        # Metrics deltas exist only through the PREVIOUS round (crawl()
        # writes this round's metrics after save_state returns) —
        # compact ≤ r-1 from disk.
        spark = state.frontier.sparkSession
        mdirs = _delta_dirs(
            ckpt_dir,
            "metrics",
            state.round_no - 1,
            compacted.get("metrics", 0),
            compacted_table="metrics",
        )
        if mdirs:
            writes.append(
                lambda: spark.read.parquet(*mdirs)
                .coalesce(max(1, n_partitions // 8))
                .write.mode("overwrite")
                .parquet(
                    os.path.join(
                        ckpt_dir,
                        "compacted",
                        "metrics",
                        f"round={state.round_no - 1}",
                    )
                )
            )
            compacted["metrics"] = state.round_no - 1
    _run_parallel(writes)
    manifest = {
        "round_no": state.round_no,
        "n_partitions": n_partitions,
        "tables": STATE_TABLES,
        "frontier": frontier_meta,
        "compacted": compacted,
    }
    os.makedirs(rdir, exist_ok=True)  # bucketed layout writes no rdir/frontier
    with open(os.path.join(rdir, "manifest.json"), "w") as f:
        json.dump(manifest, f)
    # Latest-pointer, written last (commit point — a torn checkpoint is
    # simply not pointed at, so resume always sees a complete round).
    with open(os.path.join(ckpt_dir, "LATEST"), "w") as f:
        f.write(str(state.round_no))
    return rdir


def _delta_dirs(
    ckpt_dir: str,
    table: str,
    round_no: int,
    compacted_round: int = 0,
    compacted_table: str | None = None,
) -> list[str]:
    """Directories a load of ``table`` at ``round_no`` must read: the
    compacted base (if any) + deltas strictly after it — ≤ 1 +
    compact_every dirs regardless of crawl length."""
    dirs = []
    if compacted_round:
        dirs.append(
            os.path.join(
                ckpt_dir,
                "compacted",
                compacted_table or table,
                f"round={compacted_round}",
            )
        )
    base = os.path.join(ckpt_dir, table)
    if os.path.isdir(base):
        for d in sorted(os.listdir(base)):
            if d.startswith("round="):
                r = int(d.split("=", 1)[1])
                if compacted_round < r <= round_no:
                    dirs.append(os.path.join(base, d))
    return dirs


def _load_deltas(
    spark, ckpt_dir: str, table: str, schema, round_no: int, compacted_round: int = 0
):
    dirs = _delta_dirs(ckpt_dir, table, round_no, compacted_round)
    if not dirs:
        return spark.createDataFrame([], schema)
    return spark.read.parquet(*dirs)


def load_state(spark: SparkSession, ckpt_dir: str, round_no: int | None = None) -> CrawlState:
    from pyppeteer_scraper_spark.plans.round import WORKSHOPS_SCHEMA_DDL
    from pyppeteer_scraper_spark.schemas import URL_SEEN_SCHEMA

    if round_no is None:
        with open(os.path.join(ckpt_dir, "LATEST")) as f:
            round_no = int(f.read().strip())
    rdir = os.path.join(ckpt_dir, f"round={round_no}")
    with open(os.path.join(rdir, "manifest.json")) as f:
        manifest = json.load(f)
    assert manifest["round_no"] == round_no
    fmeta = manifest.get("frontier", {"layout": "full"})
    compacted = manifest.get("compacted", {})
    if fmeta["layout"] == "bucketed":
        # each bucket's newest rewrite at-or-before round_no
        paths = [
            os.path.join(
                ckpt_dir, "frontier_buckets", f"round={r}", f"__bucket={b}"
            )
            for b, r in fmeta["pointers"].items()
        ]
        frontier = spark.read.parquet(*paths)
    else:
        frontier = spark.read.parquet(os.path.join(rdir, "frontier"))
    return CrawlState(
        frontier=frontier,
        url_seen=_load_deltas(
            spark, ckpt_dir, "url_seen", URL_SEEN_SCHEMA, round_no,
            compacted.get("url_seen", 0),
        ),
        workshops=_load_deltas(
            spark, ckpt_dir, "workshops", WORKSHOPS_SCHEMA_DDL, round_no,
            compacted.get("workshops", 0),
        ),
        round_no=round_no,
    )


def load_metrics(spark: SparkSession, ckpt_dir: str, round_no: int | None = None):
    """Per-round / per-partition crawl metrics through ``round_no``
    (LATEST by default) — compacted base + deltas, same bounded-read
    scheme as the state tables.

    ``duration_ms`` is the same for every row of a round: the span from
    the round's ``run_round`` call until its new state is pinned and the
    seen-filter sidecar (if any) updated — the round's own critical
    path, excluding its checkpoint writes."""
    if round_no is None:
        with open(os.path.join(ckpt_dir, "LATEST")) as f:
            round_no = int(f.read().strip())
    with open(os.path.join(ckpt_dir, f"round={round_no}", "manifest.json")) as f:
        manifest = json.load(f)
    dirs = _delta_dirs(
        ckpt_dir, "metrics", round_no, manifest.get("compacted", {}).get("metrics", 0)
    )
    schema = (
        "round int, partition_id int, fetched long, deduped long, "
        "emitted long, duration_ms long"
    )
    if not dirs:
        return spark.createDataFrame([], schema)
    return spark.read.parquet(*dirs)


@dataclass
class CrawlResult:
    state: CrawlState
    fetched_per_round: list[int]
    actions_per_round: list[int]
    wall_seconds: float
    outputs: list[RoundOutputs] | None = None  # when collect_outputs=True


def crawl(
    spark: SparkSession,
    pages: DataFrame,
    seeds: DataFrame,
    robots: DataFrame,
    n_rounds: int,
    ckpt_dir: str,
    resume: bool = False,
    collect_outputs: bool = False,
    use_bloom: bool = False,
    bloom_params=None,
    incremental_frontier: bool = False,
    n_buckets: int = 64,
    compact_every: int | None = COMPACT_EVERY,
    bloom_store_factory=None,
    seen_filter: str = "bloom",
    track_edges: bool = False,
    global_budget: int | None = None,
    async_checkpoint: bool = False,
) -> CrawlResult:
    """Drive ``n_rounds`` scheduler rounds with per-round checkpoints.

    Every round pins its new state in executor storage
    (``localCheckpoint`` — frontier whole, url_seen/workshops as base +
    per-round deltas mirroring the on-disk layout, deltas collapsed at
    every ``compact_every`` boundary) and the next round starts from
    that in-memory state; the round's parquet writes stream from the
    pinned blocks on a writer thread.  ``async_checkpoint`` only picks
    where the crawl waits for those writes: ``False`` waits before the
    next round starts (and then releases the round's caches); ``True``
    lets them overlap the next round's compute and waits only before
    that round's own writes launch.  Results, checkpoints and resume are
    identical either way (the manifest commits only after its round's
    writes land).  The pinned state lives in executor memory/disk
    between rounds (MEMORY_AND_DISK semantics).

    ``resume=True`` continues from the LATEST checkpoint in ckpt_dir —
    the reference's restart-from-state-files behavior, but exact.
    ``use_bloom=True`` maintains a per-shard seen-filter sidecar under
    the checkpoint dir and routes the url_seen anti-join through it
    (identical results, cheaper at scale).  ``seen_filter`` picks the
    structure: "bloom" (default) or "cuckoo" (deletion-capable —
    operators/cuckoo.py; pass ``bloom_params=CuckooParams(...)``).
    ``bloom_store_factory`` points shard I/O at shared storage on a
    cluster (operators/bloom.py ShardStore seam — local FS by default).
    ``global_budget`` caps each round's TOTAL fetch batch (fetcher
    fleet capacity) on top of the per-domain politeness caps, shared
    max-min fairly across domains via water-filling
    (operators/budget.py); unfunded rows stay pending.

    ``collect_outputs=True`` RETAINS every round's intra-round caches
    (window passes, fetched, extracted, new_links) so the returned
    ``outputs`` stay cheap to re-read: executor storage memory grows
    with n_rounds.  It is a test/debug mode — long crawls should leave
    it False (per-round caches are unpersisted as each round completes)
    and read the checkpoint parquet instead.
    """
    # Primary vs fallback fetch channels (reference playwright→requests
    # fallback): rows the primary source misses are retried against the
    # fallback source inside each round, with fetch_attempt recorded.
    pp = prepare_pages(pages)
    # Hash-partition the page stores by the fetch-join key ONCE at
    # crawl start (r06, guide §2.4): every round's fetch join requires
    # hashpartitioning(url); cached un-partitioned, the heavy side
    # (URL + full html payload) was re-shuffled EVERY round — caching
    # it already distributed by url lets the per-round join reuse the
    # partitioning and shuffle only the (small) batch side.  The
    # partition count follows spark.sql.shuffle.partitions — the same
    # scale knob the join's own exchange would use.
    n_shuffle = int(spark.conf.get("spark.sql.shuffle.partitions"))
    if "fetch_via" in pp.columns:
        pages_prepared = (
            pp.filter(F.col("fetch_via") != "fallback")
            .drop("fetch_via")
            .repartition(n_shuffle, "url")
        )
        pages_fallback = (
            pp.filter(F.col("fetch_via") == "fallback")
            .drop("fetch_via")
            .repartition(n_shuffle, "url")
        )
        pages_fallback.cache().count()
    else:
        pages_prepared, pages_fallback = (
            pp.repartition(n_shuffle, "url"),
            None,
        )
    pages_prepared.cache().count()

    if resume:
        state = load_state(spark, ckpt_dir)
    else:
        state = init_state(spark, seeds)
        save_state(
            state, ckpt_dir, incremental=incremental_frontier, n_buckets=n_buckets,
            compact_every=compact_every,
        )

    fetched_per_round: list[int] = []
    actions_per_round: list[int] = []
    outputs: list[RoundOutputs] = []
    # Domain-cardinality metadata for select_batch's join-strategy pick.
    # The robots row count seeds the hint, but link discovery adds
    # domains ABSENT from robots (select_batch left-joins, unknown
    # domains default-allowed), so a crawl-long constant would become a
    # stale UNDER-count — exactly the OOM the broadcast guard exists to
    # prevent.  Refresh it every few rounds from the frontier's distinct
    # domain count (an upper bound on pending domains; one cheap job
    # over the pinned frontier).  Order-of-magnitude accuracy is all
    # the join-strategy pick needs.
    HINT_REFRESH_ROUNDS = 8
    n_domains_hint = robots.count()
    t0 = time.time()
    target = state.round_no + n_rounds
    bloom_dir = os.path.join(ckpt_dir, seen_filter) if use_bloom else None
    if use_bloom:
        if seen_filter == "cuckoo":
            from pyppeteer_scraper_spark.operators import cuckoo as _filt
        else:
            from pyppeteer_scraper_spark.operators import bloom as _filt

        # Build/rebuild from the FULL url_seen on first enable or param
        # change — delta-only inserts would miss crawl history.
        _filt.ensure_sidecar(
            state.url_seen, bloom_dir, bloom_params,
            store_factory=bloom_store_factory,
        )
    rounds_done = 0
    # One-time full pin of the resumed/initial append-only tables;
    # per-round deltas stack on top (mirrors the on-disk layout).
    mem_seen, mem_workshops = _pin([state.url_seen, state.workshops])
    state = CrawlState(state.frontier, mem_seen, mem_workshops, state.round_no)

    def _write_round(
        st: CrawlState, out: RoundOutputs, seen_delta, ws_delta, duration_ms: int
    ) -> None:
        """Round ``st.round_no``'s checkpoint, read from pinned state and
        the round's caches: state and edges delta in one parallel write
        window, then the metrics delta."""
        writes = [
            lambda: save_state(
                st,
                ckpt_dir,
                incremental=incremental_frontier,
                touched_domains=out.touched_domains,
                n_buckets=n_buckets,
                compact_every=compact_every,
                seen_delta=seen_delta,
                workshops_delta=ws_delta,
            )
        ]
        if track_edges and out.edges is not None:
            # Per-round link-graph delta (src_hash, dst_hash) — the input
            # to offline frontier re-prioritization
            # (operators/linkrank.py::reprioritize_frontier).
            writes.append(
                lambda: out.edges.write.mode("overwrite").parquet(
                    os.path.join(ckpt_dir, "edges", f"round={st.round_no}")
                )
            )
        _run_parallel(writes)
        (
            out.metrics.withColumn("duration_ms", F.lit(duration_ms))
            .write.mode("overwrite")
            .parquet(os.path.join(ckpt_dir, "metrics", f"round={st.round_no}"))
        )

    # (future, RoundOutputs) of the round whose writes are in flight;
    # its caches stay alive until _wait() has joined the writes.
    pending = None

    def _wait() -> None:
        nonlocal pending
        if pending is None:
            return
        fut, done = pending
        pending = None
        fut.result()
        if not collect_outputs:
            done.unpersist()

    with ThreadPoolExecutor(max_workers=1) as writer_pool:
        while state.round_no < target:
            if rounds_done and rounds_done % HINT_REFRESH_ROUNDS == 0:
                n_domains_hint = max(
                    n_domains_hint,
                    state.frontier.select("domain").distinct().count(),
                )
            rounds_done += 1
            t_round = time.time()
            state, out = run_round(
                spark, state, pages_prepared, robots, bloom_dir=bloom_dir,
                pages_fallback=pages_fallback, expected_domains=n_domains_hint,
                bloom_store_factory=bloom_store_factory, seen_filter=seen_filter,
                track_edges=track_edges, global_budget=global_budget,
            )
            batch_count = out.materialize()
            # Pin the new frontier whole (the mutating priority queue)
            # plus the round's own append-only deltas (O(delta), not a
            # re-filter of the full tables); the in-memory tables become
            # base ∪ deltas, collapsed at every compact boundary so the
            # union tree stays ≤ compact_every deep, like the on-disk
            # layout save_state writes.
            frontier_pin, seen_delta, ws_delta = _pin(
                [state.frontier, out.seen_delta, out.workshops_delta]
            )
            mem_seen = mem_seen.unionByName(seen_delta)
            mem_workshops = mem_workshops.unionByName(ws_delta)
            if compact_every and state.round_no % compact_every == 0:
                mem_seen, mem_workshops = _pin([mem_seen, mem_workshops])
            state = CrawlState(frontier_pin, mem_seen, mem_workshops, state.round_no)
            if use_bloom:
                # The next round's anti-join READS the sidecar: a filter
                # missing this round's keys would answer "definitely
                # unseen" and bypass the exact verify, so the update
                # stays on the critical path (O(this round's new keys)).
                # Sidecar-before-manifest is crash-safe: a torn round can
                # only add extra positives, which are exact-verified.
                _filt.update_shards(
                    seen_delta.select("url_hash"),
                    bloom_dir,
                    store_factory=bloom_store_factory,
                )
            duration_ms = int((time.time() - t_round) * 1000)
            # The previous round's writes must land before this round's
            # launch (manifest chain + bucket pointers).
            _wait()
            pending = (
                writer_pool.submit(
                    _write_round, state, out, seen_delta, ws_delta, duration_ms
                ),
                out,
            )
            if not async_checkpoint:
                _wait()
            fetched_per_round.append(batch_count)
            if collect_outputs:
                actions_per_round.append(out.actions.count())
                outputs.append(out)
            else:
                actions_per_round.append(0)
        _wait()
    pages_prepared.unpersist()
    if pages_fallback is not None:
        pages_fallback.unpersist()
    return CrawlResult(
        state,
        fetched_per_round,
        actions_per_round,
        time.time() - t0,
        outputs=outputs if collect_outputs else None,
    )
