"""Checkpoint snapshot expiry — the Iceberg `expire_snapshots` /
`remove_orphan_files` analog for the round-numbered checkpoint layout,
and the engine's mapping of the reference's log-retention job
(/root/reference/my_logger/cleanup.py — delete old per-scraper logs,
keep the recent ones).

A crawl that runs for 10^4 rounds accumulates 10^4 `round=N` manifests
plus delta/compacted dirs; loads stay O(1) thanks to compaction, but
STORAGE grows O(rounds) until something deletes superseded files.
Expiry keeps the last ``keep_last`` rounds fully time-travelable and
deletes everything no kept manifest references:

  - round=K dirs (manifest + full-frontier snapshot) for K older than
    the retention window;
  - delta dirs ``{table}/round=K`` at or below EVERY kept manifest's
    compacted pointer (their rows live in the compacted base all kept
    loads actually read);
  - superseded ``compacted/{table}/round=K`` bases;
  - ``frontier_buckets/round=K`` bucket rewrites not pointed at by any
    kept manifest (bucketed layouts reference arbitrary old rounds —
    the newest rewrite per bucket — so liveness is reference-based,
    never age-based).

Deletion is manifest-driven: compute the live set from the kept
manifests, delete the rest — exactly Iceberg's reachability semantics,
so a `load_state` at any retained round is byte-identical before and
after (asserted in tests/test_expire.py).
"""

from __future__ import annotations

import os
import shutil

from pyppeteer_scraper_spark.plans.checkpoint import latest_round, read_manifest

STATE_DELTA_TABLES = ("url_seen", "workshops", "metrics")


def _round_dirs(base: str) -> dict[int, str]:
    if not os.path.isdir(base):
        return {}
    out = {}
    for name in os.listdir(base):
        if name.startswith("round="):
            out[int(name.split("=", 1)[1])] = os.path.join(base, name)
    return out


def expire_snapshots(ckpt_dir: str, keep_last: int = 2) -> dict:
    """Delete checkpoint files unreachable from the newest ``keep_last``
    round manifests.  Returns {"kept_rounds": [...], "deleted": [paths]}.

    Rounds older than the window stop being loadable (their manifests
    are removed) — the documented trade of snapshot expiry.  The
    edge-graph sidecar (``edges/round=K``, written by track_edges) is
    cumulative history, not a superseded snapshot, and is never touched.
    """
    latest = latest_round(ckpt_dir)
    kept_rounds = [r for r in range(latest - keep_last + 1, latest + 1) if r >= 0]
    manifests = {}
    for r in kept_rounds:
        try:
            manifests[r] = read_manifest(ckpt_dir, r)
        except FileNotFoundError:
            pass
    deleted: list[str] = []

    def rm(path: str) -> None:
        shutil.rmtree(path, ignore_errors=True)
        deleted.append(path)

    # 1. whole round dirs outside the retention window
    for r, path in sorted(_round_dirs(ckpt_dir).items()):
        if r not in kept_rounds:
            rm(path)

    # 2. delta dirs superseded in EVERY kept manifest (min pointer:
    #    the oldest kept load still reads deltas above ITS pointer)
    for table in STATE_DELTA_TABLES:
        pointers = [
            m.get("compacted", {}).get(table, 0) for m in manifests.values()
        ]
        min_ptr = min(pointers) if pointers else 0
        for r, path in sorted(_round_dirs(os.path.join(ckpt_dir, table)).items()):
            if r <= min_ptr:
                rm(path)
        # 3. compacted bases older than the oldest referenced one
        live_bases = {p for p in pointers if p}
        cbase = os.path.join(ckpt_dir, "compacted", table)
        for r, path in sorted(_round_dirs(cbase).items()):
            if r not in live_bases:
                rm(path)

    # 4. bucketed-frontier rewrites: liveness = referenced by a kept
    #    manifest's bucket pointers
    live_bucket_rounds: set[int] = set()
    for m in manifests.values():
        fmeta = m.get("frontier", {})
        if fmeta.get("layout") == "bucketed":
            live_bucket_rounds.update(int(r) for r in fmeta["pointers"].values())
    fb = os.path.join(ckpt_dir, "frontier_buckets")
    for r, path in sorted(_round_dirs(fb).items()):
        if r not in live_bucket_rounds:
            rm(path)

    return {"kept_rounds": kept_rounds, "deleted": deleted}
