"""Sharded cuckoo-filter URL-seen sidecar — the crawl's seen filter
(north_rule: "URL-seen dedup via a sharded bloom/cuckoo filter
maintained per partition"; ``crawl(use_seen_filter=True)``).

Role at scale: the sidecar holds the ``url_hash`` keys of every
frontier row — every URL the crawl has ever discovered, which is the
URL-seen set (Mercator's URL-seen test).  The exact left-anti join of a
round's links against those keys shuffles them against a table that
reaches 10^10 rows.  Shard = pmod(url_hash, n_shards); shards persist
through a pluggable ``ShardStore``, and probes answer "definitely
unseen" locally, so only positives pay the exact anti-join.  The crawl
inserts each round's new frontier keys and never deletes one (an
evicted URL stays a frontier row), so a filter that is current for the
round it serves has no false negatives.  ``crawl()`` checks that with a
marker blob (``round.json``) recording the round the keys cover, and
rebuilds the sidecar from the full frontier when it does not match.
Why a cuckoo filter (Fan et al., "Cuckoo Filter: Practically Better
Than Bloom", CoNEXT 2014): low FP for its size — two 4-slot buckets of
16-bit fingerprints give FP ≈ 2·b/2^f ≈ 0.012% vs ~1.2% for a
10-bit/key bloom filter.

Storage: all shard/params I/O goes through ``ShardStore``
(read/write/list/delete of named blobs).  The default maps the sidecar
path to the local filesystem — correct in local[N], and on a
multi-node cluster ONLY if the path is a shared mount.  A cluster
deploy passes ``store_factory=`` (any callable ``uri -> ShardStore``;
it is serialized into the executor closures, so locally defined
classes work) implementing the same four methods over S3/HDFS/object
storage — no engine edits.

Layout per shard: a ``(n_buckets, 4)`` uint16 table (0 = empty; the
fingerprint is mapped into [1, 65535]).  Key x with 64-bit ``url_hash``
h gets fingerprint fp = h % 65535 + 1 and two candidate buckets
i1 = h mod nb, i2 = i1 XOR (fp * K mod nb) — the XOR form makes each
bucket computable from the other plus the resident fingerprint, which
is what lets eviction walks run without the original key.

No-false-negative guarantee (required for crawl correctness — a false
negative would re-crawl forever): duplicates ARE stored (each insert
writes its own copy), and inserts that still fail after ``max_kicks``
evictions land in a small per-shard overflow stash checked by every
probe.  The stash only grows past the
load-factor capacity the sizing targets (0.66; cuckoo filters fill to
~0.95 before thrashing), and ``ensure_cuckoo_sidecar`` rebuilds at a
bigger size on param change.

Vectorization: batch inserts place items slot-pass by slot-pass (one
numpy scatter per (bucket-choice, slot) — 8 vector ops per sweep);
only the rare items still homeless after the vector sweeps walk the
sequential eviction loop (same tail strategy as the rolling-hash
fingerprint: vectorize the mass, loop the outliers).  Probes are pure
numpy gathers over the batch.

Reference analog: the whole-file JSON seen-set re-read every run
(/root/reference/service/alert.py:460-490) — same thing the bloom
sidecar replaces.
"""

from __future__ import annotations

import io
import json
import os
from dataclasses import asdict, dataclass

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

DEFAULT_SHARDS = 16
DEFAULT_BUCKETS = 1 << 15  # 32Ki buckets × 4 slots × 2 B = 256 KiB/shard
SLOTS = 4
MAX_KICKS = 500
_ODD_MULT = np.uint64(0x5BD1E995)  # odd ⇒ bijective mod 2^k


class ShardStore:
    """Blob storage seam for seen-filter shards + params: four methods
    over named byte blobs.  Implementations must be safe to pickle into
    executor closures (keep them stateless beyond config strings)."""

    def read(self, name: str) -> bytes | None:  # pragma: no cover - interface
        raise NotImplementedError

    def write(self, name: str, data: bytes) -> None:  # pragma: no cover
        raise NotImplementedError

    def list(self) -> list[str]:  # pragma: no cover
        raise NotImplementedError

    def delete(self, name: str) -> None:  # pragma: no cover
        raise NotImplementedError


class LocalShardStore(ShardStore):
    """Default store: blobs are files under ``base`` (a local or shared
    mount path)."""

    def __init__(self, base: str):
        self.base = base

    def read(self, name: str) -> bytes | None:
        path = os.path.join(self.base, name)
        if not os.path.exists(path):
            return None
        with open(path, "rb") as f:
            return f.read()

    def write(self, name: str, data: bytes) -> None:
        os.makedirs(self.base, exist_ok=True)
        tmp = os.path.join(self.base, f".{name}.tmp")
        with open(tmp, "wb") as f:
            f.write(data)
        os.replace(tmp, os.path.join(self.base, name))

    def list(self) -> list[str]:
        if not os.path.isdir(self.base):
            return []
        return [n for n in os.listdir(self.base) if not n.startswith(".")]

    def delete(self, name: str) -> None:
        path = os.path.join(self.base, name)
        if os.path.exists(path):
            os.remove(path)


def _store(cuckoo_dir: str, store_factory=None) -> ShardStore:
    """Resolve the store INSIDE the task (the factory travels through
    the closure, the store object itself need not pre-exist on the
    executor)."""
    if store_factory is not None:
        return store_factory(cuckoo_dir)
    return LocalShardStore(cuckoo_dir)


@dataclass(frozen=True)
class CuckooParams:
    n_shards: int = DEFAULT_SHARDS
    n_buckets: int = DEFAULT_BUCKETS  # power of two
    max_kicks: int = MAX_KICKS


def params_for(
    expected_n: int, n_shards: int = DEFAULT_SHARDS, load_factor: float = 0.66
) -> CuckooParams:
    """Size shards for ``expected_n`` total keys at ``load_factor``
    occupancy (default 0.66 keeps eviction walks short and the
    overflow stash empty), rounding buckets up to a power of two,
    floor 2^10 buckets/shard."""
    per_shard = expected_n // max(1, n_shards) + 1
    need = int(per_shard / (SLOTS * load_factor))
    nb = 1 << max(10, need.bit_length())
    return CuckooParams(n_shards=n_shards, n_buckets=nb)


def save_params(cuckoo_dir: str, params: CuckooParams, store_factory=None) -> None:
    _store(cuckoo_dir, store_factory).write(
        "params.json", json.dumps(asdict(params)).encode()
    )


def load_params(cuckoo_dir: str, store_factory=None) -> CuckooParams | None:
    raw = _store(cuckoo_dir, store_factory).read("params.json")
    if raw is None:
        return None
    return CuckooParams(**json.loads(raw))


def resolve_params(
    cuckoo_dir: str, params: CuckooParams | None, store_factory=None
) -> CuckooParams:
    stored = load_params(cuckoo_dir, store_factory)
    if stored is None:
        return params or CuckooParams()
    if params is not None and params != stored:
        raise ValueError(
            f"cuckoo params mismatch: dir has {stored}, caller wants {params}; "
            "rebuild the sidecar (ensure_cuckoo_sidecar does this)"
        )
    return stored


def _fingerprints(hashes: np.ndarray) -> np.ndarray:
    h = hashes.astype(np.uint64)
    return (h % np.uint64(65535) + np.uint64(1)).astype(np.uint16)


def _bucket1(hashes: np.ndarray, nb: int) -> np.ndarray:
    return (hashes.astype(np.uint64) % np.uint64(nb)).astype(np.int64)


def _alt_bucket(bucket: np.ndarray, fp: np.ndarray, nb: int) -> np.ndarray:
    """i XOR (fp·K mod nb): self-inverse, computable from either side."""
    off = (fp.astype(np.uint64) * _ODD_MULT) % np.uint64(nb)
    return (bucket.astype(np.uint64) ^ off).astype(np.int64) % nb


def _load_shard(
    store: ShardStore, shard: int, nb: int
) -> tuple[np.ndarray, np.ndarray]:
    """Returns (table (nb,SLOTS) uint16, stash uint64 1-D of url_hashes)."""
    raw = store.read(f"cuckoo={shard}.npz")
    if raw is not None:
        z = np.load(io.BytesIO(raw))
        return z["table"].reshape(nb, SLOTS).copy(), z["stash"].copy()
    return (
        np.zeros((nb, SLOTS), dtype=np.uint16),
        np.zeros(0, dtype=np.uint64),
    )


def _save_shard(
    store: ShardStore, shard: int, table: np.ndarray, stash: np.ndarray
) -> None:
    buf = io.BytesIO()
    np.savez_compressed(buf, table=table, stash=stash)
    store.write(f"cuckoo={shard}.npz", buf.getvalue())


def _insert_batch(
    table: np.ndarray, stash: np.ndarray, hashes: np.ndarray, params: CuckooParams
) -> np.ndarray:
    """Insert ``hashes`` into ``table``; returns the updated stash.
    Duplicates are stored."""
    nb = params.n_buckets
    fp = _fingerprints(hashes)
    b1 = _bucket1(hashes, nb)
    b2 = _alt_bucket(b1, fp, nb)
    pending = np.arange(len(hashes))
    # vector sweeps: for each (bucket choice, slot), place at most one
    # pending item per bucket whose target cell is empty.
    for b in (b1, b2):
        for s in range(SLOTS):
            if len(pending) == 0:
                break
            pb = b[pending]
            _, first = np.unique(pb, return_index=True)
            cand = pending[first]
            ok = table[b[cand], s] == 0
            place = cand[ok]
            table[b[place], s] = fp[place]
            placed = np.zeros(len(hashes), dtype=bool)
            placed[place] = True
            pending = pending[~placed[pending]]
    # sequential eviction walk for the rare leftovers
    new_stash: list[int] = []
    for idx in pending:
        cur_fp = int(fp[idx])
        cur_b = int(b1[idx])
        # deterministic per-item LCG so tests are reproducible
        seed = int(hashes[idx]) & 0xFFFFFFFF
        placed_ok = False
        for _ in range(params.max_kicks):
            row = table[cur_b]
            empty = np.nonzero(row == 0)[0]
            if len(empty):
                table[cur_b, empty[0]] = cur_fp
                placed_ok = True
                break
            seed = (seed * 1103515245 + 12345) & 0x7FFFFFFF
            slot = seed % SLOTS
            victim = int(table[cur_b, slot])
            table[cur_b, slot] = cur_fp
            cur_fp = victim
            cur_b = int(
                _alt_bucket(
                    np.array([cur_b]), np.array([victim], dtype=np.uint16), nb
                )[0]
            )
        if not placed_ok:
            # a failed walk leaves exactly ONE homeless fingerprint: the
            # final displaced victim (the original key's fp was written
            # into the table on the first kick).  Park it in the stash
            # keyed by (fp, bucket); probes check the stash against both
            # candidate buckets, so it stays findable.
            new_stash.append(int(cur_fp) | (int(cur_b) << 16))
    if new_stash:
        stash = np.concatenate([stash, np.array(new_stash, dtype=np.uint64)])
    return stash


def _stash_match(
    stash: np.ndarray, fp: np.ndarray, b1: np.ndarray, b2: np.ndarray
) -> np.ndarray:
    """Membership of (fp, b1|b2) pairs in the packed stash (tiny)."""
    if len(stash) == 0:
        return np.zeros(len(fp), dtype=bool)
    key1 = fp.astype(np.uint64) | (b1.astype(np.uint64) << np.uint64(16))
    key2 = fp.astype(np.uint64) | (b2.astype(np.uint64) << np.uint64(16))
    return np.isin(key1, stash) | np.isin(key2, stash)


def _contains(
    table: np.ndarray, stash: np.ndarray, hashes: np.ndarray, params: CuckooParams
) -> np.ndarray:
    nb = params.n_buckets
    fp = _fingerprints(hashes)
    b1 = _bucket1(hashes, nb)
    b2 = _alt_bucket(b1, fp, nb)
    hit = (table[b1] == fp[:, None]).any(axis=1) | (
        table[b2] == fp[:, None]
    ).any(axis=1)
    return hit | _stash_match(stash, fp, b1, b2)


def update_cuckoo_shards(
    keys: DataFrame,
    cuckoo_dir: str,
    params: CuckooParams | None = None,
    store_factory=None,
) -> int:
    """Insert the ``url_hash`` column of ``keys``: group it by shard;
    each task loads its shard, inserts its batch and writes it back —
    O(keys) per call.  Returns hashes inserted."""
    params = resolve_params(cuckoo_dir, params, store_factory)
    save_params(cuckoo_dir, params, store_factory)

    def run(pdf: pd.DataFrame) -> pd.DataFrame:
        store = _store(cuckoo_dir, store_factory)
        shard = int(pdf["shard"].iloc[0])
        table, stash = _load_shard(store, shard, params.n_buckets)
        hashes = pdf["url_hash"].to_numpy().astype(np.uint64)
        stash = _insert_batch(table, stash, hashes, params)
        _save_shard(store, shard, table, stash)
        return pd.DataFrame({"shard": [shard], "n": [len(hashes)]})

    keyed = keys.select(
        "url_hash", F.pmod(F.col("url_hash"), F.lit(params.n_shards)).alias("shard")
    )
    out = keyed.groupBy("shard").applyInPandas(run, "shard int, n long")
    return sum(r["n"] for r in out.collect())


def save_round(cuckoo_dir: str, round_no: int, store_factory=None) -> None:
    """Record that the shards hold the keys as of round ``round_no``."""
    _store(cuckoo_dir, store_factory).write(
        "round.json", json.dumps({"round_no": round_no}).encode()
    )


def load_round(cuckoo_dir: str, store_factory=None) -> int | None:
    raw = _store(cuckoo_dir, store_factory).read("round.json")
    return None if raw is None else json.loads(raw)["round_no"]


def ensure_cuckoo_sidecar(
    keys: DataFrame,
    cuckoo_dir: str,
    round_no: int,
    params: CuckooParams | None = None,
    store_factory=None,
    rebuild: bool = False,
) -> CuckooParams:
    """Make the sidecar hold exactly the ``url_hash`` keys of ``keys``,
    the full key set as of round ``round_no``.  It is kept only when its
    params match and its marker (``save_round``) names ``round_no``;
    otherwise — or with ``rebuild=True`` — every blob is dropped and the
    shards are rebuilt from ``keys``.  A sidecar that missed some rounds'
    inserts would answer "definitely unseen" for their keys and let them
    past the exact anti-join.  The marker goes first on a rebuild and
    last after it, so a rebuild that fails part-way is redone.
    ``params=None`` keeps the stored params, or ``CuckooParams()`` for a
    new dir."""
    store = _store(cuckoo_dir, store_factory)
    stored = load_params(cuckoo_dir, store_factory)
    want = params or stored or CuckooParams()
    if (
        not rebuild
        and stored == want
        and load_round(cuckoo_dir, store_factory) == round_no
    ):
        return want
    store.delete("round.json")
    for name in store.list():
        if name.startswith("cuckoo=") or name == "params.json":
            store.delete(name)
    save_params(cuckoo_dir, want, store_factory)
    update_cuckoo_shards(keys, cuckoo_dir, want, store_factory)
    save_round(cuckoo_dir, round_no, store_factory)
    return want


def cuckoo_annotate(
    candidates: DataFrame,
    cuckoo_dir: str,
    params: CuckooParams | None = None,
    hash_col: str = "url_hash",
    store_factory=None,
) -> DataFrame:
    """Add ``maybe_seen`` (bool): False ⇒ definitely unseen."""
    params = resolve_params(cuckoo_dir, params, store_factory)
    n_shards = params.n_shards

    def test(pdf: pd.DataFrame) -> pd.DataFrame:
        shard = int(pdf["__shard"].iloc[0])
        table, stash = _load_shard(
            _store(cuckoo_dir, store_factory), shard, params.n_buckets
        )
        hashes = pdf[hash_col].to_numpy().astype(np.uint64)
        pdf = pdf.drop(columns="__shard")
        pdf["maybe_seen"] = _contains(table, stash, hashes, params)
        return pdf

    # fresh StructType — .add() mutates the DataFrame's cached schema
    schema = T.StructType(
        list(candidates.schema.fields)
        + [T.StructField("maybe_seen", T.BooleanType())]
    )
    return (
        candidates.withColumn(
            "__shard", F.pmod(F.col(hash_col), F.lit(n_shards))
        )
        .groupBy("__shard")
        .applyInPandas(test, schema)
    )


def anti_join_with_cuckoo(
    candidates: DataFrame,
    seen: DataFrame,
    cuckoo_dir: str,
    params: CuckooParams | None = None,
    caches: list | None = None,
    store_factory=None,
) -> DataFrame:
    """candidates ∖ seen on ``(url_hash, url)`` — byte-identical to the
    plain left-anti join when the sidecar holds every key of ``seen``
    (cuckoo-negatives pass straight through; positives are verified
    exactly).  ``annotated`` is cached because both branches
    filter it; the handle goes to ``caches`` for the caller's round-level
    unpersist sweep."""
    annotated = cuckoo_annotate(
        candidates, cuckoo_dir, params, store_factory=store_factory
    ).cache()
    if caches is not None:
        caches.append(annotated)
    fresh = annotated.filter(~F.col("maybe_seen")).drop("maybe_seen")
    suspect = annotated.filter(F.col("maybe_seen")).drop("maybe_seen")
    verified = suspect.join(
        seen.select("url_hash", "url"), ["url_hash", "url"], "left_anti"
    )
    return fresh.unionByName(verified)

