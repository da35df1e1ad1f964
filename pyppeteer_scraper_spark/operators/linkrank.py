"""Link-graph ranking for frontier prioritization: in-degree and
PageRank over a (src, dst) edge table.

Why it's here: a production frontier schedules by URL priority, and
the two standard priority signals a crawl derives from its OWN link
discovery are in-link count and PageRank (Page et al. 1999; Cho,
Garcia-Molina & Page, "Efficient Crawling Through URL Ordering",
WWW 1998 — crawl-order by PageRank/in-degree).  The reference hardcodes
priority implicitly (fixed seed list, one site); at corpus scale the
scheduler re-prioritizes from the discovered graph every k rounds.

Scale shape:
- ``indegree``: one groupBy — map-side combined, no skew beyond the
  natural head (mega-hubs), which the two-phase top-k handles
  downstream.
- ``pagerank``: the classic iterative DataFrame loop.  Each iteration
  is contributions-join + groupBy(dst) — shuffle on dst only; the
  rank vector is ``localCheckpoint``-ed per iteration to truncate
  lineage (same discipline as the connected-components loop,
  operators/dedup.py).  Dangling mass (nodes with no out-edges) is a
  SCALAR per iteration — one driver-side aggregate collect of 8 bytes,
  not a row collect — redistributed uniformly, so ranks sum to 1 and
  results match the textbook formulation exactly.

Fixed iteration count keeps the operator deterministic and lets the
DuckDB oracle express the SAME computation as unrolled CTEs
(plans/queries.py::rank_pagerank) — convergence-threshold looping
would make the oracle's iteration count data-dependent.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window, functions as F


def indegree(edges: DataFrame, src: str = "src", dst: str = "dst") -> DataFrame:
    """In-link count per destination node: (node, n_inlinks)."""
    return edges.groupBy(F.col(dst).alias("node")).agg(
        F.count("*").alias("n_inlinks")
    )


def pagerank(
    edges: DataFrame,
    iters: int = 3,
    damping: float = 0.85,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """PageRank over deduplicated ``edges`` for a FIXED ``iters``
    power-iterations; returns (node, rank) with sum(rank) == 1.

    Dangling-node mass is redistributed uniformly each iteration (the
    standard correction; without it rank mass leaks and totals drift
    below 1).  Deterministic: no RNG, fixed iterations, pure joins.
    """
    # The edge table feeds every iteration's contribution join (and
    # out_deg/nodes) — unmaterialized, the whole edge-derivation
    # lineage (e.g. a window over the raw events) replays per branch.
    # eager localCheckpoint, not lazy cache: the node-set union (and the
    # first iteration) branch off `e` concurrently, and a lazy cache
    # races — each branch recomputes the upstream edge derivation (the
    # window over raw events) before any populates the cache.
    e = edges.select(
        F.col(src).alias("src"), F.col(dst).alias("dst")
    ).localCheckpoint()
    nodes = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
        .cache()
    )
    n = nodes.count()
    out_deg = e.groupBy("src").agg(F.count("*").alias("out_deg")).cache()
    ranks = nodes.withColumn("rank", F.lit(1.0 / n))
    for _ in range(iters):
        contrib = (
            e.join(ranks.withColumnRenamed("node", "src"), "src")
            .join(out_deg, "src")
            .groupBy("dst")
            .agg(F.sum(F.col("rank") / F.col("out_deg")).alias("c"))
        )
        # dangling mass: one 8-byte scalar to the driver per iteration
        dangling = (
            ranks.join(out_deg, ranks["node"] == out_deg["src"], "left_anti")
            .agg(F.sum("rank"))
            .collect()[0][0]
            or 0.0
        )
        ranks = (
            nodes.join(contrib.withColumnRenamed("dst", "node"), "node", "left")
            .select(
                "node",
                (
                    F.lit((1.0 - damping) / n)
                    + F.lit(damping)
                    * (F.coalesce(F.col("c"), F.lit(0.0)) + F.lit(dangling / n))
                ).alias("rank"),
            )
            .localCheckpoint()  # truncate the per-iteration lineage
        )
    nodes.unpersist()
    out_deg.unpersist()
    return ranks


def trustrank(
    edges: DataFrame,
    seeds: DataFrame,
    iters: int = 3,
    damping: float = 0.85,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """TrustRank (Gyongyi/Garcia-Molina/Pedersen, VLDB 2004):
    PageRank personalized to a trusted ``seeds`` node set — teleport
    mass (and dangling mass) goes ONLY to seeds, so trust decays with
    link distance from the seed set and spam farms that PageRank
    rewards stay near zero.  Crawl use: seed with curated hosts and
    demote low-trust frontier URLs.

    Returns (node, trust) with sum(trust) == 1.  Scale shape mirrors
    ``pagerank``: cached edge table, one equi-join + groupBy per
    iteration, an 8-byte dangling-mass scalar to the driver, and
    ``localCheckpoint`` lineage truncation.  ``seeds`` (one ``node``
    column) is tiny by construction — it broadcast-joins.
    """
    # eager localCheckpoint, not lazy cache: the node-set union (and the
    # first iteration) branch off `e` concurrently, and a lazy cache
    # races — each branch recomputes the upstream edge derivation (the
    # window over raw events) before any populates the cache.
    e = edges.select(
        F.col(src).alias("src"), F.col(dst).alias("dst")
    ).localCheckpoint()
    nodes = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
        .cache()
    )
    seed_nodes = F.broadcast(seeds.select(F.col("node")).distinct()).cache()
    ns = seed_nodes.count()
    # seed teleport vector: 1/|seeds| on seeds, 0 elsewhere
    svec = nodes.join(
        seed_nodes.withColumn("s", F.lit(1.0 / ns)), "node", "left"
    ).select("node", F.coalesce("s", F.lit(0.0)).alias("s"))
    out_deg = e.groupBy("src").agg(F.count("*").alias("out_deg")).cache()
    ranks = svec.select("node", F.col("s").alias("trust"))
    for _ in range(iters):
        contrib = (
            e.join(ranks.withColumnRenamed("node", "src"), "src")
            .join(out_deg, "src")
            .groupBy("dst")
            .agg(F.sum(F.col("trust") / F.col("out_deg")).alias("c"))
        )
        dangling = (
            ranks.join(out_deg, ranks["node"] == out_deg["src"], "left_anti")
            .agg(F.sum("trust"))
            .collect()[0][0]
            or 0.0
        )
        ranks = (
            svec.join(contrib.withColumnRenamed("dst", "node"), "node", "left")
            .select(
                "node",
                (
                    F.lit(1.0 - damping) * F.col("s")
                    + F.lit(damping)
                    * (
                        F.coalesce(F.col("c"), F.lit(0.0))
                        + F.lit(dangling) * F.col("s")
                    )
                ).alias("trust"),
            )
            .localCheckpoint()
        )
    nodes.unpersist()
    out_deg.unpersist()
    seed_nodes.unpersist()
    return ranks


def load_edges(spark: SparkSession, ckpt_dir: str) -> DataFrame:
    """Read every per-round link-graph delta written by
    ``plans.checkpoint.crawl(track_edges=True)`` as one edge table.

    The deltas live under ``<ckpt_dir>/edges/round=N/`` — standard
    hive-partitioned parquet, so one ``read.parquet`` on the parent dir
    scans all rounds and exposes ``round`` as a partition column
    (prunable if a caller wants only recent rounds).  Edges are
    de-duplicated per round at write time but a (src, dst) pair
    rediscovered in a later round repeats across partitions; callers
    that need set semantics (``pagerank`` does — duplicate edges would
    double that link's contribution weight) apply ``.distinct()``.

    Only committed rounds are read (``round`` ≤ the one ``LATEST`` points
    at): a round whose checkpoint failed part-way may have left its
    edges delta on disk, and a resume rewrites it.
    """
    from pyppeteer_scraper_spark.plans.checkpoint import latest_round

    edges = spark.read.parquet(os.path.join(ckpt_dir, "edges"))
    return edges.filter(F.col("round") <= latest_round(ckpt_dir))


def reprioritize_frontier(
    frontier: DataFrame,
    edges: DataFrame,
    method: str = "pagerank",
    promote_frac: float = 0.1,
    promoted_priority: int = 0,
    iters: int = 3,
    src: str = "src_hash",
    dst: str = "dst_hash",
) -> DataFrame:
    """Fold link-graph scores back into frontier ``priority``: pending
    URLs whose score lands in the top ``promote_frac`` of scored nodes
    are promoted to ``min(priority, promoted_priority)``.

    This is the offline half of priority-ordered crawling (Cho et al.
    WWW 1998): run every k rounds over the accumulated edge deltas, then
    feed the returned frontier into the next ``crawl(..., resume=True)``
    leg.  Schema passes through unchanged — only ``priority`` moves, and
    only downward (a promotion can never demote a seed).

    Scale shape: score table is (node, score) — tiny next to the
    frontier; the promotion threshold is ONE approx-percentile scalar to
    the driver, not a global sort; the final join is an equi-join on
    url_hash with only scored-above-threshold rows on the build side.
    Ties at the threshold all promote (deterministic, no sampling).
    """
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst")).distinct()
    if method == "pagerank":
        scores = pagerank(e, iters=iters).withColumnRenamed("rank", "score")
    elif method == "indegree":
        scores = indegree(e).select(
            "node", F.col("n_inlinks").cast("double").alias("score")
        )
    else:
        raise ValueError(f"unknown method {method!r}")
    scores = scores.cache()
    thr = scores.agg(
        F.percentile_approx("score", 1.0 - promote_frac).alias("t")
    ).collect()[0]["t"]
    hot = scores.filter(F.col("score") >= F.lit(thr)).select(
        F.col("node").alias("url_hash"), F.lit(True).alias("__hot")
    )
    # Deliberately unhinted join: `hot` is promote_frac of the node set —
    # small in practice but unbounded in principle, so the broadcast
    # decision belongs to AQE's runtime size check, not a static hint
    # (same policy as the workshops-state join, plans/round.py).
    out = (
        frontier.join(hot, "url_hash", "left")
        .withColumn(
            "priority",
            F.when(
                F.col("__hot") & (F.col("state") == "pending"),
                F.least(F.col("priority"), F.lit(int(promoted_priority))),
            ).otherwise(F.col("priority")),
        )
        .drop("__hot")
        .select(*frontier.columns)
    )
    scores.unpersist()
    return out


def hits(
    edges: DataFrame,
    iters: int = 2,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """HITS hubs/authorities (Kleinberg 1999) over deduplicated edges
    for FIXED ``iters`` mutual-reinforcement rounds; returns
    (node, hub, authority), each distribution L1-normalized (sum = 1 —
    exact in SQL, unlike the usual L2 norm's cross-engine sqrt).

    Complements PageRank for frontier prioritization: authorities are
    the link-endorsed content pages, hubs the directory/index pages
    whose OUTLINKS deserve crawling first — a hub-weighted frontier
    finds new authorities faster than in-degree alone.

    Scale shape mirrors ``pagerank``: cached edge table, one join +
    bounded groupBy per half-step, ONE scalar normalization collect per
    half-step, ``localCheckpoint`` truncating each iteration's lineage.
    Deterministic: fixed iterations, no RNG.
    """
    # eager localCheckpoint, not lazy cache: the node-set union (and the
    # first iteration) branch off `e` concurrently, and a lazy cache
    # races — each branch recomputes the upstream edge derivation (the
    # window over raw events) before any populates the cache.
    e = edges.select(
        F.col(src).alias("src"), F.col(dst).alias("dst")
    ).localCheckpoint()
    nodes = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
        .cache()
    )
    n = nodes.count()
    hub = nodes.withColumn("hub", F.lit(1.0 / n))
    auth = None
    for _ in range(iters):
        # materialize the per-node sum ONCE (it is tiny — one row per
        # node): both the normalization scalar and the next half-step
        # read it, so an unmaterialized a_raw would run its join+groupBy
        # twice per half-step — the dominant cost of the whole operator
        a_raw = (
            e.join(hub.withColumnRenamed("node", "src"), "src")
            .groupBy("dst")
            .agg(F.sum("hub").alias("s"))
            .localCheckpoint()
        )
        a_tot = float(a_raw.agg(F.sum("s")).collect()[0][0] or 1.0)
        auth = nodes.join(
            a_raw.withColumnRenamed("dst", "node"), "node", "left"
        ).select(
            "node",
            (F.coalesce(F.col("s"), F.lit(0.0)) / F.lit(a_tot)).alias(
                "authority"
            ),
        )
        h_raw = (
            e.join(auth.withColumnRenamed("node", "dst"), "dst")
            .groupBy("src")
            .agg(F.sum("authority").alias("s"))
            .localCheckpoint()
        )
        h_tot = float(h_raw.agg(F.sum("s")).collect()[0][0] or 1.0)
        hub = nodes.join(
            h_raw.withColumnRenamed("src", "node"), "node", "left"
        ).select(
            "node",
            (F.coalesce(F.col("s"), F.lit(0.0)) / F.lit(h_tot)).alias("hub"),
        )
    out = nodes.join(hub, "node").join(auth, "node")
    nodes.unpersist()
    return out.select("node", "hub", "authority")


def anchor_text_topk(
    links: DataFrame,
    k: int = 3,
    *,
    dst: str = "dst",
    anchor: str = "anchor",
) -> DataFrame:
    """Top-k anchor texts per link TARGET — the classic web-search /
    crawl-quality signal (anchor text describes the target better than
    the target describes itself; Brin & Page 1998 §2.2 propagate
    anchor text to the linked page).  A training-data pipeline uses it
    to title/summarize pages and to score navigational-vs-content
    hubs.

    Shape at 10^10 links: one groupBy (dst, anchor) — map-side
    combined, output bounded by distinct (target, phrase) pairs which
    is orders smaller than the link count — then a per-dst window over
    THAT aggregate for rank and totals.  A mega-hub (10^6 in-links)
    collapses to its distinct anchor phrases before the window sees
    it, so the skew the raw link table carries never reaches the sort.

    Ties rank by count desc, anchor asc (deterministic).  Output: one
    row per (dst, top-k anchor) with per-target totals.
    """
    counts = links.groupBy(dst, anchor).agg(
        F.count("*").cast("long").alias("n")
    )
    w = Window.partitionBy(dst).orderBy(F.col("n").desc(), F.col(anchor))
    wt = Window.partitionBy(dst)
    return (
        counts.withColumn("rk", F.row_number().over(w))
        .withColumn("n_unique_anchors", F.count("*").over(wt).cast("long"))
        .withColumn("n_inlinks", F.sum("n").over(wt).cast("long"))
        .filter(F.col("rk") <= k)
        .select(
            F.col(dst).alias("node"),
            anchor,
            "n",
            F.col("rk").cast("int").alias("rk"),
            "n_unique_anchors",
            "n_inlinks",
        )
    )


def opic(
    edges: DataFrame,
    iters: int = 3,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """OPIC — On-line Page Importance Computation (Abiteboul, Preda &
    Cobena, WWW 2003), the crawl-native importance estimator: unlike
    PageRank it needs no damping parameter and its cash/history pair
    updates INCREMENTALLY as pages are fetched, which is why frontier
    schedulers (e.g. Nutch's default scoring) prefer it mid-crawl.

    Synchronous batch form over ``iters`` rounds: every node starts
    with cash 1/n and empty history; each round a node banks its cash
    into history and distributes it equally over its out-links;
    dangling cash is redistributed uniformly (the paper's virtual
    page).  Total cash stays 1, so after k rounds total history+cash
    is k+1 and ``importance = (history + cash) / (k + 1)`` sums to 1.

    Returns (node, importance).  Scale shape mirrors ``pagerank``:
    cached distinct-edge table, one contributions equi-join + groupBy
    per iteration, an 8-byte dangling-cash scalar to the driver, and
    ``localCheckpoint`` lineage truncation per round.  Fixed ``iters``
    keeps it deterministic and lets the DuckDB oracle unroll the same
    rounds as CTEs (plans/queries.py::rank_opic).
    """
    # eager localCheckpoint, not lazy cache: the node-set union (and the
    # first iteration) branch off `e` concurrently, and a lazy cache
    # races — each branch recomputes the upstream edge derivation (the
    # window over raw events) before any populates the cache.
    e = edges.select(
        F.col(src).alias("src"), F.col(dst).alias("dst")
    ).localCheckpoint()
    nodes = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
        .cache()
    )
    n = nodes.count()
    out_deg = e.groupBy("src").agg(F.count("*").alias("out_deg")).cache()
    state = nodes.select(
        "node", F.lit(1.0 / n).alias("cash"), F.lit(0.0).alias("hist")
    )
    for _ in range(iters):
        contrib = (
            e.join(
                state.select(F.col("node").alias("src"), "cash"), "src"
            )
            .join(out_deg, "src")
            .groupBy("dst")
            .agg(F.sum(F.col("cash") / F.col("out_deg")).alias("c"))
        )
        dangling = (
            state.join(out_deg, state["node"] == out_deg["src"], "left_anti")
            .agg(F.sum("cash"))
            .collect()[0][0]
            or 0.0
        )
        state = (
            state.join(contrib.withColumnRenamed("dst", "node"), "node", "left")
            .select(
                "node",
                (
                    F.coalesce(F.col("c"), F.lit(0.0)) + F.lit(dangling / n)
                ).alias("cash"),
                (F.col("hist") + F.col("cash")).alias("hist"),
            )
            .localCheckpoint()
        )
    out = state.select(
        "node",
        ((F.col("hist") + F.col("cash")) / F.lit(float(iters + 1))).alias(
            "importance"
        ),
    )
    nodes.unpersist()
    out_deg.unpersist()
    return out


def reciprocity(edges: DataFrame, src: str = "src", dst: str = "dst") -> DataFrame:
    """Per-node reciprocal-link fraction — the classic link-farm signal
    (reciprocal exchanges approach 1.0 in collusive spam neighborhoods;
    organic web reciprocity is low; cf. Becchetti et al., "Link-Based
    Characterization and Detection of Web Spam", AIRWeb 2006).  Feeds
    the same only-downward priority demotion as trap/host-quality
    signals.

    Returns (node, n_out, n_reciprocal, reciprocity) over the DISTINCT
    edge set.  One self-equi-join on the reversed pair — shuffle on
    (src, dst) both sides, no all-pairs — then one groupBy(src).
    """
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst")).distinct()
    rev = e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    marked = e.join(rev, ["src", "dst"], "left_semi").groupBy("src").agg(
        F.count("*").alias("n_reciprocal")
    )
    return (
        e.groupBy("src")
        .agg(F.count("*").alias("n_out"))
        .join(marked, "src", "left")
        .select(
            F.col("src").alias("node"),
            "n_out",
            F.coalesce("n_reciprocal", F.lit(0)).cast("long").alias("n_reciprocal"),
            F.round(
                F.coalesce("n_reciprocal", F.lit(0)) * 1.0 / F.col("n_out"), 6
            ).alias("reciprocity"),
        )
    )


def cocitation(
    edges: DataFrame,
    max_citers: int = 32,
    top_k: int = 50,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Co-citation similarity (Small 1973; the related-page signal
    behind "similar sites"): two pages are related when many pages
    link to BOTH.  Returns the ``top_k`` (a, b, n_common) pairs with
    a < b, ordered (n_common DESC, a, b).

    SKEW GUARD — the explicit bound SURVEY §4.2 requires: the pair
    expansion is quadratic in each dst's citer count, so a mega-hub
    would explode the self-join.  Each dst contributes only its FIRST
    ``max_citers`` citers in deterministic src order (row_number per
    dst) — bounded truncation, not wholesale hub dropping, so dense
    graphs still produce signal and the worst case is
    |dsts|·max_citers² pairs, linear in the graph for a fixed cap.
    Truncation is REPORTED via ``cocitation_dropped`` (no silent
    caps).  The self-join is equi on dst over the capped set.
    """
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst")).distinct()
    w = Window.partitionBy("dst").orderBy("src")
    kept = (
        e.withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") <= int(max_citers))
        .drop("__rk")
    )
    a = kept.select(F.col("dst").alias("d"), F.col("src").alias("a"))
    b = kept.select(F.col("dst").alias("d"), F.col("src").alias("b"))
    pairs = (
        a.join(b, "d")
        .filter(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count("*").cast("long").alias("n_common"))
    )
    return pairs.orderBy(
        F.col("n_common").desc(), F.col("a"), F.col("b")
    ).limit(int(top_k))


def cocitation_dropped(
    edges: DataFrame,
    max_citers: int = 32,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """The truncation report for ``cocitation``: (n_dsts_total,
    n_dsts_truncated, n_edges_dropped) — no silent caps."""
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst")).distinct()
    deg = e.groupBy("dst").agg(F.count("*").alias("d_in"))
    cap = int(max_citers)
    return deg.agg(
        F.count("*").cast("long").alias("n_dsts_total"),
        F.sum((F.col("d_in") > cap).cast("long"))
        .cast("long")
        .alias("n_dsts_truncated"),
        F.sum(
            F.when(F.col("d_in") > cap, F.col("d_in") - cap).otherwise(0)
        )
        .cast("long")
        .alias("n_edges_dropped"),
    )


def seed_distance(
    edges: DataFrame,
    seeds: DataFrame,
    max_hops: int = 6,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Multi-source BFS hop distance from the seed set — "crawl depth".

    Depth-from-seed is the classic frontier prioritization signal
    (breadth-first crawls reach high-PageRank pages early; pages many
    hops from any seed are disproportionately traps/spam — cf.
    operators/traps.py), and a bounded ``max_hops`` IS the crawl's
    depth budget, so an exact fixed-iteration BFS is the semantics, not
    an approximation of it.

    Per hop: one equi-join frontier expansion + a min-aggregate that
    keeps the distance table at ≤|nodes| rows, ``localCheckpoint`` to
    truncate lineage (same discipline as :func:`pagerank`).  All
    shuffles key on node id; no driver-side collects.

    Output: ``(node, dist)`` for every node in the edge universe,
    ``dist = -1`` when unreached within ``max_hops``.
    """
    dist = seeds.select(F.col("node"), F.lit(0).cast("long").alias("dist"))
    for _ in range(max_hops):
        nxt = (
            edges.join(dist, edges[src] == dist["node"])
            .select(F.col(dst).alias("node"), (F.col("dist") + 1).alias("dist"))
        )
        dist = (
            dist.unionByName(nxt)
            .groupBy("node")
            .agg(F.min("dist").alias("dist"))
            .localCheckpoint()
        )
    nodes = (
        edges.select(F.col(src).alias("node"))
        .union(edges.select(F.col(dst).alias("node")))
        .distinct()
    )
    return nodes.join(dist, "node", "left").select(
        "node", F.coalesce(F.col("dist"), F.lit(-1)).cast("long").alias("dist")
    )


def label_propagation(
    edges: DataFrame,
    iters: int = 3,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Synchronous label-propagation community detection (Raghavan et
    al. 2007, made deterministic) over the UNDIRECTED form of
    ``edges``; returns (node, label) after a FIXED ``iters`` sweeps.

    Each sweep, every node adopts the label held by the plurality of
    its neighbors, ties broken by the MINIMUM label — the
    deterministic replacement for the paper's random tie-break, so
    Spark and the SQL oracle agree bit-for-bit.  Isolated semantics:
    a node keeps its previous label when it has no neighbors.

    Scale shape: one groupBy((node, label)) + one per-node window max
    + one min-aggregate per sweep — all equi-shuffles on node; the
    symmetrized adjacency is cached once and reused every sweep;
    lineage is truncated per sweep (localCheckpoint) exactly like
    ``pagerank``.  Fixed sweeps are the honest choice over a
    convergence collect (synchronous LPA can 2-cycle on bipartite
    structures — a real deployment runs a fixed small k anyway).
    Reference analog: none — frontier/host clustering extension
    (groups mutually-linked host neighborhoods so per-community crawl
    budgets can be assigned).
    """
    e = edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
    # eager materialization for the same cache-race reason as above
    adj = e.union(
        e.select(F.col("b").alias("a"), F.col("a").alias("b"))
    ).distinct().localCheckpoint()
    nodes = adj.select(F.col("a").alias("node")).distinct().cache()
    labels = nodes.select("node", F.col("node").alias("label"))
    for _ in range(iters):
        neigh = (
            adj.join(
                labels.withColumnRenamed("node", "b"), "b"
            )
            .groupBy(F.col("a").alias("node"), "label")
            .agg(F.count("*").alias("c"))
        )
        w = Window.partitionBy("node")
        best = (
            neigh.withColumn("mc", F.max("c").over(w))
            .where(F.col("c") == F.col("mc"))
            .groupBy("node")
            .agg(F.min("label").alias("new_label"))
        )
        labels = (
            labels.join(best, "node", "left")
            .select(
                "node",
                F.coalesce(F.col("new_label"), F.col("label")).alias(
                    "label"),
            )
            .localCheckpoint()
        )
    nodes.unpersist()
    return labels


def triangle_stats(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Per-node triangle counts + local clustering coefficient over
    the UNDIRECTED form of ``edges`` — the host-graph cohesion signal
    (link farms and mutual-admiration spam rings are triangle-dense;
    genuine editorial link neighborhoods are sparse).

    Scale shape — degree orientation, the standard O(m^{3/2}) trick:
    every undirected edge is oriented from its lower-(degree, id)
    endpoint to the higher one, so each triangle is counted exactly
    once and the wedge join fans out from LOW-degree vertices only —
    a mega-hub with degree 10^6 contributes no wedges of its own,
    bounding the intermediate at Σ min-side-degree² instead of Σ
    degree².  Two equi-joins, no all-pairs.

    Returns (node, degree, triangles, clustering) where clustering =
    2T / (d(d-1)) (0 when d < 2).
    """
    e = edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
    # cache the symmetrized adjacency: it feeds degree, orientation,
    # wedges and the closing join — uncached, the whole edge-derivation
    # lineage (e.g. a window over raw events) replays ~10× across the
    # plan's branches (same policy as pagerank/label_propagation)
    und = (
        e.union(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
        .where(F.col("a") != F.col("b"))
        .distinct()
        .cache()
    )
    # cached (r06): read three times — both orientation sides and the
    # final left join — which re-ran the degree groupBy shuffle 3×
    deg = und.groupBy(F.col("a").alias("node")).agg(
        F.count("*").cast("long").alias("degree")).cache()
    # orient by (degree, id): lower endpoint -> higher endpoint
    da = deg.select(F.col("node").alias("a"),
                    F.col("degree").alias("da"))
    db = deg.select(F.col("node").alias("b"),
                    F.col("degree").alias("db"))
    oriented = (
        und.join(da, "a").join(db, "b")
        .where(
            (F.col("da") < F.col("db"))
            | ((F.col("da") == F.col("db")) & (F.col("a") < F.col("b")))
        )
        .select("a", "b")
        .cache()  # read by both wedge sides and the closing join
    )
    # wedges from the low end: (u->v, u->w) with v<w in orientation
    w1 = oriented.select(F.col("a").alias("u"), F.col("b").alias("v"))
    w2 = oriented.select(F.col("a").alias("u"), F.col("b").alias("w"))
    wedges = w1.join(w2, "u").where(F.col("v") != F.col("w"))
    closing = oriented.select(
        F.col("a").alias("v"), F.col("b").alias("w"))
    # cached: the triangle list is read three times by the per-node
    # explode below
    tris = wedges.join(closing, ["v", "w"]).select("u", "v", "w").cache()
    per_node = (
        tris.select(F.col("u").alias("node"))
        .union(tris.select(F.col("v").alias("node")))
        .union(tris.select(F.col("w").alias("node")))
        .groupBy("node")
        .agg(F.count("*").cast("long").alias("triangles"))
    )
    return (
        deg.join(per_node, "node", "left")
        .select(
            "node",
            "degree",
            F.coalesce(F.col("triangles"), F.lit(0)).cast("long").alias(
                "triangles"),
            F.round(
                F.when(
                    F.col("degree") >= 2,
                    2.0 * F.coalesce(F.col("triangles"), F.lit(0))
                    / (F.col("degree") * (F.col("degree") - 1)),
                ).otherwise(F.lit(0.0)),
                6,
            ).alias("clustering"),
        )
    )


def kcore(
    edges: DataFrame,
    k: int = 3,
    rounds: int = 4,
    src: str = "src",
    dst: str = "dst",
    checkpoint_every: int = 2,
) -> DataFrame:
    """Fixed-round k-core peeling over the UNDIRECTED form of
    ``edges``: each round drops every node whose current degree is
    below ``k``, then recomputes degrees on the surviving subgraph.
    Returns (node, degree) for the nodes still present after
    ``rounds`` peels — the dense-core membership signal (Seidman
    1983; Batagelj & Zaversnik's peeling formulated as parallel
    rounds).  Crawl use: the k-core of the host graph separates
    densely interlinked hub communities (and link farms) from the
    long tail of leaf pages, complementing triangle_stats' local
    cohesion with a global one.

    Determinism: the round count is FIXED (not run-to-convergence),
    so a SQL oracle can unroll the identical peels — same contract as
    pagerank's fixed power-iterations.  A converged core is obtained
    by raising ``rounds``; parity holds at any value.

    Scale shape: each round is one groupBy(node) degree count plus
    two semi-joins of the edge list against the survivor set — all
    equi-shuffles on node id, no all-pairs anywhere.  The edge list
    shrinks monotonically; lineage is truncated every
    ``checkpoint_every`` rounds (eager per-round checkpoints cost one
    job each and dominate wall time; unmaterialized rounds fan lineage
    out ~3x/round, bounded at 3^checkpoint_every — same trade the
    connected-components loop makes, operators/dedup.py).
    """
    e = edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
    cur = (
        e.union(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
        .where(F.col("a") != F.col("b"))
        .distinct()
        .localCheckpoint()
    )
    for r in range(rounds):
        survivors = (
            cur.groupBy(F.col("a").alias("node"))
            .agg(F.count("*").alias("deg"))
            .where(F.col("deg") >= k)
            .select("node")
        )
        cur = (
            cur.join(survivors.withColumnRenamed("node", "a"), "a", "semi")
            .join(survivors.withColumnRenamed("node", "b"), "b", "semi")
            .select("a", "b")
        )
        # materialize only every k-th round: each unmaterialized round
        # references `cur` twice (both semi-joins derive survivors from
        # it), so lineage fans out ~3x/round — bounded at 3^checkpoint_
        # every — while EAGER per-round localCheckpoints cost a full
        # job each, which dominates wall time on small/medium graphs.
        if (r + 1) % checkpoint_every == 0 and r + 1 < rounds:
            cur = cur.localCheckpoint()
    return cur.groupBy(F.col("a").alias("node")).agg(
        F.count("*").cast("long").alias("degree")
    )


def _min_label_rounds(
    e: DataFrame, nodes: DataFrame, rounds: int, forward: bool,
    checkpoint_every: int = 2,
) -> DataFrame:
    """Fixed-round min-label propagation: after t rounds, lab(v) is
    the minimum node id reachable from v within <= t hops (forward)
    or that reaches v within <= t hops (backward).  One equi-join +
    min-groupBy per round."""
    key_out, key_in = ("dst", "src") if forward else ("src", "dst")
    lab = nodes.select("node", F.col("node").alias("lab"))
    for r in range(rounds):
        neigh = (
            e.join(lab.withColumnRenamed("node", key_out), key_out)
            .groupBy(F.col(key_in).alias("node"))
            .agg(F.min("lab").alias("nl"))
        )
        lab = lab.join(neigh, "node", "left").select(
            "node",
            F.least(
                F.col("lab"), F.coalesce(F.col("nl"), F.col("lab"))
            ).alias("lab"),
        )
        if (r + 1) % checkpoint_every == 0 and r + 1 < rounds:
            lab = lab.localCheckpoint()
    return lab


def scc_certificates(
    edges: DataFrame,
    rounds: int = 3,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """t-bounded strongly-connected-component certificates via
    forward+backward min-label propagation (the label half of the
    classic coloring/FW-BW SCC schemes — Orzan 2004; Slota et al.
    2014 — truncated to FIXED rounds so a SQL oracle can unroll the
    identical computation).

    Returns (node, fwd_min, bwd_min, in_scc): fwd_min = minimum node
    id reachable within <= rounds hops, bwd_min = minimum node id that
    reaches this node within <= rounds hops.  fwd_min == bwd_min == L
    is a SOUND certificate that the node is in L's SCC via cycles of
    length <= 2*rounds (v reaches L and L reaches v); longer cycles
    need more rounds — incompleteness, never wrongness, so the flag
    is monotone in ``rounds``.

    Crawl use: directed short cycles through a common minimum are the
    redirect-ring / link-ring signature (spam rings interlink
    mutually; genuine link paths rarely return), complementing the
    UNDIRECTED cohesion signals (triangle_stats, kcore) with cycle
    direction.

    Scale shape: 2*rounds equi-join + min-groupBy passes over the
    edge list, labels are one row per node; eager edge
    materialization and spaced lineage truncation as in ``kcore``.
    """
    e = (
        edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
        .where(F.col("src") != F.col("dst"))
        .distinct()
        .localCheckpoint()
    )
    nodes = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
        .localCheckpoint()
    )
    fwd = _min_label_rounds(e, nodes, rounds, forward=True)
    bwd = _min_label_rounds(e, nodes, rounds, forward=False)
    return (
        fwd.withColumnRenamed("lab", "fwd_min")
        .join(bwd.withColumnRenamed("lab", "bwd_min"), "node")
        .select(
            "node",
            "fwd_min",
            "bwd_min",
            F.when(F.col("fwd_min") == F.col("bwd_min"), 1)
            .otherwise(0)
            .cast("int")
            .alias("in_scc"),
        )
    )
