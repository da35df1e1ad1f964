"""fastText-shaped linear text classifier — model-based quality
filtering as a pure Catalyst projection.

Web-corpus pipelines (CCNet, GPT-3/LLaMA data prep) gate documents with
a linear classifier over hashed n-gram features: tokenize, hash each
uni/bi-gram into B buckets, look the bucket up in a trained weight
vector, average, squash.  This module implements exactly that shape
with Spark built-ins only — split/filter/zip_with for the grams,
md5-mod for the hashing trick, element_at on a literal weight array for
the lookup, aggregate for the dot product — so scoring 100 TB is one
whole-stage-codegen pass with no shuffle, no UDF, no model server.

The reference has no classifier (its quality gates are hand rules,
/root/reference/scraper/home_depo.py:149-153); this is the standard
scale-out replacement.  Weights here are DETERMINISTIC placeholders
derived from md5 (a real deployment loads its trained vector via
``weights=``); every step stays integer until the final squash so the
DuckDB oracle reproduces scores bit-for-bit without float-order
concerns.

Scale notes: the weight vector broadcasts inside the plan as a literal
array (B * 8 bytes — a trained fastText bucket table at B = 2^21 is
16 MB, still a fine literal/broadcast); per-row cost is O(tokens).
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

N_BUCKETS = 64
_WEIGHT_SPAN = 1000  # integer weights in [-1000, 1000]


def default_weights(
    n_buckets: int = N_BUCKETS, salt: str = "qmodel-w-v1"
) -> list[int]:
    """Deterministic stand-in weight vector: bucket i's weight is an
    md5-derived integer in [-1000, 1000].  Stable across sessions,
    machines, and engines (pure function of the salt)."""
    out = []
    for i in range(n_buckets):
        h = hashlib.md5(f"{salt}\x1f{i}".encode()).hexdigest()
        out.append(int(h[:6], 16) % (2 * _WEIGHT_SPAN + 1) - _WEIGHT_SPAN)
    return out


def _grams(col: Column) -> Column:
    """Lowercased word unigrams + space-joined bigrams (fastText's
    default feature set).  Empty tokens from leading/trailing
    punctuation are dropped on both engines."""
    toks = F.filter(
        F.split(F.trim(F.lower(col)), r"\W+"), lambda t: t != ""
    )
    n = F.size(toks)
    bigrams = F.when(
        n >= 2,
        F.zip_with(
            F.slice(toks, 1, n - 1),
            F.slice(toks, 2, n - 1),
            lambda a, b: F.concat_ws(" ", a, b),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return F.concat(toks, bigrams)


def quality_model_score(
    col: Column,
    salt: str = "qmodel-v1",
    weights: list[int] | None = None,
    hash_fn: str = "md5",
) -> dict[str, Column]:
    """Score a text column with the hashed-n-gram linear model.

    Returns {n_grams, score_raw, score}: ``score_raw`` is the exact
    integer dot product sum(W[bucket(gram)]), ``score`` the rounded
    logistic of its mean — ``round(sigmoid(raw / (n*1000)), 6)``.
    Everything up to the final squash is integer arithmetic, so Spark
    and any ANSI-SQL oracle agree exactly.

    ``hash_fn``: ``"md5"`` (default) buckets via md5-hex→int — the
    ANSI-expressible form the DuckDB oracle replays.  ``"xxhash64"``
    buckets via Spark's native 64-bit hash — same model shape, a
    different (equally uniform) bucketing, and the cheaper production
    choice (no hex string materialized per gram).  Measured 1.1–1.3×
    faster end-to-end at sf0.1 (tokenize/split dominates; the hash is a
    minority cost), so md5's exact oracle-ability is usually worth
    keeping.  A trained weight vector is tied to its bucketing, so the
    two are distinct models, not interchangeable scorers.
    """
    w = weights if weights is not None else default_weights()
    warr = F.array(*[F.lit(int(x)) for x in w])
    grams = _grams(col)
    if hash_fn == "xxhash64":
        buckets = F.transform(
            grams, lambda g: F.pmod(F.xxhash64(F.lit(salt), g), F.lit(len(w)))
        )
    elif hash_fn == "md5":
        buckets = F.transform(
            grams,
            lambda g: F.pmod(
                F.conv(
                    F.substring(
                        F.md5(F.concat_ws("\x1f", F.lit(salt), g)), 1, 6
                    ),
                    16,
                    10,
                ).cast("bigint"),
                F.lit(len(w)),
            ),
        )
    else:
        raise ValueError(f"hash_fn must be 'md5' or 'xxhash64', got {hash_fn!r}")
    raw = F.aggregate(
        buckets,
        F.lit(0).cast("bigint"),
        lambda acc, b: acc + F.element_at(warr, (b + 1).cast("int")).cast("bigint"),
    )
    n = F.size(grams).cast("long")
    x = raw.cast("double") / (n.cast("double") * float(_WEIGHT_SPAN))
    score = F.when(n > 0, F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-x)), 6)).otherwise(
        F.lit(0.5)
    )
    return {"n_grams": n, "score_raw": raw, "score": score}


def quality_model_scored(
    df: DataFrame,
    text_col: str = "text",
    carry: tuple[str, ...] = ("doc_id",),
    salt: str = "qmodel-v1",
    weights: list[int] | None = None,
) -> DataFrame:
    """DataFrame form of :func:`quality_model_score` with the shared
    subtrees STAGED in their own projections (round 6, guide §1.2):
    tokenize once, build grams once, compute the bucket dot product
    once, then derive the sigmoid from the projected columns.

    The Column form repeats the gram pipeline inside every output —
    ``score`` alone embeds the tokenization three times (n in the
    guard, n in the denominator, grams in the dot product) and codegen
    does not common-subexpression-eliminate higher-order-function
    subtrees, so selecting (n_grams, score_raw, score) re-tokenized
    every row up to five times.  Measured 2.4-2.7 s → ~1.0 s on the
    sf0.1 documents table (tools/bench_qmodel_ab.py, rows identical).

    Returns ``df.select(*carry)`` plus ``n_grams`` (long),
    ``score_raw`` (bigint) and ``score`` (double) — byte-identical to
    the Column form's values.  Raises ``ValueError`` if ``carry`` names
    a staging or output column.
    """
    clash = set(carry) & {"__toks", "__grams", "n_grams", "score_raw", "score"}
    if clash:
        raise ValueError(f"carry columns clash with output columns: {sorted(clash)}")
    w = weights if weights is not None else default_weights()
    warr = F.array(*[F.lit(int(x)) for x in w])
    toks = F.filter(
        F.split(F.trim(F.lower(F.col(text_col))), r"\W+"), lambda t: t != ""
    )
    s1 = df.select(*carry, toks.alias("__toks"))
    n_t = F.size(F.col("__toks"))
    bigrams = F.when(
        n_t >= 2,
        F.zip_with(
            F.slice("__toks", 1, n_t - 1),
            F.slice("__toks", 2, n_t - 1),
            lambda a, b: F.concat_ws(" ", a, b),
        ),
    ).otherwise(F.array().cast("array<string>"))
    s2 = s1.select(*carry, F.concat("__toks", bigrams).alias("__grams"))
    buckets = F.transform(
        F.col("__grams"),
        lambda g: F.pmod(
            F.conv(
                F.substring(F.md5(F.concat_ws("\x1f", F.lit(salt), g)), 1, 6),
                16,
                10,
            ).cast("bigint"),
            F.lit(len(w)),
        ),
    )
    raw = F.aggregate(
        buckets,
        F.lit(0).cast("bigint"),
        lambda acc, b: acc + F.element_at(warr, (b + 1).cast("int")).cast("bigint"),
    )
    s3 = s2.select(
        *carry,
        F.size("__grams").cast("long").alias("n_grams"),
        raw.alias("score_raw"),
    )
    x = F.col("score_raw").cast("double") / (
        F.col("n_grams").cast("double") * float(_WEIGHT_SPAN)
    )
    return s3.select(
        *carry,
        "n_grams",
        "score_raw",
        F.when(
            F.col("n_grams") > 0,
            F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-x)), 6),
        )
        .otherwise(F.lit(0.5))
        .alias("score"),
    )


def oracle_weight_array_sql(weights: list[int] | None = None) -> str:
    """The literal DuckDB list matching ``default_weights()`` — keeps
    the registered oracle SQL self-contained."""
    w = weights if weights is not None else default_weights()
    return "[" + ", ".join(str(int(x)) for x in w) + "]"


def roc_auc_exact(
    scored: DataFrame,
    score_col: str = "score_raw",
    label_col: str = "label",
    bucket_width: int = 1024,
) -> DataFrame:
    """Exact ROC AUC via the tie-corrected Mann-Whitney rank statistic
    — the discrimination check run alongside calibration_bins before a
    classifier threshold drops corpus slices (Hanley & McNeil 1982:
    AUC = P(score_pos > score_neg) + ½·P(tie)).

    Input: one row per example with an INTEGER ``score_col`` (e.g.
    quality_model_score's exact ``score_raw``) and a boolean
    ``label_col``.  Integer scores keep the whole statistic in exact
    arithmetic: with avgrank_g = cum_before_g + (n_g+1)/2 over
    ascending score groups,

        AUC = (Σ_g np_g·(2·cum_before_g + n_g + 1) − n_pos·(n_pos+1))
              / (2·n_pos·n_neg)

    — every term an int64 until the single final division, so any
    ANSI-SQL oracle agrees bit-for-bit.

    Returns ONE row: (n_pos, n_neg, n_scores, auc, gini) with
    gini = 2·AUC − 1; auc/gini NULL when a class is empty.

    SCALE SHAPE: the naive rank formulation is a global ordered window
    (one task over the corpus).  Here the corpus collapses to one row
    per DISTINCT score first (one map-side-combined groupBy), and the
    prefix count over score groups uses the same two-pass bucketed
    prefix sum as operators/packing.py — per-bucket totals (tiny) →
    bucket base offsets (window over the bucket table only) →
    per-bucket ordered prefix (partitionBy bucket, parallel).  No
    stage ever sees more than one bucket's distinct scores per task.
    """
    per = (
        scored.select(
            F.col(score_col).cast("long").alias("s"),
            F.col(label_col).cast("int").alias("y"),
        )
        .groupBy("s")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.sum("y").cast("long").alias("np"),
        )
        .withColumn(
            # exact long division (truncating): any monotone map of s
            # works as a bucket key, and integer `div` avoids the IEEE
            # boundary-rounding trap packing.py documents
            "__bucket",
            F.expr(f"s div {int(bucket_width)}"),
        )
    )
    btot = per.groupBy("__bucket").agg(F.sum("n").alias("__bn"))
    wb = Window.orderBy("__bucket").rowsBetween(Window.unboundedPreceding, -1)
    boff = btot.select(
        "__bucket",
        F.coalesce(F.sum("__bn").over(wb), F.lit(0)).alias("__base"),
    )
    wd = Window.partitionBy("__bucket").orderBy("s").rowsBetween(
        Window.unboundedPreceding, -1
    )
    ranked = per.join(F.broadcast(boff), "__bucket").withColumn(
        "__cumb", F.col("__base") + F.coalesce(F.sum("n").over(wd), F.lit(0))
    )
    tot = ranked.agg(
        F.sum(
            F.col("np") * (F.lit(2) * F.col("__cumb") + F.col("n") + F.lit(1))
        ).alias("r2"),
        F.sum("np").cast("long").alias("n_pos"),
        (F.sum("n") - F.sum("np")).cast("long").alias("n_neg"),
        F.count("*").cast("long").alias("n_scores"),
    )
    npos, nneg = F.col("n_pos"), F.col("n_neg")
    num = (F.col("r2") - npos * (npos + F.lit(1))).cast("double")
    auc = F.when(
        (npos > 0) & (nneg > 0),
        F.round(num / (F.lit(2.0) * npos * nneg), 6),
    )
    gini = F.when(
        (npos > 0) & (nneg > 0),
        F.round(num / (F.lit(1.0) * npos * nneg) - F.lit(1.0), 6),
    )
    return tot.select(
        "n_pos", "n_neg", "n_scores", auc.alias("auc"), gini.alias("gini")
    )


def calibration_bins(
    scored: DataFrame,
    score_col: str = "score",
    label_col: str = "label",
    n_bins: int = 10,
) -> DataFrame:
    """Reliability diagram + expected calibration error for a
    probabilistic quality classifier (Guo et al., "On Calibration of
    Modern Neural Networks", ICML 2017 §2): equal-width score bins,
    per-bin mean confidence vs empirical positive rate, and the
    n-weighted |gap| sum (ECE) — the go/no-go number before a score
    threshold is used to DROP corpus slices (an uncalibrated filter
    silently shifts the kept distribution).

    Input: one row per example with ``score_col`` in [0,1] and a
    boolean ``label_col``.  Returns one row per NON-EMPTY bin:
    (bin, n, confidence, accuracy, abs_gap, ece) — ece repeated on
    every row (window over the <=n_bins-row aggregate, driver-scale).

    Scale shape: one groupBy over n_bins keys (map-side combined) —
    the corpus is touched once, everything after is arithmetic on
    <=n_bins rows.
    """
    b = F.least(
        F.floor(F.col(score_col) * n_bins).cast("int"), F.lit(n_bins - 1)
    )
    per = (
        scored.select(
            b.alias("bin"),
            F.col(score_col).alias("s"),
            F.col(label_col).cast("int").alias("y"),
        )
        .groupBy("bin")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.sum("s").alias("sum_s"),
            F.sum("y").cast("long").alias("n_pos"),
        )
    )
    total = Window.partitionBy()  # <=n_bins rows: driver-scale window
    conf = F.col("sum_s") / F.col("n")
    acc = F.col("n_pos").cast("double") / F.col("n")
    gap = F.abs(conf - acc)
    return per.select(
        "bin",
        "n",
        F.round(conf, 6).alias("confidence"),
        F.round(acc, 6).alias("accuracy"),
        F.round(gap, 6).alias("abs_gap"),
        F.round(
            F.sum(F.col("n") * gap).over(total) / F.sum("n").over(total), 6
        ).alias("ece"),
    )


def logreg_train_relational(
    df: DataFrame,
    vec_col: str = "embedding",
    label_col: str = "y",
    iters: int = 2,
    lr: float = 0.5,
) -> list[float]:
    """Batch-gradient-descent logistic regression trained IN the
    engine — the way a quality-filter model is actually fit over a
    100-TB corpus: the weight vector (d floats) lives on the driver,
    each iteration is ONE full-scan aggregate whose margin expression
    embeds the current weights as literals (whole-stage codegen, no
    Python in the scan), and the gradient comes back as d numbers.
    Nothing scales with corpus size except the scan.

    Deterministic: w0 = 0, fixed ``iters``, fixed ``lr``; gradient
    g_j = avg((sigmoid(w·x) - y) * x_j), w ← w - lr·g.  Returns the
    final weights (python list, length d) — callers wrap them in
    :func:`score expressions <hashed n-gram model>` or a DataFrame.
    The SQL oracle unrolls the same iterations (plans/queries.py::
    quality_logreg_train)."""
    d = len(df.select(vec_col).first()[0])
    x = F.col(vec_col)
    y = F.col(label_col).cast("double")
    w = [0.0] * d
    for _ in range(iters):
        wlit = F.array(*[F.lit(float(v)) for v in w])
        margin = F.aggregate(
            F.zip_with(x, wlit, lambda a, b: a * b),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        resid = F.lit(1.0) / (F.lit(1.0) + F.exp(-margin)) - y
        # r06: residual staged in its OWN projection — inlining it into
        # all d avg() aggregates re-evaluated the O(d) dot product +
        # sigmoid once PER GRADIENT COMPONENT (O(d²) per row; codegen
        # CSE does not span aggregate expressions).  Same float values:
        # the projection computes the identical expression once.
        grads = (
            df.select(resid.alias("__resid"), x.alias("__x"))
            .agg(
                *[
                    F.avg(
                        F.col("__resid") * F.element_at("__x", j + 1)
                    ).alias(f"g{j}")
                    for j in range(d)
                ]
            )
            .collect()[0]
        )
        w = [w[j] - lr * grads[j] for j in range(d)]
    return w
