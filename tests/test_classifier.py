"""Hashed n-gram linear classifier (functions/classifier.py) — pure-
Python recomputation of the exact pipeline (tokenize → uni+bigrams →
md5 bucket → integer weight → sigmoid) must match the Spark columns,
including the empty/single-token edge cases.  Corpus-level value parity
vs DuckDB is covered by the `text_model_quality` oracle."""

import hashlib
import math
import re

from pyspark.sql import functions as F


def _expected(text: str, salt: str = "qmodel-v1"):
    from pyppeteer_scraper_spark.functions.classifier import default_weights

    w = default_weights()
    toks = [t for t in re.split(r"\W+", text.strip().lower()) if t != ""]
    grams = toks + [f"{a} {b}" for a, b in zip(toks, toks[1:])]
    raw = 0
    for g in grams:
        h = hashlib.md5(f"{salt}\x1f{g}".encode()).hexdigest()
        raw += w[int(h[:6], 16) % len(w)]
    n = len(grams)
    score = (
        round(1.0 / (1.0 + math.exp(-(raw / (n * 1000.0)))), 6) if n else 0.5
    )
    return n, raw, score


def test_quality_model_score_matches_hand_computation(spark):
    from pyppeteer_scraper_spark.functions.classifier import (
        quality_model_score,
    )

    texts = [
        "The quick brown fox jumps over the lazy dog.",
        "spark spark spark",
        "  ...!!!  ",          # punctuation only -> 0 grams -> 0.5
        "word",                 # single token, no bigrams
        "Mixed CASE, punct -- and   runs\tof\nspace",
    ]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], "i int, text string")
    cols = quality_model_score(F.col("text"))
    got = {
        r["i"]: (r["n"], r["raw"], r["s"])
        for r in df.select(
            "i",
            cols["n_grams"].alias("n"),
            cols["score_raw"].alias("raw"),
            cols["score"].alias("s"),
        ).collect()
    }
    for i, t in enumerate(texts):
        assert got[i] == _expected(t), (i, t, got[i], _expected(t))

    # structural: single token has exactly 1 gram; k tokens -> 2k-1 grams
    assert got[3][0] == 1
    assert got[1][0] == 5  # 3 unigrams + 2 bigrams


def test_quality_model_custom_weights_change_scores(spark):
    from pyppeteer_scraper_spark.functions.classifier import (
        quality_model_score,
    )

    df = spark.createDataFrame([("hello world",)], "text string")
    up = quality_model_score(F.col("text"), weights=[500] * 64)
    down = quality_model_score(F.col("text"), weights=[-500] * 64)
    r_up = df.select(up["score"].alias("s")).head()["s"]
    r_down = df.select(down["score"].alias("s")).head()["s"]
    # 3 grams, all-positive weights: sigmoid(0.5) / sigmoid(-0.5)
    assert r_up == round(1 / (1 + math.exp(-0.5)), 6)
    assert r_down == round(1 / (1 + math.exp(0.5)), 6)


def test_quality_model_xxhash_path(spark):
    from pyppeteer_scraper_spark.functions.classifier import (
        quality_model_score,
    )

    df = spark.createDataFrame(
        [(1, "The quick brown fox jumps over the lazy dog."), (2, "")],
        "i int, text string",
    )
    fast = quality_model_score(F.col("text"), hash_fn="xxhash64")
    slow = quality_model_score(F.col("text"), hash_fn="md5")
    rows = {
        r["i"]: r
        for r in df.select(
            "i",
            fast["n_grams"].alias("nf"),
            slow["n_grams"].alias("ns"),
            fast["score"].alias("sf"),
        ).collect()
    }
    # same featurization (gram counts identical), valid score range
    assert rows[1]["nf"] == rows[1]["ns"] == 17
    assert 0.0 < rows[1]["sf"] < 1.0
    assert rows[2]["sf"] == 0.5  # empty text

    import pytest as _pytest

    with _pytest.raises(ValueError):
        quality_model_score(F.col("text"), hash_fn="sha1")


def test_quality_model_scored_equals_column_form(spark):
    """The staged DataFrame form must return exactly the Column form's
    rows — exceptAll both ways — including empty, null, punctuation-only
    and 1-token texts."""
    from pyppeteer_scraper_spark.functions.classifier import (
        quality_model_score,
        quality_model_scored,
    )

    texts = [
        "The quick brown fox jumps over the lazy dog.",
        "spark spark spark",
        "",
        None,
        "  ...!!!  ",
        "word",
        "Mixed CASE, punct -- and   runs\tof\nspace",
    ]
    docs = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    cols = quality_model_score(F.col("text"))
    column_form = docs.select(
        "doc_id",
        cols["n_grams"].alias("n_grams"),
        cols["score_raw"].alias("score_raw"),
        cols["score"].alias("score"),
    )
    staged = quality_model_scored(docs, carry=("doc_id",))
    assert staged.columns == column_form.columns
    assert staged.exceptAll(column_form).count() == 0
    assert column_form.exceptAll(staged).count() == 0
    assert staged.count() == len(texts)


def test_quality_model_scored_rejects_clashing_carry(spark):
    import pytest as _pytest

    from pyppeteer_scraper_spark.functions.classifier import (
        quality_model_scored,
    )

    docs = spark.createDataFrame([(1, "a b", 0.5)], "doc_id long, text string, score double")
    for name in ("__toks", "__grams", "n_grams", "score_raw", "score"):
        with _pytest.raises(ValueError, match=name):
            quality_model_scored(docs, carry=("doc_id", name))
    # a disjoint carry is accepted
    assert quality_model_scored(docs, carry=("doc_id", "text")).count() == 1


def test_nfc_normalize_udf(spark):
    from pyppeteer_scraper_spark.functions.text import nfc_normalize_udf

    rows = [
        (1, "café"),          # decomposed -> composed
        (2, "café"),           # already NFC: unchanged
        (3, None),                  # null passthrough
        (4, "Ångström"),
    ]
    df = spark.createDataFrame(rows, "i int, t string")
    got = {
        r["i"]: r["n"]
        for r in df.select(
            "i", nfc_normalize_udf("t").alias("n")
        ).collect()
    }
    assert got[1] == got[2] == "café"
    assert got[3] is None
    assert got[4] == "Ångström"
    # idempotent: normalizing the output changes nothing
    df2 = spark.createDataFrame([(got[4],)], "t string")
    assert (
        df2.select(nfc_normalize_udf("t").alias("n")).head()["n"] == got[4]
    )
