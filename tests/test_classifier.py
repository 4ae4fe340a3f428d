"""Hashed linear classifier inference (functions/text):
feature-stream shape, integer-exact scoring, verdict-on-integer
contract, and the zero-shuffle plan promise."""

from __future__ import annotations

import re

from pyspark.sql import functions as F

from data_warehouse_migration_spark.functions.text import (
    hashed_linear_score_mili,
    hashed_ngram_features,
)


def test_feature_stream_unigrams_plus_bigrams(spark):
    df = spark.createDataFrame(
        [(1, "The  quick fox"), (2, "word"), (3, ""), (4, "  ")],
        "id int, text string",
    )
    rows = {
        r.id: r.f
        for r in df.select(
            "id", hashed_ngram_features(F.col("text")).alias("f")
        ).collect()
    }
    # normalization lowercases + collapses whitespace; bigrams join '_'
    assert rows[1] == ["the", "quick", "fox", "the_quick", "quick_fox"]
    assert rows[2] == ["word"]  # single token: no bigrams
    assert rows[3] == [] and rows[4] == []  # empty/blank: empty stream


def test_score_is_additive_over_feature_occurrences(spark):
    # score("a b") counts features {a, b, a_b}; repeating the text adds
    # the repeated features' weights again (occurrences, not distinct)
    df = spark.createDataFrame(
        [(1, "alpha beta"), (2, "alpha beta alpha beta")], "id int, text string"
    )
    s = {
        r.id: r.s
        for r in df.select(
            "id", hashed_linear_score_mili(F.col("text")).alias("s")
        ).collect()
    }
    # doc2 = features of doc1 + {a_b again, b_a, a, b} — recompute directly
    f1 = ["alpha", "beta", "alpha_beta"]
    f2 = ["alpha", "beta", "alpha", "beta", "alpha_beta", "beta_alpha", "alpha_beta"]
    one = spark.range(1)

    from data_warehouse_migration_spark.operators.sketches import hash_mod

    def _weight(tok):
        bucket = hash_mod(tok, 0, 4096)
        return hash_mod(bucket.cast("string"), 9, 2001) - 1000

    def manual(feats):
        return one.select(
            F.aggregate(
                F.transform(F.array(*[F.lit(x) for x in feats]), _weight),
                F.lit(0).cast("long"),
                lambda a, x: a + x,
            ).alias("s")
        ).collect()[0].s

    assert s[1] == manual(f1)
    assert s[2] == manual(f2)


def test_keep_verdict_rides_on_integer_score(spark):
    from data_warehouse_migration_spark.catalog import REGISTRY

    df = REGISTRY["quality_classifier_scores"].spark_fn(
        spark, "/root/testdata/sf0.001"
    )
    bad = df.filter(
        ((F.col("score_mili") >= 0) & (F.col("keep") != 1))
        | ((F.col("score_mili") < 0) & (F.col("keep") != 0))
        | ((F.col("prob") >= 0.5) != (F.col("keep") == 1))
    ).count()
    assert bad == 0


def test_classifier_plan_has_no_keyed_exchange(spark):
    """Scoring is row-local: the only exchange allowed is the
    round-robin widen of the narrow fixture scan (the WIDEN_ONLY
    contract in tests/test_plan_guards.py), never a hash or range
    shuffle an operator keys on."""
    from data_warehouse_migration_spark.catalog import REGISTRY

    df = REGISTRY["quality_classifier_scores"].spark_fn(
        spark, "/root/testdata/sf0.001"
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    kinds = set(re.findall(r"\bExchange (\w+)", plan))
    assert kinds <= {"RoundRobinPartitioning"}, plan


# --- Hypothesis properties -------------------------------------------------

from hypothesis import HealthCheck, given, settings  # noqa: E402
from hypothesis import strategies as st  # noqa: E402

_token = st.text(alphabet="abcz019", min_size=1, max_size=4)


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
@given(toks=st.lists(_token, min_size=0, max_size=8))
def test_feature_stream_matches_enumeration(spark, toks):
    """hashed_ngram_features == the by-hand unigram+bigram enumeration
    for arbitrary token lists (fastText wordNgrams=2 contract):
    2n−1 features for n ≥ 1 tokens, empty stream for empty docs."""
    text = " ".join(toks)
    df = spark.createDataFrame([(text,)], "text string")
    got = df.select(hashed_ngram_features(F.col("text")).alias("f")).collect()[0].f
    expected = toks + [f"{a}_{b}" for a, b in zip(toks, toks[1:])]
    assert got == expected
    assert len(got) == (2 * len(toks) - 1 if toks else 0)


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
@given(toks=st.lists(_token, min_size=1, max_size=6))
def test_score_matches_per_feature_weight_sum(spark, toks):
    """The document score equals the independent per-feature weight
    sum — additivity over occurrences, the linear-model contract the
    trained-weight swap relies on."""
    from data_warehouse_migration_spark.operators.sketches import hash_mod

    text = " ".join(toks)
    df = spark.createDataFrame([(text,)], "text string")
    got = df.select(
        hashed_linear_score_mili(F.col("text")).alias("s")
    ).collect()[0].s
    feats = toks + [f"{a}_{b}" for a, b in zip(toks, toks[1:])]
    per = (
        spark.createDataFrame([(f,) for f in feats], "tok string")
        .select(
            (
                hash_mod(
                    hash_mod(F.col("tok"), 0, 4096).cast("string"), 9, 2001
                )
                - 1000
            ).alias("w")
        )
        .groupBy()
        .sum("w")
        .collect()[0][0]
    )
    assert got == per
