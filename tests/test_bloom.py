"""Behavioral tests for Bloom-prefiltered joins: exactness against the
plain joins, actual pruning power, and both exact-join regimes."""

from __future__ import annotations

import json

import pytest

from cosmos_xenna_spark.operators.bloom import (
    MAX_AUTO_BITS,
    auto_num_bits,
    bloom_anti_join,
    bloom_semi_join,
    build_bloom_words,
    build_sized_bloom,
    fold_bloom_words,
    suggest_num_bits,
)


@pytest.fixture(scope="module")
def big(spark):
    return spark.range(0, 5000).selectExpr("id", "cast(id % 7 as string) tag")


@pytest.fixture(scope="module")
def keys(spark):
    # 100 sparse keys out of 5000
    return spark.range(0, 5000).filter("id % 50 = 0").select("id")


def _ids(df):
    return sorted(r["id"] for r in df.collect())


def test_semi_join_exact(spark, big, keys):
    expect = _ids(big.join(keys, "id", "leftsemi"))
    assert _ids(bloom_semi_join(big, keys, "id")) == expect
    assert len(expect) == 100


def test_anti_join_exact(spark, big, keys):
    expect = _ids(big.join(keys, "id", "leftanti"))
    assert _ids(bloom_anti_join(big, keys, "id")) == expect
    assert len(expect) == 4900


def test_shuffled_exact_join_regime(spark, big, keys):
    """broadcast_exact=False (key side too big to broadcast raw) must
    produce identical results."""
    assert _ids(bloom_semi_join(big, keys, "id", broadcast_exact=False)) == _ids(
        bloom_semi_join(big, keys, "id")
    )
    assert _ids(bloom_anti_join(big, keys, "id", broadcast_exact=False)) == _ids(
        bloom_anti_join(big, keys, "id")
    )


def test_bloom_actually_prunes(spark, big, keys):
    """The bitset must rule out the vast majority of non-members —
    otherwise the prefilter is dead weight at 100 TB."""
    from cosmos_xenna_spark.operators.bloom import _might_contain

    num_bits = suggest_num_bits(100, fp_rate=0.01)
    words = build_bloom_words(keys, "id", num_bits, 5)
    survivors = big.filter(_might_contain("id", words, num_bits, 5)).count()
    # 100 true members + ~1% fp of 4900 non-members; allow generous slack
    assert survivors < 100 + 0.05 * 4900


def test_duplicate_keys_and_strings(spark):
    big = spark.createDataFrame([(t,) for t in "abcdefg"], "k string")
    keys = spark.createDataFrame([("b",), ("b",), ("e",)], "k string")
    assert sorted(r["k"] for r in bloom_semi_join(big, keys, "k").collect()) == ["b", "e"]
    assert sorted(r["k"] for r in bloom_anti_join(big, keys, "k").collect()) == [
        "a", "c", "d", "f", "g",
    ]


def test_build_rejects_bad_bits(spark, keys):
    with pytest.raises(ValueError, match="multiple of 64"):
        build_bloom_words(keys, "id", 100, 5)


def test_suggest_num_bits():
    m = suggest_num_bits(1_000_000, fp_rate=0.01)
    assert m % 64 == 0
    # ~9.59 bits/key at 1% fp
    assert 9_000_000 < m < 10_500_000


def _plan_nodes(plan_json: str) -> list[dict]:
    """Every plan and expression node of a Catalyst ``toJSON`` dump, in
    pre-order (an expression's first child directly follows it)."""

    def walk(v):
        if isinstance(v, dict):
            if "class" in v:
                yield v
            for x in v.values():
                yield from walk(x)
        elif isinstance(v, list):
            for x in v:
                yield from walk(x)

    return list(walk(json.loads(plan_json)))


def test_bitset_is_one_literal_per_probe_site(spark, big, keys):
    """A 2048-word bitset must enter the plan as one literal per probe
    site, not as a per-word ``CreateArray`` that Catalyst analyses and
    optimises node by node on every action."""
    num_bits, num_hashes = 1 << 17, 5
    df = bloom_anti_join(big, keys, "id", num_bits=num_bits, num_hashes=num_hashes)
    qe = df._jdf.queryExecution()
    analyzed = _plan_nodes(qe.analyzed().toJSON())
    assert not any(n["class"].endswith(".CreateArray") for n in analyzed)
    assert len(analyzed) < num_bits // 64, "plan size must not grow with the bitset"
    optimized = _plan_nodes(qe.optimizedPlan().toJSON())
    sites = [i for i, n in enumerate(optimized) if n["class"].endswith(".ElementAt")]
    # both anti-join branches probe every hash position
    assert len(sites) >= 2 * num_hashes
    for i in sites:
        bitset = optimized[i + 1]
        assert bitset["class"].endswith(".Literal"), bitset["class"]
        assert len(json.loads(bitset["value"])) == num_bits // 64


@pytest.mark.parametrize("key_type", ["bigint", "string"])
def test_default_sizing_is_exact(spark, key_type):
    """The auto-sized bitset (built at MAX_AUTO_BITS, then folded) is
    bit-identical to a direct build at the final size, and results stay
    exact when every bit collides (64 bits)."""
    keys = spark.range(0, 3000).selectExpr(f"cast(id % 700 as {key_type}) k")
    words, num_bits = build_sized_bloom(keys, "k", 5)
    assert num_bits == auto_num_bits(3000) < MAX_AUTO_BITS
    assert words == build_bloom_words(keys, "k", num_bits, 5)

    big = spark.range(0, 2000).selectExpr(f"cast(id as {key_type}) k")
    for bloom, how in ((bloom_semi_join, "leftsemi"), (bloom_anti_join, "leftanti")):
        expect = sorted(r["k"] for r in big.join(keys, "k", how).collect())
        assert sorted(r["k"] for r in bloom(big, keys, "k", num_bits=64).collect()) == expect
        assert sorted(r["k"] for r in bloom(big, keys, "k").collect()) == expect


def test_auto_num_bits():
    assert auto_num_bits(0) == 64
    # 294 keys (sf0.1 decontamination): 2880 suggested -> 4096
    assert auto_num_bits(294) == 4096
    assert auto_num_bits(10**9) == MAX_AUTO_BITS


def test_fold_ors_word_blocks():
    assert fold_bloom_words([1, 2, 4, 8], 128) == [1 | 4, 2 | 8]
    assert fold_bloom_words([-1, 0], 64) == [-1]
    with pytest.raises(ValueError):
        fold_bloom_words([0, 0, 0, 0], 192)
