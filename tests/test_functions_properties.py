"""Property-based tests (hypothesis) for the pure column-function
building blocks, evaluated through Spark on literal one-row frames
and cross-checked against Python reference implementations."""

import string

from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from agnes_spark.functions import pack_bits, word_shingles

WORDS = st.lists(
    st.text(alphabet=string.ascii_lowercase, min_size=1, max_size=6),
    min_size=0,
    max_size=12,
)


def _ref_shingles(toks, n=3):
    if len(toks) < n:
        return []
    return list(dict.fromkeys(" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)))


@settings(max_examples=20, deadline=None)
@given(WORDS)
def test_word_shingles_matches_reference(spark, words):
    text = " ".join(words)
    df = spark.range(1).select(F.lit(text).alias("t"))
    got = df.select(word_shingles(F.col("t"), 3).alias("s")).collect()[0].s
    assert got == _ref_shingles(words)


@settings(max_examples=20, deadline=None)
@given(st.lists(st.integers(min_value=0, max_value=1), min_size=1, max_size=32))
def test_pack_bits_matches_int_parse(spark, bits):
    df = spark.range(1).select(F.array(*[F.lit(b) for b in bits]).alias("b"))
    got = df.select(pack_bits(F.col("b")).alias("v")).collect()[0].v
    assert got == int("".join(map(str, bits)), 2)


@settings(max_examples=15, deadline=None)
@given(texts=st.lists(st.text(alphabet="ab cd", min_size=0, max_size=40), min_size=1, max_size=8))
def test_hashed_shingles_udf_sizes_match_expression(spark, texts):
    """Int64-hashed shingles (blake2b UDF) carry the same SET SIZE as
    the string shingle expression — collision-free at property scale,
    so jaccard computed on hashes == jaccard on strings."""
    from agnes_spark.functions import hashed_shingles_udf

    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], "id long, t string")
    got = {
        r.id: r.n
        for r in df.select("id", F.size(hashed_shingles_udf(3)(F.col("t"))).alias("n")).collect()
    }
    expect = {
        r.id: r.n for r in df.select("id", F.size(word_shingles(F.col("t"), 3)).alias("n")).collect()
    }
    assert got == expect


@settings(max_examples=15, deadline=None)
@given(
    st.lists(
        st.tuples(st.integers(0, 50), st.floats(1.0, 20.0)),
        min_size=1,
        max_size=20,
        unique_by=lambda t: t[0],
    ),
    st.floats(0.0, 200.0),
)
def test_sample_to_budget_weight_invariant(spark, rows, budget):
    """Property: selected weight sum < budget + max selected weight
    (overshoot bounded by one row), and selection is a prefix of the
    stratum's Knuth-hash rank order (removing the selected rows and
    re-running on the remainder selects nothing when budget is 0)."""
    from agnes_spark.operators.sampling import sample_to_budget
    from agnes_spark.sources.memory import table

    df = table(
        spark,
        {
            "id": [r[0] for r in rows],
            "src": ["s"] * len(rows),
            "w": [r[1] for r in rows],
        },
        types={"id": "bigint", "src": "string", "w": "double"},
    )
    got = sample_to_budget(df, "src", "id", "w", budget=budget, seed=3).collect()
    wsum = sum(r.w for r in got)
    if got:
        assert wsum - max(r.w for r in got) < budget
    else:
        # the first-ranked row is taken whenever budget > 0
        assert budget == 0.0


@settings(max_examples=10, deadline=None)
@given(
    st.lists(st.integers(min_value=-(2**62), max_value=2**62), min_size=1, max_size=40, unique=True),
    st.sampled_from([256, 1024, 4096]),
    st.integers(min_value=1, max_value=6),
)
def test_bloom_never_false_negative_property(spark, keys, num_bits, num_hashes):
    """For ANY key set and sizing, every inserted key passes its own
    filter's probe — the Bloom correctness invariant the semi-join's
    exactness rests on (false positives are fine, false negatives
    would silently drop matching fact rows)."""
    from agnes_spark.operators.bloomjoin import bloom_might_contain, build_bloom

    dim = spark.createDataFrame([(k,) for k in keys], "k long")
    words = build_bloom(dim, "k", num_bits=num_bits, num_hashes=num_hashes)
    missed = dim.filter(~bloom_might_contain(F.col("k"), words, num_bits, num_hashes)).count()
    assert missed == 0


@settings(max_examples=30, deadline=None)
@given(st.integers(min_value=1, max_value=10**8), st.floats(min_value=1e-4, max_value=0.2))
def test_size_bloom_properties(spark, n, p):
    """Sizing invariants: word-aligned, at least ~bits-per-key for the
    target rate, k >= 1, and monotone in n."""
    import math

    from agnes_spark.operators.bloomjoin import size_bloom

    m, k = size_bloom(n, p)
    assert m % 64 == 0 and k >= 1
    # standard bound: m >= -n ln p / ln2^2 (up to word rounding)
    assert m + 64 >= -n * math.log(p) / (math.log(2) ** 2)
    m2, _ = size_bloom(2 * n, p)
    assert m2 >= m
