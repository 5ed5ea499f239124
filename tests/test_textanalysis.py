"""Text-analysis operator tests with deterministic fixtures."""

from agnes_spark.operators.textanalysis import (
    doc_fingerprint,
    lang_id,
    quality_score,
    token_count,
)
from agnes_spark.sources.memory import table


def _doc(spark, text):
    return table(spark, {"doc_id": [1], "text": [text]}, types={"doc_id": "bigint", "text": "string"})


def test_lang_id_picks_profile(spark):
    df = table(
        spark,
        {
            "doc_id": [1, 2, 3],
            "text": [
                "the cat is on the mat and it is happy",
                "der hund ist nicht mit der katze",
                "zzz qqq www",
            ],
        },
        types={"doc_id": "bigint", "text": "string"},
    )
    out = {r.doc_id: r.pred_lang for r in lang_id(df).collect()}
    assert out == {1: "en", 2: "de", 3: "und"}


def test_token_count(spark):
    out = token_count(_doc(spark, "Hello, world! 42 times")).collect()[0]
    assert out.ws_tokens == 4
    # Hello , world ! 4 2 times -> letter-runs: Hello, world, times;
    # digits: 4, 2; punct: , !
    assert out.bpe_ish_tokens == 7


def test_quality_score_bounds_and_repetition(spark):
    good = quality_score(
        _doc(spark, "the quick brown fox jumps over a lazy dog and it is fine for all")
    ).collect()[0]
    repetitive = quality_score(
        _doc(spark, " ".join(["spam"] * 50))
    ).collect()[0]
    assert 0.0 <= repetitive.quality < good.quality <= 1.0
    assert repetitive.distinct_ratio < 0.1


def test_doc_fingerprint_normalizes_whitespace_and_case(spark):
    a = doc_fingerprint(_doc(spark, "Hello   World")).collect()[0].fingerprint
    b = doc_fingerprint(_doc(spark, "  hello world ")).collect()[0].fingerprint
    c = doc_fingerprint(_doc(spark, "hello worlds")).collect()[0].fingerprint
    assert a == b
    assert a != c


def test_winnow_shared_substring_shares_fingerprints(spark):
    from agnes_spark.operators.textanalysis import winnow_fingerprints
    from agnes_spark.sources.memory import table

    shared = "the quick brown fox jumps over the lazy dog again and again"
    docs = table(
        spark,
        {
            "doc_id": [1, 2, 3],
            "text": [
                "PREFIX one " + shared + " SUFFIX alpha",
                "PREFIX two " + shared + " SUFFIX beta",
                "totally different content with no overlap at all here",
            ],
        },
        types={"doc_id": "long", "text": "string"},
    )
    out = {r.doc_id: set(r.fingerprints) for r in
           winnow_fingerprints(docs, "text", k=8, w=4).collect()}
    # winnowing guarantee: a shared substring of length >= k+w-1
    # yields shared fingerprints
    assert out[1] & out[2]
    # unrelated docs share (essentially) nothing
    assert not (out[1] & out[3])


def test_winnow_identical_docs_identical_fingerprints(spark):
    from agnes_spark.operators.textanalysis import winnow_fingerprints
    from agnes_spark.sources.memory import table

    docs = table(
        spark,
        {"doc_id": [1, 2], "text": ["some normalized    Text here"] * 2},
        types={"doc_id": "long", "text": "string"},
    )
    out = [r.fingerprints for r in winnow_fingerprints(docs, "text").collect()]
    assert out[0] == out[1] and len(out[0]) > 0


def test_tfidf_top_terms(spark):
    from agnes_spark.operators.textanalysis import tfidf_top_terms

    docs = table(
        spark,
        {
            "doc_id": [1, 2, 3],
            "text": ["apple apple banana", "banana cherry", "cherry cherry cherry date"],
        },
        types={"doc_id": "long", "text": "string"},
    )
    out = tfidf_top_terms(docs, "doc_id", "text", k=2).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r.doc_id, []).append((r.rank, r.term))
    # doc 1: apple tf=2 df=1 beats banana tf=1 df=2
    assert by_doc[1] == [(1, "apple"), (2, "banana")]
    # doc 3: cherry tf=3 wins over date tf=1 df=1
    assert by_doc[3][0][1] == "cherry"
    # every score positive, ranks contiguous per doc
    assert all(r.tfidf > 0 for r in out)


def test_repetition_metrics(spark):
    from agnes_spark.operators.textanalysis import repetition_metrics

    df = spark.createDataFrame(
        [
            (1, "a b a b a b"),      # 6 words, 2 distinct; bigrams: "a b"x3, "b a"x2
            (2, "w x y z"),          # all distinct; 3 distinct bigrams
            (3, "solo"),             # 1 word -> no bigrams
            (4, ""),                 # empty
        ],
        "id long, text string",
    )
    rows = {r.id: r for r in repetition_metrics(df, "id", "text").collect()}
    assert rows[1].n_words == 6
    assert abs(rows[1].dup_word_frac - (1 - 2 / 6)) < 1e-6
    assert abs(rows[1].top_bigram_frac - 3 / 5) < 1e-6
    assert rows[2].dup_word_frac == 0.0
    assert abs(rows[2].top_bigram_frac - 1 / 3) < 1e-6
    assert rows[3].n_words == 1 and rows[3].top_bigram_frac == 0.0
    assert rows[4].n_words == 0 and rows[4].dup_word_frac == 0.0


def test_lm_surprise(spark):
    """Hand-checked add-one-smoothed bigram surprise on a 2-doc corpus."""
    import math

    from agnes_spark.operators.textanalysis import lm_surprise

    df = spark.createDataFrame(
        [(1, "a b a b"), (2, "a b c")], "id long, text string"
    )
    # corpus: unigrams a:3 b:3 c:1 (V=3); bigrams: (a,b):3, (b,a):1, (b,c):1
    rows = {r.id: r for r in lm_surprise(df, "id", "text").collect()}
    s_ab = -math.log((3 + 1) / (3 + 3))   # c_bg=3, c_ug(a)=3, V=3
    s_ba = -math.log((1 + 1) / (3 + 3))
    s_bc = -math.log((1 + 1) / (3 + 3))
    assert rows[1].n_bigrams == 3
    assert abs(rows[1].avg_surprise - round((2 * s_ab + s_ba) / 3, 6)) < 1e-9
    assert rows[2].n_bigrams == 2
    assert abs(rows[2].max_surprise - round(max(s_ab, s_bc), 6)) < 1e-9


def test_interdoc_repetition_flags_shared_boilerplate(spark):
    from agnes_spark.operators.textanalysis import interdoc_repetition
    from agnes_spark.sources.memory import table

    boiler = "the quick brown fox jumps"
    df = table(
        spark,
        {
            "doc_id": [1, 2, 3, 4],
            "text": [
                boiler + " alpha beta gamma delta epsilon",
                boiler + " zeta eta theta iota kappa",
                "one two three four five six seven eight nine",
                "tiny",  # shorter than n -> 0 shingles
            ],
        },
        types={"doc_id": "bigint", "text": "string"},
    )
    out = {r.doc_id: r for r in interdoc_repetition(df, "doc_id", "text", n=5, min_docs=2).collect()}
    assert set(out) == {1, 2, 3, 4}
    # docs 1 and 2 share exactly the one boilerplate 5-gram
    assert out[1].dup_shingles == 1 and out[2].dup_shingles == 1
    assert out[1].n_shingles == 6 and out[3].dup_shingles == 0
    assert out[4].n_shingles == 0 and out[4].dup_shingle_frac == 0.0


def test_winnow_overlap_pairs_finds_planted_passage(spark):
    """Two documents sharing a long copied passage inside otherwise
    different text form a pair; unrelated docs do not. shared_fp is
    bounded by each side's fingerprint total."""
    from agnes_spark.operators.textanalysis import winnow_overlap_pairs
    from agnes_spark.sources.memory import table

    passage = "the winnowing algorithm guarantees shared fingerprints for long matches"
    df = table(
        spark,
        {
            "doc_id": [1, 2, 3],
            "text": [
                "alpha beta gamma " + passage + " delta epsilon",
                "zeta eta theta " + passage + " iota kappa lambda",
                "completely different content with no overlap at all whatsoever here",
            ],
        },
        types={"doc_id": "bigint", "text": "string"},
    )
    out = winnow_overlap_pairs(df, "doc_id", "text", k=8, w=4, min_shared=2).collect()
    pairs = {(r.a_id, r.b_id) for r in out}
    assert (1, 2) in pairs
    assert all(3 not in p for p in pairs)
    for r in out:
        assert r.shared_fp <= min(r.a_fp, r.b_fp)


def test_quality_gate_rational_matches_float_operator(spark, sf_dir):
    """The gate's exact-integer rational (quality_num/quality_den)
    must equal the float-API operator's unrounded score to double
    precision — guards the two formula copies against drift."""
    import __spark_entry__ as entry
    from pyspark.sql import functions as F

    from agnes_spark.operators.textanalysis import quality_score

    gate = entry.quality_score(spark, sf_dir)
    op = quality_score(
        spark.read.parquet(f"{sf_dir}/documents.parquet"), "text"
    ).select("doc_id", "quality")
    joined = gate.join(op, "doc_id").withColumn(
        "diff",
        F.abs(F.col("quality_num") / F.col("quality_den") - F.col("quality")),
    )
    # operator rounds to 4 decimals, so agreement is to 5e-5
    assert joined.filter(F.col("diff") > 5e-5).count() == 0
    assert joined.count() > 0


def test_pmi_collocations_ranks_exclusive_pair_first(spark):
    from agnes_spark.operators.textanalysis import pmi_collocations

    # "tick tock" always co-occur exclusively; "end"/"cat" also occur
    # outside "the _", so PMI(tick,tock) > PMI(the,end)
    docs = table(
        spark,
        {
            "doc_id": list(range(7)),
            "text": [
                "tick tock the end",
                "tick tock the cat",
                "tick tock the end",
                "tick tock the cat",
                "tick tock the end",
                "tick tock the cat",
                "end cat end cat end cat",
            ],
        },
        types={"doc_id": "bigint", "text": "string"},
    )
    got = pmi_collocations(docs, "text", min_count=3, k=10).collect()
    assert got[0].w1 == "tick" and got[0].w2 == "tock"
    assert got[0].c_bg == 6
    pmis = {(r.w1, r.w2): r.pmi for r in got}
    assert pmis[("tick", "tock")] > pmis[("the", "end")]


def test_ngram_novelty_duplicate_doc_scores_zero(spark):
    from agnes_spark.operators.textanalysis import ngram_novelty

    docs = table(
        spark,
        {
            "doc_id": [1, 2, 3],
            "text": [
                "a b c d e",
                "a b c d e",          # exact dup of doc 1 -> novelty 0
                "x y z w v",          # all-new shingles -> novelty 1
            ],
        },
        types={"doc_id": "bigint", "text": "string"},
    )
    got = {r.doc_id: r for r in ngram_novelty(docs, "doc_id", "text", n=3).collect()}
    assert got[1].novelty == 1.0
    assert got[2].novelty == 0.0 and got[2].n_grams == 3
    assert got[3].novelty == 1.0


def test_char_entropy_known_distributions(spark):
    import math

    from agnes_spark.operators.textanalysis import char_entropy

    df = spark.createDataFrame(
        [(1, "aaaa"), (2, "abab"), (3, "abcd")], "doc_id long, text string"
    )
    out = {r.doc_id: r for r in char_entropy(df, "doc_id", "text").collect()}
    assert out[1].n_chars == 4 and abs(out[1].entropy_nats) < 1e-15
    assert abs(out[2].entropy_nats - math.log(2)) < 1e-12
    assert abs(out[3].entropy_nats - math.log(4)) < 1e-12


def test_repeat_winnow_overlap_pairs_runs_the_udf_once(spark, sf_dir, persistent_rdds):
    """A second call over the same input is a lazy plan of its own: it
    persists nothing, evaluates the winnow UDF on one plan branch and
    gives the first call's rows."""
    from agnes_spark.operators.textanalysis import winnow_overlap_pairs

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    before = persistent_rdds()
    first = winnow_overlap_pairs(docs, "doc_id", "text", k=20, w=8, min_shared=3)
    second = winnow_overlap_pairs(docs, "doc_id", "text", k=20, w=8, min_shared=3)
    plan = second._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("ArrowEvalPython") == 1
    assert "InMemoryRelation" not in plan
    assert sorted(first.collect()) == sorted(second.collect())
    assert persistent_rdds() - before == set()
