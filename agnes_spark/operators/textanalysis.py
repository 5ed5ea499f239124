"""Text analysis for LLM-data pipelines: language ID, quality scoring,
token counting, document fingerprinting.

Everything is pure Column expressions (whole-stage codegen; zero
Python in the hot path) — at 100 TB these run at parquet-scan speed.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from agnes_spark.functions import unordered_pairs, ws_tokens

# Stopword profiles for the n-gram/stopword language-ID heuristic.
# Deliberately small: membership of high-frequency function words is
# the classic cheap LID signal; ties break alphabetically.
STOPWORDS = {
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein", "mit", "von", "zu"],
    "en": ["the", "a", "of", "and", "is", "to", "in", "that", "it", "for"],
    "es": ["el", "la", "de", "que", "y", "en", "un", "es", "por", "con"],
    "fr": ["le", "la", "de", "et", "est", "un", "une", "dans", "que", "pour"],
}

_BPE_ISH = r"[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]"


def _hits(toks: Column, words: list[str]) -> Column:
    arr = F.array(*[F.lit(w) for w in words])
    return F.size(F.filter(toks, lambda t: F.array_contains(arr, F.lower(t))))


def lang_id(df: DataFrame, text_col: str = "text", out_col: str = "pred_lang") -> DataFrame:
    """Stopword-profile language ID. Adds per-language hit counts and
    an argmax prediction (alphabetical tie-break, 'und' = undetermined
    when no profile hits)."""
    toks = ws_tokens(F.col(text_col))
    out = df
    for lang in sorted(STOPWORDS):
        out = out.withColumn(f"hits_{lang}", _hits(toks, STOPWORDS[lang]))
    best = F.greatest(*[F.col(f"hits_{lang}") for lang in sorted(STOPWORDS)])
    pred = F.when(best == 0, F.lit("und"))
    for lang in sorted(STOPWORDS):  # alphabetical => first max wins
        pred = pred.when(F.col(f"hits_{lang}") == best, F.lit(lang))
    return out.withColumn(out_col, pred)


# Character-trigram profile corpora (textcat-style): the ~50 highest-
# frequency function words per language — public linguistic knowledge,
# the classic Cavnar–Trenkle n-gram category profile seed. Covers the
# long-tail languages the 4 stopword profiles miss (it/pt/nl) and is
# far more robust on short or stopword-poor text: trigrams see
# morphology ('ung ', ' der', 'ção ', 'ijk '), not just whole words.
TRIGRAM_CORPORA = {
    "de": "der die und in den von zu das mit sich des auf für ist im "
    "dem nicht ein eine als auch es an werden aus er hat dass sie nach "
    "wird bei einer um am sind noch wie einem über einen so zum war "
    "haben nur oder aber vor zur bis mehr durch man sein wurde",
    "en": "the of and to in is was he for it with as his on be at by i "
    "this had not are but from or have an they which one you were her "
    "all she there would their we him been has when who will more no "
    "if out so said what up its about into than them can only other",
    "es": "de la que el en y a los se del las un por con no una su "
    "para es al lo como más pero sus le ya o este sí porque esta entre "
    "cuando muy sin sobre también me hasta hay donde quien desde todo "
    "nos durante todos uno les ni contra otros ese eso ante ellos",
    "fr": "de la le et les des en un du une que est pour qui dans a "
    "par plus pas au sur ne se ce il sont mais comme ou si leur y ont "
    "ces été elle aux avec son ses cette je vous nous dont où fait "
    "peut sous tout ses deux même notre bien où encore aussi",
    "it": "di e il la che a in un per è una sono con non si da come lo "
    "i ma le gli al dei nel alla più o anche questo della questa "
    "quella questi essere ha hanno era nella sul cosa due già fatto "
    "dove perché quando stato essere molto senza dopo",
    "nl": "de van het een en in is dat op te zijn met voor niet aan er "
    "om ook als dan maar bij of uit naar door over ze nog worden wordt "
    "heeft hebben werd deze onder tussen tegen na want hun nu al veel "
    "meer geen tot zich hij daar zo mijn kunnen wel",
    "pt": "de a o que e do da em um para é com não uma os no se na por "
    "mais as dos como mas foi ao ele das tem à seu sua ou ser quando "
    "muito há nos já está eu também só pelo pela até isso ela entre "
    "era depois sem mesmo aos ter seus quem nas me esse",
}


def trigram_profile(corpus: str, k: int) -> list[tuple[str, int]]:
    """Rank the top-k character trigrams of a normalized corpus:
    lowercase, non-letters collapsed to single spaces, padded with one
    space each side (so word boundaries are part of the signal). Rank
    order: count desc, trigram asc — fully deterministic. Pure Python
    over a literal constant; runs once at plan-build time."""
    import re

    s = " " + re.sub(r"[^\w]+|[\d_]+", " ", corpus.lower()).strip() + " "
    s = re.sub(r" +", " ", s)
    counts: dict[str, int] = {}
    for i in range(len(s) - 2):
        tg = s[i : i + 3]
        counts[tg] = counts.get(tg, 0) + 1
    top = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))[:k]
    return [(tg, rank + 1) for rank, (tg, _) in enumerate(top)]


def lang_id_trigram(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    doc_top_k: int = 60,
    profile_k: int = 100,
    out_col: str = "pred_lang_tg",
) -> DataFrame:
    """Character-trigram language ID (Cavnar–Trenkle out-of-place
    distance): the doc's top-`doc_top_k` trigrams by frequency are
    compared against each language's top-`profile_k` profile; a
    matched trigram costs |doc_rank - profile_rank|, a miss costs
    `profile_k`; the language with the least total distance wins
    (ties to the alphabetically first; no trigrams at all -> 'und').

    Scale shape: the trigram explode is linear in text size with full
    map-side partial aggregation; the only per-doc shuffles key on the
    doc id (count + rank window); the profile table (7 langs x
    profile_k rows) is a broadcast join — nothing here grows with
    corpus size except the linear scan. Returns one row per input doc:
    (id, pred, best_distance, n_top).
    """
    profiles = {
        lang: trigram_profile(c, profile_k)
        for lang, c in TRIGRAM_CORPORA.items()
    }
    prof_df = df.sparkSession.createDataFrame(
        [(lang, tg, r) for lang, tgs in sorted(profiles.items()) for tg, r in tgs],
        "lang string, tg string, prank int",
    )
    from pyspark.sql import Window

    s_expr = F.concat(
        F.lit(" "),
        F.trim(
            F.regexp_replace(
                F.regexp_replace(F.lower(F.col(text_col)), r"[^\p{L}]+", " "),
                r" +",
                " ",
            )
        ),
        F.lit(" "),
    )
    s = F.col("__s")
    # sequence(1, n) DESCENDS when n < 1 — guard short/empty docs to an
    # empty trigram array instead
    tgs = F.when(
        F.length(s) >= 3,
        F.transform(
            F.sequence(F.lit(1), F.length(s) - 2), lambda i: s.substr(i, F.lit(3))
        ),
    ).otherwise(F.array().cast("array<string>"))
    # Two deliberate plan moves before the per-row trigram work:
    # (1) repartition first — a single-file (or few-split) source
    # otherwise runs the whole explode in ONE task (the r11
    # binary-minhash lesson), and HashPartitioning(id) then satisfies
    # the clustering of every downstream step (count agg, rank window,
    # n_top join), so the doc side pays exactly one shuffle of raw
    # rows; (2) materialize the normalized text as its OWN column —
    # inlined into transform(), the regex chain would re-run per array
    # ELEMENT (O(len) regex executions per doc). Measured at sf1.0
    # (50k docs, one source file): 405s naive -> 204s with (1) ->
    # 44s with (1)+(2). The multi-referenced non-cheap alias blocks
    # CollapseProject from undoing this.
    doc_tg = (
        df.select(F.col(id_col), F.col(text_col))
        .repartition(F.col(id_col))
        .select(F.col(id_col), s_expr.alias("__s"))
        .select(F.col(id_col), F.explode(tgs).alias("tg"))
        .groupBy(id_col, "tg")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    w = Window.partitionBy(id_col).orderBy(F.col("cnt").desc(), F.col("tg"))
    # n_top rides a COUNT WINDOW over the same doc-id partitioning the
    # rank window already established (no new exchange, no sort) —
    # aggregating it separately re-ran the whole explode+count+rank
    # subtree a second time and joined it back (two extra shuffles and
    # the duplicated trigram pass; the plan had the scan->Generate->
    # HashAggregate->Window chain TWICE).
    doc_top = (
        doc_tg.withColumn("doc_rank", F.row_number().over(w))
        .filter(F.col("doc_rank") <= doc_top_k)
        .withColumn(
            "n_top",
            F.count(F.lit(1))
            .over(Window.partitionBy(id_col))
            .cast("bigint"),
        )
    )
    # inner-join the profiles: a language matching NOTHING can never
    # beat a matched one (per-trigram match cost < profile_k miss
    # cost), so absent (doc, lang) pairs are safely unrepresented
    dist = (
        doc_top.join(F.broadcast(prof_df), "tg")
        .groupBy(id_col, "lang")
        .agg(
            F.count(F.lit(1)).alias("n_matched"),
            F.sum(F.abs(F.col("doc_rank") - F.col("prank"))).alias("sum_abs"),
            F.first("n_top").alias("n_top"),  # constant within the doc
        )
        .withColumn(
            "distance",
            (
                F.col("sum_abs")
                + (F.col("n_top") - F.col("n_matched")) * F.lit(profile_k)
            ).cast("bigint"),
        )
    )
    best = dist.groupBy(id_col).agg(
        F.min_by(
            F.col("lang"), F.struct(F.col("distance"), F.col("lang"))
        ).alias("__pred"),
        F.min("distance").alias("best_distance"),
        F.first("n_top").alias("n_top"),
    )
    return (
        df.select(F.col(id_col))
        .join(best, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce(F.col("__pred"), F.lit("und")).alias(out_col),
            F.col("best_distance"),
            F.coalesce(F.col("n_top"), F.lit(0)).cast("bigint").alias("n_top"),
        )
    )


def token_count(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Whitespace token count + BPE-ish subword proxy count
    (letter-runs, single digits, single punctuation — the classic
    pre-tokenizer shape)."""
    return df.withColumn(
        "ws_tokens", F.size(ws_tokens(F.col(text_col)))
    ).withColumn("bpe_ish_tokens", F.regexp_count(F.col(text_col), F.lit(_BPE_ISH)))


def quality_score(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Heuristic doc-quality features + combined score in [0,1]:
    length band, mean token length band, stopword presence,
    type-token ratio (repetition penalty), punctuation density.
    """
    toks = ws_tokens(F.col(text_col))
    n_tok = F.size(toks)
    n_chars = F.length(F.col(text_col))
    mean_tok_len = F.when(n_tok > 0, (n_chars - (n_tok - 1)) / n_tok).otherwise(F.lit(0.0))
    distinct_ratio = F.when(n_tok > 0, F.size(F.array_distinct(toks)) / n_tok).otherwise(F.lit(0.0))
    stop_arr = F.array(*[F.lit(w) for w in STOPWORDS["en"]])
    stop_ratio = F.when(
        n_tok > 0, F.size(F.filter(toks, lambda t: F.array_contains(stop_arr, F.lower(t)))) / n_tok
    ).otherwise(F.lit(0.0))
    punct_ratio = F.when(
        n_chars > 0, F.regexp_count(F.col(text_col), F.lit(r"[^A-Za-z0-9\s]")) / n_chars
    ).otherwise(F.lit(0.0))
    length_ok = F.when((n_tok >= 10) & (n_tok <= 10000), F.lit(1.0)).otherwise(F.lit(0.0))
    tok_len_ok = F.when((mean_tok_len >= 2.0) & (mean_tok_len <= 12.0), F.lit(1.0)).otherwise(F.lit(0.0))
    score = (
        F.lit(0.25) * length_ok
        + F.lit(0.2) * tok_len_ok
        + F.lit(0.2) * F.least(stop_ratio * 4, F.lit(1.0))
        + F.lit(0.25) * distinct_ratio
        + F.lit(0.1) * (1 - F.least(punct_ratio * 5, F.lit(1.0)))
    )
    return (
        df.withColumn("n_tokens", n_tok)
        .withColumn("mean_tok_len", F.round(mean_tok_len, 4))
        .withColumn("distinct_ratio", F.round(distinct_ratio, 4))
        .withColumn("stop_ratio", F.round(stop_ratio, 4))
        .withColumn("punct_ratio", F.round(punct_ratio, 4))
        .withColumn("quality", F.round(score, 4))
    )


def doc_fingerprint(df: DataFrame, text_col: str = "text", out_col: str = "fingerprint") -> DataFrame:
    """64-bit fingerprint of whitespace-normalized, lowercased text
    (xxhash64) — the cheap exact-dup key for cross-corpus joins."""
    norm = F.lower(F.regexp_replace(F.trim(F.col(text_col)), r"\s+", " "))
    return df.withColumn(out_col, F.xxhash64(norm))


def winnow_fingerprints(
    df: DataFrame,
    text_col: str = "text",
    k: int = 8,
    w: int = 4,
    out_col: str = "fingerprints",
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken,
    SIGMOD'03 — the MOSS algorithm): polynomial ROLLING hash over
    char k-grams of the normalized text, then the minimum hash of
    each window of `w` consecutive k-grams (rightmost tie-break),
    deduplicated. Guarantees any shared substring of length >= k+w-1
    contributes a shared fingerprint — substring-level overlap
    detection, where whole-doc hashing only catches exact dups.

    Vectorized Arrow kernel (per-doc numpy); the output array joins
    on explode(fingerprints) for cross-corpus overlap mining —
    8-byte keys only, same shuffle shape as the shingle pipelines.
    """
    B = np.uint64(1000003)

    @F.pandas_udf("array<long>")
    def _win(texts: pd.Series) -> pd.Series:
        def one(t):
            if t is None:
                return []
            norm = " ".join(t.lower().split())
            n = len(norm)
            if n < k:
                return []
            # one byte per char (lossy for non-latin text but stable;
            # fingerprints only need consistency, not reversibility)
            codes = np.frombuffer(
                norm.encode("latin-1", "replace"), dtype=np.uint8
            ).astype(np.uint64)
            # rolling polynomial hash of every k-gram (uint64 wraparound)
            powers = np.array([B ** np.uint64(k - 1 - i) for i in range(k)], dtype=np.uint64)
            m = n - k + 1
            grams = np.lib.stride_tricks.sliding_window_view(codes, k)
            hashes = (grams * powers).sum(axis=1, dtype=np.uint64)
            if m <= w:
                picks = np.array([int(hashes.argmin())])
            else:
                win = np.lib.stride_tricks.sliding_window_view(hashes, w)
                # rightmost minimum per window: argmin on reversed window
                rev = win[:, ::-1]
                idx = (w - 1) - rev.argmin(axis=1) + np.arange(win.shape[0])
                picks = np.unique(idx)
            vals = hashes[picks].astype(np.int64)
            return list(dict.fromkeys(vals.tolist()))

        return texts.apply(one)

    # nondeterministic only to the optimizer: an explode's inferred
    # size() > 0 filter then stays above the UDF instead of running it
    # a second time below it
    return df.withColumn(out_col, _win.asNondeterministic()(F.col(text_col)))


def winnow_overlap_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    k: int = 8,
    w: int = 4,
    min_shared: int = 2,
) -> DataFrame:
    """Substring-overlap candidate pairs (MOSS-style plagiarism /
    mirrored-passage detection): document pairs sharing at least
    `min_shared` winnowing fingerprints, with the shared count and
    each side's fingerprint total. By the winnowing guarantee, any
    pair sharing a substring of length >= k+w-1 shares a fingerprint —
    this catches COPIED PASSAGES inside otherwise different documents,
    which whole-doc and shingle-set Jaccard both dilute away.

    Scale shape of `graph.within_group_pairs`: each doc's distinct
    8-byte fingerprints explode once, the docs holding a fingerprint
    collect per fingerprint (ONE shuffle), their pairs expand map-side
    (`unordered_pairs`) and are counted per doc pair. Each doc's
    fingerprint COUNT rides along from the array, so there is no
    separate sizes pass to join back. A fingerprint shared by m docs
    costs m^2/2 pair rows — hot boilerplate fingerprints are the skew
    to watch; cap them upstream with a document-frequency filter if
    the corpus has mirrored headers (the interdoc_repetition signal).
    """
    fp = winnow_fingerprints(df, text_col, k=k, w=w).select(
        F.struct(
            F.col(id_col).alias("id"), F.size("fingerprints").alias("n_fp")
        ).alias("doc"),
        F.explode("fingerprints").alias("fp"),
    )
    return (
        fp.groupBy("fp")
        .agg(F.collect_list("doc").alias("docs"))
        .select(F.explode(unordered_pairs("docs")).alias("p"))
        .groupBy(
            F.col("p.a.id").alias("a_id"),
            F.col("p.b.id").alias("b_id"),
            F.col("p.a.n_fp").alias("a_fp"),
            F.col("p.b.n_fp").alias("b_fp"),
        )
        .agg(F.count(F.lit(1)).alias("shared_fp"))
        .filter(F.col("shared_fp") >= min_shared)
        .select("a_id", "b_id", "shared_fp", "a_fp", "b_fp")
    )


def tfidf_top_terms(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    k: int = 5,
) -> DataFrame:
    """Top-k terms per document by TF-IDF: (id, rank, term, tfidf).

    tf = raw term count in the doc; idf = ln((N+1)/(df+1)) + 1
    (smoothed — never zero, never divides by zero). Ties break on term
    asc for a deterministic result.

    All native: one explode + two aggregations + a broadcast of the
    (tiny) corpus size. The document-frequency table is aggregated
    map-side first (partial agg on term), so the shuffle carries one
    row per (partition, term), not per token — at 100 TB the term
    vocabulary, not the token count, bounds the df shuffle.
    """
    from pyspark.sql import Window

    toks = df.select(F.col(id_col), F.explode(ws_tokens(F.col(text_col))).alias("term"))
    tf = toks.groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n_docs = df.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(dfreq, "term")
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "tfidf",
            # rank on the ROUNDED score: equal (tf, df) pairs then tie
            # identically in any engine, so ordering is reproducible
            # across runtimes (raw doubles can differ by an ulp of ln)
            F.round(
                F.col("tf")
                * (F.log((F.col("n_docs") + 1) / (F.col("df") + 1)) + F.lit(1.0)),
                6,
            ),
        )
    )
    w = Window.partitionBy(id_col).orderBy(F.col("tfidf").desc(), F.col("term").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(id_col, F.col("rank").cast("long").alias("rank"), "term", "tfidf")
    )


def repetition_metrics(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
) -> DataFrame:
    """Gopher-style repetition quality signals per document:
    (id, n_words, dup_word_frac, top_bigram_frac).

    - dup_word_frac: 1 - |distinct words| / |words| — how much of the
      doc is repeated vocabulary.
    - top_bigram_frac: occurrences of the most frequent word bigram /
      total bigrams — boilerplate and template spam score near 1.

    These are the repetition filters used to cut low-quality documents
    from pretraining corpora (Gopher/MassiveText-class heuristics).

    Shape at scale: MAP-ONLY — every output is a per-document scalar,
    so the whole metric is computed inside one Arrow mapInPandas pass
    (tokens, distinct count, and the bigram mode counted per doc in a
    single O(n_tokens) sweep) with ZERO shuffles; the earlier
    explode+double-aggregate formulation moved one row per distinct
    (id, gram) through two exchanges for what is embarrassingly
    parallel work. Only integer counts leave Python; the fractions and
    rounding are computed by the same Spark expressions as before, so
    values are bit-identical to the expression-based plan. Docs with
    fewer than 2 words get 0.0 for both fractions.
    """
    import re
    from collections import Counter

    # ASCII-whitespace split, matching Java's default (non-UNICODE) \s+
    # in ws_tokens; Python str.split() would also break on U+00A0 etc.
    ws = re.compile(r"[ \t\n\x0b\f\r]+")

    def _counts(batches):
        for pdf in batches:
            # positional, not index-aligned: the counts are built as
            # plain lists, so the ids must not carry an index of their own
            out = {
                id_col: pdf[id_col].to_numpy(),
                "n_words": [],
                "n_distinct": [],
                "top_c": [],
                "tot_c": [],
            }
            for text in pdf[text_col]:
                if text is None:
                    out["n_words"].append(None)
                    out["n_distinct"].append(None)
                    out["top_c"].append(None)
                    out["tot_c"].append(None)
                    continue
                toks = [t for t in ws.split(text) if t]
                n = len(toks)
                out["n_words"].append(n)
                out["n_distinct"].append(len(set(toks)))
                if n >= 2:
                    c = Counter(zip(toks, toks[1:]))
                    out["top_c"].append(max(c.values()))
                    out["tot_c"].append(n - 1)
                else:
                    out["top_c"].append(None)
                    out["tot_c"].append(None)
            yield pd.DataFrame(out).astype(
                {
                    "n_words": "Int64",
                    "n_distinct": "Int64",
                    "top_c": "Int64",
                    "tot_c": "Int64",
                }
            )

    id_type = dict(df.dtypes)[id_col]
    per_doc = df.select(F.col(id_col), F.col(text_col)).mapInPandas(
        _counts,
        schema=(
            f"{id_col} {id_type}, n_words long, n_distinct long, "
            "top_c long, tot_c long"
        ),
    )
    return (
        per_doc.select(
            F.col(id_col),
            F.col("n_words").cast("long").alias("n_words"),
            F.when(
                F.col("n_words") > 0,
                F.round(1.0 - F.col("n_distinct") / F.col("n_words"), 6),
            ).otherwise(F.lit(0.0)).alias("dup_word_frac"),
            F.when(
                F.col("tot_c").isNotNull(),
                F.round(F.col("top_c") / F.col("tot_c"), 6),
            ).otherwise(F.lit(0.0)).alias("top_bigram_frac"),
        )
    )


def interdoc_repetition(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    n: int = 5,
    min_docs: int = 2,
) -> DataFrame:
    """INTER-document repetition (C4/RefinedWeb-style boilerplate
    signal): per document, the fraction of its distinct n-word shingles
    that also occur in at least `min_docs - 1` OTHER documents —
    near 1.0 for template spam / mirrored boilerplate that per-doc
    repetition_metrics cannot see. Returns
    (id, n_shingles, dup_shingles, dup_shingle_frac).

    Shape at scale: shingles are deduped per doc INSIDE the Arrow
    kernel (hashed_shingles_udf — the measured fast path; shingle
    strings never materialize JVM-side, let alone shuffle) and travel
    as 8-byte hashes. Document frequency is a count window over the
    hash — ONE shuffle — and the per-doc rollup is the second; nothing
    in the plan is quadratic: a hot shingle costs one counter, not a
    pair explosion. Docs shorter than n words yield 0 shingles and
    frac 0.0 (a hash collision can only over-count a shingle's
    document frequency, an accepted one-in-2^64 bias for this
    filter-style signal).
    """
    from pyspark.sql import Window

    from agnes_spark.functions import hashed_shingles_udf

    shingle_udf = hashed_shingles_udf(n)
    sh = (
        # repartition BEFORE the Python stage (single-file sources
        # otherwise run the UDF serially in one worker)
        df.repartition(F.col(id_col))
        .select(F.col(id_col), F.explode_outer(shingle_udf(F.col(text_col))).alias("__h"))
    )
    # null __h rows (docs with zero shingles) form one window partition
    # where count("__h") is 0 — they survive to the rollup with
    # n_shingles 0 instead of needing an outer join back
    counted = sh.withColumn("__df", F.count("__h").over(Window.partitionBy("__h")))
    return (
        counted.groupBy(id_col)
        .agg(
            F.count("__h").alias("n_shingles"),
            F.coalesce(
                F.sum(((F.col("__df") >= min_docs) & F.col("__h").isNotNull()).cast("long")),
                F.lit(0),
            ).alias("dup_shingles"),
        )
        .select(
            F.col(id_col),
            "n_shingles",
            "dup_shingles",
            F.when(
                F.col("n_shingles") > 0,
                F.round(F.col("dup_shingles") / F.col("n_shingles"), 6),
            ).otherwise(F.lit(0.0)).alias("dup_shingle_frac"),
        )
    )


def lm_surprise(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
) -> DataFrame:
    """Corpus-bigram language-model surprise per document:
    (id, n_bigrams, avg_surprise, max_surprise).

    surprise(w_i | w_{i-1}) = -ln((c(w_{i-1} w_i) + 1) / (c(w_{i-1}) + V))
    with add-one smoothing over the corpus vocabulary V — the
    self-scoring LM quality filter: documents whose transitions are
    improbable under the corpus's own bigram statistics (gibberish,
    boilerplate collisions, wrong-language shards) score high.

    Shape at scale: two count tables (bigram, unigram) built with
    map-side partial aggregation — shuffle volume is the distinct gram
    vocabulary, not the token stream — then one equi-join back onto
    per-doc bigrams and a per-doc rollup. V and the count tables are
    corpus-global; at 100 TB they are exactly the side tables an LM
    filter would precompute once and reuse.
    """
    toks = df.select(F.col(id_col), ws_tokens(F.col(text_col)).alias("w"))
    k = F.size("w") - F.lit(1)
    grams = F.when(
        k >= 1,
        F.transform(
            F.sequence(F.lit(1), k),
            lambda i: F.struct(
                F.element_at("w", i).alias("w1"),
                F.element_at("w", i + 1).alias("w2"),
            ),
        ),
    ).otherwise(F.array().cast("array<struct<w1:string,w2:string>>"))
    doc_bg = toks.select(
        F.col(id_col), F.explode(grams).alias("g")
    ).select(F.col(id_col), F.col("g.w1").alias("w1"), F.col("g.w2").alias("w2"))
    bg_counts = doc_bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c_bg"))
    ug_counts = (
        toks.select(F.explode("w").alias("w1"))
        .groupBy("w1")
        .agg(F.count(F.lit(1)).alias("c_ug"))
    )
    vocab = ug_counts.agg(F.count(F.lit(1)).alias("v"))
    surprise = -F.log(
        (F.col("c_bg") + 1) / (F.col("c_ug") + F.col("v"))
    )
    return (
        doc_bg.join(bg_counts, ["w1", "w2"])
        .join(ug_counts, "w1")
        .crossJoin(F.broadcast(vocab))
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.round(F.avg(surprise), 6).alias("avg_surprise"),
            F.round(F.max(surprise), 6).alias("max_surprise"),
        )
    )


def bm25_top_terms(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    k: int = 5,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Top-k terms per document by BM25: (id, rank, term, bm25) — the
    standard retrieval scoring, Okapi form with the +1-shifted idf
    (Lucene-style, never negative):

      idf(t)  = ln((N - df + 0.5) / (df + 0.5) + 1)
      s(t, d) = idf * tf*(k1+1) / (tf + k1*(1 - b + b*dl/avgdl))

    Same plan shape as tfidf_top_terms: one explode, two partial-agg'd
    count tables (term df, doc length), two tiny broadcasts (N, avgdl),
    rank on the ROUNDED score with term-asc tie-break so ordering
    reproduces across engines.
    """
    from pyspark.sql import Window

    toks = df.select(F.col(id_col), F.explode(ws_tokens(F.col(text_col))).alias("term"))
    tf = toks.groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("tf"))
    dl = toks.groupBy(id_col).agg(F.count(F.lit(1)).alias("dl"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    consts = df.agg(F.count(F.lit(1)).alias("n_docs")).crossJoin(
        dl.agg(F.avg("dl").alias("avgdl"))
    )
    idf = F.log((F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1)
    denom = F.col("tf") + k1 * (1 - b + b * F.col("dl") / F.col("avgdl"))
    scored = (
        tf.join(dl, id_col)
        .join(dfreq, "term")
        .crossJoin(F.broadcast(consts))
        .withColumn("bm25", F.round(idf * F.col("tf") * (k1 + 1) / denom, 6))
    )
    w = Window.partitionBy(id_col).orderBy(F.col("bm25").desc(), F.col("term").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(id_col, F.col("rank").cast("long").alias("rank"), "term", "bm25")
    )


def ngram_novelty(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", n: int = 3
) -> DataFrame:
    """Per-document n-gram novelty: the fraction of a doc's distinct
    n-gram shingles that appear in NO earlier document (first seen
    here, by id order) — the marginal-contribution screen a corpus
    curator runs before paying to ingest another shard (novelty ~0
    means the shard is already covered). Returns (id, n_grams,
    n_novel, novelty) with exact integer counts.

    Shape: the distinct (doc, gram-hash) frame from the shared
    shingle sets (`dedup.shingle_sets`), a min-over-gram window (one
    shuffle keyed by the 8-byte hash — the window-count-over-hash
    pattern, no join-back), then a per-doc count aggregate. Gram
    strings never shuffle.
    """
    from pyspark.sql import Window

    from agnes_spark.operators.dedup import shingle_sets

    g = shingle_sets(df, id_col, text_col, n).select(
        F.col(id_col), F.explode("shash").alias("h")
    )
    first = F.min(id_col).over(Window.partitionBy("h"))
    per = (
        g.withColumn("__first", first)
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_grams"),
            F.sum(F.when(F.col("__first") == F.col(id_col), 1).otherwise(0))
            .cast("long")
            .alias("n_novel"),
        )
    )
    return per.withColumn(
        "novelty", F.col("n_novel").cast("double") / F.col("n_grams").cast("double")
    )


def pmi_collocations(
    df: DataFrame,
    text_col: str = "text",
    min_count: int = 5,
    k: int = 50,
) -> DataFrame:
    """Top-k bigram collocations by pointwise mutual information —
    the multi-word-expression / tokenizer-vocab-candidate screen:
    PMI(w1,w2) = ln(c(w1 w2) * N / (c(w1) * c(w2))) over corpus
    bigram counts, restricted to bigrams seen >= min_count times.

    Shape at scale: one bigram-count and one unigram-count table
    (map-side partial aggs — shuffle volume is vocabulary, not the
    token stream), two equi joins between count tables (already far
    smaller than the corpus), a 1-row N broadcast. The min_count cut
    lands BEFORE the joins, so the joined frame is the collocation
    candidates only.

    Determinism: the ranking key is the single-expression double
    ratio (c_bg/c1)*(N/c2) — a fixed tree of correctly-rounded IEEE
    ops over exact integers, bit-identical in any engine (and ordered
    identically to PMI since ln is monotone); ties break on the words
    themselves. The paired-division form also survives corpus sizes
    where the naive integer product c1*c2*... would overflow int64
    (c1*c2 alone reaches 1e26 on a 100 TB token stream). ln lands
    only in the round-6 output column (lm_surprise precedent).
    """
    toks = df.select(ws_tokens(F.col(text_col)).alias("w"))
    n_b = F.size("w") - F.lit(1)
    grams = F.when(
        n_b >= 1,
        F.transform(
            F.sequence(F.lit(1), n_b),
            lambda i: F.struct(
                F.element_at("w", i).alias("w1"),
                F.element_at("w", i + 1).alias("w2"),
            ),
        ),
    ).otherwise(F.array().cast("array<struct<w1:string,w2:string>>"))
    bg = (
        toks.select(F.explode(grams).alias("g"))
        .select(F.col("g.w1").alias("w1"), F.col("g.w2").alias("w2"))
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).cast("long").alias("c_bg"))
        .filter(F.col("c_bg") >= F.lit(int(min_count)))
    )
    ug = (
        toks.select(F.explode("w").alias("t"))
        .groupBy("t")
        .agg(F.count(F.lit(1)).cast("long").alias("c_ug"))
    )
    tot = toks.select(F.explode(grams).alias("g")).agg(
        F.count(F.lit(1)).cast("long").alias("n_tot")
    )
    u1 = ug.select(F.col("t").alias("w1"), F.col("c_ug").alias("c1"))
    u2 = ug.select(F.col("t").alias("w2"), F.col("c_ug").alias("c2"))
    ratio = (
        F.col("c_bg").cast("double") / F.col("c1").cast("double")
    ) * (F.col("n_tot").cast("double") / F.col("c2").cast("double"))
    return (
        bg.join(u1, "w1")
        .join(u2, "w2")
        .crossJoin(F.broadcast(tot))
        .select(
            "w1",
            "w2",
            "c_bg",
            "c1",
            "c2",
            F.round(F.log(ratio), 6).alias("pmi"),
            ratio.alias("__r"),
        )
        .orderBy(F.col("__r").desc(), "w1", "w2")
        .limit(int(k))
        .drop("__r")
    )


def char_entropy(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Per-document character-distribution Shannon entropy in nats —
    the cheap gibberish/compressibility screen (near-zero entropy =
    repeated filler; unusually high = binary noise in a text field).

    Exact-integer core: with per-char counts n_c and length L,
    H = ln(L) - (1/L) * sum_c n_c * ln(n_c); counts are exact, each
    ln sees an integer argument (the lm_surprise round-6-stability
    precedent), and the one cross-char double sum folds in CHAR order
    (aggregate over sort_array — the ordered-sum convention), so H is
    bit-deterministic. Scale shape: explode to (doc, char) — bounded
    by corpus chars, same cost class as tokenization — then two
    grouped aggregates keyed by doc; the per-doc collected list is
    bounded by the alphabet (~100 entries), never by text length.
    """
    chars = docs.select(
        F.col(id_col).alias("id"),
        F.explode(F.split(F.col(text_col), "")).alias("ch"),
    ).filter(F.length("ch") == 1)
    per = chars.groupBy("id", "ch").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    term = F.col("n").cast("double") * F.log(F.col("n").cast("double"))
    agg = per.groupBy("id").agg(
        F.sum("n").cast("long").alias("n_chars"),
        F.aggregate(
            F.sort_array(F.collect_list(F.struct(F.col("ch"), term.alias("t")))),
            F.lit(0.0),
            lambda a, x: a + x["t"],
        ).alias("__fold"),
    )
    ld = F.col("n_chars").cast("double")
    return agg.select(
        F.col("id").alias(id_col),
        "n_chars",
        (F.log(ld) - F.col("__fold") / ld).alias("entropy_nats"),
    )
