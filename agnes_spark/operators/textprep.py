"""Training-data preparation operators: the last mile between a curated
corpus and a pretraining run.

- `decontaminate`: flag training documents sharing any n-gram with an
  evaluation set (benchmark-hygiene dedup — the n-gram-overlap
  decontamination used for LLM training corpora). The eval side is
  small by definition, so the join broadcasts the eval shingle set and
  the training corpus is scanned ONCE with no shuffle of its text;
  only 8-byte shingle hashes ever leave the scan.
- `pack_chunks`: concat-and-chunk sequence packing — every document
  gets (start_seq, start_offset, end_seq) under "concatenate all text
  in order, cut every max_len tokens". Pure window arithmetic, one
  shuffle on the group key; this is the packing most pretraining
  pipelines actually use.
- `pack_greedy`: greedy no-split bin packing per group (documents are
  never cut; a doc longer than the budget gets its own overflowing
  sequence, flagged). Sequential by construction, so it runs per
  group via applyInPandas — parallel across groups/shards, which is
  how a 100 TB corpus is packed in practice (per shard, not global).
- `split_sentences`: regex sentence segmentation, exploded to one row
  per sentence with its index.
- `shuffle_deterministic`: a seeded, layout-independent global shuffle
  (sort by xxhash64(seed, keys)) — reproducible example order for
  training, independent of file/partition layout.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from agnes_spark.functions import hashed_shingles_udf, ws_tokens


def decontaminate(
    train: DataFrame,
    eval_df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 8,
    min_shared: int = 1,
) -> DataFrame:
    """Training docs sharing >= min_shared distinct n-gram shingles with
    ANY eval document: (id, n_shingles, n_shared, overlap_frac).

    Shingles are hashed to int64 before the join (a collision can only
    add a spurious shared shingle, odds ~|shingles|^2/2^64); the eval
    shingle set is broadcast, so the train side never shuffles.

    Shingling uses the Arrow-batched UDF, not the Catalyst expression
    form: the UDF runs once per row as its own plan node, while the
    interpreted higher-order expression gets INLINED at every
    reference by project collapse — the old size()+explode() pair
    shingled every document twice and made this the heaviest op in the
    bench (r3: ~10s at sf0.1; now ~2s, identical output).
    """
    shingle = hashed_shingles_udf(n)
    tr = (
        train.repartition(F.col(id_col))
        .select(F.col(id_col), shingle(F.col(text_col)).alias("arr"))
        .select(
            F.col(id_col),
            F.size("arr").alias("n_shingles"),
            # explode_OUTER: plain explode makes Catalyst infer a
            # size(arr) > 0 filter (InferFiltersFromGenerate) that gets
            # pushed below the repartition and RE-EVALUATES the shingle
            # UDF on every row; the inner join on sh drops the null
            # rows anyway, so outer is free and halves UDF work
            F.explode_outer("arr").alias("sh"),
        )
    )
    ev = (
        eval_df.select(F.explode_outer(shingle(F.col(text_col))).alias("sh"))
        .distinct()
        .filter(F.col("sh").isNotNull())
    )
    return (
        tr.join(F.broadcast(ev), "sh")
        .groupBy(id_col)
        .agg(
            F.first("n_shingles").alias("n_shingles"),
            F.countDistinct("sh").alias("n_shared"),
        )
        .filter(F.col("n_shared") >= min_shared)
        .withColumn(
            "overlap_frac", F.round(F.col("n_shared") / F.col("n_shingles"), 6)
        )
    )


def decontaminate_fuzzy(
    train: DataFrame,
    eval_df: DataFrame,
    id_col: str,
    eval_id_col: str,
    text_col: str,
    n: int = 8,
    threshold: float = 0.5,
) -> DataFrame:
    """Paraphrase-robust decontamination: training docs whose n-gram
    shingle-set Jaccard against ANY eval document reaches `threshold`
    — `decontaminate` flags any single shared n-gram, which misses
    contamination that survives light paraphrase while also
    over-flagging docs that share one idiomatic phrase; a Jaccard
    radius measures whole-document overlap instead. Output per
    flagged doc: (id, n_shingles, n_eval_matches, best_eval_id,
    best_jaccard) with the best match deterministic (max Jaccard,
    ties to the smallest eval id under the id column's NATIVE
    ordering — numeric for numeric ids, lexicographic for strings;
    any orderable eval id type works).

    Candidate generation is the SAME broadcast shared-shingle join as
    exact `decontaminate` — with a broadcastable eval set this is
    recall-LOSSLESS (J >= t > 0 implies at least one shared shingle),
    so unlike an LSH/MinHash band probe nothing is missed and nothing
    needs a signature pass; the train side still never shuffles on
    text. Pairwise verification is exact: the grouped join count IS
    the intersection size (per-doc shingles are distinct), so
    J = inter / (|A| + |B| - inter) in one aggregation. For eval sets
    too large to broadcast, use decontaminate_fuzzy_banded (a MinHash
    band probe).
    """
    shingle = hashed_shingles_udf(n)
    tr = (
        train.repartition(F.col(id_col))
        .select(F.col(id_col), shingle(F.col(text_col)).alias("arr"))
        .select(
            F.col(id_col),
            F.size("arr").alias("n_shingles"),
            # explode_OUTER, not explode: see decontaminate — avoids
            # the Generate-inferred size>0 filter that double-runs the
            # UDF; null sh rows drop at the inner join
            F.explode_outer("arr").alias("sh"),
        )
    )
    ev = (
        eval_df.select(
            F.col(eval_id_col).alias("__ev_id"),
            shingle(F.col(text_col)).alias("arr"),
        )
        .select(
            F.col("__ev_id"),
            F.size("arr").alias("__ev_n"),
            F.explode_outer("arr").alias("sh"),
        )
    )
    pairs = (
        tr.join(F.broadcast(ev), "sh")
        .groupBy(id_col, "__ev_id")
        .agg(
            F.first("n_shingles").alias("n_shingles"),
            F.first("__ev_n").alias("__ev_n"),
            F.count(F.lit(1)).alias("inter"),
        )
        .withColumn(
            "jaccard",
            F.col("inter")
            / (F.col("n_shingles") + F.col("__ev_n") - F.col("inter")),
        )
        .filter(F.col("jaccard") >= threshold)
    )
    return _best_match_per_doc(pairs, id_col)


def _best_match_per_doc(pairs: DataFrame, id_col: str) -> DataFrame:
    """Reduce verified (train, eval, jaccard) pairs to one best-match
    row per train doc: max Jaccard, ties to the smallest eval id.

    The tiebreak orders on a (-jaccard, __ev_id) struct via min_by, so
    the eval id compares under its NATIVE type ordering — no bigint
    cast, which would throw CAST_INVALID_INPUT under ANSI mode (or
    silently null with ANSI off) for string eval ids like 'ev_a'.
    Both callers produce pairs distinct per (id, __ev_id) — grouped
    in the broadcast path, distinct() candidates in the banded path —
    so the ordering key has no ties and the result is deterministic."""
    order_key = F.struct(
        (-F.col("jaccard")).alias("nj"), F.col("__ev_id").alias("eid")
    )
    return (
        pairs.groupBy(id_col)
        .agg(
            F.first("n_shingles").alias("n_shingles"),
            F.count(F.lit(1)).alias("n_eval_matches"),
            F.min_by(F.col("__ev_id"), order_key).alias("best_eval_id"),
            F.round(F.max("jaccard"), 6).alias("best_jaccard"),
        )
        .select(
            F.col(id_col),
            "n_shingles",
            "n_eval_matches",
            "best_eval_id",
            "best_jaccard",
        )
    )


def decontaminate_fuzzy_banded(
    train: DataFrame,
    eval_df: DataFrame,
    id_col: str,
    eval_id_col: str,
    text_col: str,
    n: int = 8,
    num_perm: int = 64,
    num_bands: int = 16,
    threshold: float = 0.5,
) -> DataFrame:
    """`decontaminate_fuzzy` for eval sets too large to broadcast:
    candidates come from a MinHash/LSH BAND probe — both sides get
    64-perm signatures banded into bucket keys, and the train side
    probes the eval band index with one equi-join on (band, bucket) —
    instead of the broadcast shared-shingle join. Per-band bucket
    joins shuffle only (id, band, bucket) rows, never shingle sets,
    so this scales to an eval corpus of any size; the price is LSH
    recall (a pair under the S-curve knee can be missed — candidates
    are still verified with exact pairwise Jaccard, so false
    positives never survive). Same output shape as
    decontaminate_fuzzy; every doc it flags is guaranteed to be
    flagged there too, with a best_jaccard / n_eval_matches no larger
    than the exhaustive path's (LSH sees a subset of the true pairs —
    pinned by check_banded_decon_subset)."""
    from agnes_spark.operators.dedup import (
        jaccard_verify,
        lsh_candidates,
        minhash_bands,
        shingle_sets,
    )

    # both sides name their id `id_col`: they are separate frames, and
    # the shared candidate join and verify take one id column
    tr_sets = shingle_sets(train, id_col, text_col, n).persist()
    ev_sets = shingle_sets(
        eval_df.select(F.col(eval_id_col).alias(id_col), text_col), id_col, text_col, n
    ).persist()
    cand = lsh_candidates(
        minhash_bands(tr_sets, id_col, num_perm, num_bands),
        id_col,
        minhash_bands(ev_sets, id_col, num_perm, num_bands),
    )
    sizes = tr_sets.select(F.col(id_col).alias("a_id"), F.size("shash").alias("n_shingles"))
    pairs = (
        jaccard_verify(cand, tr_sets, id_col, threshold, ev_sets)
        .join(sizes, "a_id")
        .select(
            F.col("a_id").alias(id_col),
            F.col("b_id").alias("__ev_id"),
            "n_shingles",
            "jaccard",
        )
    )
    return _best_match_per_doc(pairs, id_col)


def pack_chunks(
    df: DataFrame,
    group_col: str,
    id_col: str,
    tokens_col,
    max_len: int,
) -> DataFrame:
    """Concat-and-chunk packing: within each group, documents are laid
    end-to-end in id order and cut every `max_len` tokens. Returns
    (group, id, n_tokens, start_seq, start_off, end_seq) — where the
    doc's first token lands, at which offset, and where its last token
    lands (end_seq > start_seq means the doc straddles a cut).

    One shuffle (the group window); at 100 TB the group key is the
    shard, so packing is embarrassingly parallel across shards.
    """
    toks = tokens_col if not isinstance(tokens_col, str) else F.col(tokens_col)
    w = (
        Window.partitionBy(group_col)
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return (
        df.select(F.col(group_col), F.col(id_col), toks.cast("long").alias("n_tokens"))
        .withColumn("cum_before", F.coalesce(F.sum("n_tokens").over(w), F.lit(0)))
        .select(
            group_col,
            id_col,
            "n_tokens",
            F.floor(F.col("cum_before") / max_len).alias("start_seq"),
            (F.col("cum_before") % max_len).alias("start_off"),
            # clamp: zero-token docs would otherwise get end_seq = start_seq - 1
            F.greatest(
                F.floor(F.col("cum_before") / max_len),
                F.floor((F.col("cum_before") + F.col("n_tokens") - 1) / max_len),
            ).alias("end_seq"),
        )
    )


def pack_greedy(
    df: DataFrame,
    group_col: str,
    id_col: str,
    tokens_col: str,
    max_len: int,
) -> DataFrame:
    """Greedy no-split packing per group: docs in id order, each
    appended to the current sequence unless it would overflow, in which
    case a new sequence starts. Docs longer than max_len get a
    dedicated sequence with overflow=true. Returns
    (group, id, n_tokens, seq_id, overflow).

    The fold is sequential within a group (inherent to greedy packing),
    so it runs as an Arrow-batched applyInPandas per group — parallel
    across groups, which is the unit of packing at corpus scale.
    """
    import pandas as pd

    out_schema = (
        f"{group_col} string, {id_col} long, n_tokens long, "
        "seq_id long, overflow boolean"
    )

    def pack(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(id_col)
        seq, cur = 0, 0
        seqs, overflows = [], []
        first = True
        for t in pdf["n_tokens"]:
            t = int(t)
            if not first and cur + t > max_len:
                seq += 1
                cur = 0
            first = False
            seqs.append(seq)
            overflows.append(t > max_len)
            cur += t
            if t > max_len:  # oversized doc owns its sequence entirely
                seq += 1
                cur = 0
                first = True
        return pd.DataFrame(
            {
                group_col: pdf[group_col],
                id_col: pdf[id_col],
                "n_tokens": pdf["n_tokens"],
                "seq_id": seqs,
                "overflow": overflows,
            }
        )

    base = df.select(
        F.col(group_col),
        F.col(id_col),
        F.col(tokens_col).cast("long").alias("n_tokens"),
    )
    return base.groupBy(group_col).applyInPandas(pack, out_schema)


def split_sentences(
    df: DataFrame, id_col: str, text_col: str
) -> DataFrame:
    """One row per sentence: (id, sent_idx, sentence). Split on
    sentence-final punctuation followed by whitespace — deliberately a
    pattern both java.util.regex and RE2 (DuckDB) interpret identically,
    so the op stays oracle-checkable."""
    sents = F.filter(
        F.split(F.trim(F.col(text_col)), r"[.!?]+\s+"),
        lambda s: F.trim(s) != "",
    )
    return df.select(
        F.col(id_col), F.posexplode(sents).alias("sent_idx", "sentence")
    ).withColumn("sent_idx", (F.col("sent_idx") + 1).cast("long"))


def shuffle_deterministic(df: DataFrame, cols: list[str], seed: int = 0) -> DataFrame:
    """Seeded, layout-independent global shuffle: order by
    xxhash64(seed, key columns), key columns as tie-break. The order
    depends only on VALUES (never on partitioning or file layout), so
    training example order is reproducible across clusters. One range
    shuffle — the same cost as any global sort."""
    h = F.xxhash64(F.lit(seed), *[F.col(c) for c in cols])
    return df.orderBy(h, *[F.col(c) for c in cols])


# PII patterns chosen for java.util.regex / RE2 dialect parity (no
# backreferences, no lookaround): the same strings match in Spark and
# in DuckDB/RE2-based oracles.
PII_PATTERNS: list[tuple[str, str, str]] = [
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("phone", r"\b\d{3}[-.]\d{3}[-.]\d{4}\b", "<PHONE>"),
    ("ip", r"\b(?:\d{1,3}\.){3}\d{1,3}\b", "<IP>"),
]


def pii_scrub(df: DataFrame, id_col: str, text_col: str = "text") -> DataFrame:
    """Redact common PII (emails, NANP-style phone numbers, IPv4
    addresses) from a text column: (id, scrubbed, n_email, n_phone,
    n_ip) — the privacy-hygiene pass of a training-data pipeline.

    Counts come from regexp_extract_all on the ORIGINAL text;
    redaction chains regexp_replace in PII_PATTERNS order (email
    first: an email can contain digit runs, never vice versa). All
    JVM-side regex built-ins — one projection, no shuffle, no Python;
    at 100 TB this fuses into the scan it follows.
    """
    scrubbed = F.col(text_col)
    counts = []
    for name, pat, repl in PII_PATTERNS:
        counts.append(
            F.size(F.regexp_extract_all(F.col(text_col), F.lit(pat), F.lit(0)))
            .cast("long")
            .alias(f"n_{name}")
        )
        scrubbed = F.regexp_replace(scrubbed, pat, repl)
    return df.select(F.col(id_col), scrubbed.alias("scrubbed"), *counts)
