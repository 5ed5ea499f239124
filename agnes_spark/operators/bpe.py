"""Byte-pair-encoding tokenizer training (Sennrich et al., ACL'16).

The missing half of the token pipeline: token_count APPLIES a
tokenizer; this module TRAINS one — the iterative most-frequent-
adjacent-pair merge that defines BPE/WordPiece-family vocabularies.

Classic BPE trains on the WORD VOCABULARY with counts, not the raw
corpus, so every round runs on a bounded frame (distinct words of a
language): one grouped bigram count + a 1-row argmax per merge.
Symbol sequences are strings with single-space ends and TWO-space
token gaps; applying a merge is ONE literal replace of
' a  b ' -> ' ab '. The double gap matters: each match consumes
only ITS OWN gap, so on symbol runs the left-to-right scan merges
'a a a a' into (aa)(aa) — BPE's canonical greedy pass — where a
single-space encoding would eat the neighbor's boundary and leave
(aa)(a)(a). Everything is exact integer counting; merge ties break
by (pair count desc, left asc, right asc) — fully deterministic,
full-oracle-able.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from agnes_spark.functions import ws_tokens
from agnes_spark.session import supersede

# merge rounds between checkpoints of the lazily merged vocabulary
_CHECKPOINT_EVERY = 8


def _word_vocab(df: DataFrame, text_col: str) -> DataFrame:
    """(seq, wc): space-joined character sequences of lowercase
    ASCII-alpha words with their corpus counts — the bounded BPE
    training frame."""
    words = (
        df.select(F.explode(ws_tokens(F.lower(F.col(text_col)))).alias("w"))
        .filter(F.col("w").rlike("^[a-z]+$"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("long").alias("wc"))
    )
    chars = F.transform(
        F.sequence(F.lit(1), F.length("w")),
        lambda i: F.col("w").substr(i, F.lit(1)),
    )
    seq = F.concat(F.lit(" "), F.array_join(chars, "  "), F.lit(" "))
    return words.select(seq.alias("seq"), "wc")


def _best_pair(vocab: DataFrame):
    """(left, right, count) of the most frequent adjacent symbol
    pair, ties by (left asc, right asc)."""
    toks = F.split(F.trim(F.col("seq")), "  ")
    pairs = F.transform(
        F.sequence(F.lit(0), F.size(toks) - F.lit(2)),
        lambda i: F.struct(
            F.element_at(toks, i + 1).alias("a"),
            F.element_at(toks, i + 2).alias("b"),
        ),
    )
    pc = (
        vocab.filter(F.size(toks) >= 2)
        .select(F.explode(pairs).alias("p"), "wc")
        .groupBy("p.a", "p.b")
        .agg(F.sum("wc").cast("long").alias("cnt"))
    )
    row = pc.agg(
        F.min(
            F.struct(
                (-F.col("cnt")).alias("nc"),
                F.col("a").alias("a"),
                F.col("b").alias("b"),
            )
        ).alias("s")
    ).first()["s"]
    if row is None:
        # no adjacent pairs left (merges exhausted the vocabulary, or
        # a corpus of single-symbol words): min() over zero rows is
        # NULL — signal the caller to stop instead of crashing
        return None
    return row["a"], row["b"], -row["nc"]


def bpe_train(df: DataFrame, text_col: str, merges: int = 5) -> DataFrame:
    """Run `merges` BPE merge rounds over the word vocabulary of
    `text_col` and return the merge table: one row per round
    (round, left, right, pair_count) — the artifact a tokenizer
    loads. Each round is a bounded-frame bigram count + a 1-row
    argmax; the merge applies as one literal replace."""
    spark = df.sparkSession
    vocab = _word_vocab(df, text_col).localCheckpoint(eager=True)
    merged = vocab  # vocab with the merges since its checkpoint applied
    out = []
    for r in range(1, merges + 1):
        best = _best_pair(merged)
        if best is None:  # vocabulary fully merged — stop early
            break
        a, b, cnt = best
        out.append((r, a, b, int(cnt)))
        # Apply the merge LAZILY: the accumulated chain of literal
        # replaces stays a single projection over the last checkpointed
        # vocab, so each round costs exactly ONE job (the bigram-count
        # argmax) instead of two. Re-running the pending replaces
        # inside the next round's aggregate is trivial string work next
        # to a per-round eager checkpoint (materialize + block write +
        # scheduling barrier). But an UNBOUNDED chain re-applies r-1
        # replaces in round r (O(merges^2) recompute) and nests
        # expressions linearly in `merges`, so every
        # `_CHECKPOINT_EVERY` rounds the chain is folded into a fresh
        # checkpoint — plan depth and recompute stay bounded at
        # realistic merge counts (hundreds+) while small trainings keep
        # the single-job rounds.
        merged = merged.select(
            F.replace(
                F.col("seq"),
                F.lit(f" {a}  {b} "),
                F.lit(f" {a}{b} "),
            ).alias("seq"),
            "wc",
        )
        if r % _CHECKPOINT_EVERY == 0:
            vocab = merged = supersede(vocab, merged.localCheckpoint(eager=True))
    # the merge table is driver-local: no checkpoint outlives the call
    supersede(vocab, None)
    return spark.createDataFrame(
        out, "round int, left string, right string, pair_count long"
    )


def bpe_encode_counts(df: DataFrame, text_col: str, merges) -> DataFrame:
    """APPLY a trained merge table — the other half of the tokenizer
    pair (bpe_train trains, this encodes). Returns (w, wc, n_tokens):
    the token count every distinct word encodes to after replaying the
    merges in training order.

    Encoding runs on the bounded word VOCABULARY (distinct words), not
    the corpus: per-document token totals are then a plain equi-join of
    exploded words against this frame — the scalable shape (the merge
    chain is ~`merges` literal replaces fused into one projection over
    the vocab, never per-corpus-row work).

    `merges` is the bounded artifact bpe_train returns (its DataFrame,
    or a list of (left, right) pairs in training order)."""
    if isinstance(merges, DataFrame):
        merges = [
            (r["left"], r["right"]) for r in merges.orderBy("round").collect()
        ]
    words = (
        df.select(F.explode(ws_tokens(F.lower(F.col(text_col)))).alias("w"))
        .filter(F.col("w").rlike("^[a-z]+$"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("long").alias("wc"))
    )
    chars = F.transform(
        F.sequence(F.lit(1), F.length("w")),
        lambda i: F.col("w").substr(i, F.lit(1)),
    )
    col = F.concat(F.lit(" "), F.array_join(chars, "  "), F.lit(" "))
    for a, b in merges:
        col = F.replace(col, F.lit(f" {a}  {b} "), F.lit(f" {a}{b} "))
    return words.select(
        "w",
        "wc",
        F.size(F.split(F.trim(col), "  ")).cast("long").alias("n_tokens"),
    )
