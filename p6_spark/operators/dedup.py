"""Deduplication operators for training-data pipelines.

Four tiers, cheapest first — the standard 100 TB dedup funnel:

1. exact         — md5(text) groupBy: one shuffle on the 16-byte digest,
                   never on the document body.
2. simhash       — 62-bit signature per doc; near-dups share signatures.
                   Linear scan, no pairwise work.
3. minhash + LSH — banded minhash signatures; candidate pairs come from
                   a self-join on (band_idx, band_hash) buckets, so the
                   pairwise explosion is confined to bucket collisions
                   (O(n) + collisions, not O(n^2)).
4. n-gram Jaccard— exact verification on candidate pairs only.

All hashes are md5-derived (see text.md5_int) so results are
engine-portable and oracle-checkable. At scale: the token explode is a
flatMap (no shuffle); signatures aggregate with map-side combine; only
the tiny (id, band) stream shuffles.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from p6_spark.operators.text import md5_int, tokens


def exact_dup_stats(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Corpus-level exact-duplicate statistics via content digest."""
    digests = df.select(F.md5(F.col(text_col)).alias("digest"), F.col(id_col))
    groups = digests.groupBy("digest").agg(F.count(F.lit(1)).alias("n"))
    return groups.agg(
        F.count(F.lit(1)).alias("n_distinct_texts"),
        F.sum("n").alias("n_docs"),
        F.count(F.when(F.col("n") > 1, 1)).alias("n_dup_groups"),
        F.coalesce(F.sum(F.when(F.col("n") > 1, F.col("n") - 1)), F.lit(0)).alias(
            "n_redundant_docs"
        ),
    )


def dedup_exact(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Keep the min-id representative per exact text (deterministic winner
    — plain dropDuplicates keeps an arbitrary row, which isn't replayable)."""
    keep = df.groupBy(text_col).agg(F.min(id_col).alias(id_col))
    return df.join(keep, [text_col, id_col], "left_semi")


def distinct_tokens(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    return df.select(
        F.col(id_col), F.explode(F.array_distinct(tokens(F.col(text_col)))).alias("tok")
    )


def minhash_signatures(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", num_hashes: int = 8
) -> DataFrame:
    """MinHash signature per document: h_i = min over distinct tokens of
    md5_int(i || '_' || token). One explode + one groupBy(id) with
    map-side combine — the scan dominates at scale."""
    toks = distinct_tokens(df, id_col, text_col)
    aggs = [
        F.min(md5_int(F.concat(F.lit(f"{i}_"), F.col("tok")))).alias(f"h{i}")
        for i in range(num_hashes)
    ]
    return toks.groupBy(id_col).agg(*aggs)


def lsh_candidate_pairs(
    sigs: DataFrame,
    id_col: str = "doc_id",
    num_hashes: int = 8,
    band_size: int = 2,
    max_bucket: int | None = None,
) -> DataFrame:
    """Band the signatures and self-join on bucket: docs agreeing on ALL
    hashes of any band become a candidate pair (a < b, distinct).

    ``max_bucket`` drops buckets with more than that many members BEFORE
    the self-join — the standard guard in production near-dup pipelines:
    a bucket shared by thousands of documents carries no discriminative
    signal but contributes k^2 junk pairs; capping it bounds pair count
    to ~max_bucket x corpus size (linear) regardless of how degenerate
    the hash distribution is. (The harness corpus draws from a tiny
    ~30-word vocabulary, so minhash values concentrate and uncapped
    buckets go quadratic at sf1.0 — caught by the round-4 scaling
    sweep; real corpora are gentler but the cap is what makes the
    operator safe at ANY scale.)"""
    n_bands = num_hashes // band_size
    bands = F.array(
        *[
            F.struct(
                F.lit(b).alias("band_idx"),
                F.concat_ws(
                    "_", *[F.col(f"h{b * band_size + j}").cast("string") for j in range(band_size)]
                ).alias("band_val"),
            )
            for b in range(n_bands)
        ]
    )
    banded = sigs.select(F.col(id_col), F.explode(bands).alias("band")).select(
        F.col(id_col),
        F.col("band.band_idx").alias("band_idx"),
        F.col("band.band_val").alias("band_val"),
    )
    if max_bucket is not None:
        # Round-11 A/B note: a band-partitioned window count (the
        # similarity.py shape) was tried here and measured SLOWER on
        # every lsh_candidate_pairs caller (dd_minhash_lsh_pairs 1.18x,
        # pipe_llm_corpus 1.24x, dd_cluster_best 1.18x, sf0.1
        # min-of-3): downstream the capped stream feeds a SELF-join on
        # the band key, so AQE's runtime exchange reuse already dedups
        # the signature subtree across all three references, the tiny
        # `small` relation broadcast-joins without re-exchanging the
        # probe side, and the window's extra per-side sort is pure
        # overhead. The groupBy + join-back stays. (dd_substring_spans
        # is the opposite shape — no self-join, expensive un-exchanged
        # probe subtree — and keeps the window form.)
        small = (
            banded.groupBy("band_idx", "band_val")
            .agg(F.count(F.lit(1)).alias("bucket_n"))
            .filter(F.col("bucket_n") <= max_bucket)
            .select("band_idx", "band_val")
        )
        banded = banded.join(small, ["band_idx", "band_val"])
    left = banded.alias("l")
    right = banded.alias("r")
    return (
        left.join(
            right,
            (F.col("l.band_idx") == F.col("r.band_idx"))
            & (F.col("l.band_val") == F.col("r.band_val"))
            & (F.col(f"l.{id_col}") < F.col(f"r.{id_col}")),
        )
        .select(F.col(f"l.{id_col}").alias("id_a"), F.col(f"r.{id_col}").alias("id_b"))
        .distinct()
    )


def simhash62(text: Column) -> Column:
    """62-bit SimHash over distinct tokens: bit b of the signature is set
    iff sum over tokens of sign((h >> b) & 1) is positive, where h is
    ``md5_int(token)`` for bits 0..30 and ``md5_int('s1_' || token)``
    for bits 31..61 (md5_int yields 32 usable bits; two independent
    md5 draws cover 62). Pure integer expressions — a linear scan, no
    pairwise work.

    .. versionchanged:: round 7
       Widened from 16 bits. A 16-bit signature blocked into two
       8-bit halves has 512 buckets TOTAL — the same fixed-cardinality
       recall cliff as the old 16-plane LSH clamp: past ~20 x 512
       ≈ 10k documents the bucket cap drops essentially every bucket
       and Hamming-pair recall collapses to zero (caught by the
       planted-duplicate gate in tests/test_lsh_recall.py). 62 bits
       split into two 31-bit pigeonhole blocks give 2^31 values per
       block; block-value entropy now tracks content diversity, so
       occupancy stays flat at any corpus size. 62 (not 64) keeps the
       packed signature and both block values strictly positive in a
       SIGNED bigint in both engines — no sign-extension mismatch in
       shifts or division."""
    def vote_fn(field: str, bit: int):
        return lambda acc, h: acc + F.when(
            F.shiftright(h[field], bit).bitwiseAND(F.lit(1)) == 1, 1
        ).otherwise(-1)

    # Bind the md5 struct array once (transform(array(...), hs -> ...)[0]):
    # the 62 per-bit folds below each reference the bound lambda var
    # instead of re-tokenizing and re-hashing every token 62 times.
    def fold_bits(hashes: Column) -> Column:
        sig = F.lit(0).cast("long")
        for b in range(31):
            vote = F.aggregate(hashes, F.lit(0).cast("long"), vote_fn("h0", b))
            sig = sig + F.when(vote > 0, F.lit(1 << b).cast("long")).otherwise(
                F.lit(0).cast("long")
            )
        for b in range(31):
            vote = F.aggregate(hashes, F.lit(0).cast("long"), vote_fn("h1", b))
            sig = sig + F.when(
                vote > 0, F.lit(1 << (31 + b)).cast("long")
            ).otherwise(F.lit(0).cast("long"))
        return sig

    hashes = F.transform(
        F.array_distinct(tokens(text)),
        lambda t: F.struct(
            md5_int(t).alias("h0"),
            md5_int(F.concat(F.lit("s1_"), t)).alias("h1"),
        ),
    )
    return F.element_at(F.transform(F.array(hashes), fold_bits), 1)


def simhash62_table(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(id, simhash) for every row of ``df`` — value-identical to
    ``simhash62`` but computed as explode -> ONE grouped aggregate with
    62 codegen'd conditional sums, instead of 62 per-row higher-order
    array folds. Spark does not whole-stage-codegen lambda functions
    inside ``aggregate()``: the fold form interprets 62 x |tokens|
    lambda calls per document, which measured 52s Spark-side at sf1.0
    (50k docs) when the signature widened 16 -> 62 bits in round 7.
    Here the per-token vote CASEs live inside a HashAggregate (partial
    aggregation runs map-side, so only one 62-column row per document
    shuffles) — 52s -> a few seconds, same integers.

    Documents whose text has NO tokens get signature 0, matching the
    fold form (every vote is 0, no bit set).

    The two md5 hashes are MATERIALIZED in a projection before the
    aggregate: Catalyst does not common-subexpression-eliminate across
    aggregate expressions, so referencing ``md5_int(tok)`` inside each
    of the 62 vote sums would evaluate 124 md5s per token row (measured
    ~50s of the original 58s at sf1.0); the projection computes each
    hash once per row and the votes read bound columns."""
    toks = df.select(
        F.col(id_col),
        F.explode_outer(F.array_distinct(tokens(F.col(text_col)))).alias("_sh_tok"),
    )
    hashed = toks.select(
        F.col(id_col),
        F.col("_sh_tok"),
        md5_int(F.col("_sh_tok")).alias("_sh_h0"),
        md5_int(F.concat(F.lit("s1_"), F.col("_sh_tok"))).alias("_sh_h1"),
    )
    votes = [
        F.sum(
            F.when(F.col("_sh_tok").isNull(), 0)
            .when(F.shiftright(F.col("_sh_h0"), b).bitwiseAND(F.lit(1)) == 1, 1)
            .otherwise(-1)
        ).alias(f"_v{b}")
        for b in range(31)
    ] + [
        F.sum(
            F.when(F.col("_sh_tok").isNull(), 0)
            .when(F.shiftright(F.col("_sh_h1"), b).bitwiseAND(F.lit(1)) == 1, 1)
            .otherwise(-1)
        ).alias(f"_w{b}")
        for b in range(31)
    ]
    agg = hashed.groupBy(id_col).agg(*votes)
    sig = None
    for b in range(31):
        term = F.when(F.col(f"_v{b}") > 0, F.lit(1 << b).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        sig = term if sig is None else sig + term
    for b in range(31):
        sig = sig + F.when(
            F.col(f"_w{b}") > 0, F.lit(1 << (31 + b)).cast("long")
        ).otherwise(F.lit(0).cast("long"))
    return agg.select(F.col(id_col), sig.alias("simhash"))


def word_shingles(text: Column, n: int = 3) -> Column:
    """Array of n-word shingles (space-joined), order-preserving.

    The token array is bound ONCE via a single-element-array lambda
    (``transform(array(toks), t -> ...)[0]``) so each shingle's
    ``element_at`` calls index an already-materialized array. Without the
    binding, Catalyst inlines the tokenize (trim+split+filter) into every
    lambda occurrence — ~3n regex splits per document instead of one —
    which turns any plan that re-evaluates this expression per exploded
    row into a multi-minute single-task stall.
    """

    def shingle(toks: Column) -> Column:
        return F.when(
            F.size(toks) >= n,
            F.transform(
                F.sequence(F.lit(1), F.size(toks) - (n - 1)),
                lambda i: F.concat_ws(
                    " ", *[F.element_at(toks, (i + j).cast("int")) for j in range(n)]
                ),
            ),
        ).otherwise(F.array(F.concat_ws(" ", toks)))

    return F.element_at(F.transform(F.array(tokens(text)), shingle), 1)
