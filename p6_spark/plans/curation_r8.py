"""Round-8 corpus-curation operators: the decisions a training-data
team makes AFTER dedup scoring and BEFORE launching a run — where to
cut the near-dup threshold, how to shard the corpus, what order to
train in, and what the dataloader actually sees.

Six queries, all exact-integer and oracle-replayed:

- ``pipe_shard_balance``   — serpentine (boustrophedon) LPT-style shard
  assignment balanced on bytes, via the distributed two-phase rank.
- ``pipe_curriculum_order``— per-epoch deterministic training order:
  epoch 0 is tier-ordered (curriculum), later epochs are seeded hash
  shuffles; positions verified per (epoch, tier).
- ``pipe_dataloader_plan`` — sequences/steps/drop-last/utilization
  accounting for a fixed (world size x micro-batch) dataloader.
- ``sim_knn_graph``        — mutual-kNN graph over the capped adaptive-
  LSH candidates; degree histogram.
- ``dd_threshold_sweep``   — dedup-rate-vs-threshold curve computed in
  ONE pass over LSH-confirmed exact Jaccard scores.
- ``dd_cross_shard_dup_audit`` — confirmed near-dup pairs classified
  within-shard vs cross-shard: the measurement that decides whether
  shard-local dedup is admissible at 100 TB.

Scale shapes: every pair stage rides the capped generators already
gated by tests/test_pair_growth.py + tests/test_lsh_recall.py; global
orders are two-phase prefix ranks (never an unpartitioned window);
thresholds/epochs/shards are tiny broadcast dimensions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from p6_spark.plans.llm_ops import _sql_adaptive_cand
from p6_spark.plans.registry import register
from p6_spark.sources.tables import load_table

_N_SHARDS = 16
_PACK_BUDGET = 4096  # chars per packed sequence (matches packing_r7)
_WORLD = 8  # data-parallel workers
_MICRO = 4  # sequences per worker per step
_KNN_K = 5
_THRESHOLDS = (10_000, 50_000, 100_000, 250_000, 500_000)  # jaccard x1e6
_DUP_CUT = 250_000  # confirmed-dup threshold for the shard audit

# DuckDB twins of the shared fragments (same spellings as llm_ops)
_SQL_TOKENS = "list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '')"
_SQL_MD5INT = "('0x' || substr(md5({x}), 1, 8))::bigint"


def _sql_serpentine_shard() -> str:
    """CTE ``shards`` (doc_id, shard): serpentine assignment over the
    byte-descending rank — see pipe_shard_balance."""
    return f"""ranked AS (
  SELECT doc_id, n_chars,
         row_number() OVER (ORDER BY n_chars DESC, doc_id) AS rn
  FROM documents
),
shards AS (
  SELECT doc_id, n_chars,
         CASE WHEN ((rn - 1) // {_N_SHARDS}) % 2 = 0
              THEN (rn - 1) % {_N_SHARDS}
              ELSE {_N_SHARDS - 1} - ((rn - 1) % {_N_SHARDS}) END AS shard
  FROM ranked
)"""


def _sql_capped_minhash_pairs(num_hashes: int = 8, max_bucket: int = 20) -> str:
    """CTEs ending in ``cand`` (id_a < id_b, distinct): banded MinHash
    candidates over the FULL documents table with the max_bucket cap —
    the same construction certified in dd_cc_clusters/dd_cluster_best."""
    parts = []
    for i in range(num_hashes):
        seeded = "'" + str(i) + "_' || tok"
        parts.append(f"min({_SQL_MD5INT.format(x=seeded)}) AS h{i}")
    hashes = ",\n         ".join(parts)
    return f"""toks AS (
  SELECT doc_id, unnest(list_distinct({_SQL_TOKENS})) AS tok FROM documents
),
sig AS (
  SELECT doc_id,
         {hashes}
  FROM toks GROUP BY doc_id
),
bands AS (
  SELECT doc_id, 0 AS band_idx, cast(h0 AS varchar) || '_' || cast(h1 AS varchar) AS band_val FROM sig
  UNION ALL
  SELECT doc_id, 1, cast(h2 AS varchar) || '_' || cast(h3 AS varchar) FROM sig
  UNION ALL
  SELECT doc_id, 2, cast(h4 AS varchar) || '_' || cast(h5 AS varchar) FROM sig
  UNION ALL
  SELECT doc_id, 3, cast(h6 AS varchar) || '_' || cast(h7 AS varchar) FROM sig
),
small_buckets AS MATERIALIZED (
  SELECT band_idx, band_val FROM bands
  GROUP BY 1, 2 HAVING count(*) <= {max_bucket}
),
sb AS MATERIALIZED (
  SELECT b.doc_id, b.band_idx, b.band_val
  FROM bands b JOIN small_buckets USING (band_idx, band_val)
),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM sb a JOIN sb b
    ON a.band_idx = b.band_idx AND a.band_val = b.band_val AND a.doc_id < b.doc_id
)"""


def _sql_jaccard_scored() -> str:
    """CTE ``scored`` (id_a, id_b, jaccard_x1e6): exact 3-word-shingle
    Jaccard on the capped candidates, joined to per-doc shingle LISTS
    (never a shingle-x-shingle row join — the round-6 oracle-spill
    lesson) with the intersection named once in a subquery."""
    return f"""{_sql_capped_minhash_pairs()},
shl AS MATERIALIZED (
  SELECT doc_id,
         list_distinct(
           CASE WHEN len(t) >= 3
                THEN list_transform(generate_series(1, len(t) - 2),
                                    i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])
                ELSE [array_to_string(t, ' ')] END) AS sl
  FROM (SELECT doc_id, {_SQL_TOKENS} AS t FROM documents)
),
scored AS (
  SELECT id_a, id_b,
         (n_common * 1000000) // (n_a + n_b - n_common) AS jaccard_x1e6
  FROM (
    SELECT id_a, id_b,
           len(list_intersect(a.sl, b.sl)) AS n_common,
           len(a.sl) AS n_a, len(b.sl) AS n_b
    FROM cand JOIN shl a ON a.doc_id = id_a JOIN shl b ON b.doc_id = id_b
  )
)"""


def _serpentine_shard(docs: DataFrame) -> DataFrame:
    """(doc_id, n_chars, shard): rank documents by bytes descending
    (doc_id tie-break) with the distributed two-phase rank, then deal
    ranks onto shards serpentine-style (0..S-1 then S-1..0): the
    classic LPT-approximation layout that bounds shard-byte imbalance
    by a single document's size without any driver-side state."""
    from p6_spark.operators.ranking import two_phase_rank

    ranked = two_phase_rank(
        docs.select("doc_id", "n_chars"),
        [F.desc("n_chars"), F.asc("doc_id")],
        F.col("n_chars"),
        descending=True,
    )
    s = _N_SHARDS
    return ranked.select(
        "doc_id",
        "n_chars",
        F.when(
            F.expr(f"((rn - 1) div {s}) % 2 = 0"),
            F.expr(f"(rn - 1) % {s}"),
        )
        .otherwise(F.expr(f"{s - 1} - ((rn - 1) % {s})"))
        .alias("shard"),
    )


def _jaccard_scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(id_a, id_b, jaccard_x1e6): Spark twin of _sql_jaccard_scored —
    capped banded-MinHash candidates, then exact shingle Jaccard via
    per-doc shingle ARRAYS joined by id (two linear joins; the shingle
    sets never shuffle as rows).

    Overflow note (ADVICE r8): ``F.size`` returns 32-bit INT, so the
    counts are staged to BIGINT before the x1e6 multiply — a document
    with > 2147 distinct 3-word shingles (~2.1k words, routine in real
    corpora) overflows INT32 in ``n_common * 1000000`` otherwise (ANSI
    raise on Spark 4 / silent wrap pre-ANSI, either way diverging from
    the DuckDB twin whose ``len()`` is already BIGINT)."""
    from p6_spark.operators import dedup as dd

    docs = load_table(spark, sf_dir, "documents")
    sigs = dd.minhash_signatures(docs)
    cand = dd.lsh_candidate_pairs(sigs, max_bucket=20)
    shl = docs.select(
        "doc_id",
        F.array_distinct(dd.word_shingles(F.col("text"), 3)).alias("sl"),
    )
    sa = shl.select(F.col("doc_id").alias("id_a"), F.col("sl").alias("sl_a"))
    sb = shl.select(F.col("doc_id").alias("id_b"), F.col("sl").alias("sl_b"))
    return (
        cand.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            "id_a",
            "id_b",
            F.size(F.array_intersect("sl_a", "sl_b")).alias("n_common"),
            F.size("sl_a").alias("n_a"),
            F.size("sl_b").alias("n_b"),
        )
        .select(
            "id_a",
            "id_b",
            F.expr(
                "(cast(n_common as bigint) * 1000000)"
                " div (cast(n_a as bigint) + n_b - n_common)"
            ).alias("jaccard_x1e6"),
        )
    )


@register(
    "pipe_shard_balance",
    oracle=f"""
WITH {_sql_serpentine_shard()}
SELECT shard,
       count(*) AS n_docs,
       cast(sum(n_chars) AS bigint) AS total_chars
FROM shards
GROUP BY shard
ORDER BY shard
""",
    doc="Byte-balanced shard assignment for corpus export: rank all "
    f"documents by size descending (doc_id tie-break), deal ranks onto "
    f"{_N_SHARDS} shards serpentine-style (0..15, then 15..0, ...) — the "
    "LPT-approximation layout whose max-min shard-byte gap is bounded by "
    "ONE document's size, computed with zero driver-side state. Output "
    "is the per-shard manifest (docs, bytes). Scale shape: the global "
    "size rank is the distributed two-phase prefix rank "
    "(operators/ranking.two_phase_rank), NOT an unpartitioned window, "
    "so the layout survives a corpus no executor can sort; the "
    "assignment itself is pure per-row arithmetic on the rank. At "
    "100 TB the manifest is the small output; per-doc (doc_id, shard) "
    "stays distributed as the writer's partition key.",
    tags=("pipeline", "sharding", "training", "fixed-point"),
)
def pipe_shard_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return (
        _serpentine_shard(docs)
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
        )
        .orderBy("shard")
    )


@register(
    "pipe_curriculum_order",
    oracle=f"""
WITH d AS (
  SELECT doc_id, least(3, n_chars // 200) AS tier FROM documents
),
e AS (
  SELECT d.doc_id, d.tier, t.epoch
  FROM d, (VALUES (0), (1), (2)) t(epoch)
),
k AS (
  SELECT doc_id, tier, epoch,
         {_SQL_MD5INT.format(x="'e' || epoch || ':' || doc_id")} AS h
  FROM e
),
o AS (
  SELECT epoch, tier, doc_id,
         CASE WHEN epoch = 0 THEN tier * 4294967296 + h ELSE h END AS okey
  FROM k
),
p AS (
  SELECT epoch, tier,
         row_number() OVER (PARTITION BY epoch ORDER BY okey, doc_id) AS pos
  FROM o
)
SELECT epoch, tier,
       count(*) AS n_docs,
       min(pos) AS first_pos,
       max(pos) AS last_pos
FROM p GROUP BY epoch, tier
ORDER BY epoch, tier
""",
    doc="Deterministic multi-epoch training order with a curriculum "
    "first epoch: every document gets a per-epoch order key — epoch 0 "
    "sorts by difficulty tier (length proxy, least(3, n_chars div 200)) "
    "then a seeded hash (md5_int('e0:'||doc_id)), so easy tiers train "
    "first; epochs 1-2 sort by the seeded hash alone (independent "
    "reshuffles, no tier constraint). Positions are per-epoch 1-based "
    "ranks; output verifies the curriculum property exactly — epoch 0's "
    "tiers occupy CONTIGUOUS position ranges (first/last_pos abut), "
    "later epochs interleave tiers. Scale shape: per-epoch order is the "
    "two-phase prefix rank partitioned by epoch (3 groups x 64 buckets, "
    "never an unpartitioned window); the seeded-hash shuffle is "
    "stateless per row, so the order is reproducible from (epoch, "
    "doc_id) alone — the property a resumable 100 TB dataloader needs. "
    "At scale the per-doc (epoch, pos) assignment stays distributed; "
    "this summary is the training-plan audit.",
    tags=("pipeline", "curriculum", "training", "window", "fixed-point"),
)
def pipe_curriculum_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    from p6_spark.operators.ranking import two_phase_rank
    from p6_spark.operators.text import md5_int

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.least(F.lit(3), F.expr("n_chars div 200")).alias("tier")
    )
    epochs = docs.select(
        "doc_id",
        "tier",
        F.explode(F.array(F.lit(0), F.lit(1), F.lit(2))).alias("epoch"),
    )
    keyed = epochs.select(
        "doc_id",
        "tier",
        "epoch",
        md5_int(
            F.concat(
                F.lit("e"),
                F.col("epoch").cast("string"),
                F.lit(":"),
                F.col("doc_id").cast("string"),
            )
        ).alias("h"),
    ).select(
        "doc_id",
        "tier",
        "epoch",
        F.when(
            F.col("epoch") == 0,
            F.col("tier") * F.lit(4294967296).cast("long") + F.col("h"),
        )
        .otherwise(F.col("h"))
        .alias("okey"),
    )
    ranked = two_phase_rank(
        keyed,
        [F.asc("okey"), F.asc("doc_id")],
        F.col("okey"),
        partition_cols=["epoch"],
        rn_name="pos",
    )
    return (
        ranked.groupBy("epoch", "tier")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("pos").alias("first_pos"),
            F.max("pos").alias("last_pos"),
        )
        .orderBy("epoch", "tier")
    )


@register(
    "pipe_dataloader_plan",
    oracle=f"""
WITH t AS (SELECT cast(sum(n_chars) AS bigint) AS total_chars FROM documents),
s AS (
  SELECT total_chars,
         (total_chars + {_PACK_BUDGET - 1}) // {_PACK_BUDGET} AS n_seqs
  FROM t
)
SELECT n_seqs,
       cast(n_seqs // {_WORLD * _MICRO} AS bigint) AS steps_per_epoch,
       cast(n_seqs % {_WORLD * _MICRO} AS bigint) AS seqs_dropped,
       cast({_WORLD * _MICRO} AS bigint) AS global_batch_seqs,
       cast((total_chars::HUGEINT * 1000000) // (n_seqs * {_PACK_BUDGET})
            AS bigint) AS utilization_x1e6
FROM s
""",
    doc="Dataloader accounting for a fixed-shape run: packed-sequence "
    f"count at the {_PACK_BUDGET}-char budget (ceil(total/budget) — the "
    "window count pipe_sequence_packing's histogram decomposes), steps "
    f"per epoch for {_WORLD} data-parallel workers x {_MICRO} sequences "
    "each with drop_last semantics, sequences dropped by the remainder "
    "batch, and packing utilization (chars actually present per padded "
    "slot, exact x1e6 via HUGEINT/decimal staging — total_chars x 1e6 "
    "overflows int64 past ~9.2e12 chars, the pipe_domain_mixture "
    "lesson). One aggregate over the corpus; every downstream number is "
    "arithmetic on the 1-row result — trivially 100 TB-safe.",
    tags=("pipeline", "training", "fixed-point"),
)
def pipe_dataloader_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    g = _WORLD * _MICRO
    return (
        docs.agg(F.sum("n_chars").alias("total_chars"))
        .select(
            "total_chars",
            F.expr(
                f"(total_chars + {_PACK_BUDGET - 1}) div {_PACK_BUDGET}"
            ).alias("n_seqs"),
        )
        .select(
            "n_seqs",
            F.expr(f"n_seqs div {g}").alias("steps_per_epoch"),
            F.expr(f"n_seqs % {g}").alias("seqs_dropped"),
            F.lit(g).cast("long").alias("global_batch_seqs"),
            F.expr(
                "(cast(total_chars as decimal(38,0)) * 1000000) "
                f"div (n_seqs * {_PACK_BUDGET})"
            ).alias("utilization_x1e6"),
        )
    )


@register(
    "sim_knn_graph",
    oracle=f"""
WITH {_sql_adaptive_cand(materialized=True)},
sym AS MATERIALIZED (
  SELECT id_a AS src, id_b AS dst FROM cand
  UNION ALL
  SELECT id_b, id_a FROM cand
),
scored AS (
  SELECT src, dst,
         cast(round(round(list_cosine_similarity(ea.v, eb.v), 6) * 1000000, 0)
              AS bigint) AS cos_x1e6
  FROM sym JOIN e ea ON ea.vec_id = src JOIN e eb ON eb.vec_id = dst
),
topk AS MATERIALIZED (
  SELECT src, dst FROM (
    SELECT src, dst,
           row_number() OVER (PARTITION BY src
                              ORDER BY cos_x1e6 DESC, dst) AS rn
    FROM scored
  ) WHERE rn <= {_KNN_K}
),
mutual AS (
  SELECT a.src AS id_a, a.dst AS id_b
  FROM topk a JOIN topk b ON b.src = a.dst AND b.dst = a.src
  WHERE a.src < a.dst
),
deg AS (
  SELECT node, count(*) AS degree
  FROM (SELECT id_a AS node FROM mutual UNION ALL SELECT id_b FROM mutual)
  GROUP BY node
)
SELECT degree, count(*) AS n_nodes
FROM deg GROUP BY degree
ORDER BY degree
""",
    doc="Mutual-kNN graph construction — the neighborhood graph behind "
    "semantic clustering, manifold curation, and graph-based sampling: "
    "per-node top-k (k=5) by exact cosine over the CAPPED adaptive-LSH "
    "candidates (lsh_candidate_vec_pairs: candidate volume O(n) by the "
    "pair-growth gate, recall floored by the planted-duplicate gate), "
    "an edge kept only when BOTH endpoints rank each other in their "
    "top-k — the standard symmetrization that prunes hub artifacts. "
    "Output is the mutual-degree histogram (isolated nodes carry no "
    "edge and are absent by construction). Determinism: cosine is "
    "integer-scaled BEFORE ranking (ties broken by neighbor id), so "
    "ranks are exact-integer comparisons in both engines. The scaling "
    "is a deliberate DOUBLE rounding, spelled identically in both "
    "plans: round(cos, 6) first snaps the float to a 6-decimal grid — "
    "collapsing sub-1e-6 float noise into EXACT ties the deterministic "
    "id tiebreak then owns — and the outer round(... * 1e6) converts "
    "that grid point to the integer rank key; a single round(cos*1e6) "
    "would rank on values the noise still separates, making the top-k "
    "boundary order-dependent at equality. Scale shape: "
    "per-src candidate lists are bounded by the bucket cap "
    "(<= 20 x 4 tables), so the ranking window partitions over a key "
    "whose cardinality GROWS with the corpus with bounded group size — "
    "never a global sort; the mutuality check is a self-equi-join on "
    "(src, dst).",
    tags=("similarity", "graph", "lsh", "fixed-point"),
)
def sim_knn_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    mutual = _mutual_knn_edges(emb)
    deg = (
        mutual.select(F.col("id_a").alias("node"))
        .unionAll(mutual.select(F.col("id_b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("degree"))
    )
    return (
        deg.groupBy("degree")
        .agg(F.count(F.lit(1)).alias("n_nodes"))
        .orderBy("degree")
    )


def _mutual_knn_edges(
    emb: DataFrame, k: int = _KNN_K, **lsh_kwargs
) -> DataFrame:
    """Mutual top-k edges (id_a < id_b) over the capped adaptive-LSH
    candidates — the sim_knn_graph core, factored out so the
    planted-neighborhood recall gate (tests/test_knn_recall.py) can
    measure EDGE recall directly: top-k neighborhood recall is a
    stricter property than the pair gate's candidate recall (a true
    top-k neighbor missing from the candidate set is invisible to the
    pair gate), so the graph gets its own planted floor.
    ``lsh_kwargs`` pass through to lsh_candidate_vec_pairs (the gate's
    self-check narrows the signature to prove the floor bites)."""
    from p6_spark.operators.similarity import cosine_normed, lsh_candidate_vec_pairs, norm

    # pairs feed both union branches -> one lineage cut (the r6 lesson)
    pairs = lsh_candidate_vec_pairs(emb, **lsh_kwargs).localCheckpoint()
    sym = pairs.select(
        F.col("id_a").alias("src"), F.col("id_b").alias("dst")
    ).unionAll(pairs.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst")))
    # each vector's norm once per vector, not once per candidate pair
    e = F.col("embedding")
    vs = emb.select(F.col("vec_id").alias("src"), e.alias("va"), norm(e).alias("na"))
    vd = emb.select(F.col("vec_id").alias("dst"), e.alias("vb"), norm(e).alias("nb"))
    scored = (
        sym.join(vs, "src")
        .join(vd, "dst")
        .select(
            "src",
            "dst",
            # Two roundings on BOTH engines, deliberately (VERDICT r8 7a):
            # round(cos, 6) snaps each engine's float to the same 1e-6
            # grid FIRST (cross-engine float noise lives below that), and
            # the outer round(· * 1e6, 0) kills the binary-float residue
            # of the x1e6 scaling (e.g. 123456.99999999) before the cast.
            # A single round(cos * 1e6) re-admits half-ulp disagreements
            # at the grid boundary, where ranking ties would then break
            # differently per engine. Keep the oracle's spelling in sync.
            F.round(
                F.round(cosine_normed(F.col("va"), F.col("vb"), F.col("na"), F.col("nb")), 6)
                * 1000000,
                0,
            )
            .cast("bigint")
            .alias("cos_x1e6"),
        )
    )
    topk = (
        scored.withColumn(
            "rn",
            F.row_number().over(
                W.partitionBy("src").orderBy(F.desc("cos_x1e6"), F.asc("dst"))
            ),
        )
        .filter(F.col("rn") <= k)
        .select("src", "dst")
        .localCheckpoint()  # referenced twice by the mutuality self-join
    )
    return (
        topk.alias("a")
        .join(
            topk.alias("b"),
            (F.col("b.src") == F.col("a.dst")) & (F.col("b.dst") == F.col("a.src")),
        )
        .filter(F.col("a.src") < F.col("a.dst"))
        .select(F.col("a.src").alias("id_a"), F.col("a.dst").alias("id_b"))
    )


@register(
    "dd_threshold_sweep",
    oracle=f"""
WITH {_sql_jaccard_scored()},
thr AS (SELECT * FROM (VALUES {", ".join(f"({t})" for t in _THRESHOLDS)}) t(thr_x1e6)),
hits AS (
  SELECT thr.thr_x1e6, s.id_a, s.id_b
  FROM scored s JOIN thr ON s.jaccard_x1e6 >= thr.thr_x1e6
),
np AS (SELECT thr_x1e6, count(*) AS n_pairs FROM hits GROUP BY thr_x1e6),
nd AS (
  SELECT thr_x1e6, count(DISTINCT doc) AS n_docs_affected
  FROM (SELECT thr_x1e6, id_a AS doc FROM hits
        UNION ALL SELECT thr_x1e6, id_b FROM hits)
  GROUP BY thr_x1e6
)
SELECT t.thr_x1e6,
       cast(coalesce(np.n_pairs, 0) AS bigint) AS n_pairs,
       cast(coalesce(nd.n_docs_affected, 0) AS bigint) AS n_docs_affected
FROM thr t LEFT JOIN np USING (thr_x1e6) LEFT JOIN nd USING (thr_x1e6)
ORDER BY t.thr_x1e6
""",
    doc="Dedup-rate-vs-threshold curve in ONE pass — the dial a curation "
    "team turns before committing a dedup cut: exact 3-shingle Jaccard "
    "is computed ONCE per capped-MinHash-LSH candidate pair, then every "
    f"threshold in {list(_THRESHOLDS)} (x1e6) reads the same scored set "
    "(a 5-row broadcast theta-join, no re-scan per threshold). Reports "
    "pairs at-or-above each cut and distinct documents affected — the "
    "corpus-shrink estimate per candidate threshold. Scale shape: "
    "candidates are the capped banded generator (pair-growth-gated "
    "O(n)); Jaccard joins per-doc shingle ARRAYS by id instead of "
    "shuffling shingle rows pairwise (the round-6 oracle-spill lesson, "
    "applied engine-side); the threshold explode multiplies only the "
    "already-linear hits stream by 5.",
    tags=("dedup", "jaccard", "lsh", "fixed-point"),
)
def dd_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    scored = _jaccard_scored(spark, sf_dir)
    thr = spark.createDataFrame(
        [(t,) for t in _THRESHOLDS], "thr_x1e6 long"
    )
    hits = (
        scored.crossJoin(F.broadcast(thr))
        .filter(F.col("jaccard_x1e6") >= F.col("thr_x1e6"))
        .select("thr_x1e6", "id_a", "id_b")
        # hits feeds two aggregates (pair count + distinct docs): one
        # lineage cut so the LSH+Jaccard subtree executes once
        .localCheckpoint()
    )
    np_ = hits.groupBy("thr_x1e6").agg(F.count(F.lit(1)).alias("n_pairs"))
    nd = (
        hits.select("thr_x1e6", F.col("id_a").alias("doc"))
        .unionAll(hits.select("thr_x1e6", F.col("id_b").alias("doc")))
        .groupBy("thr_x1e6")
        .agg(F.countDistinct("doc").alias("n_docs_affected"))
    )
    return (
        thr.join(np_, "thr_x1e6", "left")
        .join(nd, "thr_x1e6", "left")
        .select(
            "thr_x1e6",
            F.coalesce("n_pairs", F.lit(0)).alias("n_pairs"),
            F.coalesce("n_docs_affected", F.lit(0)).alias("n_docs_affected"),
        )
        .orderBy("thr_x1e6")
    )


@register(
    "pipe_post_dedup_mixture",
    oracle=f"""
WITH RECURSIVE {_sql_jaccard_scored()},
dups AS MATERIALIZED (
  SELECT id_a, id_b FROM scored WHERE jaccard_x1e6 >= {_DUP_CUT}
),
edges AS MATERIALIZED (
  SELECT id_a AS u, id_b AS v FROM dups UNION SELECT id_b, id_a FROM dups
),
reach AS (
  SELECT u AS node, u AS label FROM edges
  UNION
  SELECT e.u, r.label FROM edges e JOIN reach r ON r.node = e.v
),
comp AS (SELECT node, min(label) AS component FROM reach GROUP BY node),
dropped AS (SELECT node AS doc_id FROM comp WHERE node <> component),
langs AS (SELECT * FROM (VALUES {", ".join(f"('{k}', {v})" for k, v in
                                           {"en": 400_000, "de": 150_000,
                                            "fr": 150_000, "es": 150_000,
                                            "zh": 150_000}.items())})
          AS t(lang, w_x1e6)),
before AS (
  SELECT lang, cast(sum(n_chars) AS bigint) AS avail_before
  FROM documents WHERE lang IN (SELECT lang FROM langs) GROUP BY lang
),
after AS (
  SELECT lang, cast(sum(n_chars) AS bigint) AS avail_after
  FROM documents
  WHERE lang IN (SELECT lang FROM langs)
    AND doc_id NOT IN (SELECT doc_id FROM dropped)
  GROUP BY lang
),
j AS (
  SELECT l.lang, l.w_x1e6, b.avail_before,
         coalesce(a.avail_after, 0) AS avail_after
  FROM langs l JOIN before b USING (lang) LEFT JOIN after a USING (lang)
),
tb AS (SELECT min(cast((avail_before::HUGEINT * 1000000) // w_x1e6 AS bigint))
         AS total_before FROM j),
ta AS (SELECT min(cast((avail_after::HUGEINT * 1000000) // w_x1e6 AS bigint))
         AS total_after FROM j)
SELECT j.lang, j.w_x1e6, j.avail_before, j.avail_after,
       tb.total_before, ta.total_after
FROM j, tb, ta
ORDER BY j.lang
""",
    doc="Dedup-aware mixture re-planning — the composition every "
    "curation loop runs after committing a dedup cut: near-dup "
    f"clusters (exact shingle Jaccard >= {_DUP_CUT / 1e6} on capped-LSH "
    "candidates, min-label connected components) keep only their "
    "min-id representative; per-language available chars are recomputed "
    "on the survivors and the water-filling achievable total "
    "(pipe_domain_mixture's min over avail/weight, decimal/HUGEINT "
    "staged) is reported BEFORE and AFTER — the number that tells you "
    "whether dedup moved the binding language and shrank the feasible "
    "run. Scale shape: confirmed pairs are the capped linear stream; "
    "CC is bounded-round propagation; the mixture arithmetic is a "
    "5-row broadcast. Oracle replays the clustering with a RECURSIVE "
    "min-label closure (MATERIALIZED inputs, the q_graph_kcore "
    "lesson); like dd_cc_clusters, the closure twin is infeasible on "
    "corpora whose pair graph chains into one giant component — the "
    "engine side stays bounded-round there.",
    tags=("pipeline", "dedup", "mixture", "graph", "fixed-point"),
)
def pipe_post_dedup_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    from p6_spark.operators.graph import connected_components

    mix_w = {"en": 400_000, "de": 150_000, "fr": 150_000, "es": 150_000,
             "zh": 150_000}
    docs = load_table(spark, sf_dir, "documents")
    dups = _jaccard_scored(spark, sf_dir).filter(
        F.col("jaccard_x1e6") >= _DUP_CUT
    )
    cc = connected_components(dups)
    dropped = cc.filter(F.col("node") != F.col("component")).select(
        F.col("node").alias("doc_id")
    )
    in_scope = docs.filter(F.col("lang").isin(list(mix_w)))
    before = in_scope.groupBy("lang").agg(
        F.sum("n_chars").alias("avail_before")
    )
    after = (
        in_scope.join(dropped, "doc_id", "left_anti")
        .groupBy("lang")
        .agg(F.sum("n_chars").alias("avail_after"))
    )
    w = F.broadcast(
        spark.createDataFrame(list(mix_w.items()), "lang string, w_x1e6 long")
    )
    j = (
        w.join(before, "lang")
        .join(after, "lang", "left")
        .select(
            "lang",
            "w_x1e6",
            "avail_before",
            F.coalesce("avail_after", F.lit(0)).alias("avail_after"),
        )
        # feeds both min-total aggregates and the final projection
        .localCheckpoint()
    )
    totals = j.agg(
        F.min(
            F.expr("(cast(avail_before as decimal(38,0)) * 1000000) div w_x1e6")
        ).alias("total_before"),
        F.min(
            F.expr("(cast(avail_after as decimal(38,0)) * 1000000) div w_x1e6")
        ).alias("total_after"),
    )
    return (
        j.crossJoin(F.broadcast(totals))
        .select(
            "lang", "w_x1e6", "avail_before", "avail_after",
            "total_before", "total_after",
        )
        .orderBy("lang")
    )


@register(
    "dd_cross_shard_dup_audit",
    oracle=f"""
WITH {_sql_jaccard_scored()},
{_sql_serpentine_shard()},
dups AS (
  SELECT id_a, id_b FROM scored WHERE jaccard_x1e6 >= {_DUP_CUT}
),
classified AS MATERIALIZED (
  SELECT CASE WHEN sa.shard = sb.shard THEN 'within' ELSE 'cross' END AS scope,
         d.id_a, d.id_b
  FROM dups d JOIN shards sa ON sa.doc_id = d.id_a
              JOIN shards sb ON sb.doc_id = d.id_b
),
pairs_agg AS (SELECT scope, cast(count(*) AS bigint) AS n_pairs
              FROM classified GROUP BY scope),
docs_agg AS (
  SELECT scope, cast(count(DISTINCT doc) AS bigint) AS n_docs
  FROM (SELECT scope, id_a AS doc FROM classified
        UNION ALL SELECT scope, id_b FROM classified)
  GROUP BY scope
)
SELECT scope, n_pairs, n_docs
FROM pairs_agg JOIN docs_agg USING (scope)
ORDER BY scope
""",
    doc="Cross-shard duplicate audit — the measurement that decides "
    "whether SHARD-LOCAL dedup (each worker dedups its own shard, no "
    "global shuffle) is admissible: confirmed near-dup pairs (exact "
    f"shingle Jaccard >= {_DUP_CUT / 1e6} on capped-LSH candidates) are "
    "classified by whether both members landed in the same serpentine "
    "shard (pipe_shard_balance's layout). A high cross-shard fraction "
    "means local dedup leaks duplicates proportionally and the global "
    "pass is mandatory; near-zero means the cheap local pass suffices. "
    "NOTE the serpentine layout orders by SIZE, so near-identical docs "
    "(near-identical sizes) land in ADJACENT ranks — often the same "
    "pass but different shards: expect a high cross fraction, which is "
    "the honest answer for this layout (content-hash sharding is the "
    "layout that makes local dedup work; that trade-off is the point "
    "this audit quantifies). n_pairs counts each classified pair once "
    "per scope row; n_docs counts distinct documents involved. Scale "
    "shape: two broadcast-size joins onto the already-linear confirmed "
    "stream; shards replayed exactly from the two-phase rank.",
    tags=("dedup", "sharding", "jaccard", "fixed-point"),
)
def dd_cross_shard_dup_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    dups = _jaccard_scored(spark, sf_dir).filter(
        F.col("jaccard_x1e6") >= _DUP_CUT
    )
    shards = _serpentine_shard(docs).select("doc_id", "shard")
    sa = shards.select(F.col("doc_id").alias("id_a"), F.col("shard").alias("shard_a"))
    sb = shards.select(F.col("doc_id").alias("id_b"), F.col("shard").alias("shard_b"))
    classified = (
        dups.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            F.when(F.col("shard_a") == F.col("shard_b"), F.lit("within"))
            .otherwise(F.lit("cross"))
            .alias("scope"),
            "id_a",
            "id_b",
        )
        # feeds the pair count AND the distinct-doc explode: one cut so
        # the LSH+Jaccard+rank subtree executes once
        .localCheckpoint()
    )
    pairs_agg = classified.groupBy("scope").agg(
        F.count(F.lit(1)).alias("n_pairs")
    )
    docs_agg = (
        classified.select("scope", F.col("id_a").alias("doc"))
        .unionAll(classified.select("scope", F.col("id_b").alias("doc")))
        .groupBy("scope")
        .agg(F.countDistinct("doc").alias("n_docs"))
    )
    return pairs_agg.join(docs_agg, "scope").orderBy("scope")
