"""Similarity search over embedding columns (array<float>).

- brute_force_topk: exact cosine top-k — the correctness baseline. The
  query set broadcasts; the corpus streams; per-row cosine is a zip_with
  fold in codegen (no Python). O(|corpus| * |queries|) but perfectly
  partition-parallel — right up to a few thousand queries.
- lsh_ann_topk: random-hyperplane LSH — the scale path. Hyperplane
  components are md5-derived ±1 (deterministic, engine-portable);
  signature agreement buckets the corpus so the exact re-rank touches
  only colliding buckets instead of the full corpus.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v
    )


def _doubles(a: Column) -> Column:
    return F.transform(a, lambda x: x.cast("double"))


def norm(a: Column) -> Column:
    """Euclidean norm of an array<float> column, computed in double."""
    ad = _doubles(a)
    return F.sqrt(_dot(ad, ad))


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity of two array<float> columns, computed in double."""
    return cosine_normed(a, b, norm(a), norm(b))


def cosine_normed(a: Column, b: Column, norm_a: Column, norm_b: Column) -> Column:
    """cosine(a, b) given norm(a) and norm(b), the same double: a join
    that meets each vector in many pairs computes its norm once per
    vector instead of once per pair."""
    return _dot(_doubles(a), _doubles(b)) / (norm_a * norm_b)


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k per query. Cosine is rounded to 6 decimals
    BEFORE ranking (with id tiebreak) so the ranking is reproducible
    across engines and partitionings."""
    q = F.broadcast(
        queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("qvec"))
    )
    c = corpus.select(F.col(id_col).alias("match_id"), F.col(vec_col).alias("cvec"))
    scored = (
        c.crossJoin(q)
        .filter(F.col("match_id") != F.col("query_id"))
        .select(
            "query_id",
            "match_id",
            F.round(cosine(F.col("qvec"), F.col("cvec")), 6).alias("cos_sim"),
        )
    )
    w = W.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("match_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .orderBy("query_id", "rnk")
    )


def _plane_signs(plane: int, table: int, dims: int = 256) -> list[float]:
    """Driver-side precompute of the hyperplane sign vector. The planes
    are DATA-INDEPENDENT (md5 parity of "t{table}_plane{plane}_{dim}"),
    so evaluating md5 per row was pure waste — 4 tables x 8 planes x 64
    dims = 2048 md5+concat calls per ROW (~4M per pass at the 2000-row
    embeddings table; round-4 registry bench flagged sim_lsh_ann at
    6.5s). Computing the same parities once in Python and embedding
    them as an array literal is bit-identical: int(md5 hex[:8], 16)
    parity == the md5_int % 2 the oracle replays."""
    import hashlib

    return [
        1.0
        if int(
            hashlib.md5(f"t{table}_plane{plane}_{d}".encode()).hexdigest()[:8],
            16,
        )
        % 2
        == 0
        else -1.0
        for d in range(dims)
    ]


def _signature_sql(
    vec_sql: str,
    num_planes: int,
    table: int,
    dims: int = 256,
    planes_sql: str | None = None,
    min_planes: int = 8,
) -> str:
    """The whole bit-packed signature as ONE SQL string. Plan
    construction cost was the round-4 finding: the original per-dim
    F.lit()/per-plane Column-object build spent ~6s in py4j round-trips
    BEFORE any data moved (8192 lit calls + 64 lambda registrations).
    A single parsed expression per table costs one py4j call; the
    physical plan is identical.

    ``planes_sql``: optional SQL expression (a column name) holding the
    RUNTIME plane count. Plane terms at index >= ``min_planes`` are
    wrapped in ``case when p < planes then ... else 0 end`` — CASE
    branches evaluate lazily in both Spark codegen and DuckDB, so a
    corpus that only needs 10 planes pays for 10 dot products per
    (row, table), not ``num_planes``. Bits at or above the runtime
    plane count are zero BY CONSTRUCTION (not masked after the fact),
    which is bit-identical to computing the narrower signature because
    bit p depends only on hyperplane p.

    The sign vectors are precomputed to `dims` components; a vector
    LONGER than that would be silently truncated by the slice (and the
    zip_with null-pad would collapse every signature to 0 — one giant
    bucket, quadratic join). Guarded with raise_error so an oversize
    embedding fails loudly at execution instead."""
    parts = []
    for p in range(num_planes):
        signs = ",".join(f"{s:.1f}D" for s in _plane_signs(p, table, dims))
        term = (
            f"(case when aggregate(zip_with("
            f"transform({vec_sql}, x -> cast(x as double)), "
            f"slice(array({signs}), 1, size({vec_sql})), "
            f"(x, s) -> x * s), 0.0D, (acc, v) -> acc + v) > 0 "
            f"then {1 << p}L else 0L end)"
        )
        if planes_sql is not None and p >= min_planes:
            term = f"(case when {p} < {planes_sql} then {term} else 0L end)"
        parts.append(term)
    return _dim_guard_sql(vec_sql, dims, "bigint") + "else (" + " + ".join(parts) + ") end"


def _dim_guard_sql(vec_sql: str, dims: int, sql_type: str) -> str:
    """Opening ``case when`` branch that fails a vector longer than the
    ``dims`` precomputed sign components; the caller adds ``else ... end``."""
    return (
        f"case when size({vec_sql}) > {dims} then "
        f"cast(raise_error(concat('lsh_signature: embedding dim ', "
        f"cast(size({vec_sql}) as string), "
        f"' exceeds the {dims} precomputed hyperplane components')) as {sql_type}) "
    )


def _unrolled_signatures(
    corpus: DataFrame, id_col: str, vec_col: str, num_planes: int, num_tables: int, dims: int
) -> DataFrame:
    """``(vid, _s0 .. _s{num_tables-1})``: each table's _signature_sql
    signature, bit for bit, as a projected column of plain arithmetic.

    Higher-order functions (transform/zip_with/aggregate) are
    CodegenFallback in Spark: one of them inside the posexplode
    generator keeps the whole Generate out of whole-stage codegen, so
    every plane term of every row is interpreted. Here each dot product
    is written out as ``0.0D + _c0 - _c1 ...``, which codegens. It adds
    the same terms in the same order as the aggregate fold (``x * -1.0``
    then ``+`` is exactly ``-``), and the zero padding to ``dims`` leaves
    the sign test unchanged. A vector longer than ``dims`` fails loudly,
    as in _signature_sql.

    The components are projected ONCE, as non-NULL doubles ``_c{i}``,
    before the signatures read them, so each term is one subtraction in
    the generated Java. Reading ``_v[i]`` in every term makes each a
    bounds- and NULL-checked array access of ~25 lines; a 64-dim stage of
    4 tables x 8 planes then passes the JVM's 64 KB method limit, so
    whole-stage codegen fails (Spark logs the error) and the failed
    compile costs ~5 s on every call. The ``coalesce`` also keeps the
    optimizer from inlining ``_v[i]`` back into every term. The fold's
    NULL semantics (a NULL vector or component makes every dot product
    NULL, hence every bit 0) are kept by ``_ok``. At 64 dims and 15
    planes (128k rows) the stage still passes the limit and runs with
    per-operator codegen, still ~6x faster than the fold."""
    padded = F.expr(
        _dim_guard_sql(vec_col, dims, "array<double>")
        + f"else concat(cast({vec_col} as array<double>), "
        f"array_repeat(0.0D, {dims} - size({vec_col}))) end"
    )
    sigs = []
    for t in range(num_tables):
        parts = []
        for p in range(num_planes):
            dot = "0.0D" + "".join(
                f" {'+' if s > 0 else '-'} _c{i}" for i, s in enumerate(_plane_signs(p, t, dims))
            )
            parts.append(f"(case when {dot} > 0 then {1 << p}L else 0L end)")
        sigs.append(f"case when _ok then {' + '.join(parts)} else 0L end as _s{t}")
    return (
        corpus.select(F.col(id_col).alias("vid"), padded.alias("_v"))
        .selectExpr(
            "vid",
            "forall(_v, x -> x is not null) as _ok",
            *[f"coalesce(_v[{i}], 0.0D) as _c{i}" for i in range(dims)],
        )
        .selectExpr("vid", *sigs)
    )


def lsh_signature(
    vec_col: str,
    num_planes: int = 8,
    table: int = 0,
    dims: int = 256,
    planes_col: str | None = None,
) -> Column:
    """Bit-packed random-hyperplane signature of an embedding (plane
    sign vectors precomputed driver-side, whole signature parsed as one
    SQL expression; see _plane_signs/_signature_sql). Accepts a column
    NAME only: a Column object has no stable SQL rendering (and the
    private `_jc` escape hatch does not exist under Spark Connect), so
    anything else raises instead of interpolating wrong SQL.

    ``planes_col``: optional column NAME holding the runtime plane
    count — plane terms at index >= 8 short-circuit to 0 when their
    index is at or above it (see _signature_sql)."""
    if not isinstance(vec_col, str):
        raise TypeError(
            "lsh_signature requires a column NAME (str); Column objects "
            "have no engine-portable SQL rendering"
        )
    return F.expr(
        _signature_sql(vec_col, num_planes, table, dims, planes_sql=planes_col)
    )


def adaptive_planes(n: Column, min_planes: int = 8, max_planes: int = 48) -> Column:
    """Signature width (number of hyperplanes) as a function of corpus
    size: ``least(max, greatest(min, ceil(log2(n)) - 1))`` — targets a
    constant expected bucket occupancy of ~2 rows, so candidate-pair
    volume grows LINEARLY with the corpus instead of quadratically.

    This is the fix for the round-5 scale-killer class: blocking on any
    FIXED-cardinality key (a label column, a fixed-width signature)
    makes blocks grow linearly with data and within-block pairs grow
    quadratically. Widening the signature with log2(n) keeps occupancy
    flat at any scale — the same planes-scale-with-corpus discipline a
    production ANN index applies.

    .. versionchanged:: round 8
       Computed as ``length(bin(n-1))`` (exact integer bit-length, ==
       Python ``(n-1).bit_length()``) instead of ``ceil(log2(n))``:
       Spark evaluates ``log2`` as ``ln(x)/ln(2)``, which lands ABOVE
       the true value at n = 2^29, 2^31, 2^39, 2^47 (measured:
       log2(2^29) = 29.000000000000004), so ``ceil`` yielded one extra
       plane exactly at power-of-two corpus sizes — a silent
       cross-engine width disagreement with the DuckDB twin (whose
       native log2 IS exact at powers of two) right in the production
       corpus range. The round-7 design dodged it only because the
       generated terms were capped at the Python-computed build width;
       the Column form now cannot disagree for any n >= 2. Caught by
       tests/test_advice_r7.py::test_bit_length_width_matches_engine_log2.

    .. versionchanged:: round 7
       ``max_planes`` raised 16 -> 48. The 16-plane clamp was a silent
       RECALL cliff (round-6 verdict finding 1): past ~20 * 2^16 ≈ 1.3M
       vectors the ``max_bucket`` cap started dropping essentially every
       uniformly-filled bucket, collapsing candidate recall to zero at
       exactly the corpus sizes LSH blocking exists for. 48 planes push
       that ceiling past 5e15 vectors; the runtime-conditional plane
       evaluation in _signature_sql keeps the COMPUTE at
       ceil(log2(n))-1 dot products per (row, table), so small corpora
       pay nothing for the headroom. Guarded by the planted-duplicate
       recall gate (tests/test_lsh_recall.py), which proves the old
       16-plane clamp loses the duplicates at n=5M and this design
       keeps them."""
    return F.least(
        F.lit(max_planes),
        F.greatest(
            F.lit(min_planes),
            F.length(F.bin(n.cast("long") - F.lit(1))).cast("int") - F.lit(1),
        ),
    )


def lsh_candidate_vec_pairs(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    num_tables: int = 4,
    max_planes: int = 48,
    max_bucket: int = 20,
    pair_id_below: int | None = None,
) -> DataFrame:
    """Candidate pairs (id_a < id_b, distinct) of embeddings that share
    an ADAPTIVE-width LSH bucket in any of ``num_tables`` OR-amplified
    hyperplane tables — the scale-safe blocking generator behind
    embedding near-dedup and density labeling.

    Scale shape (every piece certified in the DuckDB twin):
    - One signature per (row, table) whose EFFECTIVE width is
      ``adaptive_planes(n)``: bit p depends only on hyperplane p, and
      plane terms at or above the runtime width short-circuit to 0
      inside the expression (_signature_sql planes_sql), so the bucket
      id IS the adaptive-width signature — no post-hoc mask, and no
      paying for ``max_planes`` dot products when log2(n) is small.
    - The corpus count attaches as a broadcast 1-row aggregate.
    - Buckets larger than ``max_bucket`` are dropped BEFORE the
      self-join (non-discriminative mass — the lsh_candidate_pairs
      discipline), bounding pairs at ``max_bucket`` x corpus even if
      the data is degenerate; adaptive width keeps the expected bucket
      at ~2 rows so the cap rarely binds on real data.
    Together: candidate pairs grow O(n) by construction (measured
    sf0.001 -> sf0.1: 4x rows -> 4.46x pairs; see BENCH_NOTES round 6),
    and — since round 7's 48-plane ceiling — candidate RECALL no longer
    collapses past ~1.3M vectors (tests/test_lsh_recall.py plants exact
    duplicates in a 5M-vector corpus and measures it).
    - The signatures are projected columns of plain arithmetic
      (_unrolled_signatures), which codegens, with the same buckets as
      the higher-order-function form of lsh_signature bit for bit.

    EAGER-PROBE CAVEAT (callers beware): building this plan runs ONE
    aggregate job over ``corpus`` (count + first vector size) — the
    function is not lazily composable; don't call it inside a loop that
    rebuilds plans, and don't call it at import time. The probe is what
    SPECIALIZES the signature expressions: the sign literals are sized
    to the actual vector dimension, and only ``adaptive_planes(probed
    n)`` plane terms are generated instead of all ``max_planes`` (48
    planes x 4 tables x 256 default components was ~300KB of expression
    text; Catalyst parse+analysis alone cost seconds per build, a fixed
    tax the 100 TB run doesn't need either). The probed count is
    AUTHORITATIVE for the plane width (round-8, ADVICE r7: the second
    runtime count aggregate is gone — one corpus scan per execution
    saved): the width is computed exactly as ``(n-1).bit_length()-1``
    clamped to [8, max_planes], which equals the DuckDB twin's
    ``ceil(log2(n))-1`` for every feasible n: DuckDB's native log2 is
    exact at powers of two (measured to 2^50), elsewhere log2(n) sits
    >= ~1/(n·ln2) away from any integer — astronomically beyond double
    rounding error below the 48-plane clamp (the first ulp-rounding n,
    2^49+1, is already clamp-saturated on both sides). NOTE Spark's own
    ``log2`` is ln(x)/ln(2) and is NOT exact at powers of two (see
    adaptive_planes round-8 note) — never reintroduce it in a width
    computation. Rows longer
    than the probed dimension fail loudly via the raise_error guard in
    _signature_sql; a corpus REGENERATED between build and execution
    re-probes on the next build (plans here are built per call).
    """
    probe = corpus.agg(
        F.count(F.lit(1)).alias("n"), F.first(F.size(F.col(vec_col))).alias("d")
    ).first()
    n = int(probe["n"]) if probe and probe["n"] is not None else 0
    dims = int(probe["d"]) if probe and probe["d"] is not None else 256
    built = min(max_planes, max(8, (n - 1).bit_length() - 1)) if n >= 2 else 8
    # posexplode only gathers the projected signature columns. A bare
    # array attribute as the generator input would let the optimizer
    # infer a size() filter that re-evaluates every signature below the
    # projection.
    sig_cols = [f"_s{t}" for t in range(num_tables)]
    b = _unrolled_signatures(corpus, id_col, vec_col, built, num_tables, dims).select(
        "vid", F.posexplode(F.array(*sig_cols)).alias("tbl", "bkt")
    )
    # bucket-size cap via a PARTITIONED window (one shuffle, no second
    # evaluation of the signature subtree the way a groupBy+join back
    # would cost; the self-join below then reuses the same exchange)
    wb = W.partitionBy("tbl", "bkt")
    bs = (
        b.withColumn("_bn", F.count(F.lit(1)).over(wb))
        .filter(F.col("_bn") <= max_bucket)
        .drop("_bn")
    )
    # ``pair_id_below`` pushes a caller's both-ids-in-panel restriction
    # INTO the self-join (round 11, guide §2.2 — shuffle/join fewer
    # rows): bucket sizes above are computed over the FULL corpus, so
    # the cap semantics are untouched, and filtering each side to
    # panel members afterwards yields exactly the pairs the caller
    # would keep with a post-filter (id_a and id_b both < bound) —
    # without self-joining the whole corpus first. At 100 TB this is a
    # panel-sized pair join instead of a corpus-sized one.
    if pair_id_below is not None:
        bs = bs.filter(F.col("vid") < pair_id_below)
    return (
        bs.alias("a")
        .join(
            bs.alias("c"),
            (F.col("a.tbl") == F.col("c.tbl"))
            & (F.col("a.bkt") == F.col("c.bkt"))
            & (F.col("a.vid") < F.col("c.vid")),
        )
        .select(F.col("a.vid").alias("id_a"), F.col("c.vid").alias("id_b"))
        .distinct()
    )


def lsh_blocked_neardup_pairs(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    min_cos: float = 0.3,
    num_tables: int = 4,
    max_planes: int = 48,
    max_bucket: int = 20,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: exact cosine over the
    capped adaptive-LSH candidate set (lsh_candidate_vec_pairs), kept at
    ``cos >= min_cos``.

    .. versionchanged:: round 6
       Replaces the label-blocked variant: blocking on the
       fixed-cardinality ``label`` column made within-block pairs grow
       QUADRATICALLY with the corpus (the round-5 verdict's named
       scale-killer). Output schema changed from (label, id_a, id_b,
       cos_x1e6) to (id_a, id_b, cos_x1e6) — pairs may now cross
       labels, exactly as content-based near-dup detection should.

    Candidates carry ids only; vectors join back by id (linear shuffle)
    for the exact re-rank. Output is deterministic: cosine rounded to 6
    decimals, integer-scaled, totally ordered."""
    pairs = lsh_candidate_vec_pairs(
        corpus,
        id_col=id_col,
        vec_col=vec_col,
        num_tables=num_tables,
        max_planes=max_planes,
        max_bucket=max_bucket,
    )
    ea = corpus.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"))
    eb = corpus.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"))
    return (
        pairs.join(ea, "id_a")
        .join(eb, "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(cosine(F.col("va"), F.col("vb")), 6).alias("cos"),
        )
        .filter(F.col("cos") >= min_cos)
        .select(
            "id_a",
            "id_b",
            F.round(F.col("cos") * 1000000, 0).cast("bigint").alias("cos_x1e6"),
        )
        .orderBy(F.desc("cos_x1e6"), "id_a", "id_b")
    )


def lsh_ann_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    num_planes: int = 8,
    num_tables: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """ANN top-k: equi-join on LSH signature (bucket), exact cosine
    re-rank within buckets. The signature join replaces the cross join —
    at 100 TB that is the difference between a shuffle on a long key and
    an O(n^2) explosion.

    OR-amplification: `num_tables` independent hyperplane sets; a corpus
    row is a candidate for a query if their signatures agree in ANY
    table (posexplode over per-table sigs → equi-join on (table, sig) →
    distinct candidate pairs). More tables = higher recall at linear
    index cost — the standard recall/cost dial. Recall is tested against
    brute force in tests/test_similarity.py."""
    sigs = F.array(
        *[lsh_signature(vec_col, num_planes, t) for t in range(num_tables)]
    )
    c = corpus.select(
        F.col(id_col).alias("match_id"),
        F.col(vec_col).alias("cvec"),
        F.posexplode(sigs).alias("tbl", "sig"),
    )
    q = F.broadcast(
        queries.select(
            F.col(id_col).alias("query_id"),
            F.col(vec_col).alias("qvec"),
            F.posexplode(sigs).alias("tbl", "sig"),
        )
    )
    scored = (
        c.join(q, ["tbl", "sig"])
        .filter(F.col("match_id") != F.col("query_id"))
        .select("query_id", "match_id", "qvec", "cvec")
        .dropDuplicates(["query_id", "match_id"])
        .select(
            "query_id",
            "match_id",
            F.round(cosine(F.col("qvec"), F.col("cvec")), 6).alias("cos_sim"),
        )
    )
    w = W.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("match_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .orderBy("query_id", "rnk")
    )
