"""Structured Streaming eval telemetry — the incremental spellings of
ml_pass_at_k and ml_calibration_bins (plans/eval_r8.py): sample
outcomes / scored predictions arrive as a stream, the per-key ledger
accumulates in ONE stateful aggregation, and the exact fixed-point
report columns are a stateless projection on top.

Why this shape: Structured Streaming allows a single stateful
aggregation per query, so cross-group rollups the batch queries report
(the cross-task mean; the n-weighted ECE) are NOT computed stream-side
— they are trivial rollups of the per-key sink (any consumer can run
them per refresh); the part that needs streaming state is exactly the
per-task (n, c) ledger / per-bin (n, sum_conf, n_pos) ledger, and that
is the one aggregation in each query. The report columns reuse the
identical staged-decimal expressions the batch queries certify against
DuckDB (_pass_sql; the _cal_binned projection + trunc-div gaps), so
stream and batch produce bit-identical integers — pinned by
tests/test_streaming_evals.py.

At scale: pass@k state is |tasks| rows of two longs (an eval suite has
thousands of tasks, not billions); calibration state is <= _CAL_BINS
rows of three longs — both bounded by the key universe, independent of
how many outcomes stream through.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from p6_spark.plans.eval_r8 import _N_TASKS, _PASS_KS, _cal_binned, _pass_sql

OUTCOMES_SCHEMA = T.StructType(
    [
        T.StructField("l_partkey", T.LongType(), True),
        T.StructField("l_quantity", T.DoubleType(), True),
    ]
)


def read_outcomes_stream(spark, sf_dir: str) -> DataFrame:
    """Sample-outcome stream from the lineitem files (task = partkey
    bucket, success = quantity threshold — the same synthetic eval
    panel as ml_pass_at_k). Parquet column pruning applies: only the
    two declared columns are read."""
    return (
        spark.readStream.schema(OUTCOMES_SCHEMA)
        .format("parquet")
        .option("pathGlobFilter", "lineitem.parquet")
        .load(sf_dir)
    )


def pass_at_k_stream(outcomes: DataFrame) -> DataFrame:
    """Per-task running pass@k: ONE streaming aggregation to (task_id,
    n, c), then the exact x1e6 pass@k columns for every k in _PASS_KS
    as a stateless projection (NULL while n < k — the estimator is
    undefined until a task has k samples). Works identically on a batch
    DataFrame (the parity test runs this very function on one)."""
    per_task = (
        outcomes.select(
            (F.col("l_partkey") % _N_TASKS).alias("task_id"),
            F.when(F.col("l_quantity") >= 25, 1).otherwise(0).alias("ok"),
        )
        .groupBy("task_id")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("ok").cast("long").alias("c"))
    )
    cols = [
        F.when(
            F.col("n") >= k, F.expr(_pass_sql(k, "spark"))
        ).alias(f"pass{k}_x1e6")
        for k in _PASS_KS
    ]
    return per_task.select("task_id", "n", "c", *cols)


SCORED_SCHEMA = T.StructType(
    [
        T.StructField("l_quantity", T.DoubleType(), True),
        T.StructField("l_extendedprice", T.DoubleType(), True),
    ]
)


def read_scored_stream(spark, sf_dir: str) -> DataFrame:
    """Scored-prediction stream from the lineitem files (confidence =
    scaled quantity, outcome = price threshold — the same synthetic
    scored panel as ml_calibration_bins). Parquet column pruning
    applies: only the two declared columns are read."""
    return (
        spark.readStream.schema(SCORED_SCHEMA)
        .format("parquet")
        .option("pathGlobFilter", "lineitem.parquet")
        .load(sf_dir)
    )


def calibration_bins_stream(scored: DataFrame) -> DataFrame:
    """Running reliability table: ONE streaming aggregation to the
    per-bin (n, sum_conf, n_pos) ledger — the _cal_binned projection is
    the SAME Column expressions the batch query certifies against
    DuckDB — then mean confidence, empirical accuracy, and |gap| as
    exact x1e6 stateless projections. ECE (the n-weighted cross-bin
    mean gap) is deliberately NOT here: it needs a second aggregation,
    so it rolls up from the sink per refresh (ece_from_bins), the
    pass@k-mean pattern. Works identically on a batch DataFrame (the
    parity test runs this very function on one)."""
    per_bin = (
        _cal_binned(scored)
        .groupBy("bin")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("conf_x1e6").alias("sum_conf"),
            F.sum("y").cast("long").alias("n_pos"),
        )
    )
    return per_bin.select(
        "bin",
        "n",
        F.expr("sum_conf div n").alias("mean_conf_x1e6"),
        F.expr("(cast(n_pos as decimal(38,0)) * 1000000) div n").alias(
            "acc_x1e6"
        ),
    ).select(
        "bin",
        "n",
        "mean_conf_x1e6",
        "acc_x1e6",
        F.abs(F.col("mean_conf_x1e6") - F.col("acc_x1e6")).alias("gap_x1e6"),
    )


RANKED_SCHEMA = T.StructType(
    [
        T.StructField("q", T.LongType(), True),
        T.StructField("rnk", T.IntegerType(), True),
        T.StructField("gain", T.IntegerType(), True),
    ]
)


def read_ranked_stream(spark, path: str) -> DataFrame:
    """Ranked-retrieval-results stream: a serving system emits
    (query, rank, gain) rows as result lists are scored — ranks are
    assigned at serving time, so the stream needs no window (the one
    part of ml_mrr_recall that isn't streamable). The parity test
    materializes the batch panel (plans/retrieval_r9._ranked_panel)
    to parquet and streams that."""
    return (
        spark.readStream.schema(RANKED_SCHEMA)
        .format("parquet")
        .load(path)
    )


def _ledger_report(led: DataFrame, *lead_cols: str) -> DataFrame:
    """The exact reciprocal-rank / recall@5 projection shared by the
    unbounded and TTL'd ledger streams (and bit-identical to the batch
    query's report columns)."""
    return led.select(
        *lead_cols,
        "q",
        "first_rel_rank",
        "n_rel",
        "rel5",
        F.expr(
            "CASE WHEN first_rel_rank IS NULL THEN cast(0 as bigint)"
            " ELSE cast(1000000 as bigint) div first_rel_rank END"
        ).alias("rr_x1e6"),
        F.expr(
            "CASE WHEN n_rel = 0 THEN cast(0 as bigint)"
            " ELSE (rel5 * cast(1000000 as bigint)) div n_rel END"
        ).alias("recall5_x1e6"),
    )


def retrieval_ledger_stream(ranked: DataFrame) -> DataFrame:
    """Running per-query retrieval ledger: ONE streaming aggregation to
    (q, first_rel_rank, n_rel, rel5) — LITERALLY the same
    retrieval_ledger function the batch query ml_mrr_recall certifies
    against DuckDB (min/sum are streamable aggregates), so batch and
    stream cannot drift — then the exact reciprocal-rank / recall@5
    columns as stateless projections. The cross-query rollup (MRR,
    hit@1/3, mean recall) is deliberately NOT here: it is a second
    aggregation, so it rolls up from the sink per refresh
    (plans/retrieval_r9.mrr_rollup — the ece_from_bins pattern).

    At scale: state is |queries| rows of three longs — bounded by the
    query universe, independent of how many result rows stream
    through."""
    from p6_spark.plans.retrieval_r9 import retrieval_ledger

    return _ledger_report(retrieval_ledger(ranked))


RANKED_TS_SCHEMA = T.StructType(
    [
        T.StructField("q", T.LongType(), True),
        T.StructField("rnk", T.IntegerType(), True),
        T.StructField("gain", T.IntegerType(), True),
        T.StructField("ts", T.TimestampType(), True),
    ]
)


def retrieval_ledger_stream_ttl(
    ranked_ts: DataFrame,
    window: str = "10 minutes",
    ttl: str = "10 minutes",
) -> DataFrame:
    """TTL'd retrieval ledger (VERDICT r9 #3): the unbounded twin's
    state is exactly one row per query key — bounded by the KEY
    universe, which a production query stream grows forever. This twin
    keys the SAME ledger aggregation (plans/retrieval_r9.
    retrieval_ledger, via its extra_keys hook — one definition, cannot
    drift) by (event-time window, q) and sets a watermark, so Spark's
    state store EVICTS a (window, q) group once the watermark passes
    window end: state is bounded by keys ACTIVE within the TTL horizon,
    not keys ever seen. Run in append mode: a window's ledger rows emit
    exactly once, when the window finalizes — the natural feed for a
    per-window MRR rollup downstream.

    Semantics trade: rows for the same query in DIFFERENT windows are
    separate ledger entries (a re-asked query re-measures). That is the
    correct monitoring semantics — and the only state-bounded one: any
    forever-exact per-key ledger must retain every key.

    At scale: state = |active (window, q) pairs within the watermark
    horizon| — measured flat under key churn in
    benchdata/r10_stream_ttl_state.json (scripts/stream_ttl_r10.py);
    stream == batch on finalized windows pinned by
    tests/test_streaming_ttl_r10.py."""
    from p6_spark.plans.retrieval_r9 import retrieval_ledger

    led = retrieval_ledger(
        ranked_ts.withWatermark("ts", ttl),
        extra_keys=(F.window("ts", window).alias("win"),),
    )
    led = led.select(
        F.col("win.start").alias("win_start"),
        F.col("win.end").alias("win_end"),
        "q",
        "first_rel_rank",
        "n_rel",
        "rel5",
    )
    return _ledger_report(led, "win_start", "win_end")


SCORES_SCHEMA = T.StructType([T.StructField("score", T.LongType(), True)])


def read_scores_stream(spark, path: str) -> DataFrame:
    """Holdout nonconformity-score stream: a serving system emits one
    exact-integer score per prediction (ml_conformal_threshold's |error|
    in cents). The parity test materializes the batch holdout split to
    parquet and streams that."""
    return (
        spark.readStream.schema(SCORES_SCHEMA).format("parquet").load(path)
    )


def coverage_monitor_stream(
    scores: DataFrame, thresholds: DataFrame
) -> DataFrame:
    """Running conformal-coverage monitor: the calibration thresholds
    are a STATIC 3-row table (computed batch-side by
    ml_conformal_threshold — split conformal calibrates once, monitors
    forever), broadcast onto the score stream via a constant-key
    stream-static join; the ledger is ONE streaming aggregation keyed
    by the (alpha, n_cal, k, threshold) row, and the exact x1e6
    coverage/target columns are the SAME expressions the batch query
    certifies against DuckDB. When running coverage drops below
    target - epsilon, the exchangeability assumption broke (drift) —
    that is the alarm this monitor exists to raise.

    At scale: state is |alphas| rows of two longs — independent of how
    many predictions stream through."""
    keyed = scores.withColumn("_k", F.lit(1)).join(
        F.broadcast(thresholds.withColumn("_k", F.lit(1))), "_k"
    )
    led = keyed.groupBy("alpha_x100", "n_cal", "k", "threshold").agg(
        F.count(F.lit(1)).cast("long").alias("n_holdout"),
        F.sum(F.when(F.col("score") <= F.col("threshold"), 1).otherwise(0))
        .cast("long")
        .alias("n_covered"),
    )
    return led.select(
        "alpha_x100",
        "n_cal",
        "k",
        "threshold",
        "n_holdout",
        F.expr(
            "cast((n_covered * cast(1000000 as bigint)) div n_holdout"
            " AS bigint)"
        ).alias("coverage_x1e6"),
        F.expr("cast((100 - alpha_x100) * 10000 AS bigint)").alias(
            "target_x1e6"
        ),
    )


def ece_from_bins(bins: DataFrame) -> DataFrame:
    """The batch-side rollup of a calibration_bins_stream sink: the
    n-weighted mean gap, the identical staged-decimal expression
    ml_calibration_bins uses — so sink + rollup reproduces the batch
    report's ece_x1e6 exactly."""
    return bins.agg(
        F.expr(
            "sum(cast(n as decimal(38,0)) * gap_x1e6) div sum(n)"
        ).alias("ece_x1e6")
    )
