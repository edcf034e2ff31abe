"""TTL'd retrieval ledger (VERDICT r9 #3): watermark expiry bounds
streaming state by the ACTIVE key set under key churn, and the emitted
finalized-window rows are bit-identical to the batch ledger on the same
rows — the stream==batch pin preserved on the retained-window semantics."""

from __future__ import annotations

import datetime
import json
import os
import subprocess
import sys

from pyspark.sql import functions as F

from p6_spark.plans.retrieval_r9 import retrieval_ledger
from p6_spark.streaming.evals import (
    RANKED_TS_SCHEMA,
    _ledger_report,
    retrieval_ledger_stream_ttl,
)

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(REPO, "scripts"))

from stream_ttl_r10 import write_churn_chunks  # noqa: E402

T0 = datetime.datetime(2026, 1, 1, 0, 0, 0)


def _churn_rows(chunks: int, keys: int):
    return [
        (i * keys + j, rnk, (3 if (j + rnk) % 3 == 0 else 1),
         T0 + datetime.timedelta(minutes=i))
        for i in range(chunks)
        for j in range(keys)
        for rnk in (1, 2, 3)
    ]


def test_ttl_stream_equals_batch_on_finalized_windows(spark, tmp_path):
    """Append-mode output = the batch windowed ledger restricted to
    windows the final watermark closed; the last (open) window is NOT
    emitted — exactly the documented retained-window semantics."""
    chunks, keys = 5, 30
    batch = spark.createDataFrame(
        _churn_rows(chunks, keys), "q long, rnk int, gain int, ts timestamp"
    )
    src = str(tmp_path / "ranked_ts")
    # one file per chunk, mtime-ordered, so the watermark advances
    # across triggers in event-time order (the script's writer)
    write_churn_chunks(spark, src, chunks, keys)

    stream = retrieval_ledger_stream_ttl(
        spark.readStream.schema(RANKED_TS_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .format("parquet")
        .load(src),
        window="1 minute",
        ttl="1 minute",
    )
    from p6_spark.streaming.events import run_to_memory

    run_to_memory(stream, "ttl_pin", mode="append")
    got = sorted(
        tuple(r)
        for r in spark.sql("select * from ttl_pin").collect()
    )

    # batch twin: same ledger fn keyed by the same window, restricted
    # to windows closed by the final watermark (max ts - 1 minute)
    final_wm = T0 + datetime.timedelta(minutes=chunks - 1 - 1)
    led = retrieval_ledger(
        batch, extra_keys=(F.window("ts", "1 minute").alias("win"),)
    ).select(
        F.col("win.start").alias("win_start"),
        F.col("win.end").alias("win_end"),
        "q",
        "first_rel_rank",
        "n_rel",
        "rel5",
    )
    want = sorted(
        tuple(r)
        for r in _ledger_report(led, "win_start", "win_end")
        .filter(F.col("win_end") <= F.lit(final_wm))
        .collect()
    )
    assert got == want
    assert len(got) == (chunks - 2) * keys  # open + un-closed windows held back
    # every emitted row carries the exact fixed-point report columns
    assert all(len(r) == 8 for r in got)


def test_state_bounded_under_key_churn_script(tmp_path):
    """The committed measurement harness: TTL state flat at <= 3 chunks
    of keys while the unbounded twin reaches the full key universe. The
    script's JVM starts while the suite's is alive, so it pins a small
    heap: two JVMs at the default heap could exhaust memory together."""
    out = str(tmp_path / "ttl.json")
    subprocess.run(
        [
            sys.executable,
            os.path.join(REPO, "scripts", "stream_ttl_r10.py"),
            "--chunks", "8", "--keys", "25", "--out", out,
        ],
        check=True,
        cwd=REPO,
        capture_output=True,
        env={**os.environ, "P6_SPARK_DRIVER_MEM": "1g"},
    )
    with open(out) as f:
        d = json.load(f)
    assert d["ttl"]["summary"]["state_bounded_under_churn"]
    assert d["ttl"]["summary"]["max_state_rows"] <= 3 * 25
    assert d["unbounded"]["summary"]["state_equals_key_universe"]
    assert d["unbounded"]["summary"]["max_state_rows"] == 8 * 25
