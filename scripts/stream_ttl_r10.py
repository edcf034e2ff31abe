"""Round-10 TTL-eviction measurement (VERDICT r9 #3): drive the TTL'd
retrieval ledger (streaming/evals.retrieval_ledger_stream_ttl) over a
KEY-CHURNING stream — every chunk brings a fresh set of query keys one
event-time minute later — and record stateOperators numRowsTotal per
batch for BOTH twins:

  * unbounded twin (retrieval_ledger_stream): state grows linearly to
    the full key universe (chunks x keys rows) — the curve that says
    "state = keys ever seen" cannot run forever;
  * TTL twin (1-minute windows, 1-minute watermark): state stays flat
    at ~2 chunks' worth of keys no matter how many chunks stream
    through — watermark expiry evicts every (window, q) group once the
    watermark passes window end.

Usage:
  python scripts/stream_ttl_r10.py [--chunks 30] [--keys 200]
      [--out benchdata/r10_stream_ttl_state.json]
"""

from __future__ import annotations

import argparse
import datetime
import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from p6_spark.session import get_spark  # noqa: E402

T0 = datetime.datetime(2026, 1, 1, 0, 0, 0)


def write_churn_chunks(spark, path: str, chunks: int, keys: int) -> None:
    """One parquet file per chunk, disjoint key ranges, event time
    advancing one minute per chunk; file mtimes (and names) increase
    with the chunk index so maxFilesPerTrigger=1 replays them in order."""
    os.makedirs(path, exist_ok=True)
    for i in range(chunks):
        ts = T0 + datetime.timedelta(minutes=i)
        rows = [
            (i * keys + j, rnk, (3 if (j + rnk) % 3 == 0 else 1), ts)
            for j in range(keys)
            for rnk in (1, 2, 3)
        ]
        df = spark.createDataFrame(
            rows, "q long, rnk int, gain int, ts timestamp"
        ).coalesce(1)
        tmp = os.path.join(path, f"_tmp_{i:04d}")
        df.write.mode("overwrite").parquet(tmp)
        part = next(
            f for f in os.listdir(tmp) if f.endswith(".parquet")
        )
        final = os.path.join(path, f"chunk_{i:04d}.parquet")
        shutil.move(os.path.join(tmp, part), final)
        shutil.rmtree(tmp)
        os.utime(final, (1_700_000_000 + i, 1_700_000_000 + i))


def drive(spark, name, stream_df, mode, expected_triggers):
    q = (
        stream_df.writeStream.format("memory")
        .queryName(f"ttl_{name}")
        .outputMode(mode)
        .start()
    )
    t0 = time.perf_counter()
    try:
        q.processAllAvailable()
        wall = time.perf_counter() - t0
        prog = [json.loads(p.json) for p in q.recentProgress]
    finally:
        q.stop()
    if len(prog) < expected_triggers:
        raise RuntimeError(
            f"{name}: progress history truncated — {len(prog)} < "
            f"{expected_triggers}; raise numRecentProgressUpdates"
        )
    batches = [
        {
            "batch_id": p["batchId"],
            "input_rows": p.get("numInputRows", 0),
            "state_rows": (p.get("stateOperators") or [{}])[0].get(
                "numRowsTotal", 0
            ),
        }
        for p in prog
        if p.get("numInputRows", 0) > 0
    ]
    return {"wall_s": round(wall, 2), "batches": batches}


def run_churn(chunks: int, keys: int, spark=None) -> dict:
    from p6_spark.streaming.evals import (
        RANKED_SCHEMA,
        RANKED_TS_SCHEMA,
        retrieval_ledger_stream,
        retrieval_ledger_stream_ttl,
    )

    own_spark = spark is None
    if own_spark:
        spark = get_spark("stream_ttl_r10")
        spark.sparkContext.setLogLevel("ERROR")
    spark.conf.set(
        "spark.sql.streaming.numRecentProgressUpdates", str(chunks + 64)
    )
    tmp = tempfile.mkdtemp(prefix="r10ttl_")
    try:
        write_churn_chunks(spark, tmp, chunks, keys)

        def src(schema):
            return (
                spark.readStream.schema(schema)
                .option("maxFilesPerTrigger", 1)
                .format("parquet")
                .load(tmp)
            )

        ttl = retrieval_ledger_stream_ttl(
            src(RANKED_TS_SCHEMA), window="1 minute", ttl="1 minute"
        )
        r_ttl = drive(spark, "ledger_ttl", ttl, "append", chunks)

        unbounded = retrieval_ledger_stream(src(RANKED_SCHEMA))
        r_unb = drive(spark, "ledger_unbounded", unbounded, "complete", chunks)

        out = {
            "chunks": chunks,
            "keys_per_chunk": keys,
            "total_keys": chunks * keys,
            "ttl": r_ttl,
            "unbounded": r_unb,
        }
        for k in ("ttl", "unbounded"):
            b = out[k]["batches"]
            out[k]["summary"] = {
                "n_batches": len(b),
                "total_input_rows": sum(x["input_rows"] for x in b),
                "max_state_rows": max(x["state_rows"] for x in b),
                "final_state_rows": b[-1]["state_rows"] if b else 0,
            }
        # the invariants: TTL state never exceeds ~2 active chunks of
        # keys (current window + the one the watermark hasn't closed),
        # while the unbounded twin's state reaches the FULL key universe
        out["ttl"]["summary"]["state_bounded_under_churn"] = (
            out["ttl"]["summary"]["max_state_rows"] <= 3 * keys
        )
        out["unbounded"]["summary"]["state_equals_key_universe"] = (
            out["unbounded"]["summary"]["max_state_rows"] == chunks * keys
        )
        return out
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--chunks", type=int, default=30)
    ap.add_argument("--keys", type=int, default=200)
    ap.add_argument("--out", default="benchdata/r10_stream_ttl_state.json")
    args = ap.parse_args()
    out = {"_doc": __doc__.strip().splitlines()[0]}
    out.update(run_churn(args.chunks, args.keys))
    os.makedirs(os.path.dirname(args.out), exist_ok=True)
    with open(args.out, "w") as f:
        json.dump(out, f, indent=1)
    for k in ("ttl", "unbounded"):
        print(k, out[k]["summary"])
    print(f"wrote {args.out}")


if __name__ == "__main__":
    main()
