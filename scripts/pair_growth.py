"""Candidate-pair growth measurement (VERDICT r5 items 1-2 'Done'
criterion): for the adaptive capped-LSH embedding blocking
(operators/similarity.lsh_candidate_vec_pairs — the engine behind
dd_embedding_neardup and ml_dbscan_core), measure candidate-pair count
against corpus size across (a) the harness SF decade and (b) locally
generated embedding panels BEYOND the harness's 2000-row cap
(distribution-identical: seed-42 unit-norm 64-dim normals), proving the
pairs/rows ratio stays flat — linear growth — where the round-5
fixed-label blocking grew quadratically.

Writes benchdata/r06_pair_growth.json; the summary table lives in
BENCH_NOTES.md (round 6).

Usage: python scripts/pair_growth.py
"""

from __future__ import annotations

import json
import os
import sys
import tempfile

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from p6_spark.session import get_spark  # noqa: E402


def _gen_embeddings(n: int, path: str) -> None:
    rng = np.random.default_rng(42)
    m = rng.normal(size=(n, 64)).astype("float32")
    m /= np.linalg.norm(m, axis=1, keepdims=True)
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array(np.arange(n), pa.int64()),
                "embedding": pa.array(list(m), pa.list_(pa.float32())),
                "label": pa.array(rng.integers(0, 10, n), pa.int32()),
            }
        ),
        path,
    )


def main() -> None:
    from pyspark.sql import functions as F

    from p6_spark.operators.similarity import lsh_candidate_vec_pairs

    spark = get_spark("pair_growth")
    spark.sparkContext.setLogLevel("ERROR")

    results = []

    def measure(tag: str, df) -> None:
        n = df.count()
        pairs = lsh_candidate_vec_pairs(df).count()
        # the round-5 design, for the quadratic contrast column
        e = df.select("vec_id", "label")
        label_pairs = (
            e.alias("a")
            .join(
                e.alias("b"),
                (F.col("a.label") == F.col("b.label"))
                & (F.col("a.vec_id") < F.col("b.vec_id")),
            )
            .count()
        )
        results.append(
            {
                "panel": tag,
                "rows": n,
                "adaptive_lsh_pairs": pairs,
                "pairs_per_row": round(pairs / n, 3),
                "r5_label_block_pairs": label_pairs,
                "label_pairs_per_row": round(label_pairs / n, 3),
            }
        )
        print(results[-1])

    for sf in ("/root/testdata/sf0.001", "/root/testdata/sf0.1"):
        measure(sf, spark.read.parquet(f"{sf}/embeddings.parquet"))

    with tempfile.TemporaryDirectory() as tmp:
        for n in (8000, 32000):
            p = os.path.join(tmp, f"emb{n}.parquet")
            _gen_embeddings(n, p)
            measure(f"local_n{n}", spark.read.parquet(p))

    out = {"metric": "adaptive_lsh_pair_growth", "panels": results}
    os.makedirs("benchdata", exist_ok=True)
    with open("benchdata/r06_pair_growth.json", "w") as f:
        json.dump(out, f, indent=2)
    print("wrote benchdata/r06_pair_growth.json")


if __name__ == "__main__":
    main()
