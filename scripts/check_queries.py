"""Run a subset (or all) registered queries against their DuckDB oracles
at a given SF dir — the local twin of the driver's t2 gate.

Usage: python scripts/check_queries.py [--sf DIR] [name ...]
"""

from __future__ import annotations

import argparse
import sys
import time

sys.path.insert(0, ".")
sys.path.insert(0, "tests")


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument("names", nargs="*")
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    from oracle_utils import compare, run_oracle
    from p6_spark.plans.registry import QUERIES, _load_all
    from p6_spark.session import driver_memory

    _load_all()
    spark = (
        SparkSession.builder.master("local[8]")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", driver_memory())
        .appName("check")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    names = args.names or list(QUERIES)
    n_fail = 0
    for name in names:
        q = QUERIES[name]
        t0 = time.time()
        try:
            sdf = q.build(spark, args.sf).toPandas()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: spark error: {e}")
            n_fail += 1
            continue
        if q.oracle is None:
            print(f"SKIP {name}: no oracle ({len(sdf)} rows, {time.time()-t0:.1f}s)")
            continue
        try:
            odf = run_oracle(q.oracle, args.sf)
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: oracle error: {e}")
            n_fail += 1
            continue
        problems = compare(sdf, odf)
        if problems:
            n_fail += 1
            print(f"FAIL {name} ({time.time()-t0:.1f}s):")
            for p in problems:
                print(f"  - {p}")
        else:
            print(f"ok   {name} ({len(sdf)} rows, {time.time()-t0:.1f}s)")
        # localCheckpoint blocks persist for the session; over a 269-query
        # sweep they accumulate into storage-memory pressure that slowed
        # late checkpoint-heavy queries ~10x (q_graph_modularity measured
        # 124s in-sweep vs 12s standalone at sf1.0). The query is done —
        # free its blocks before the next one. clearCache() is the public
        # API (covers cached relations); the py4j getPersistentRDDs walk
        # additionally reaches checkpoint RDD blocks but is version-
        # brittle, so it is best-effort (ADVICE r6).
        spark.catalog.clearCache()
        try:
            for rdd in spark.sparkContext._jsc.getPersistentRDDs().values():
                rdd.unpersist()
        except Exception:
            pass
    print(f"\n{len(names) - n_fail}/{len(names)} green")
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
