"""Full-registry oracle sweep -> committed benchdata artifact.

The reusable form of the per-round certification runs (r08_registry_*
etc.): every registered query executes against its DuckDB oracle at the
given SF dir (the driver's t2 semantics, via tests/oracle_utils), and
the per-query rows/seconds plus the green count land in one JSON.

Usage:
    python scripts/registry_sweep.py --sf localdata/skew1.0 \
        --out benchdata/r09_registry_skew1.0.json \
        --doc "round-9 ... sweep"

Queries without an oracle record rows-only (counted green, flagged
"rows_only": true — the driver does the same weaker check). Sweeps are
long (~15 min at sf0.01); run under setsid nohup and poll the log.
"""

from __future__ import annotations

import argparse
import json
import sys
import time

sys.path.insert(0, ".")
sys.path.insert(0, "tests")


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--doc", default="")
    ap.add_argument("--cpus", type=int, default=8)
    ap.add_argument("names", nargs="*")
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    from oracle_utils import compare, run_oracle
    from p6_spark.plans.registry import QUERIES, _load_all
    from p6_spark.session import driver_memory

    _load_all()
    spark = (
        SparkSession.builder.master(f"local[{args.cpus}]")
        .config("spark.sql.shuffle.partitions", str(args.cpus))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", driver_memory())
        .appName("registry_sweep")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    from bench import (
        _SENTINEL_QUERY,
        measure_sentinel,
        sentinel_samples_verdict,
    )

    names = args.names or list(QUERIES)
    out: dict = {
        "_doc": args.doc or f"registry oracle sweep at {args.sf}",
        "sf": args.sf,
        "n_queries": len(names),
        "n_green": 0,
        "queries": {},
    }
    # load canary (VERDICT r10 item 6): calibration timing sampled at
    # quartile checkpoints DURING the sweep — a noisy flag means the
    # box load changed mid-sweep and per-query seconds in this
    # artifact are not comparable across runs. A fresh-session PRE
    # measurement is structurally JIT-cold vs a post-sweep one and
    # flags idle boxes (the first five r11 panels, all pre~2.5x post
    # uniformly — the bias signature; real load would vary), so all
    # samples are taken at equal warmth instead (sentinel_samples_
    # verdict docstring has the measured numbers).
    builders = {n: q.build for n, q in QUERIES.items()}
    checkpoints = sorted({max(1, len(names) * k // 4) for k in (1, 2, 3, 4)})
    sentinel_samples: list[float] = []
    n_green = 0
    for i, name in enumerate(names, 1):
        q = QUERIES[name]
        t0 = time.time()
        rec: dict = {}
        try:
            sdf = q.build(spark, args.sf).toPandas()
            rec["rows"] = int(len(sdf))
            if q.oracle is None:
                rec["rows_only"] = True
                n_green += 1
                print(f"SKIP {name}: no oracle ({len(sdf)} rows, "
                      f"{time.time()-t0:.1f}s)", flush=True)
            else:
                odf = run_oracle(q.oracle, args.sf)
                problems = compare(sdf, odf)
                if problems:
                    rec["fail"] = problems
                    print(f"FAIL {name}: {problems}", flush=True)
                else:
                    n_green += 1
                    print(f"ok   {name} ({len(sdf)} rows, "
                          f"{time.time()-t0:.1f}s)", flush=True)
        except Exception as e:  # noqa: BLE001
            rec["fail"] = [f"error: {e}"]
            print(f"FAIL {name}: error: {e}", flush=True)
        rec["sec"] = round(time.time() - t0, 1)
        out["queries"][name] = rec
        # free checkpoint blocks between queries (the r6 sweep lesson)
        spark.catalog.clearCache()
        try:
            for rdd in spark.sparkContext._jsc.getPersistentRDDs().values():
                rdd.unpersist()
        except Exception:
            pass
        if _SENTINEL_QUERY in builders and i in checkpoints:
            sentinel_samples.append(
                measure_sentinel(spark, builders, args.sf)
            )
    out["n_green"] = n_green
    if sentinel_samples:
        out["sentinel"] = sentinel_samples_verdict(sentinel_samples)
        if out["sentinel"]["noisy"]:
            print(
                f"NOISY RUN: sentinel drifted "
                f"{out['sentinel']['drift_ratio']}x — per-query seconds "
                "in this artifact are not comparable; rerun quiet",
                flush=True,
            )
    with open(args.out, "w") as f:
        json.dump(out, f, indent=1)
    print(f"\n{n_green}/{len(names)} green -> {args.out}", flush=True)
    return 0 if n_green == len(names) else 1


if __name__ == "__main__":
    raise SystemExit(main())
