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

# Load canary: a fixed cheap calibration query, timed at quartile
# checkpoints DURING the sweep. Its cost is workload-independent, so a
# max/min ratio beyond _SENTINEL_THRESHOLD means the box got noisy
# mid-run and the artifact flags itself "noisy": rerun on a quiet
# machine instead of trusting its per-query seconds.
_SENTINEL_QUERY = "q06_revenue_filter"  # one filter-aggregate, ~0.15 s at sf0.1
_SENTINEL_THRESHOLD = 1.2


def measure_sentinel(spark, qs, sf_dir: str, runs: int = 3) -> float:
    """Min-of-N timing of the fixed calibration query, gc-drained,
    after ONE untimed self-warm run. Without the self-warm, a sample
    taken soon after session creation pays codegen + parquet listing +
    JVM JIT (and, in back-to-back sweep queues, the previous JVM's
    ~30 s forced-shutdown burn) in its first timed run, reads high and
    flags an idle box as noisy (observed 1.9-6.2x phantom drift)."""
    qs[_SENTINEL_QUERY](spark, sf_dir).collect()
    spark._jvm.System.gc()
    best = float("inf")
    for _ in range(max(1, runs)):
        t0 = time.perf_counter()
        qs[_SENTINEL_QUERY](spark, sf_dir).collect()
        best = min(best, time.perf_counter() - t0)
    return round(best, 4)


def sentinel_samples_verdict(samples: list[float],
                             threshold: float = _SENTINEL_THRESHOLD) -> dict:
    """Drift verdict over equal-warmth checkpoint samples. The samples
    are all taken DURING the sweep: a fresh-session pre-measurement is
    structurally ~2.5x colder than a post-sweep one (JVM-wide JIT
    warmth from 300+ queries — q06 self-warmed standalone converges to
    ~0.27 s where the post-sweep session reads ~0.11 s), so a pre/post
    pair flags IDLE boxes as noisy. Pure, so testable."""
    ratio = max(samples) / max(min(samples), 1e-9)
    return {
        "query": _SENTINEL_QUERY,
        "samples_sec": [round(s, 4) for s in samples],
        "drift_ratio": round(ratio, 4),
        "noisy": ratio > threshold,
    }


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--doc", default="")
    ap.add_argument("names", nargs="*")
    args = ap.parse_args()

    from oracle_utils import compare, run_oracle
    from p6_spark.plans.registry import QUERIES, _load_all
    from p6_spark.session import get_spark

    _load_all()
    spark = get_spark("registry_sweep")
    spark.sparkContext.setLogLevel("ERROR")

    names = args.names or list(QUERIES)
    out: dict = {
        "_doc": args.doc or f"registry oracle sweep at {args.sf}",
        "sf": args.sf,
        "n_queries": len(names),
        "n_green": 0,
        "queries": {},
    }
    # load canary: calibration timing sampled at quartile checkpoints,
    # all at equal warmth (sentinel_samples_verdict has the numbers)
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
        # localCheckpoint blocks persist for the session; over a full
        # sweep they pile up into storage-memory pressure that slowed late
        # checkpoint-heavy queries ~10x (q_graph_modularity: 124 s in-sweep
        # vs 12 s standalone at sf1.0). clearCache() covers cached
        # relations; the py4j getPersistentRDDs walk also reaches
        # checkpoint RDD blocks but is version-brittle, so best-effort.
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
