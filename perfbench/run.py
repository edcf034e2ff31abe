"""Benchmark entry point: one run of one workload.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Makes the workload's inputs from the seed, starts a fresh client process
(perfbench/client.py) that sets the program up, warms it and times it,
and prints one JSON line as the last line of standard output:
``correct``, ``attempted``, ``failed`` and ``metrics`` -- the end-to-end
metrics of BENCHMARK.json with ``--trace 0``, its per-layer metrics with
``--trace 1``. Everything it writes stays under ``.perfbench/`` in the
checkout. Exits non-zero without a result line when the program is not
in the checkout or the run fails.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import pickle
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DEADLINE_S = 170  # the whole run, inputs and client included

# Generated input sizes per workload (documented in BENCHMARK.json's whys).
COHORT_PATIENTS = 1000
SCALE_FACTOR = 0.01
QUERY_STRIDE = 12  # every 12th query of the 60-query headline list: 5 queries

WORKLOADS = ("clinical_cohort", "analytics_mix")


def _program_present() -> bool:
    need = ("p6_spark/__init__.py", "p6_spark/session.py", "tests/oracle_utils.py",
            "scripts/gen_testdata.py", "BENCH_MANIFEST.json")
    return all(os.path.isfile(os.path.join(ROOT, p)) for p in need)


def make_inputs(workload: str, seed: int, work: str) -> dict:
    """Write the run's inputs under ``work``; return the client manifest."""
    sys.path[:0] = [ROOT, HERE, os.path.join(ROOT, "scripts")]
    m: dict = {"workload": workload, "seed": seed}
    if workload == "clinical_cohort":
        import gen_clinical

        m.update(gen_clinical.generate(seed, work, [COHORT_PATIENTS]))
        return m

    import gen_testdata
    from p6_spark.plans import QUERIES, get_queries
    from tests.oracle_utils import run_oracle

    sf_dir = os.path.join(work, "tables")
    gen_testdata.SEED = seed  # generate() reads it at call time
    with contextlib.redirect_stdout(sys.stderr):  # it prints one line per table
        gen_testdata.generate(SCALE_FACTOR, sf_dir)
    with open(os.path.join(ROOT, "BENCH_MANIFEST.json")) as f:
        names = json.load(f)["headline"][::QUERY_STRIDE]
    get_queries()
    oracle = {n: run_oracle(QUERIES[n].oracle, sf_dir) for n in names}
    m["oracle"] = os.path.join(work, "oracle.pkl")
    with open(m["oracle"], "wb") as f:
        pickle.dump(oracle, f)
    m.update(sf_dir=sf_dir, queries=names)
    return m


def _client_env(work: str) -> dict:
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    env = dict(os.environ)
    for k in ("SPARK_GRAFT_CPUS", "SPARK_GRAFT_SF_DIR", "P6_SPARK_ENRICH_GENE_XREFS"):
        env.pop(k, None)
    env.update(
        P6_SPARK_DRIVER_MEM="1g",  # pinned; the program's default is 48g
        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
        TMPDIR=tmp,
        # keep the JVM's temp files and perf data inside the checkout
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        # JVM heap fixed at its pinned size, so heap growth decisions
        # (which follow GC timing) do not move peak RSS. JIT stopped at C1:
        # with C2, a fresh JVM's op latency keeps falling for about a minute
        # (longer than a run's warm-up) at a pace set by how much CPU the
        # compiler threads get from the host, so runs timed different
        # points of that curve; with C1 the compiled code is settled
        # after the first pass.
        SPARK_SUBMIT_OPTS="-Xms1g -XX:TieredStopAtLevel=1",
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_DRIVER_PYTHON=sys.executable,
        PYTHONPATH=ROOT,
    )
    return env


def run_client(work: str, manifest: dict, seconds: float, trace: int, deadline: float) -> dict:
    mpath = os.path.join(work, "manifest.json")
    with open(mpath, "w") as f:
        json.dump(manifest, f)
    out = os.path.join(work, "result.json")
    cmd = [sys.executable, os.path.join(HERE, "client.py"), "--manifest", mpath,
           "--seconds", str(seconds), "--trace", str(trace), "--out", out]
    proc = subprocess.Popen(cmd, cwd=work, env=_client_env(work), stdout=sys.stderr,
                            start_new_session=True)
    try:
        code = proc.wait(timeout=max(1.0, deadline - time.monotonic()))
    except subprocess.TimeoutExpired:
        raise RuntimeError("client ran past the deadline")
    finally:
        if proc.poll() is None:  # deadline, or this process was stopped
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
    if code != 0:
        raise RuntimeError(f"client exited with {code}")
    with open(out) as f:
        return json.load(f)


def result_line(spec: dict, res: dict, trace: int) -> dict:
    """The printed JSON object, metrics named and united as in BENCHMARK.json."""
    windows = [res["untraced"]] + ([res["traced"]] if trace else [])
    attempted = sum(w["attempted"] for w in windows)
    failed = sum(w["failed"] for w in windows)
    u = res["untraced"]
    values = {
        "setup_s": res["setup_s"],
        "items_per_s": u["items_per_s"],
        "op_latency_s": u["op_latency_s"],
        "peak_rss_mb": res["peak_rss_mb"],
    }
    if trace:
        t = res["traced"]
        clinical = res["workload"] == "clinical_cohort"
        values.update({
            "run.ops": u["attempted"],
            "run.op_tail_s": u["op_tail_s"],
            "run.op_tail_pct": u["op_tail_pct"],
            "run.failed_frac": failed / attempted,
            "run.patients_per_s": u["items_per_s"] if clinical else 0.0,
            "run.queries_per_s": 0.0 if clinical else u["items_per_s"],
            "trace.untraced_op_latency_s": u["op_latency_s"],
            "trace.traced_op_latency_s": t["op_latency_s"],
            "trace.overhead_frac": u["items_per_s"] / t["items_per_s"] - 1.0,
        })
        values.update({k: v for k, v in res.items() if isinstance(v, (int, float))})
    wanted = spec["per_layer"] if trace else spec["end_to_end"]
    metrics = {m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]} for m in wanted}
    return {
        "correct": failed == 0 and res["warm_failed"] == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    deadline = time.monotonic() + DEADLINE_S
    # a SIGTERM unwinds through run_client's cleanup, which stops the client
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(1))
    if not _program_present():
        print(f"perfbench: no p6_spark program under {ROOT}", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)

    base = os.path.join(ROOT, ".perfbench")
    work = os.path.join(base, f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work)
    try:
        manifest = make_inputs(args.workload, args.seed, work)
        res = run_client(work, manifest, args.seconds, args.trace, deadline)
        res["workload"] = args.workload
        if args.trace:
            os.makedirs(os.path.join(base, "traces"), exist_ok=True)
            shutil.copy(os.path.join(work, "trace.json"),
                        os.path.join(base, "traces", f"{args.workload}-seed{args.seed}.json"))
    except Exception as e:  # report and exit non-zero without a result line
        print(f"perfbench: {args.workload} seed {args.seed} failed: {e!r}", file=sys.stderr)
        return 1
    finally:
        shutil.rmtree(work, ignore_errors=True)
    for p in res["problems"]:
        print(f"perfbench: wrong output: {p}", file=sys.stderr)
    print(json.dumps(result_line(spec, res, args.trace)))
    return 0


if __name__ == "__main__":
    sys.exit(main())
