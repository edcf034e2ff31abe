"""One benchmark run in a fresh process: set up the program, run an
untimed warm-up of whole passes over every op kind, then time whole passes
of ops in a closed loop (one client, the next op starts when the previous
one ends) and check every op's output outside the timed window.

Usage (normally started by run.py, which makes the inputs):

    python3 perfbench/client.py --manifest M.json --seconds S --trace 0|1 --out R.json

With ``--trace 1`` the run times an untraced window first and then a
traced one, so the tracing overhead is measured in the same process.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import pickle
import random
import resource
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]

from spans import TRACE_CONF, JobGroups, Tracer  # noqa: E402
from verify import analytics_problems, clinical_problems, packet_digest  # noqa: E402

CPUS = 4  # local[4]: parallelism pinned through get_spark's cpus argument
_CLK = os.sysconf("SC_CLK_TCK")


def _jvm_cpu_s(pid: int) -> float:
    with open(f"/proc/{pid}/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    return (int(fields[11]) + int(fields[12])) / _CLK  # utime + stime


def _hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError(f"no VmHWM for pid {pid}")


def _py_cpu_s() -> float:
    r = resource.getrusage(resource.RUSAGE_SELF)
    return r.ru_utime + r.ru_stime


def tail(latencies: list[float]) -> tuple[float, float]:
    """(value, percentile) of the highest nearest-rank percentile with at
    least ten samples beyond it; (max, 0) when there are too few samples."""
    xs = sorted(latencies)
    k = len(xs) - 11
    if k < 0:
        return xs[-1], 0.0
    return xs[k], 100.0 * (k + 1) / len(xs)


class Clinical:
    """parse-excel ops: the calls of cli.cmd_parse_excel, in its order."""

    load_metric = "sources.ontology.load_s"
    warm_passes = 1  # one op of the cohort workbook; a second would not fit the run

    def __init__(self, m: dict, spark, tr: Tracer, jg: JobGroups, work: str) -> None:
        self.m, self.spark, self.tr, self.jg = m, spark, tr, jg
        self.out_root = os.path.join(work, "packets")
        self.digests: dict[int, str] = {}

    def load(self) -> None:
        from p6_spark.sources.ontology import ontology_from_obographs

        self.onto = ontology_from_obographs(self.spark, self.m["hpo"])

    def items(self) -> list[int]:
        return list(range(len(self.m["workbooks"])))

    def install_spans(self) -> None:
        import p6_spark.mapper as mapper
        import p6_spark.sources.xlsx as xlsx

        tr = self.tr

        def cells(sheets):
            return {"sources.xlsx.cells": sum(v is not None for rows in sheets.values() for r in rows for v in r),
                    "loader.rows": sum(max(len(rows) - 1, 0) for rows in sheets.values())}

        tr.patch(xlsx, "read_xlsx", "sources.xlsx.read_xlsx", count=cells)
        tr.patch(mapper, "map_genotype_table", "operators.genotype.map_genotype_table")
        tr.patch(mapper, "map_phenotype_table", "operators.phenotype.map_phenotype_table")
        for name in ("map_disease_table", "map_measurement_table", "map_biosample_table"):
            tr.patch(mapper, name, "operators.clinical.map_tables")
        tr.patch(mapper, "assemble_phenopackets", "operators.packet.assemble_phenopackets")
        tr.patch(mapper, "union_audits", "audit.union")

    def op(self, i: int):
        from p6_spark import loader, mapper
        from p6_spark.operators import packet

        tr, jg = self.tr, self.jg
        out_dir = os.path.join(self.out_root, str(i))
        tables = tr.call("loader.load_workbook", loader.load_workbook, self.spark, self.m["workbooks"][i]["path"])
        result = tr.call("mapper.apply_mapping", mapper.apply_mapping, self.spark, tables, ontology=self.onto)
        with tr.span("operators.packet.write_packet_files"):
            written = jg.call("write_packet_files", packet.write_packet_files, result.packets, out_dir)
        with tr.span("mapper.stats"):
            stats = jg.call("stats", result.stats)
        with tr.span("audit.collect"):
            issues = jg.call("audit_collect", result.audit.collect)
        return written, stats, issues, out_dir

    def check(self, i: int, out, warm: bool) -> tuple[int, list[str]]:
        written, stats, issues, out_dir = out
        if self.tr.enabled:
            self.tr.counts["operators.packet.files"] += written
            self.tr.counts["audit.rows"] += len(issues)
        problems = clinical_problems(self.m["workbooks"][i], written, stats, issues)
        digest = packet_digest(out_dir)
        if warm:
            self.digests[i] = digest
        elif digest != self.digests.get(i):
            problems.append(f"packet digest {digest[:12]} != warm-pass digest")
        shutil.rmtree(out_dir)
        return written, problems


class Analytics:
    """Build -> collect one registered headline query."""

    load_metric = "sources.tables.load_table_s"
    # the first pass generates and compiles every query's code and is
    # three to four times slower than a settled pass; the second one is
    # still about 10 % slower
    warm_passes = 2

    def __init__(self, m: dict, spark, tr: Tracer, jg: JobGroups, work: str) -> None:
        from p6_spark.plans import QUERIES, get_queries

        get_queries()
        self.m, self.spark, self.tr, self.jg = m, spark, tr, jg
        self.queries = QUERIES
        with open(m["oracle"], "rb") as f:
            self.oracle = pickle.load(f)  # written by run.py for this run

    def load(self) -> None:
        from p6_spark.sources import tables

        for name in tables.HARNESS_TABLES:
            tables.load_table(self.spark, self.m["sf_dir"], name)

    def items(self) -> list[str]:
        return list(self.m["queries"])

    def install_spans(self) -> None:
        pass  # spans come from the call sites in op()

    def op(self, name: str):
        tr, jg = self.tr, self.jg
        df = tr.call("plans.build", self.queries[name].build, self.spark, self.m["sf_dir"])
        if tr.enabled:
            tr.call("plans.optimize", df._jdf.queryExecution().executedPlan)
        with tr.span("plans.execute"):
            return jg.call("plans_execute", df.toPandas)

    def check(self, name: str, pdf, warm: bool) -> tuple[int, list[str]]:
        if self.tr.enabled:
            self.tr.counts["plans.result_rows"] += len(pdf)
        return 1, analytics_problems(pdf, self.oracle[name])


class Runner:
    def __init__(self, m: dict, seconds: float, work: str) -> None:
        self.m, self.seconds, self.work = m, seconds, work
        self.rng = random.Random(m["seed"])
        self.problems: list[str] = []

    def _one(self, w, item, warm: bool, rec: dict) -> None:
        """Run one op, time it, then check it (check not timed)."""
        jvm = self.jvm_pid
        w.tr.op = rec["ops"]
        c_py, c_jvm = _py_cpu_s(), _jvm_cpu_s(jvm)
        t0 = time.perf_counter()
        try:
            out = w.op(item)
        except Exception:  # an op that raises counts as failed; the loop goes on
            dt = time.perf_counter() - t0
            w.tr.op = None
            rec["failed"] += 1
            rec["ops"] += 1
            rec["lat"].append(dt)
            rec["by_item"].setdefault(item, []).append(dt)
            self.problems.append(f"{item}: {traceback.format_exc(limit=3)}")
            return
        dt = time.perf_counter() - t0
        rec["py_cpu"] += _py_cpu_s() - c_py
        rec["jvm_cpu"] += _jvm_cpu_s(jvm) - c_jvm
        w.tr.op = None
        items, problems = w.check(item, out, warm)
        rec["ops"] += 1
        rec["lat"].append(dt)
        rec["by_item"].setdefault(item, []).append(dt)
        rec["items"] += items
        if problems:
            rec["failed"] += 1
            self.problems.extend(f"{item}: {p}" for p in problems)

    def window(self, w, warm: bool) -> dict:
        """Whole passes over the items (seeded order per pass); when
        warming, ``w.warm_passes`` of them, else the number of passes whose
        timed op latencies add up closest to ``seconds`` (at least one),
        taking the last pass as the estimate of the next."""
        rec = {"ops": 0, "failed": 0, "items": 0, "lat": [], "py_cpu": 0.0, "jvm_cpu": 0.0, "passes": 0,
               "by_item": {}}
        while True:
            order = w.items()
            self.rng.shuffle(order)
            before = sum(rec["lat"])
            for item in order:
                self._one(w, item, warm, rec)
            rec["passes"] += 1
            busy = sum(rec["lat"])
            if warm:
                if rec["passes"] >= w.warm_passes:
                    return rec
            elif busy + (busy - before) / 2 >= self.seconds:
                return rec

    def run(self, trace: bool) -> dict:
        from p6_spark.session import get_spark

        t0 = time.perf_counter()
        spark = get_spark("perfbench", cpus=CPUS, extra_conf=TRACE_CONF if trace else None)
        get_spark_s = time.perf_counter() - t0
        self.jvm_pid = spark.sparkContext._gateway.proc.pid
        tr = Tracer()
        jg = JobGroups(spark.sparkContext, enabled=False)
        kind = Clinical if self.m["workload"] == "clinical_cohort" else Analytics
        w = kind(self.m, spark, tr, jg, self.work)
        t = time.perf_counter()
        w.load()
        load_s = time.perf_counter() - t

        t = time.perf_counter()
        warm = self.window(w, warm=True)
        warmup_s = time.perf_counter() - t
        gc.collect()  # before the window only: no forced GC inside it

        res = {
            "setup_s": get_spark_s + load_s,
            "session.get_spark_s": get_spark_s,
            w.load_metric: load_s,
            "run.warmup_s": warmup_s,
            "warm_failed": warm["failed"],
        }
        timed = self.window(w, warm=False)
        res["untraced"] = _summary(timed)
        if trace:
            w.install_spans()
            tr.enabled = jg.enabled = True
            traced = self.window(w, warm=False)
            tr.enabled = False
            tr.unpatch_all()
            res["traced"] = _summary(traced)
            n = traced["ops"]
            for name, (total, own) in tr.per_op(n).items():
                res[f"{name}_s"] = total
                res[f"{name}_self_s"] = own
            for name, v in tr.counts.items():
                res[name] = v / n
            res.update(jg.metrics(n))
            res["proc.py_cpu_s"] = traced["py_cpu"] / n
            res["proc.jvm_cpu_s"] = traced["jvm_cpu"] / n
            res["trace.spans"] = len(tr.spans) / n
            tr.dump(os.path.join(self.work, "trace.json"))
        print(f"perfbench: setup {res['setup_s']:.2f} s, warm-up {warmup_s:.2f} s, "
              f"timed {timed['passes']} pass(es) of {len(w.items())} ops in {sum(timed['lat']):.2f} s", flush=True)
        print("perfbench: timed op latencies (s) " + json.dumps({str(k): [round(x, 4) for x in v] for k, v in timed["by_item"].items()}), flush=True)
        py_mb, jvm_mb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024, _hwm_mb(self.jvm_pid)
        print(f"perfbench: peak RSS python {py_mb:.0f} MB + JVM {jvm_mb:.0f} MB", flush=True)
        res["peak_rss_mb"] = py_mb + jvm_mb
        res["problems"] = self.problems[:20]
        _stop(spark)
        return res


def _summary(rec: dict) -> dict:
    """Window figures. Throughput and latency come from each op kind's
    median latency over the window's passes, so a burst of host noise that
    slows one pass moves them little: ``items_per_s`` is the items of one
    pass over the sum of those medians, ``op_latency_s`` their mean. (The
    median over all ops of a mix of kinds jumps between kinds from run to
    run, so it is not used.)"""
    busy = sum(rec["lat"])
    value, pct = tail(rec["lat"])
    medians = [statistics.median(xs) for xs in rec["by_item"].values()]
    return {
        "attempted": rec["ops"],
        "failed": rec["failed"],
        "items_per_s": rec["items"] / rec["passes"] / sum(medians),
        "op_latency_s": statistics.fmean(medians),
        "op_tail_s": value,
        "op_tail_pct": pct,
        "passes": rec["passes"],
        "busy_s": busy,
    }


def _stop(spark) -> None:
    """Stop Spark and wait for the JVM to exit (it exits on stdin EOF)."""
    import subprocess

    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()
    proc = gateway.proc
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--manifest", required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    with open(args.manifest) as f:
        m = json.load(f)
    work = os.path.dirname(os.path.abspath(args.manifest))
    res = Runner(m, args.seconds, work).run(bool(args.trace))
    with open(args.out, "w") as f:
        json.dump(res, f)
    return 0


if __name__ == "__main__":
    sys.exit(main())
