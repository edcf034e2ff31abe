"""Round-11 bench-noise sentinel (VERDICT r10 item 6): BENCH_NOTES'
manual discard-the-load-inflated-run judgment is now code — bench.py
and scripts/registry_sweep.py time a fixed calibration query before and
after the measured pass and flag the artifact "noisy" past a 1.2x
drift. Pins: the verdict logic (both directions, boundary), the
measurement protocol returning a sane timing, and the end-to-end
artifact field."""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

from bench import (
    _SENTINEL_QUERY,
    _SENTINEL_THRESHOLD,
    measure_sentinel,
    sentinel_samples_verdict,
    sentinel_verdict,
)
from p6_spark.plans import get_queries

SF = "/root/testdata/sf0.001"


def test_verdict_flags_slowdown_and_speedup_symmetrically():
    assert sentinel_verdict(0.10, 0.13)["noisy"]  # post 1.3x slower
    assert sentinel_verdict(0.13, 0.10)["noisy"]  # pre was the loaded one
    assert not sentinel_verdict(0.10, 0.11)["noisy"]
    assert not sentinel_verdict(0.10, 0.10)["noisy"]


def test_verdict_boundary_is_strict():
    v = sentinel_verdict(0.10, 0.12)  # exactly the 1.2x threshold
    assert v["drift_ratio"] == pytest.approx(1.2)
    assert not v["noisy"]
    assert sentinel_verdict(0.10, 0.121)["noisy"]


def test_verdict_record_shape():
    v = sentinel_verdict(0.1234567, 0.1)
    assert v["query"] == _SENTINEL_QUERY
    assert set(v) == {"query", "pre_sec", "post_sec", "drift_ratio", "noisy"}
    assert _SENTINEL_THRESHOLD == 1.2


def test_samples_verdict_flags_mid_run_load_step():
    """Registry sweeps sample at equal warmth DURING the run; a load
    step mid-sweep shows as a sample jumping past the threshold."""
    quiet = sentinel_samples_verdict([0.11, 0.10, 0.115, 0.105])
    assert not quiet["noisy"]
    assert quiet["samples_sec"] == [0.11, 0.10, 0.115, 0.105]
    loaded = sentinel_samples_verdict([0.10, 0.10, 0.26, 0.25])
    assert loaded["noisy"] and loaded["drift_ratio"] == pytest.approx(2.6)
    assert set(quiet) == {"query", "samples_sec", "drift_ratio", "noisy"}


def test_measure_sentinel_self_warms_before_timing():
    """One untimed warm run precedes the N timed runs (the PRE
    measurement in registry_sweep fires on a cold session; without the
    self-warm, codegen/JIT/previous-JVM shutdown burn lands in the
    first timed run and an idle box reads as noisy)."""
    calls = {"n": 0}

    class _DF:
        def collect(self):
            calls["n"] += 1

    class _JVMSys:
        @staticmethod
        def gc():
            pass

    class _JVM:
        System = _JVMSys

    class _Spark:
        _jvm = _JVM()

    qs = {_SENTINEL_QUERY: lambda spark, sf: _DF()}
    sec = measure_sentinel(_Spark(), qs, SF, runs=2)
    assert calls["n"] == 3  # 1 warm + 2 timed
    assert sec >= 0.0


def test_measure_sentinel_times_the_calibration_query(spark):
    qs = get_queries()
    assert _SENTINEL_QUERY in qs
    sec = measure_sentinel(spark, qs, SF, runs=2)
    assert 0.0 < sec < 30.0


def test_bench_artifact_carries_sentinel(tmp_path):
    """End-to-end: a 2-query bench run at sf0.001 writes the sentinel
    record into its artifact (fresh JVM subprocess, ~40 s). The
    subprocess pins a 1g heap: it runs while the suite's JVM is alive,
    and two JVMs at the machine-derived default heap do not fit."""
    out = tmp_path / "bench_sentinel.json"
    env = dict(
        os.environ,
        SPARK_GRAFT_SF_DIR=SF,
        SPARK_GRAFT_BENCH_QUERIES="q01_pricing_summary,q06_revenue_filter",
        P6_SPARK_DRIVER_MEM="1g",
    )
    r = subprocess.run(
        [sys.executable, "bench.py", "--runs", "1", "--out", str(out)],
        env=env,
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert r.returncode == 0, r.stderr[-2000:]
    artifact = json.loads(out.read_text())
    s = artifact["sentinel"]
    assert s["query"] == _SENTINEL_QUERY
    # round 12: pre + quartile checkpoints + post, all equal-warmth
    assert len(s["samples_sec"]) >= 2 and all(x > 0 for x in s["samples_sec"])
    assert isinstance(s["noisy"], bool)
    # the stdout line carries the 2-field summary (driver-visible);
    # the full sample list lives in the artifact file only
    stdout_line = json.loads(r.stdout.strip().splitlines()[-1])
    assert stdout_line["sentinel"] == {
        "drift_ratio": s["drift_ratio"], "noisy": s["noisy"]
    }


def test_slim_stdout_line_degrade_ladder():
    """Round-11 measurement fix: the stdout line must keep the per-query
    dict as long as possible — *_total fields (derivable from queries +
    BENCH_MANIFEST) and sentinel verbosity are shed FIRST, the queries
    dict only as a last resort."""
    import json

    from bench import slim_stdout_line

    out = {
        "metric": "headline_queries_total", "value": 1.0, "unit": "sec",
        "sf": 0.1,
        "sentinel": {"query": "q06_revenue_filter", "pre_sec": 0.11,
                     "post_sec": 0.12, "drift_ratio": 1.09, "noisy": False},
        "iterative_total": 1.0, "r6_total": 2.0,
    }
    timings = {f"q{i:03d}": 0.123 for i in range(60)}
    head = list(timings)
    # roomy budget: everything survives (sentinel always slims to its
    # 2-field stdout summary — round 12)
    full_line = slim_stdout_line(out, timings, head, False, "/tmp/x", budget=5000)
    full = json.loads(full_line)
    assert len(full["queries"]) == 60 and "iterative_total" in full
    assert full["sentinel"] == {"drift_ratio": 1.09, "noisy": False}
    # tight budget: totals shed, queries survive
    line = slim_stdout_line(out, timings, head, False, "/tmp/x",
                            budget=len(full_line) - 10)
    mid = json.loads(line)
    assert len(line) <= len(full_line) - 10
    assert len(mid["queries"]) == 60
    assert not any(k.endswith("_total") for k in mid)
    # hopeless budget: queries dropped last, line still parses
    tiny = json.loads(slim_stdout_line(out, timings, head, False, "/tmp/x", budget=300))
    assert "queries" not in tiny and tiny["metric"] == "headline_queries_total"


def test_slim_stdout_line_fits_the_real_headline_shape():
    """Round-12 regression pin (VERDICT r11 item 3): the realistic
    60-query headline line WITH every section total and the sentinel
    summary must fit the 1900-byte budget — the r11 ladder shed the
    totals, costing the driver section visibility."""
    import json

    from bench import slim_stdout_line

    import bench

    real_names = bench.headline_names()  # the actual frozen 60
    timings = {n: 12.3456 for n in real_names}
    out = {
        "metric": "headline_queries_total", "value": 123.4567, "unit": "sec",
        "sf": 0.1,
        "sentinel": {"query": "q06_revenue_filter",
                     "samples_sec": [0.11, 0.12, 0.11, 0.12, 0.11],
                     "drift_ratio": 1.09, "noisy": False},
        "iterative_total": 11.1234, "r6_total": 22.1234, "r7_total": 3.1234,
        "r8_total": 44.1234, "r9_total": 5.1234, "r9b_total": 66.1234,
        "r10_total": 7.1234, "r11_total": 8.1234,
    }
    line = slim_stdout_line(
        out, timings, real_names, False,
        "/root/repo/benchdata/bench_last.json",
    )
    assert len(line) <= 1900
    parsed = json.loads(line)
    assert len(parsed["queries"]) == 60
    assert sum(1 for k in parsed if k.endswith("_total")) == 8
    assert parsed["sentinel"] == {"drift_ratio": 1.09, "noisy": False}
