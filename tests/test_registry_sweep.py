"""The registry sweep's load canary (scripts/registry_sweep.py): a fixed
calibration query timed at equal-warmth checkpoints during the sweep,
and a verdict that flags the artifact "noisy" past a 1.2x drift. Pins:
the verdict logic, the self-warm before timing, and a sane timing of
the real calibration query."""

from __future__ import annotations

import os
import sys

import pytest

from p6_spark.plans import get_queries

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(REPO, "scripts"))

from registry_sweep import (  # noqa: E402
    _SENTINEL_QUERY,
    measure_sentinel,
    sentinel_samples_verdict,
)


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
    """One untimed warm run precedes the N timed runs (the first sample
    fires on a young session; without the self-warm, codegen/JIT/
    previous-JVM shutdown burn lands in the first timed run and an idle
    box reads as noisy)."""
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
    sec = measure_sentinel(_Spark(), qs, "unused_sf_dir", runs=2)
    assert calls["n"] == 3  # 1 warm + 2 timed
    assert sec >= 0.0


def test_measure_sentinel_times_the_calibration_query(spark, sf_dir):
    qs = get_queries()
    assert _SENTINEL_QUERY in qs
    sec = measure_sentinel(spark, qs, sf_dir, runs=2)
    assert 0.0 < sec < 30.0
