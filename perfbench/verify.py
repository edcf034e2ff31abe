"""Output checks for benchmark ops, run outside the timed window.

A clinical op is correct when the packets written and the ``stats()``
counts equal the generator's expectations, the audit rows per
(step, level) equal the expected ones, and the digest of the sorted
packets equals the warm-pass digest for that workbook. An analytics op
is correct when its result equals the DuckDB oracle under the
canonicalisation of ``tests/oracle_utils.py``.
"""

from __future__ import annotations

import hashlib
import json
import os
from collections import Counter


def packet_digest(out_dir: str) -> str:
    """sha256 over the packets as sorted canonical JSON documents, so the
    digest does not depend on the order the files were numbered in."""
    docs = []
    for fn in os.listdir(out_dir):
        with open(os.path.join(out_dir, fn)) as f:
            docs.append(json.dumps(json.load(f), sort_keys=True))
    docs.sort()
    return hashlib.sha256("\n".join(docs).encode()).hexdigest()


def clinical_problems(expect: dict, written: int, stats: dict, issues: list) -> list[str]:
    """Differences between one op's outputs and the generator's truth."""
    problems = []
    if written != expect["packets"]:
        problems.append(f"packets written {written} != expected {expect['packets']}")
    if stats != expect["stats"]:
        problems.append(f"stats {stats} != expected {expect['stats']}")
    audit = dict(Counter(f"{r['step']}/{r['level']}" for r in issues))
    if audit != expect["audit"]:
        problems.append(f"audit {audit} != expected {expect['audit']}")
    return problems


def analytics_problems(result_pdf, oracle_pdf) -> list[str]:
    from tests.oracle_utils import compare

    return compare(result_pdf, oracle_pdf)
