"""Self-test of the benchmark's own machinery (no Spark needed):

1. every generated workbook round-trips cell-for-cell through the
   program's ``sources.xlsx.read_xlsx``;
2. a planted wrong packet count, wrong audit count or wrong analytics
   result is reported by the output checks and counted as a failed op
   by the timing loop.

    python3 perfbench/selftest.py
"""

from __future__ import annotations

import os
import random
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(HERE), HERE]

import gen_clinical  # noqa: E402
from client import Runner  # noqa: E402
from spans import Tracer  # noqa: E402
from verify import analytics_problems, clinical_problems  # noqa: E402

FAILURES: list[str] = []


def check(ok: bool, what: str) -> None:
    print(("ok   " if ok else "FAIL ") + what)
    if not ok:
        FAILURES.append(what)


def test_xlsx_roundtrip(tmp: str) -> None:
    from p6_spark.sources.xlsx import read_xlsx

    rng = random.Random(7)
    onto = gen_clinical.make_ontology(rng, n_terms=2000)
    pools = gen_clinical.TermPools(onto)
    first = 1
    for n in (12, 36, 400):
        sheets, _ = gen_clinical.make_workbook(rng, onto, pools, n, first)
        first += n
        path = os.path.join(tmp, f"rt_{n}.xlsx")
        gen_clinical.write_xlsx(path, sheets)
        got = read_xlsx(path)
        want = {name: gen_clinical.cells_as_read(rows) for name, rows in sheets}
        check(list(got) == [name for name, _ in sheets], f"{n}-patient workbook keeps sheet order")
        check(got == want, f"{n}-patient workbook round-trips cell for cell")


def _expect() -> dict:
    return {
        "packets": 3,
        "stats": {"n_genotype": 2, "n_phenotype": 4, "n_diseases": 1, "n_measurements": 1,
                  "n_biosamples": 0, "n_patients": 3},
        "audit": {"map_phenotype/warning": 1},
    }


def test_clinical_checks() -> None:
    e = _expect()
    issues = [{"step": "map_phenotype", "level": "warning"}]
    check(clinical_problems(e, 3, dict(e["stats"]), issues) == [], "matching clinical outputs pass")
    check(clinical_problems(e, 2, dict(e["stats"]), issues) != [], "wrong packet count is reported")
    stats = dict(e["stats"], n_genotype=3)
    check(clinical_problems(e, 3, stats, issues) != [], "wrong stats() count is reported")
    check(clinical_problems(e, 3, dict(e["stats"]), issues * 2) != [], "wrong audit count is reported")


def test_analytics_checks() -> None:
    import pandas as pd

    oracle = pd.DataFrame({"k": [1, 2, 3], "v": [0.5, 1.25, 2.0], "s": ["a", "b", "c"]})
    shuffled = oracle.iloc[[2, 0, 1]][["s", "v", "k"]].reset_index(drop=True)
    check(analytics_problems(shuffled, oracle) == [], "result equal up to row/column order passes")
    wrong = oracle.copy()
    wrong.loc[1, "v"] = 1.2500001
    check(analytics_problems(wrong, oracle) != [], "wrong value is reported")
    check(analytics_problems(oracle.iloc[:2], oracle) != [], "missing row is reported")


class _Planted:
    """A stand-in workload whose outputs are wrong for some items."""

    def __init__(self, wrong: set[int]) -> None:
        self.tr = Tracer()
        e = _expect()
        self.outputs = {i: (e["packets"] - (i in wrong), e["stats"], [{"step": "map_phenotype", "level": "warning"}])
                        for i in range(4)}

    def items(self) -> list[int]:
        return list(self.outputs)

    def op(self, i: int):
        if i == 3:
            raise RuntimeError("planted op error")
        return self.outputs[i]

    def check(self, i: int, out, warm: bool):
        written, stats, issues = out
        return written, clinical_problems(_expect(), written, stats, issues)


def test_failed_counting() -> None:
    r = Runner({"seed": 1}, seconds=0.0, work=HERE)
    r.jvm_pid = os.getpid()  # any live process will do for the CPU reading
    rec = r.window(_Planted({1}), warm=False)
    check(rec["ops"] == 4, "every op is attempted")
    check(rec["failed"] == 2, "wrong count and raised op are both counted as failed")
    check(len(r.problems) == 2, "both failures are reported")


def main() -> int:
    with tempfile.TemporaryDirectory(dir=os.path.dirname(HERE)) as tmp:
        test_xlsx_roundtrip(tmp)
    test_clinical_checks()
    test_analytics_checks()
    test_failed_counting()
    print(f"{len(FAILURES)} failure(s)")
    return 1 if FAILURES else 0


if __name__ == "__main__":
    sys.exit(main())
