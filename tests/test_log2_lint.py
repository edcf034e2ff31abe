"""Enforceable form of the round-8 log2 landmine note (VERDICT r8 item
7b): Spark evaluates ``log2(x)`` as ``ln(x)/ln(2)``, which lands one ulp
HIGH at n = 2^29/2^31/2^39/2^47 — so ``ceil(log2(n))`` in any Spark-side
width computation silently grows an extra bit exactly at power-of-two
corpus sizes while DuckDB's native log2 (exact at powers of two)
doesn't. The fix is always exact integer bit-length
(``F.length(F.bin(n - 1))`` == ``(n-1).bit_length()``); this gate turns
the 'never reintroduce it' docstring note into a red test.

Scope: log2 is banned from every string that reaches SPARK's SQL parser
(``F.expr`` / ``selectExpr`` / ``spark.sql``) and as a pyspark function
attribute (``F.log2``). DuckDB ORACLE SQL (the ``oracle=`` strings) is
deliberately allowed — DuckDB's log2 IS exact at powers of two (measured
to 2^50, see operators/similarity.py), and llm_ops' oracle twin uses it.
"""

from __future__ import annotations

import ast
import pathlib

SRC = pathlib.Path(__file__).resolve().parents[1] / "p6_spark"
ENTRY = pathlib.Path(__file__).resolve().parents[1] / "__spark_entry__.py"

_SPARK_SQL_FUNCS = {"expr", "selectExpr", "sql"}


def _spark_sql_strings(tree: ast.AST):
    for node in ast.walk(tree):
        if not isinstance(node, ast.Call):
            continue
        fn = node.func
        name = fn.attr if isinstance(fn, ast.Attribute) else getattr(fn, "id", "")
        if name not in _SPARK_SQL_FUNCS:
            continue
        for sub in ast.walk(node):
            if isinstance(sub, ast.Constant) and isinstance(sub.value, str):
                yield node.lineno, sub.value


def test_no_spark_side_log2():
    offenders = []
    files = list(SRC.rglob("*.py")) + [ENTRY]
    for path in files:
        tree = ast.parse(path.read_text())
        for node in ast.walk(tree):
            if isinstance(node, ast.Attribute) and node.attr == "log2":
                offenders.append(f"{path}:{node.lineno} — F.log2 attribute")
        for lineno, s in _spark_sql_strings(tree):
            if "log2(" in s.lower():
                offenders.append(
                    f"{path}:{lineno} — Spark-side SQL string contains log2("
                )
    assert not offenders, (
        "Spark-side log2 reintroduced — it is ln(x)/ln(2) and lands one "
        "ulp HIGH at powers of two; use F.length(F.bin(n - 1)) exact "
        "bit-length for widths (operators/similarity.adaptive_planes):\n"
        + "\n".join(offenders)
    )


def test_lint_selfcheck_catches_a_planted_offender():
    """The AST scan must actually see log2 in an F.expr string and as an
    F.log2 attribute — guard against the gate rotting into a no-op."""
    planted = ast.parse(
        "import pyspark.sql.functions as F\n"
        "x = F.expr('ceil(log2(n)) - 1')\n"
        "y = F.log2('n')\n"
    )
    strings = [s for _, s in _spark_sql_strings(planted)]
    assert any("log2(" in s for s in strings)
    attrs = [
        n.attr
        for n in ast.walk(planted)
        if isinstance(n, ast.Attribute) and n.attr == "log2"
    ]
    assert attrs == ["log2"]
