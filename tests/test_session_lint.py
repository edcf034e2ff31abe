"""Every SparkSession of the program comes from ``session.get_spark``, so
the CLI, the scripts (the registry oracle sweep among them) and the driver
entry all run under the one tuned conf (Arrow, the 64 MiB broadcast
threshold, 4 MiB splits, the machine-sized heap). A second builder
certifies or measures the program under a different conf from the one the
tests and the benchmark run.

Scope: ``p6_spark/``, ``scripts/`` and ``__spark_entry__.py``;
``SparkSession.builder`` may appear only in ``p6_spark/session.py``.
``tests/`` is left out: a test may stand a fake builder in for the real
one.
"""

from __future__ import annotations

import ast
import pathlib

ROOT = pathlib.Path(__file__).resolve().parents[1]
SESSION = ROOT / "p6_spark" / "session.py"


def _builder_uses(tree: ast.AST):
    """Line numbers of ``SparkSession.builder`` (any module prefix)."""
    for node in ast.walk(tree):
        if not (isinstance(node, ast.Attribute) and node.attr == "builder"):
            continue
        owner = node.value
        name = owner.attr if isinstance(owner, ast.Attribute) else getattr(owner, "id", "")
        if name == "SparkSession":
            yield node.lineno


def test_sessions_only_from_get_spark():
    files = (
        list((ROOT / "p6_spark").rglob("*.py"))
        + list((ROOT / "scripts").rglob("*.py"))
        + [ROOT / "__spark_entry__.py"]
    )
    offenders = [
        f"{path.relative_to(ROOT)}:{lineno}"
        for path in files
        if path != SESSION
        for lineno in _builder_uses(ast.parse(path.read_text()))
    ]
    assert not offenders, (
        "SparkSession.builder outside p6_spark/session.py; call "
        "session.get_spark instead:\n" + "\n".join(offenders)
    )
    assert list(_builder_uses(ast.parse(SESSION.read_text()))), (
        "get_spark no longer builds through SparkSession.builder; "
        "the scan would see nothing"
    )


def test_scan_catches_a_planted_builder():
    planted = ast.parse(
        "from pyspark.sql import SparkSession\n"
        "import pyspark.sql\n"
        "a = SparkSession.builder.master('local[8]').getOrCreate()\n"
        "b = pyspark.sql.SparkSession.builder.getOrCreate()\n"
    )
    assert sorted(_builder_uses(planted)) == [3, 4]
