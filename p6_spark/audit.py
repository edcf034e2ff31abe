"""The error-channel-as-data pattern (SURVEY §2.9) — the reference's most
distinctive semantic: a stairval Notepad collects errors/warnings, errors
drop the offending ROW (or table), never the RUN; the CLI exits 0 and
prints the issue report (src/P6/__main__.py:258-268).

Spark mapping: every sheet gets ONE projection that attaches
``issues: array<struct<level, message, drop>>`` to each row
(``with_issues``). The row survives when none of its issues drops it
(``kept``), and the sheet's audit rows (step, sheet, level, message) are
``explode(issues)`` (``issue_audit``). A row is therefore either kept or
carries the issue that dropped it: there is no ``filter(p)`` /
``filter(~p)`` pair for a NULL predicate to slip between. Errors drop
their row unless the reference only reports them (its HGVS checks);
the NAD placeholder is the one warning that drops its row. Audit rows
are column expressions (row-correlated, exactly-once) — never
side-effecting accumulators, which Spark does not replay exactly-once on
task retry.

The checked frame is materialised once, by an eager ``localCheckpoint``
in ``with_issues``. Three readings follow it: the kept rows (the write),
the audit rows (the audit collect) and, for the phenotype sheet, the
propagation check. Without the checkpoint each action re-optimizes and
re-runs the whole projection (the regexes, the HGVS checks, the
ontology join), which cost the write and the audit about as much
Catalyst optimization as work. The checkpoint is eager because the
phenotype records feed a broadcast: a lazy cut must not be read twice
before it is materialised, nor ride on a broadcast build (the rule of
``operators/graph.py:_materialize``).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from p6_spark.session import local_frame

AUDIT_SCHEMA = T.StructType(
    [
        T.StructField("step", T.StringType(), False),
        T.StructField("sheet", T.StringType(), False),
        T.StructField("level", T.StringType(), False),  # 'error' | 'warning'
        T.StructField("message", T.StringType(), False),
    ]
)

ISSUES_TYPE = "array<struct<level:string,message:string,drop:boolean>>"


@dataclass
class StageResult:
    """A pipeline stage's outputs: surviving rows, audit rows, and every
    input row with its ``issues`` (None for a table rejected at plan
    time)."""

    valid: DataFrame
    audit: DataFrame
    checked: DataFrame | None = None


def audit_entries(spark: SparkSession, entries: list[tuple[str, str, str, str]]) -> DataFrame:
    """Driver-side (plan-time) audit rows, e.g. missing-column table
    rejections — these are metadata checks, not data scans."""
    return local_frame(spark, entries, AUDIT_SCHEMA)


def reject_missing(
    spark: SparkSession,
    df: DataFrame,
    required: set[str],
    schema: T.StructType,
    step: str,
    sheet: str,
) -> StageResult | None:
    """Table-level rejection (reference src/P6/mapper.py:558-563): an
    empty ``schema`` frame and one audit row when ``df`` lacks required
    columns, else None. The patient ID is the first column, not a name."""
    missing = sorted(required - set(df.columns) - {"patient_ID"})
    if not missing:
        return None
    entry = (step, sheet, "error", f"missing required columns: {missing}")
    return StageResult(valid=local_frame(spark, [], schema), audit=audit_entries(spark, [entry]))


def issue(cond: Column, level: str, message: Column, drop: bool | None = None) -> Column:
    """One possible issue of a row: the issue struct where ``cond`` is
    true, NULL elsewhere (a NULL ``cond`` raises no issue). ``drop``
    defaults to ``level == 'error'``."""
    return F.when(
        cond,
        F.struct(
            F.lit(level).alias("level"),
            message.cast("string").alias("message"),
            F.lit(level == "error" if drop is None else drop).alias("drop"),
        ),
    )


def with_issues(df: DataFrame, *issues: Column) -> DataFrame:
    """``df`` plus its ``issues`` column: the raised ones of ``issues``.

    The result is an eager ``localCheckpoint``: one job evaluates the
    projection here, and every later reading (``kept``, ``issue_audit``,
    the phenotype propagation check) scans the stored blocks instead of
    re-optimizing and re-running it. Eager, not lazy, because a lazy cut
    read by two actions, or first materialised under a broadcast build,
    is evaluated more than once (see the module docstring)."""
    raised = F.filter(F.array(*issues), lambda i: i.isNotNull()) if issues else F.array()
    return df.withColumn("issues", raised.cast(ISSUES_TYPE)).localCheckpoint(eager=True)


def kept(checked: DataFrame) -> DataFrame:
    """The rows of a ``with_issues`` frame that no issue drops."""
    return checked.filter(~F.exists("issues", lambda i: i["drop"]))


def issue_audit(checked: DataFrame, step: str, sheet: str) -> DataFrame:
    """The audit rows of a ``with_issues`` frame: one per issue."""
    return checked.select(F.inline("issues")).select(
        F.lit(step).alias("step"), F.lit(sheet).alias("sheet"), "level", "message"
    )


def union_audits(*audits: DataFrame) -> DataFrame:
    out = audits[0]
    for a in audits[1:]:
        out = out.unionByName(a)
    return out


def dead_letter_rows(df: DataFrame, predicate: Column) -> tuple[DataFrame, DataFrame]:
    """Schema-preserving dead-letter split: (valid, dead), both with the
    ORIGINAL columns — for callers that aggregate the dead side (per-key
    rejection counts in a curation manifest) instead of, or before,
    rendering it into AUDIT_SCHEMA text rows. Same drop-rows-never-runs
    semantics as the sheets' ``issues`` (reference:
    src/P6/__main__.py:258-268).

    NULL-safe (round-11 ADVICE): a NULL predicate routes the row to the
    DEAD side — a naive ``filter(pred)/filter(~pred)`` pair drops
    NULL-predicate rows from BOTH sides under ANSI three-valued logic,
    silently losing rows despite the rows-routed-never-lost contract
    (e.g. ``size(tokens) >= 1`` is NULL for NULL text). DuckDB twins of
    callers must mirror with ``NOT coalesce(pred, false)`` on the dead
    side."""
    return df.filter(predicate), df.filter(~F.coalesce(predicate, F.lit(False)))
