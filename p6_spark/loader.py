"""Workbook loading: header normalization, canonical renaming, sheet-kind
selection. Mirrors the reference loader (src/P6/loader.py:30-67) and
table chooser (src/P6/mapper.py:502-541), Spark-first:

- Workbooks are small (a driver-side stdlib xlsx read, or a directory of
  CSVs). Each xlsx sheet becomes an Arrow-backed ``LocalRelation``
  (``session.local_frame``), decoded once in the JVM — the heavy data
  paths (harness parquet) never go through this module.
- The reference's "first column is the patient-ID index" convention is
  kept: the first column of every sheet is renamed to the per-kind
  patient-ID column (genotype_patient_ID / phenotype_patient_ID /
  patient_ID), replacing the reference's reset_index dance
  (src/P6/mapper.py:189-194) — Spark has no index, so this is a no-op
  rename (SURVEY §2.1 S4).
"""

from __future__ import annotations

import os
import re

from pyspark.sql import DataFrame, SparkSession

from p6_spark.schemas import KNOWN_SHEET_ALIASES, PATIENT_ID_COLUMN, RENAME_MAP
from p6_spark.session import local_frame


def normalize_header(name: str) -> str:
    """Header hygiene (reference src/P6/loader.py:48-54): strip, drop
    parentheticals, whitespace -> underscore, drop ':', lowercase."""
    s = str(name).strip()
    s = re.sub(r"\(.*?\)", "", s).strip()
    s = re.sub(r"\s+", "_", s)
    s = s.replace(":", "")
    return s.lower()


def canonical_column(name: str) -> str:
    """Header normalization + RENAME_MAP."""
    n = normalize_header(name)
    return RENAME_MAP.get(n, n)


def normalize_columns(df: DataFrame) -> DataFrame:
    """Apply ``canonical_column`` to every column."""
    return df.toDF(*[canonical_column(c) for c in df.columns])


def promote_patient_id(df: DataFrame, kind: str) -> DataFrame:
    """First column IS the patient-ID column; rename it per kind
    (reference src/P6/mapper.py:189-194,502-511)."""
    first = df.columns[0]
    return df.withColumnRenamed(first, PATIENT_ID_COLUMN[kind])


def choose_named_tables(
    tables: dict[str, DataFrame],
) -> tuple[dict[str, DataFrame], list[str]]:
    """Pick one table per kind by sheet-name alias (case-insensitive,
    stripped) — reference _choose_named_tables (src/P6/mapper.py:513-541).
    Returns (kind -> DataFrame, errors). At least one of
    genotype/phenotype is required."""
    chosen: dict[str, DataFrame] = {}
    errors: list[str] = []
    for sheet_name, df in tables.items():
        key = sheet_name.strip().casefold()
        for kind, aliases in KNOWN_SHEET_ALIASES.items():
            if key in aliases and kind not in chosen:
                chosen[kind] = df
    if "genotype" not in chosen and "phenotype" not in chosen:
        errors.append(
            "No genotype or phenotype sheet found; at least one is required"
        )
    return chosen, errors


def load_workbook_dir(spark: SparkSession, path: str) -> dict[str, DataFrame]:
    """A 'workbook' as a directory of CSVs (one per sheet, file stem =
    sheet name) — the dependency-free path. Headers normalized, all
    columns read as strings (the pipelines own the casts, like the
    reference's row parsers)."""
    out: dict[str, DataFrame] = {}
    for fn in sorted(os.listdir(path)):
        if not fn.endswith(".csv"):
            continue
        sheet = fn[: -len(".csv")]
        df = spark.read.csv(os.path.join(path, fn), header=True, inferSchema=False)
        out[sheet] = normalize_columns(df)
    return out


def load_workbook_excel(spark: SparkSession, path: str) -> dict[str, DataFrame]:
    """Excel workbook via the dependency-free stdlib xlsx parser
    (sources/xlsx.py) — same semantics as the reference's
    pd.ExcelFile + read_excel(header=0) per sheet
    (src/P6/loader.py:30-45) but with no openpyxl requirement. Each sheet
    is built from a ``pyarrow.Table`` (``session.local_frame``), so Spark
    holds it as a ``LocalRelation`` and no action calls a Python worker
    to read it. Headers are normalized before the frame is built.

    Robustness: sheets with no rows at all are skipped; a headed sheet
    with zero data rows becomes an empty DataFrame with an explicit
    all-string schema (never schema inference, which would raise on
    empty/all-None columns); short rows are padded with NULLs."""
    from pyspark.sql import types as T

    from p6_spark.sources.xlsx import read_xlsx

    out: dict[str, DataFrame] = {}
    for sheet, rows in read_xlsx(path).items():
        if not rows:
            continue
        header = [
            str(h) if h is not None else f"Unnamed: {i}"
            for i, h in enumerate(rows[0])
        ]
        if not header:
            continue
        schema = T.StructType(
            [T.StructField(canonical_column(c), T.StringType(), True) for c in header]
        )
        width = len(header)
        data = [tuple(r[:width]) + (None,) * (width - len(r)) for r in rows[1:]]
        out[sheet] = local_frame(spark, data, schema)
    return out


def load_workbook(spark: SparkSession, path: str) -> dict[str, DataFrame]:
    if os.path.isdir(path):
        return load_workbook_dir(spark, path)
    return load_workbook_excel(spark, path)
