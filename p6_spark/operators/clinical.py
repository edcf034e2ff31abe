"""Disease / measurement / biosample pipelines — straightforward ports of
the reference mappers (src/P6/mapper.py:643-756) as declarative flows:
plan-time required-column check, string hygiene, bool coercion,
T-normalization of timestamps, float cast with row rejection. Each sheet
is one projection with its ``issues`` (audit.with_issues); only the
measurement value can reject a row.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from p6_spark.audit import StageResult, issue, issue_audit, kept, reject_missing, with_issues
from p6_spark.functions.scalars import normalize_time_like, to_bool
from p6_spark.loader import promote_patient_id
from p6_spark.schemas import (
    BIOSAMPLE_REQUIRED,
    BIOSAMPLE_SCHEMA,
    DISEASE_REQUIRED,
    DISEASE_SCHEMA,
    MEASUREMENT_REQUIRED,
    MEASUREMENT_SCHEMA,
)


def _stage(checked: DataFrame, step: str, sheet: str, *records) -> StageResult:
    """The kept rows of ``checked`` projected to ``records``, and its audit."""
    return StageResult(
        valid=kept(checked).select(*records),
        audit=issue_audit(checked, step, sheet),
        checked=checked,
    )


def map_disease_table(
    spark: SparkSession, df: DataFrame, sheet_name: str = "diseases"
) -> StageResult:
    """Reference _map_disease (src/P6/mapper.py:643-677): required
    patient_ID, disease_term, disease_onset, disease_status; optional
    disease_label ('' -> null)."""
    step = "map_disease"
    bail = reject_missing(spark, df, DISEASE_REQUIRED, DISEASE_SCHEMA, step, sheet_name)
    if bail is not None:
        return bail
    df = promote_patient_id(df, "diseases").withColumn("_seq", F.monotonically_increasing_id())
    if "disease_label" in df.columns:
        label = F.trim(F.coalesce(F.col("disease_label").cast("string"), F.lit("")))
        label = F.when(label == "", F.lit(None).cast("string")).otherwise(label)
    else:
        label = F.lit(None).cast("string")
    return _stage(
        with_issues(df),
        step,
        sheet_name,
        "_seq",
        F.col("patient_ID").cast("string").alias("patient_ID"),
        F.trim(F.col("disease_term").cast("string")).alias("disease_term"),
        label.alias("disease_label"),
        F.trim(F.col("disease_onset").cast("string")).alias("disease_onset"),
        to_bool(F.col("disease_status")).alias("disease_status"),
    )


def map_measurement_table(
    spark: SparkSession, df: DataFrame, sheet_name: str = "measurements"
) -> StageResult:
    """Reference _map_measurement (src/P6/mapper.py:679-717): float cast of
    measurement_value rejects the row; measurement_timestamp optional,
    T-normalized, '' -> null."""
    step = "map_measurement"
    bail = reject_missing(
        spark, df, MEASUREMENT_REQUIRED, MEASUREMENT_SCHEMA, step, sheet_name
    )
    if bail is not None:
        return bail
    df = promote_patient_id(df, "measurements").withColumn(
        "_seq", F.monotonically_increasing_id()
    )
    value = F.trim(F.col("measurement_value").cast("string")).try_cast("double")
    df = df.withColumn("_value", value)
    rejected = issue(
        F.col("_value").isNull(),
        "error",
        F.concat(
            F.lit(f"Sheet '{sheet_name}': could not convert measurement_value '"),
            F.coalesce(F.col("measurement_value").cast("string"), F.lit("<null>")),
            F.lit("' to float"),
        ),
    )
    if "measurement_timestamp" in df.columns:
        ts = normalize_time_like(F.col("measurement_timestamp"))
        ts = F.when(ts == "", F.lit(None).cast("string")).otherwise(ts)
    else:
        ts = F.lit(None).cast("string")
    return _stage(
        with_issues(df, rejected),
        step,
        sheet_name,
        "_seq",
        F.col("patient_ID").cast("string").alias("patient_ID"),
        F.trim(F.col("measurement_type").cast("string")).alias("measurement_type"),
        F.col("_value").alias("measurement_value"),
        F.trim(F.col("measurement_unit").cast("string")).alias("measurement_unit"),
        ts.alias("measurement_timestamp"),
    )


def map_biosample_table(
    spark: SparkSession, df: DataFrame, sheet_name: str = "biosamples"
) -> StageResult:
    """Reference _map_biosample (src/P6/mapper.py:719-756): collection_date
    T-normalized ('' kept as '')."""
    step = "map_biosample"
    bail = reject_missing(spark, df, BIOSAMPLE_REQUIRED, BIOSAMPLE_SCHEMA, step, sheet_name)
    if bail is not None:
        return bail
    df = promote_patient_id(df, "biosamples").withColumn("_seq", F.monotonically_increasing_id())
    return _stage(
        with_issues(df),
        step,
        sheet_name,
        "_seq",
        F.col("patient_ID").cast("string").alias("patient_ID"),
        F.trim(F.col("biosample_id").cast("string")).alias("biosample_id"),
        F.trim(F.col("biosample_type").cast("string")).alias("biosample_type"),
        normalize_time_like(F.col("collection_date")).alias("collection_date"),
    )
