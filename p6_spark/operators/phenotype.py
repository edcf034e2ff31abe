"""Phenotype pipeline: workbook phenotype sheet -> validated Phenotype
records + audit rows, with ontology validation as broadcast joins.

Mirrors the reference row parser (src/P6/mapper.py:313-399) and the
Phenotype dataclass constraints (src/P6/phenotype.py:33-54):

  plan-time column check -> HPO cell regex parse (F5) + CURIE zero-pad
  (F6) + time normalize (F1) + bool coercion (F2) -> one broadcast left
  join to the ontology -> one projection that attaches every row's
  issues: NAD skip (P4, warn), unparseable cell (error), constraints
  (P8, error), ontology existence/obsolescence/label match (J2, warn)
  and phenotypic-abnormality lineage (A5, warn) -> kept rows.

Annotation propagation (A5) is the one cross-row check: the kept rows'
(term, ancestor) pairs semi-joined to the sheet's terms. Per-row
ontology WARNINGS are produced from join results (row-correlated audit
rows), never from UDF side effects — Spark accumulators are not
exactly-once (SURVEY §7 fidelity trap).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from p6_spark.audit import (
    StageResult,
    issue,
    issue_audit,
    kept,
    reject_missing,
    union_audits,
    with_issues,
)
from p6_spark.functions.hpo import hpo_curie, hpo_label, is_nad
from p6_spark.functions.scalars import normalize_time_like, to_bool
from p6_spark.loader import promote_patient_id
from p6_spark.schemas import (
    HPO_ID_PATTERN,
    PHENOTYPE_KEY_COLUMNS,
    PHENOTYPE_SCHEMA,
    TIMESTAMP_PATTERN,
    VALID_ID_PATTERN,
)
from p6_spark.sources.ontology import PHENOTYPIC_ABNORMALITY_ROOT


def map_phenotype_table(
    spark: SparkSession,
    df: DataFrame,
    sheet_name: str = "phenotype",
    ontology: DataFrame | None = None,
) -> StageResult:
    step = "map_phenotype"
    bail = reject_missing(spark, df, PHENOTYPE_KEY_COLUMNS, PHENOTYPE_SCHEMA, step, sheet_name)
    if bail is not None:
        return bail

    cell = F.col("hpo_id")
    df = promote_patient_id(df, "phenotype").select(
        F.monotonically_increasing_id().alias("_seq"),
        # str(NaN) == 'nan' is what the reference formats for missing cells
        F.coalesce(F.col("phenotype_patient_ID").cast("string"), F.lit("nan")).alias(
            "phenotype_patient_ID"
        ),
        F.coalesce(F.trim(cell.cast("string")), F.lit("nan")).alias("_cell"),
        # a blank cell is not NAD: it is unparseable, like 'nan' in the reference
        F.coalesce(is_nad(cell), F.lit(False)).alias("_nad"),
        hpo_label(cell).alias("raw_label"),
        hpo_curie(cell).alias("hpo_id"),
        normalize_time_like(F.col("date_of_observation")).alias("date_of_observation"),
        to_bool(F.col("status")).alias("status"),
    )

    # P8: Phenotype.__post_init__ messages with the offending value, in
    # check order (src/P6/phenotype.py:33-54)
    pid = F.col("phenotype_patient_ID")
    fail = (
        F.when(
            # str(NaN) == 'nan' matches _VALID_ID in the reference
            # (src/P6/mapper.py:367), so a missing ID is bug-compatibly
            # valid and keys a 'nan' record.
            ~pid.rlike(VALID_ID_PATTERN),
            F.concat(F.lit("Invalid patient ID: '"), pid, F.lit("'")),
        )
        .when(
            ~F.col("hpo_id").rlike(HPO_ID_PATTERN),
            F.concat(F.lit("Invalid HPO ID: '"), F.col("hpo_id"), F.lit("'")),
        )
        .when(
            ~F.col("date_of_observation").rlike(TIMESTAMP_PATTERN),
            F.concat(
                F.lit("Invalid date_of_observation: '"),
                F.col("date_of_observation"),
                F.lit("'"),
            ),
        )
    )
    df = df.withColumn("_fail", fail)
    prefix = F.lit(f"Sheet '{sheet_name}': ")
    nad, parsed = F.col("_nad"), F.col("hpo_id").isNotNull()
    issues = [
        # P4: NAD placeholder -> skip row with warning (src/P6/mapper.py:330-334),
        # en dash, byte-exact with src/P6/mapper.py:331-333
        issue(
            nad,
            "warning",
            F.lit(f"Sheet '{sheet_name}': 'NAD' encountered – skipping phenotype row"),
            drop=True,
        ),
        issue(
            ~nad & ~parsed,
            "error",
            F.concat(
                prefix, F.lit("Cannot parse HPO term+ID from '"), F.col("_cell"), F.lit("'")
            ),
        ),
        issue(
            ~nad & parsed & F.col("_fail").isNotNull(),
            "error",
            F.concat(prefix, F.col("_fail")),
        ),
    ]
    if ontology is not None:
        df = df.join(F.broadcast(ontology), F.col("hpo_id") == F.col("term_id"), "left")
        issues += _ontology_issues(~nad & parsed & F.col("_fail").isNull(), prefix)

    checked = with_issues(df, *issues)
    records = kept(checked)
    audit = issue_audit(checked, step, sheet_name)
    if ontology is not None:
        audit = union_audits(audit, _propagation_audit(records, step, sheet_name))
    valid = records.select(
        "_seq", "phenotype_patient_ID", "hpo_id", "date_of_observation", "status"
    )
    return StageResult(valid=valid, audit=audit, checked=checked)


def _ontology_issues(ok, prefix) -> list:
    """J2 + A5 per-term checks on the ontology columns the left join
    attached, for rows that passed every other check: existence,
    obsolescence (with replacement suggestions), label match, and
    phenotypic-abnormality lineage (src/P6/mapper.py:380-397,426-440)."""
    found = ok & F.col("term_id").isNotNull()
    name = F.coalesce(F.col("name"), F.lit(""))
    hpo_id = F.col("hpo_id")
    return [
        issue(
            ok & F.col("term_id").isNull(),
            "warning",
            F.concat(prefix, F.lit("HPO ID '"), hpo_id, F.lit("' not found in ontology")),
        ),
        issue(
            found & F.col("is_obsolete"),
            "warning",
            F.concat(
                prefix,
                F.lit("'"),
                hpo_id,
                F.lit("' is obsolete; use "),
                F.coalesce(F.array_join(F.col("alt_term_ids"), ", "), F.lit("")),
            ),
        ),
        issue(
            found
            & (F.col("raw_label") != "")
            & (F.lower(F.col("raw_label")) != F.lower(name)),
            "warning",
            F.concat(
                prefix,
                F.lit("label '"),
                F.col("raw_label"),
                F.lit("' does not match ontology name '"),
                name,
                F.lit("'"),
            ),
        ),
        issue(
            found
            & ~F.col("is_obsolete")
            & ~F.array_contains(
                F.coalesce(F.col("ancestors"), F.array()), PHENOTYPIC_ABNORMALITY_ROOT
            ),
            "warning",
            F.concat(
                prefix,
                F.lit("'"),
                hpo_id,
                F.lit("' is not a descendant of phenotypic abnormality"),
            ),
        ),
    ]


def _propagation_audit(records: DataFrame, step: str, sheet_name: str) -> DataFrame:
    """A5 annotation-propagation check: two terms in the same sheet where
    one is an ancestor of the other -> redundancy warning. The kept rows'
    (term, ancestor) pairs, from the ancestors their ontology join
    attached, semi-joined to the broadcast sheet terms and made distinct
    — no pairwise O(n^2) over rows, and no second ontology join."""
    present = F.broadcast(records.select(F.col("hpo_id").alias("present_anc")))
    pairs = (
        records.select(
            F.col("hpo_id").alias("term_id"), F.explode("ancestors").alias("present_anc")
        )
        .join(present, "present_anc", "left_semi")
        .distinct()
    )
    return pairs.select(
        F.lit(step).alias("step"),
        F.lit(sheet_name).alias("sheet"),
        F.lit("warning").alias("level"),
        F.concat(
            F.lit(f"Sheet '{sheet_name}': term '"),
            F.col("term_id"),
            F.lit("' is redundant with its ancestor '"),
            F.col("present_anc"),
            F.lit("' in the same sheet"),
        ).alias("message"),
    )
