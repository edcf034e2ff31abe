"""Disease/measurement/biosample pipeline tests — mirror reference
tests/test_mapper_map_tables_required_columns.py and the row-cast
rejection semantics."""

from __future__ import annotations

from p6_spark.loader import normalize_columns
from p6_spark.operators.clinical import (
    map_biosample_table,
    map_disease_table,
    map_measurement_table,
)


def df_of(spark, header, rows):
    return normalize_columns(
        spark.createDataFrame(rows, ", ".join(f"`{c}` string" for c in header))
    )


def test_disease_mapping(spark):
    r = map_disease_table(
        spark,
        df_of(
            spark,
            ["Patient ID", "disease_term", "disease_label", "disease_onset", "disease_status"],
            [("P1", "OMIM:266600", "Some disease", "2020-01-01", "1")],
        ),
    )
    rec = r.valid.collect()[0]
    assert rec["disease_term"] == "OMIM:266600"
    assert rec["disease_status"] is True


def test_disease_empty_label_becomes_null(spark):
    r = map_disease_table(
        spark,
        df_of(
            spark,
            ["Patient ID", "disease_term", "disease_label", "disease_onset", "disease_status"],
            [("P1", "OMIM:266600", "", "2020-01-01", "0")],
        ),
    )
    assert r.valid.collect()[0]["disease_label"] is None


def test_absent_optional_columns_are_string_nulls(spark):
    diseases = map_disease_table(
        spark,
        df_of(
            spark,
            ["Patient ID", "disease_term", "disease_onset", "disease_status"],
            [("P1", "OMIM:266600", "2020-01-01", "1")],
        ),
    ).valid
    labs = map_measurement_table(
        spark,
        df_of(
            spark,
            ["Patient ID", "measurement_type", "measurement_value", "measurement_unit"],
            [("P1", "LOINC:4548-4", "5.4", "mmol/L")],
        ),
    ).valid
    assert diseases.collect()[0]["disease_label"] is None
    assert labs.collect()[0]["measurement_timestamp"] is None
    assert diseases.schema["disease_label"].dataType.simpleString() == "string"
    assert labs.schema["measurement_timestamp"].dataType.simpleString() == "string"


def test_disease_missing_columns_rejected(spark):
    r = map_disease_table(
        spark, df_of(spark, ["Patient ID", "disease_term"], [("P1", "OMIM:266600")])
    )
    assert r.valid.count() == 0
    assert any("missing required columns" in a["message"] for a in r.audit.collect())


def test_measurement_value_cast_and_rejection(spark):
    r = map_measurement_table(
        spark,
        df_of(
            spark,
            ["Patient ID", "measurement_type", "measurement_value", "measurement_unit",
             "measurement_timestamp"],
            [
                ("P1", "LOINC:4548-4", "5.4", "mmol/L", "20200101"),
                ("P1", "LOINC:4548-4", "not-a-number", "mmol/L", ""),
            ],
        ),
    )
    recs = r.valid.collect()
    assert len(recs) == 1
    assert recs[0]["measurement_value"] == 5.4
    assert recs[0]["measurement_timestamp"] == "T20200101"
    assert any("could not convert measurement_value" in a["message"] for a in r.audit.collect())


def test_measurement_missing_columns_rejected(spark):
    r = map_measurement_table(
        spark, df_of(spark, ["Patient ID", "measurement_type"], [("P1", "LOINC:1")])
    )
    assert r.valid.count() == 0


def test_biosample_mapping_and_date_normalization(spark):
    r = map_biosample_table(
        spark,
        df_of(
            spark,
            ["Patient ID", "biosample_id", "biosample_type", "collection_date"],
            [("P1", "BS1", "UBERON:0002107", "20200101")],
        ),
    )
    rec = r.valid.collect()[0]
    assert rec["biosample_id"] == "BS1"
    assert rec["collection_date"] == "T20200101"


def test_biosample_missing_columns_rejected(spark):
    r = map_biosample_table(spark, df_of(spark, ["Patient ID", "biosample_id"], [("P1", "B")]))
    assert r.valid.count() == 0
