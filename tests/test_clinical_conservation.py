"""Conservation of rows, per sheet kind: every input row is a valid row or
carries an issue that dropped it, with None allowed in every cell (a
blank workbook cell). Valid rows are counted by their ``_seq`` (a
genotype row explodes into one record per zygosity/inheritance pair);
dropped rows are the rows of ``StageResult.checked`` with a dropping
issue: an error, or the NAD skip warning. Each dropping issue is also an
audit row, and a valid phenotype row has a parsed HPO id: a blank HPO
cell is the reference's ``Cannot parse HPO term+ID from 'nan'`` error,
not NAD and not lost. Each hypothesis example is one small sheet.
"""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F
from pyspark.sql import types as T

from p6_spark.loader import normalize_columns
from p6_spark.operators.clinical import (
    map_biosample_table,
    map_disease_table,
    map_measurement_table,
)
from p6_spark.operators.genotype import map_genotype_table
from p6_spark.operators.phenotype import map_phenotype_table
from p6_spark.schemas import HPO_ID_PATTERN
from p6_spark.session import local_frame
from p6_spark.sources.ontology import ontology_from_records


def _cell(*plausible: str):
    """None, a plausible value, or short free text."""
    return st.one_of(
        st.none(),
        st.sampled_from(plausible),
        st.text(alphabet=st.sampled_from(list("HP:0159 aZ-./")), max_size=8),
    )


_ID = _cell("P1", "P2", "BAD-ID", "nan")
_DATE = _cell("T0", "20200101", "2020-01-01")
_BOOL = _cell("1", "0", "O", "E", "yes")

# sheet kind -> (mapper, header, cell strategy per column)
KINDS = {
    "genotype": (
        map_genotype_table,
        {
            "Searchable Patient ID": _ID,
            "Contact Email": _cell("u@example.com", "bad@"),
            "Phasing": _BOOL,
            "chrom": _cell("16", "chrX", "", "ucsc"),
            "start": _cell("100", "100.0", "-1", "x"),
            "end": _cell("100", "101", "-5"),
            "ref": _cell("A", ""),
            "alt": _cell("G", ""),
            "gene": _cell("ABCC6", ""),
            "hgvsg": _cell("16:g.100A>G", "chr16:g.100del", ""),
            "hgvsc": _cell("NM_1.1:c.1A>G", ""),
            "hgvsp": _cell("NP_1.1:p.K1N", ""),
            "zygosity": _cell("het", "het/hom", "hom", "weird"),
            "inheritance": _cell("inherited", "inherited/denovo", "unknown", "x"),
        },
    ),
    "phenotype": (
        map_phenotype_table,
        {
            "Patient ID": _ID,
            "HPO": _cell("HP:510", "NAD", " nad ", "Rod-cone dystrophy HP:0000510", "??",
                         "HP:2240", "1636", ""),
            "Timestamp": _DATE,
            "Status (observed/excluded)": _BOOL,
        },
    ),
    "diseases": (
        map_disease_table,
        {
            "Patient ID": _ID,
            "disease_term": _cell("OMIM:266600"),
            "disease_label": _cell("PXE", ""),
            "disease_onset": _DATE,
            "disease_status": _BOOL,
        },
    ),
    "measurements": (
        map_measurement_table,
        {
            "Patient ID": _ID,
            "measurement_type": _cell("LOINC:4548-4"),
            "measurement_value": _cell("5.4", "1e3", "high", " 7 "),
            "measurement_unit": _cell("mmol/L"),
            "measurement_timestamp": _DATE,
        },
    ),
    "biosamples": (
        map_biosample_table,
        {
            "Patient ID": _ID,
            "biosample_id": _cell("BS1"),
            "biosample_type": _cell("UBERON:0002107"),
            "collection_date": _DATE,
        },
    ),
}

_SETTINGS = settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)


@st.composite
def _sheet(draw, kind: str):
    columns = KINDS[kind][1]
    n = draw(st.integers(min_value=1, max_value=12))
    return [tuple(draw(s) for s in columns.values()) for _ in range(n)]


def _check_conservation(spark, kind: str, rows: list[tuple], **kwargs) -> None:
    mapper, columns = KINDS[kind][0], KINDS[kind][1]
    schema = T.StructType([T.StructField(c, T.StringType()) for c in columns])
    result = mapper(spark, normalize_columns(local_frame(spark, rows, schema)), kind, **kwargs)

    n_valid = result.valid.select("_seq").distinct().count()
    dropping = F.exists("issues", lambda i: i["drop"])
    n_dropped = result.checked.filter(dropping).count()
    assert n_valid + n_dropped == len(rows), (n_valid, n_dropped, rows)
    n_dropping_issues = result.checked.select(
        F.size(F.filter("issues", lambda i: i["drop"])).alias("n")
    ).agg(F.sum("n")).first()[0]
    assert result.audit.count() >= n_dropping_issues >= n_dropped
    if kind == "phenotype":
        parsed = F.coalesce(F.col("hpo_id").rlike(HPO_ID_PATTERN), F.lit(False))
        assert result.valid.filter(~parsed).count() == 0


@pytest.fixture(scope="module")
def ontology(spark):
    root = "HP:0000118"
    return ontology_from_records(
        spark,
        [
            ("HP:0000510", "Rod-cone dystrophy", False, [], [root]),
            ("HP:0002240", "Hepatomegaly", False, [], [root, "HP:0000510"]),
            ("HP:0001636", "Old term", True, ["HP:0000510"], [root]),
        ],
    )


@given(rows=_sheet("genotype"))
@_SETTINGS
def test_genotype_rows_conserved(spark, rows):
    _check_conservation(spark, "genotype", rows)


@given(rows=_sheet("phenotype"))
@_SETTINGS
def test_phenotype_rows_conserved(spark, rows):
    _check_conservation(spark, "phenotype", rows)


@given(rows=_sheet("phenotype"))
@_SETTINGS
def test_phenotype_rows_conserved_with_ontology(spark, ontology, rows):
    _check_conservation(spark, "phenotype", rows, ontology=ontology)


@given(rows=_sheet("diseases"))
@_SETTINGS
def test_disease_rows_conserved(spark, rows):
    _check_conservation(spark, "diseases", rows)


@given(rows=_sheet("measurements"))
@_SETTINGS
def test_measurement_rows_conserved(spark, rows):
    _check_conservation(spark, "measurements", rows)


@given(rows=_sheet("biosamples"))
@_SETTINGS
def test_biosample_rows_conserved(spark, rows):
    _check_conservation(spark, "biosamples", rows)


def test_blank_hpo_cell_is_a_parse_error_not_a_lost_row(spark):
    header = list(KINDS["phenotype"][1])
    rows = [("P1", None, "T0", "O"), ("P1", "HP:510", "T0", "O"), ("P1", "NAD", "T0", "O")]
    schema = T.StructType([T.StructField(c, T.StringType()) for c in header])
    r = map_phenotype_table(spark, normalize_columns(local_frame(spark, rows, schema)))
    assert [x["hpo_id"] for x in r.valid.collect()] == ["HP:0000510"]
    assert sorted((a["level"], a["message"]) for a in r.audit.collect()) == [
        ("error", "Sheet 'phenotype': Cannot parse HPO term+ID from 'nan'"),
        ("warning", "Sheet 'phenotype': 'NAD' encountered – skipping phenotype row"),
    ]
