"""Jobs per step of the clinical op, and ``MappingResult.stats()``.

The op is load -> apply_mapping -> write -> stats() -> audit.collect(),
as ``p6x parse-excel`` runs it. Each input is a ``LocalRelation``, and
``apply_mapping`` materialises each sheet's checked frame once (an eager
checkpoint per sheet), so the write and the audit read the checkpoints
and neither re-runs a sheet's projection. Each output comes from one
action: the counts of ``stats()`` are an ``Observation`` that the write
fills, so ``stats()`` after the write runs no job, and apply, the write
and the audit run a fixed number of jobs each. The counts are read per
named job group from the status tracker.
"""

from __future__ import annotations

import threading

import pytest

from p6_spark import loader
from p6_spark.mapper import apply_mapping
from p6_spark.operators.packet import write_packet_files
from p6_spark.sources import xlsx
from p6_spark.sources.ontology import ontology_from_records

GENO = [
    ["Searchable Patient ID", "Contact Email", "Phasing", "chrom", "start", "end", "ref",
     "alt", "gene", "hgvsg", "hgvsc", "hgvsp", "zygosity", "inheritance"],
    ["P1", "u@example.com", "1", "16", "100", "100", "A", "G", "ABCC6", "chr16:g.100A>G",
     "NM_1.1:c.1A>G", "NP_1.1:p.K1N", "het/hom", "inherited/denovo"],
    ["P2", None, "0", "X", "50", "50", "C", "T", "G2", "X:g.51C>T", "NM_2.1:c.5C>T",
     "NP_2.1:p.A1V", "hom", "unknown"],
    ["BAD-ID", "u@example.com", "1", "16", "1", "1", "A", "G", "G1", "16:g.1A>G",
     "NM_3.1:c.1A>G", "NP_3.1:p.K1N", "het", "inherited"],
]
PHENO = [
    ["Patient ID", "HPO", "Timestamp", "Status (observed/excluded)"],
    ["P1", "Rod-cone dystrophy HP:0000510", "T0", "O"],
    ["P1", "HP:2240", "T1", "O"],
    ["P2", "Wrong label HP:0001636", "T0", "E"],
    ["P2", "NAD", "T0", "O"],
    ["P3", None, "T0", "O"],
    ["P3", "??", "T0", "O"],
    ["P3", "HP:7777777", "T2", "O"],
]
WORKBOOK = {
    "genotype": GENO,
    "phenotype": PHENO,
    "diseases": [
        ["Patient ID", "disease_term", "disease_label", "disease_onset", "disease_status"],
        ["P1", "OMIM:266600", "PXE", "2020-01-01", "1"],
    ],
    "labs": [
        ["Patient ID", "measurement_type", "measurement_value", "measurement_unit"],
        ["P1", "LOINC:4548-4", "5.4", "mmol/L"],
        ["P2", "LOINC:4548-4", "high", "mmol/L"],
    ],
    "samples": [
        ["Patient ID", "biosample_id", "biosample_type", "collection_date"],
        ["P4", "BS1", "UBERON:0002107", "T0"],
    ],
}
ROOT = "HP:0000118"


@pytest.fixture(scope="module")
def ontology(spark):
    return ontology_from_records(
        spark,
        [
            ("HP:0000510", "Rod-cone dystrophy", False, [], [ROOT, "HP:0000001"]),
            ("HP:0001636", "Tetralogy of Fallot", False, [], [ROOT, "HP:0000001"]),
            ("HP:0002240", "Hepatomegaly", False, [], [ROOT, "HP:0000001", "HP:0000510"]),
            ("HP:0000001", "All", False, [], []),
        ],
    )


@pytest.fixture()
def in_memory_workbook(monkeypatch):
    """``load_workbook_excel`` of a workbook whose sheets come from memory."""
    monkeypatch.setattr(xlsx, "read_xlsx", lambda path: WORKBOOK)
    return "in-memory.xlsx"


def _jobs(spark, group: str, fn):
    """(fn(), the number of Spark jobs it ran), under job group ``group``."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_one_action_per_output(spark, ontology, in_memory_workbook, tmp_path):
    tables = loader.load_workbook(spark, in_memory_workbook)
    result, apply_jobs = _jobs(
        spark, "op.apply", lambda: apply_mapping(spark, tables, ontology=ontology)
    )
    written, write_jobs = _jobs(
        spark, "op.write", lambda: write_packet_files(result.packets, str(tmp_path / "p"))
    )
    stats, stats_jobs = _jobs(spark, "op.stats", result.stats)
    issues, audit_jobs = _jobs(spark, "op.audit", result.audit.collect)

    assert written == 4
    assert stats == {
        "n_genotype": 3,  # P1 explodes to 2 + P2
        "n_phenotype": 4,
        "n_diseases": 1,
        "n_measurements": 1,
        "n_biosamples": 1,
        "n_patients": 4,
    }
    assert len(issues) == 9
    # apply: one eager checkpoint per sheet (5), the broadcast ontology of
    # the phenotype join; the write: the co-group shuffle of all record
    # kinds, the result; the audit: the broadcast sheet terms and the
    # distinct shuffle of the propagation check, the result
    assert (apply_jobs, write_jobs, stats_jobs, audit_jobs) == (6, 2, 0, 3)


def test_stats_before_any_action_runs_one_count(spark, ontology, in_memory_workbook):
    tables = loader.load_workbook(spark, in_memory_workbook)
    result = apply_mapping(spark, tables, ontology=ontology)
    _, count_jobs = _jobs(spark, "packets.count", result.packets.count)

    result = apply_mapping(spark, tables, ontology=ontology)
    got: dict = {}
    t = threading.Thread(target=lambda: got.update(_jobs(spark, "stats.alone", result.stats)[0]))
    t.start()
    t.join(120)
    assert not t.is_alive(), "stats() with no prior action did not return"
    assert got["n_patients"] == 4 and got["n_genotype"] == 3
    jobs = len(spark.sparkContext.statusTracker().getJobIdsForGroup("stats.alone"))
    assert jobs <= count_jobs
    # a second call reads the filled observation
    assert _jobs(spark, "stats.again", result.stats) == (got, 0)


def test_rejected_kind_counts_zero_without_observation(spark, tmp_path):
    from p6_spark.session import local_frame
    from pyspark.sql import types as T

    def frame(header, rows):
        schema = T.StructType([T.StructField(h, T.StringType()) for h in header])
        return loader.normalize_columns(local_frame(spark, rows, schema))

    tables = {
        # no variant columns: rejected at plan time with an audit row
        "genotype": frame(["Searchable Patient ID", "zygosity"], [("P1", "het")]),
        "phenotype": frame(PHENO[0], [tuple(PHENO[1])]),
    }
    result = apply_mapping(spark, tables)
    assert write_packet_files(result.packets, str(tmp_path / "p")) == 1
    assert result.stats() == {"n_genotype": 0, "n_phenotype": 1, "n_patients": 1}
    assert "n_genotype" not in result.observation.get
    assert result.records["genotype"].count() == 0
    assert any("missing required columns" in r["message"] for r in result.audit.collect())
