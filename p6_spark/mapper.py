"""End-to-end mapping orchestrator — the reference DefaultMapper.apply_mapping
(src/P6/mapper.py:136-187) as a Spark pipeline:

  choose_named_tables -> five pipelines (each one projection per sheet
  whose rows carry their issues: valid rows + audit rows) -> packet
  assembly -> stats observed on the packets

Errors drop rows/tables, never the run (§2.9); the combined audit
DataFrame is the second output. The counts of ``stats()`` are an
``Observation`` on the packets, so the action that writes them fills
the counts too.

Jobs per op, with all five sheets and an ontology: ``apply_mapping``
runs 6 (one eager checkpoint of each sheet's checked frame, see
``audit.with_issues``, and the broadcast ontology of the phenotype
join); the packet write runs 2 (the co-group shuffle, the result);
``stats()`` after the write runs none; the audit collect runs 3 (the
broadcast sheet terms and the distinct shuffle of the phenotype
propagation check, the result). Neither output action re-runs a
sheet's projection.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from p6_spark.audit import audit_entries, union_audits
from p6_spark.loader import choose_named_tables
from p6_spark.operators.clinical import (
    map_biosample_table,
    map_disease_table,
    map_measurement_table,
)
from p6_spark.operators.genotype import map_genotype_table
from p6_spark.operators.packet import PACKET_FIELDS, assemble_phenopackets
from p6_spark.operators.phenotype import map_phenotype_table


@dataclass
class MappingResult:
    packets: DataFrame
    audit: DataFrame
    observation: Observation  # on ``packets``: the counts of ``stats()``
    records: dict[str, DataFrame] = field(default_factory=dict)

    def stats(self) -> dict[str, int]:
        """Record counts per kind + packets (reference mapper.stats,
        src/P6/mapper.py:178-185): ``n_<kind>`` valid records, 0 for a
        kind rejected at plan time, and ``n_patients`` packets. They are
        read from the observation on ``packets``, which the first action
        on the packets (the write) fills, so after it this runs no job.
        Called before any such action, it runs one count of the packets."""
        out = {f"n_{k}": 0 for k in self.records}
        # Observation.get blocks until an action fills it; the JVM-side
        # future tells without blocking whether one has
        if not self.observation._jo.future().isCompleted():
            self.packets.count()
        out.update(self.observation.get)
        return out


def apply_mapping(
    spark: SparkSession,
    tables: dict[str, DataFrame],
    ontology: DataFrame | None = None,
    strict_variants: bool = False,
) -> MappingResult:
    chosen, errors = choose_named_tables(tables)
    audits = [audit_entries(spark, [("choose_tables", "<workbook>", "error", e) for e in errors])]
    results = {}
    if "genotype" in chosen:
        results["genotype"] = map_genotype_table(
            spark, chosen["genotype"], "genotype", strict_variants=strict_variants
        )
    if "phenotype" in chosen:
        results["phenotype"] = map_phenotype_table(
            spark, chosen["phenotype"], "phenotype", ontology=ontology
        )
    if "diseases" in chosen:
        results["diseases"] = map_disease_table(spark, chosen["diseases"], "diseases")
    if "measurements" in chosen:
        results["measurements"] = map_measurement_table(
            spark, chosen["measurements"], "measurements"
        )
    if "biosamples" in chosen:
        results["biosamples"] = map_biosample_table(spark, chosen["biosamples"], "biosamples")

    records = {k: r.valid for k, r in results.items()}
    audits += [r.audit for r in results.values()]
    if "genotype" in records:
        # opt-in VV gene-xref enrichment (P6_SPARK_ENRICH_GENE_XREFS=1;
        # identity when off — the reference's own unwired default)
        from p6_spark.sources.vv import enrich_genotypes_with_xrefs

        records["genotype"] = enrich_genotypes_with_xrefs(records["genotype"])

    # a table rejected at plan time has no packet part and counts 0
    mapped = {k: records[k] for k, r in results.items() if r.checked is not None}
    packets = assemble_phenopackets(
        spark,
        genotypes=mapped.get("genotype"),
        phenotypes=mapped.get("phenotype"),
        diseases=mapped.get("diseases"),
        measurements=mapped.get("measurements"),
        biosamples=mapped.get("biosamples"),
    )
    # each valid record is one element of its kind's packet array
    observation = Observation()
    packets = packets.observe(
        observation,
        F.count(F.lit(1)).alias("n_patients"),
        *[
            F.coalesce(F.sum(F.size(F.coalesce(PACKET_FIELDS[k], F.array()))), F.lit(0))
            .alias(f"n_{k}")
            for k in mapped
        ],
    )
    return MappingResult(
        packets=packets, audit=union_audits(*audits), records=records, observation=observation
    )
