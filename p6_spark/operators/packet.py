"""Phenopacket assembly: the per-patient nested document (J1 + G2).

Reference builds one protobuf Phenopacket per patient by accumulating
dicts-of-lists (src/P6/mapper.py:759-821) and serializing with
MessageToJson. Spark-first this is:

  union of the five record streams, each row carrying its kind's
  struct -> ONE groupBy(patient).agg(sort_array(collect_list(...)) per
  kind) -> one nested document per patient

That is one shuffle for all kinds: the co-group a chain of full-outer
joins would do, without re-shuffling after each join. Records with a
NULL patient id group per kind, as unmatched full-outer-join rows would.
Arrays are sorted by the pipelines' _seq column so packet contents are
deterministic under any partitioning (collect_list alone is
order-nondeterministic).

Field names use protobuf-JSON camelCase (phenotypicFeatures,
progressStatus, ...) so the written JSON matches MessageToJson's shape
(src/P6/__main__.py:200-212). Optional fields are null -> omitted by
Spark's JSON writer, mirroring proto3 default-field omission.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from p6_spark.functions.hgvs import hgvs_g_normalize
from p6_spark.functions.scalars import geno_code_for_zygosity
from p6_spark.session import local_frame

# record kind -> the packet array holding one element per valid record
PACKET_FIELDS = {
    "phenotype": "phenotypicFeatures",
    "genotype": "interpretations",
    "diseases": "diseases",
    "measurements": "measurements",
    "biosamples": "biosamples",
}


def assemble_phenopackets(
    spark: SparkSession,
    genotypes: DataFrame | None = None,
    phenotypes: DataFrame | None = None,
    diseases: DataFrame | None = None,
    measurements: DataFrame | None = None,
    biosamples: DataFrame | None = None,
) -> DataFrame:
    """Co-group of the five record streams by patient into one packet row
    per patient (reference _group_records_by_patient +
    construct_phenopacket_for_patient, src/P6/mapper.py:759-910)."""
    # field -> (records, patient key, sort-keyed struct to collect,
    #           sorted collected array -> packet array)
    parts: dict[str, tuple] = {}

    def values(a):
        return F.transform(a, lambda s: s["v"])

    if phenotypes is not None:
        feat = F.struct(
            F.col("_seq").alias("k"),
            F.struct(
                F.struct(F.col("hpo_id").alias("id")).alias("type"),
                F.when(~F.col("status"), F.lit(True)).alias("excluded"),
            ).alias("v"),
        )
        parts["phenotypicFeatures"] = (phenotypes, "phenotype_patient_ID", feat, values)

    if genotypes is not None:
        # Expression carries ONLY {"value": ...}: the reference's
        # _add_hgvs_expression looks up a nonexistent 'HGVS' enum attr on
        # Expression (src/P6/genotype.py:374-376), so syntax is never set
        # and MessageToJson omits the default-valued field. Matching that
        # keeps packet JSON byte-diffable against reference output.
        # geneContext is symbol-only by default (byte-golden vs the
        # reference). When the opt-in VV enrichment ran upstream
        # (sources/vv.enrich_genotypes_with_xrefs, flag
        # P6_SPARK_ENRICH_GENE_XREFS), the hgnc_id/ensembl_gene_id
        # columns are present and fold in as GeneDescriptor valueId /
        # alternateIds — empty xrefs null out so the JSON sink omits
        # them exactly like MessageToJson omits default proto fields.
        if "hgnc_id" in genotypes.columns:
            gene_ctx = F.struct(
                F.nullif(F.col("hgnc_id"), F.lit("")).alias("valueId"),
                F.col("gene_symbol").alias("symbol"),
                F.when(
                    F.col("ensembl_gene_id").isNotNull()
                    & (F.col("ensembl_gene_id") != ""),
                    F.array(F.col("ensembl_gene_id")),
                ).alias("alternateIds"),
            )
        else:
            gene_ctx = F.struct(F.col("gene_symbol").alias("symbol"))
        vd = F.struct(
            F.array(
                F.struct(
                    hgvs_g_normalize(F.col("hgvsg")).alias("value"),
                )
            ).alias("expressions"),
            F.struct(
                geno_code_for_zygosity(F.col("zygosity")).alias("id"),
                F.col("zygosity").alias("label"),
            ).alias("allelicState"),
            gene_ctx.alias("geneContext"),
        )
        gi = F.struct(
            F.col("genotype_patient_ID").alias("subjectOrBiosampleId"),
            F.lit("CONTRIBUTORY").alias("interpretationStatus"),
            F.struct(vd.alias("variationDescriptor")).alias("variantInterpretation"),
        )
        raw = F.struct(F.col("_seq").alias("k"), F.col("_pos").alias("p"), gi.alias("v"))

        # interpretation ids are per-patient ordinal: "{pid}-interpretation-{i}"
        # (reference src/P6/mapper.py:847-849) — the index of the sorted
        # collect, via transform-with-index.
        def interpretations(a):
            return F.transform(
                a,
                lambda s, i: F.struct(
                    F.concat(
                        F.col("patient_id"), F.lit("-interpretation-"), i.cast("string")
                    ).alias("id"),
                    F.lit("COMPLETED").alias("progressStatus"),
                    F.struct(F.array(s["v"]).alias("genomicInterpretations")).alias(
                        "diagnosis"
                    ),
                ),
            )

        parts["interpretations"] = (genotypes, "genotype_patient_ID", raw, interpretations)

    if diseases is not None:
        d = F.struct(
            F.col("_seq").alias("k"),
            F.struct(
                F.struct(
                    F.col("disease_term").alias("id"), F.col("disease_label").alias("label")
                ).alias("term")
            ).alias("v"),
        )
        parts["diseases"] = (diseases, "patient_ID", d, values)

    if measurements is not None:
        m = F.struct(
            F.col("_seq").alias("k"),
            F.struct(
                F.struct(F.col("measurement_type").alias("id")).alias("type")
            ).alias("v"),
        )
        parts["measurements"] = (measurements, "patient_ID", m, values)

    if biosamples is not None:
        b = F.struct(
            F.col("_seq").alias("k"),
            F.struct(
                F.col("biosample_id").alias("id"),
                F.struct(F.col("biosample_type").alias("id")).alias("type"),
            ).alias("v"),
        )
        parts["biosamples"] = (biosamples, "patient_ID", b, values)

    if not parts:
        return local_frame(spark, [], T.StructType([T.StructField("id", T.StringType())]))

    streams = [
        df.select(
            F.col(key).alias("patient_id"),
            F.when(F.col(key).isNull(), F.lit(name)).alias("_orphan_kind"),
            rec.alias(name),
        )
        for name, (df, key, rec, _) in parts.items()
    ]
    stream = streams[0]
    for other in streams[1:]:
        stream = stream.unionByName(other, allowMissingColumns=True)
    grouped = stream.groupBy("patient_id", "_orphan_kind").agg(
        *[F.sort_array(F.collect_list(name)).alias(name) for name in parts]
    )
    # a patient without records of a kind has no such array, as in proto3
    return grouped.select(
        F.col("patient_id").alias("id"),
        F.struct(F.col("patient_id").alias("id")).alias("subject"),
        *[
            F.when(F.size(name) > 0, finish(F.col(name))).alias(name)
            for name, (_, _, _, finish) in parts.items()
        ],
    )


def write_packets_json(packets: DataFrame, out_dir: str) -> None:
    """Scale path: one JSON document per packet row via the distributed
    writer (reference: per-patient numbered files on the driver,
    src/P6/__main__.py:200-212 — see write_packet_files for that shape)."""
    packets.write.mode("overwrite").json(out_dir)


def write_packet_files(packets: DataFrame, out_dir: str) -> int:
    """Driver-side per-patient numbered files mirroring the reference CLI
    (phenopacket_0.json, ...). One DataFrame ``collect`` of the packets'
    JSON: a single action, which also fills the observations on
    ``packets`` (``MappingResult.stats``). Not the RDD of ``toJSON()``:
    collecting it filled them with zero counts on a CSV workbook, and its
    ``toLocalIterator`` runs one job per partition. Fine for
    workbook-sized data; use write_packets_json at scale."""
    import json
    import os

    os.makedirs(out_dir, exist_ok=True)
    docs = packets.select(F.to_json(F.struct("*"))).collect()
    for n, (doc,) in enumerate(docs):
        with open(os.path.join(out_dir, f"phenopacket_{n}.json"), "w") as f:
            json.dump(json.loads(doc), f, indent=2)
    return len(docs)
