"""Schema system for the clinical workbook model: canonical column sets,
sheet aliases, vocabulary maps, and explicit StructTypes for the five
sheet kinds (reference: dynamic convention-inferred schemas,
src/P6/mapper.py:43-101; we keep the same conventions but declare the
output types explicitly — Spark DataFrames are typed).
"""

from __future__ import annotations

from pyspark.sql import types as T

# --- canonical column sets (reference src/P6/mapper.py:43-64) --------------

GENOTYPE_KEY_COLUMNS = {
    "contact_email",
    "phasing",
    "chromosome",
    "start_position",
    "end_position",
    "reference",
    "alternate",
    "gene_symbol",
    "hgvsg",
    "hgvsc",
    "hgvsp",
    "zygosity",
    "inheritance",
}
PHENOTYPE_KEY_COLUMNS = {"hpo_id", "date_of_observation", "status"}
DISEASE_KEY_COLUMNS = {"disease_term", "disease_onset"}
MEASUREMENT_KEY_COLUMNS = {"measurement_type", "measurement_value", "measurement_unit"}
BIOSAMPLE_KEY_COLUMNS = {"biosample_id", "biosample_type", "collection_date"}

RAW_VARIANT_COLUMNS = {"chromosome", "start_position", "end_position", "reference", "alternate"}
HGVS_VARIANT_COLUMNS = {"hgvsg", "hgvsc", "hgvsp"}
GENOTYPE_BASE_COLUMNS = {"contact_email", "phasing"}

DISEASE_REQUIRED = {"patient_ID", "disease_term", "disease_onset", "disease_status"}
MEASUREMENT_REQUIRED = {"patient_ID", "measurement_type", "measurement_value", "measurement_unit"}
BIOSAMPLE_REQUIRED = {"patient_ID", "biosample_id", "biosample_type", "collection_date"}

# --- sheet aliases (reference src/P6/mapper.py:95-101) ---------------------

KNOWN_SHEET_ALIASES: dict[str, set[str]] = {
    "genotype": {"genotype", "variants", "variant", "geno"},
    "phenotype": {"phenotype", "hpo", "pheno"},
    "diseases": {"disease", "diseases"},
    "measurements": {"measurement", "measurements", "labs"},
    "biosamples": {"biosample", "biosamples", "samples"},
}

# --- header rename map (reference src/P6/loader.py:4-27) -------------------

RENAME_MAP = {
    "ref": "reference",
    "alt": "alternate",
    "gene": "gene_symbol",
    "start": "start_position",
    "end": "end_position",
    "chrom": "chromosome",
    "hpo": "hpo_id",
    "hpo_term": "hpo_id",
    "timestamp": "date_of_observation",
}

# --- vocabulary maps (reference src/P6/mapper.py:67-80) --------------------

ZYGOSITY_MAP = {
    "het": "heterozygous",
    "hom": "homozygous",
    "comphet": "compound_heterozygosity",
    "hemi": "hemizygous",
    "mosaic": "mosaic",
}
INHERITANCE_MAP = {
    "unknown": "unknown",
    "inherited": "inherited",
    "denovo": "de_novo_mutation",
}

# --- validation patterns (reference src/P6/genotype.py:44-45, phenotype.py:11-14)

VALID_ID_PATTERN = r"^[A-Za-z0-9]+$"
EMAIL_PATTERN = r"^[\w\.\+\-]+@[\w\.\-]+\.[A-Za-z]+$"
HPO_ID_PATTERN = r"^(?:HP:\d{7}|\d{7})$"
TIMESTAMP_PATTERN = r"^T\d+$"
ALLOWED_CHROM_ENCODINGS = {"hgvs", "ucsc", "refseq", "ensembl", "ncbi", "ega"}

# --- output record schemas -------------------------------------------------

GENOTYPE_SCHEMA = T.StructType(
    [
        T.StructField("genotype_patient_ID", T.StringType(), False),
        T.StructField("contact_email", T.StringType(), False),
        T.StructField("phasing", T.BooleanType(), False),
        T.StructField("chromosome", T.StringType(), False),
        T.StructField("start_position", T.LongType(), False),
        T.StructField("end_position", T.LongType(), False),
        T.StructField("reference", T.StringType(), False),
        T.StructField("alternate", T.StringType(), False),
        T.StructField("gene_symbol", T.StringType(), False),
        T.StructField("hgvsg", T.StringType(), False),
        T.StructField("hgvsc", T.StringType(), False),
        T.StructField("hgvsp", T.StringType(), False),
        T.StructField("zygosity", T.StringType(), False),
        T.StructField("inheritance", T.StringType(), False),
    ]
)

PHENOTYPE_SCHEMA = T.StructType(
    [
        T.StructField("phenotype_patient_ID", T.StringType(), False),
        T.StructField("hpo_id", T.StringType(), False),
        T.StructField("date_of_observation", T.StringType(), False),
        T.StructField("status", T.BooleanType(), False),
    ]
)

DISEASE_SCHEMA = T.StructType(
    [
        T.StructField("patient_ID", T.StringType(), False),
        T.StructField("disease_term", T.StringType(), False),
        T.StructField("disease_label", T.StringType(), True),
        T.StructField("disease_onset", T.StringType(), False),
        T.StructField("disease_status", T.BooleanType(), False),
    ]
)

MEASUREMENT_SCHEMA = T.StructType(
    [
        T.StructField("patient_ID", T.StringType(), False),
        T.StructField("measurement_type", T.StringType(), False),
        T.StructField("measurement_value", T.DoubleType(), False),
        T.StructField("measurement_unit", T.StringType(), False),
        T.StructField("measurement_timestamp", T.StringType(), True),
    ]
)

BIOSAMPLE_SCHEMA = T.StructType(
    [
        T.StructField("patient_ID", T.StringType(), False),
        T.StructField("biosample_id", T.StringType(), False),
        T.StructField("biosample_type", T.StringType(), False),
        T.StructField("collection_date", T.StringType(), False),
    ]
)

PATIENT_ID_COLUMN = {
    "genotype": "genotype_patient_ID",
    "phenotype": "phenotype_patient_ID",
    "diseases": "patient_ID",
    "measurements": "patient_ID",
    "biosamples": "patient_ID",
}


def classify_sheet(columns: list[str]) -> str:
    """Classify a sheet from its (normalized) columns — the reference's
    preprocess step 2 (src/P6/__main__.py:421-440): genotype iff base
    columns present AND (all raw variant cols OR any hgvs col); phenotype
    iff the phenotype key columns present; else 'skip'."""
    cols = set(columns)
    if GENOTYPE_BASE_COLUMNS <= cols and (
        RAW_VARIANT_COLUMNS <= cols or (HGVS_VARIANT_COLUMNS & cols)
    ):
        return "genotype"
    if PHENOTYPE_KEY_COLUMNS <= cols:
        return "phenotype"
    if DISEASE_KEY_COLUMNS <= cols:
        return "diseases"
    if MEASUREMENT_KEY_COLUMNS <= cols:
        return "measurements"
    if BIOSAMPLE_KEY_COLUMNS <= cols:
        return "biosamples"
    return "skip"
